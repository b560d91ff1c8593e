"""Capture ``explain("formatted")`` for named registry queries into
``<out>/<query>_<tag>.txt`` — before/after physical-plan evidence for a
change.

Usage: python tools/capture_plans.py TAG QUERY [QUERY ...] --sf SF_DIR
       --out DIR

TAG is typically ``before`` or ``after``.  Both ``--sf`` and ``--out`` are
required: the committed plan evidence under ``plans/`` is only overwritten
when that directory is named explicitly.  For a plan-identity check, run
each query in a fresh process on both trees and diff the files after
masking expression ids (``#123``) and exchange ``plan_id``s.  Queries
whose registry callable eagerly builds a stored index (the BUILD_SERVE
families) run those builds as a side effect — do not run this while a
timed bench is in flight.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("tag", help="file suffix, e.g. before or after")
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    ap.add_argument("--sf", required=True, help="scale-factor data directory")
    ap.add_argument("--out", required=True, type=Path, help="output directory")
    args = ap.parse_args()

    from platform_etl_openfda_faers_spark.plans import benchmarks
    from platform_etl_openfda_faers_spark.session import get_spark

    spark = get_spark(
        "plans",
        master="local[32]",
        conf={
            "spark.sql.shuffle.partitions": "32",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    args.out.mkdir(parents=True, exist_ok=True)
    for name in args.queries:
        df = benchmarks.SPARK_QUERIES[name](spark, args.sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = args.out / f"{name}_{args.tag}.txt"
        path.write_text(buf.getvalue())
        print(f"wrote {path}", file=sys.stderr)
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
