"""Layered profile of registry queries: construction, jobs, stages.

For each query it prints
- plan construction alone (``fn(spark, sf_dir)``, no action): seconds and
  py4j ``send_command`` round trips, counted by cProfile — serial driver
  latency a cluster pays identically;
- the second, warm run (construction + noop sink): its Spark job count
  and wall — at sf0.1 the ~0.1-0.15 s driver cost per job is the local
  floor;
- that run's per-stage table from ``plans.metrics.StageMetrics``: tasks,
  executor run/CPU time, shuffle read/write, spill and input bytes.

With no query named it profiles the headline lists and ends with a
jobs-descending summary.  Runs on ``local[<cores>]``.

Usage: python tools/profile_query.py [QUERY ...] --sf SF_DIR [--partitions N]
"""

from __future__ import annotations

import argparse
import cProfile
import os
import pstats
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from platform_etl_openfda_faers_spark.plans import benchmarks  # noqa: E402
from platform_etl_openfda_faers_spark.plans.metrics import StageMetrics  # noqa: E402
from platform_etl_openfda_faers_spark.session import get_spark  # noqa: E402


def release(spark) -> None:
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def construct(fn, spark, sf_dir):
    """``fn(spark, sf_dir)`` under cProfile -> (df, seconds, py4j trips)."""
    prof = cProfile.Profile()
    t0 = time.monotonic()
    prof.enable()
    df = fn(spark, sf_dir)
    prof.disable()
    wall = time.monotonic() - t0
    stats = pstats.Stats(prof).stats
    return df, wall, sum(c[0] for key, c in stats.items() if "send_command" in key[2])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("queries", nargs="*", metavar="QUERY")
    ap.add_argument("--sf", required=True, metavar="SF_DIR",
                    help="scale-factor directory (see TESTDATA.md)")
    ap.add_argument("--partitions", help="spark.sql.shuffle.partitions")
    args = ap.parse_args()
    names = args.queries or [
        *benchmarks.HEADLINE,
        *benchmarks.HEADLINE_V2_EXTRA,
        *benchmarks.HEADLINE_V3_EXTRA,
        *benchmarks.HEADLINE_V4_EXTRA,
    ]
    unknown = [n for n in names if n not in benchmarks.SPARK_QUERIES]
    if unknown:
        ap.error(f"unknown query: {' '.join(unknown)}")
    conf = {"spark.ui.enabled": "false"}
    if args.partitions:
        conf["spark.sql.shuffle.partitions"] = args.partitions
    spark = get_spark("profile-query", master=f"local[{os.cpu_count() or 1}]", conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    sc, metrics = spark.sparkContext, StageMetrics(spark)
    # warm the session (parquet footers, first JVM touches) so the first
    # profiled construction is not charged for them
    benchmarks.SPARK_QUERIES[names[0]](spark, args.sf)
    release(spark)

    summary = []
    for name in names:
        fn = benchmarks.SPARK_QUERIES[name]
        df, construct_s, trips = construct(fn, spark, args.sf)
        df.write.format("noop").mode("overwrite").save()  # warm-up run
        release(spark)
        group = f"profile/{name}"
        sc.setJobGroup(group, group)
        metrics.snapshot()
        t0 = time.monotonic()
        fn(spark, args.sf).write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        rows = sorted(metrics.stage_rows(), key=lambda r: -r["run_s"])
        release(spark)
        summary.append((jobs, wall, name))

        print(f"\n{name} @ {args.sf}  construct {construct_s:.3f}s  "
              f"py4j send_command {trips}  jobs {jobs}  warm {wall:.2f}s")
        print(f"{'stage':>5} {'tasks':>5} {'run_s':>8} {'cpu_s':>8} {'shR_MB':>8} "
              f"{'shW_MB':>8} {'spill':>6} {'in_MB':>8}  name")
        for r in rows:
            print(f"{r['stage']:>5} {r['tasks']:>5} {r['run_s']:>8.1f} {r['cpu_s']:>8.1f} "
                  f"{r['shuffle_read'] / 1e6:>8.1f} {r['shuffle_write'] / 1e6:>8.1f} "
                  f"{(r['spill_disk'] + r['spill_mem']) / 1e6:>6.0f} "
                  f"{r['input_bytes'] / 1e6:>8.1f}  {r['name'][:60]}")
        print(f"total executor run {sum(r['run_s'] for r in rows):.1f}s  "
              f"cpu {sum(r['cpu_s'] for r in rows):.1f}s  stages {len(rows)}", flush=True)

    if len(summary) > 1:
        print("\n== jobs-descending ==")
        for jobs, wall, name in sorted(summary, reverse=True):
            print(f"{name:35s} jobs {jobs:4d}  warm {wall:6.2f}s")


if __name__ == "__main__":
    main()
