"""CLI entry point — the reference's ``Main.scala`` / ``ETL.scala`` role.

    python -m platform_etl_openfda_faers_spark \
        --fda-data 'data/**/*.jsonl' --chembl-drugs data/drugs.json \
        --blacklist data/blacklist.txt --output out/ \
        [--meddra path/to/meddra] [--outputs parquet json] \
        [--permutations N] [--percentile P] [--seed S] \
        [--master local[*]]

Unknown ``--outputs`` formats are rejected by argparse ``choices`` before
Spark starts (the reference logs-and-skips unknown steps,
``ETL.scala:61-65``; failing fast is kinder on a 1000-executor cluster).
Config validation happens before any Spark job is submitted, mirroring the
reference's pureconfig ``require`` guards (``config/Configuration.scala``).
"""

from __future__ import annotations

import argparse
import sys

from .config import (
    VALID_OUTPUT_FORMATS,
    EngineConfig,
    FdaConfig,
    MonteCarloConfig,
    load_config,
)
from .operators.cache import unpersist_cached
from .plans import pipeline
from .session import get_spark


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="platform_etl_openfda_faers_spark",
        description="PySpark-native FAERS disproportionality pipeline",
    )
    p.add_argument(
        "--config",
        default=None,
        help="config file (JSON subset of HOCON: comments + ${ENV} "
        "substitution — see config.load_config); flags below are ignored "
        "when given",
    )
    p.add_argument("--fda-data", help="FAERS JSONL path/glob")
    p.add_argument("--chembl-drugs", help="ChEMBL molecule JSON")
    p.add_argument("--blacklist", help="blacklisted-events txt")
    p.add_argument("--output", help="output root directory")
    p.add_argument("--meddra", default=None, help="MedDRA MedAscii root (optional)")
    p.add_argument(
        "--outputs",
        nargs="+",
        default=list(FdaConfig.outputs),
        choices=VALID_OUTPUT_FORMATS,
    )
    p.add_argument("--permutations", type=int, default=MonteCarloConfig.permutations)
    p.add_argument("--percentile", type=float, default=MonteCarloConfig.percentile)
    p.add_argument("--seed", type=int, default=MonteCarloConfig.seed)
    p.add_argument(
        "--master",
        default=None,
        help="Spark master (default: inherit from spark-submit / environment)",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if args.config:
        config = load_config(args.config)
    else:
        missing = [
            "--" + a.replace("_", "-")
            for a in ("fda_data", "chembl_drugs", "blacklist", "output")
            if not getattr(args, a)
        ]
        if missing:
            parser.error(
                f"the following arguments are required: {', '.join(missing)} "
                "(or pass --config)"
            )
        config = EngineConfig(
            spark_uri=args.master,
            fda=FdaConfig(
                fda_data=args.fda_data,
                chembl_drugs=args.chembl_drugs,
                blacklist=args.blacklist,
                meddra_path=args.meddra,
                outputs=tuple(args.outputs),
                output_path=args.output,
                montecarlo=MonteCarloConfig(
                    permutations=args.permutations,
                    percentile=args.percentile,
                    seed=args.seed,
                ),
            ),
        )
    spark = get_spark("openfda-faers-etl", master=config.spark_uri)
    result = pipeline.run(spark, config)
    print(f"significant (drug, event) pairs: {result.count()}", file=sys.stderr)
    unpersist_cached(result)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
