"""Driver contract of the engine (PySpark target).

``entry(spark)`` runs the flagship FAERS-LRT disproportionality query on
sf0.001; ``queries()`` exposes one callable per implemented operator from
SURVEY §2, plus the beyond-reference dedup / similarity / text /
multimodal surface and the event-window operators (``stream_*``: written
for batch or streaming input, registered on their batch twin);
``oracle_sql()`` gives each one's DuckDB twin (the two queries without a
twin — the Monte-Carlo filter and the HLL++ approx window — get the
weaker rows-only check, by design).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from platform_etl_openfda_faers_spark.plans import benchmarks  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return benchmarks.faers_llr(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(benchmarks.SPARK_QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each oracle-checkable query."""
    return dict(benchmarks.ORACLE_SQL)
