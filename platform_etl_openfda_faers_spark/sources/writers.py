"""Sinks (reference: ``utils/Writers.scala``).

Fixes reference quirk #3 (SURVEY §2.10): the reference computes a CSV file
name then ignores it and writes to the bare output root
(``utils/Writers.scala:15,21``).  Ours honors the path.

Scale notes: ``coalesce(1)`` single-file CSV is kept only as an explicit
opt-in (the reference itself documents it as "very slow",
``reference.conf:20-22``); Parquet/JSON write many parts in parallel.
Every writer overwrites its target.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def write_parquet(df: DataFrame, path: str) -> None:
    """S5 — ``utils/Writers.scala:27-31,45-48``."""
    df.write.mode("overwrite").parquet(path)


def write_json(df: DataFrame, path: str) -> None:
    """S6 — ``utils/Writers.scala:23-26,41-44`` (many-part JSONL, parallel)."""
    df.write.mode("overwrite").json(path)


def write_csv_single_file(df: DataFrame, path: str) -> None:
    """S7 — ``utils/Writers.scala:14-21``: gzip'd single-file CSV with header.

    CSV holds only flat values, so struct, array and map columns (the raw
    reports' nested ``patient``) are written as ``to_json`` strings.
    Deliberately serializes to one partition; never use in a hot path.
    """
    nested = (T.StructType, T.ArrayType, T.MapType)
    flat = df.select(*[
        F.to_json(F.col(f"`{f.name}`")).alias(f.name)
        if isinstance(f.dataType, nested) else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ])
    (
        flat.coalesce(1)
        .write.mode("overwrite")
        .option("compression", "gzip")
        .option("header", True)
        .csv(path)
    )


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Hive-style partitioned parquet (``path/col=value/...`` directories).

    The read-side payoff is PARTITION PRUNING: an equality/range filter on a
    partition column prunes whole directories at planning time — the scan
    never opens the excluded files (plan-asserted in
    ``tests/test_sources_config.py``).  At 100 TB this is the first-order
    data-layout decision: partition by the dominant filter column
    (date, region), keep cardinality low (directories = cross product),
    and bucket WITHIN partitions for join co-location.
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def cluster_for_partitioned_write(
    df: DataFrame,
    partition_cols: list[str],
    salt_col: str,
    n_partition_values: int,
) -> DataFrame:
    """Pre-shuffle a ``partitionBy`` write so the output file count is
    bounded by the WRITE PARALLELISM instead of tasks × |partition values|
    (r16 optimization, guide §6 "small files hurt twice").

    An unclustered ``partitionBy(cols)`` write makes every upstream task
    open one file per partition value it sees — N tasks × K values files,
    each tiny (the sf0.1 SimHash chunk index wrote ~128 data files whose
    re-listing dominated the occupancy scan and every serve-time read).
    Repartitioning on ``(cols, salt)`` first clusters each directory's
    rows into ``max(1, defaultParallelism // n_partition_values)`` salt
    groups: total files ≈ the cluster's write parallelism, directories
    stay prunable, and the salt is a DETERMINISTIC hash of ``salt_col``
    (task retries reproduce the same row→file assignment — the
    SPARK-38388 discipline; never ``rand()``).  Hashing ~parallelism
    combos into parallelism partitions leaves ~1/e of write tasks empty
    (guide §2.5's collision caveat) — accepted deliberately: the write
    stage is a small slice of the build, and the file-count bound is
    what the serve path pays for forever.

    Measured at sf0.1 (SimHash-64 chunk index, 32 cores): data files
    128 → ≤32, occupancy scan 0.85 → 0.55 s, single-``ci`` read
    0.4 → 0.2 s, write wall unchanged.  The shuffle it adds moves the
    INDEX (tens of bytes/row), the same bytes compaction already
    shuffles — at 100 TB bounding the file count is what keeps the
    serve-time listing O(parallelism), not O(ingest history).
    """
    sc = df.sparkSession.sparkContext
    width = max(1, sc.defaultParallelism // max(1, n_partition_values))
    salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(width))
    return df.repartition(
        sc.defaultParallelism, *[F.col(c) for c in partition_cols], salt
    )


def write_outputs(df: DataFrame, formats: list[str], path: str) -> None:
    """Dispatch like the reference's per-format loop (``ETL.scala:32-45``)."""
    for fmt in formats:
        if fmt == "parquet":
            write_parquet(df, f"{path}/parquet")
        elif fmt == "json":
            write_json(df, f"{path}/json")
        elif fmt == "csv":
            write_csv_single_file(df, f"{path}/csv")
        else:
            raise ValueError(f"unknown output format: {fmt}")
