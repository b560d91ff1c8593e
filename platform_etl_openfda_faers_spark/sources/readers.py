"""Source readers (reference: ``utils/Loaders.scala``).

Every reader narrows to the needed columns immediately after the scan
(manual column pruning) and applies name normalization at the edge so
downstream operators see a stable schema.

Scale notes: every FAERS-pipeline input is read with a pinned schema
(``FAERS_SCHEMA``, ``CHEMBL_SCHEMA``, ``BLACKLIST_SCHEMA``; MedDRA ``.asc``
files as plain text).  The reference infers them (``utils/Loaders.scala:38``),
which costs one extra job per input — for the reports, a job that reads the
whole input (~130 GB in production) on every run; the pinned reads submit no
job at plan time.  Blacklist/MedDRA tables are tiny and are meant to be
broadcast by their consumers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.normalize import normalize_term

# The FAERS report fields the pipeline reads; ``load_fda_reports`` always
# reads with it (the reference infers instead — utils/Loaders.scala:38).  A
# field absent from every record reads as null rather than failing analysis.
FAERS_SCHEMA = T.StructType(
    [
        T.StructField("safetyreportid", T.StringType()),
        T.StructField("serious", T.StringType()),
        T.StructField("seriousnessdeath", T.StringType()),
        T.StructField("receivedate", T.StringType()),
        T.StructField(
            "primarysource",
            T.StructType([T.StructField("qualification", T.StringType())]),
        ),
        T.StructField(
            "patient",
            T.StructType(
                [
                    T.StructField(
                        "reaction",
                        T.ArrayType(
                            T.StructType(
                                [T.StructField("reactionmeddrapt", T.StringType())]
                            )
                        ),
                    ),
                    T.StructField(
                        "drug",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("medicinalproduct", T.StringType()),
                                    T.StructField("drugcharacterization", T.StringType()),
                                    T.StructField(
                                        "openfda",
                                        T.StructType(
                                            [
                                                T.StructField(
                                                    "generic_name",
                                                    T.ArrayType(T.StringType()),
                                                ),
                                                T.StructField(
                                                    "brand_name",
                                                    T.ArrayType(T.StringType()),
                                                ),
                                                T.StructField(
                                                    "substance_name",
                                                    T.ArrayType(T.StringType()),
                                                ),
                                            ]
                                        ),
                                    ),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        ),
    ]
)


# The ChEMBL molecule fields ``load_chembl_drug_list`` reads; a record that
# lacks ``synonyms`` or ``tradeNames`` reads them as null.
CHEMBL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("synonyms", T.ArrayType(T.StringType())),
        T.StructField("tradeNames", T.ArrayType(T.StringType())),
    ]
)

# The blacklist is one term per line.
BLACKLIST_SCHEMA = T.StructType([T.StructField("raw_term", T.StringType())])


def load_fda_reports(spark: SparkSession, path: str) -> DataFrame:
    """Raw FAERS JSONL -> narrow report projection.

    Reference: ``utils/Loaders.scala:34-46`` (S1 + P1): JSON read, then
    ``selectExpr`` pulling nested paths with renames.  Reads with the pinned
    ``FAERS_SCHEMA`` in PERMISSIVE mode: a malformed line becomes a
    null-field row that the P6 null guards filter downstream, so one bad
    record never kills a 100 TB ingest.
    """
    raw = spark.read.option("mode", "PERMISSIVE").schema(FAERS_SCHEMA).json(path)
    return raw.select(
        F.col("safetyreportid"),
        F.col("serious"),
        F.col("receivedate"),
        F.col("primarysource.qualification").alias("qualification"),
        F.col("patient"),
        # missing field tolerated: ifnull(seriousnessdeath, '0')
        # (stage/OpenFdaEtl.scala:76)
        F.coalesce(F.col("seriousnessdeath"), F.lit("0")).alias("seriousness_death"),
    )


def load_chembl_drug_list(spark: SparkSession, path: str) -> DataFrame:
    """ChEMBL molecule dump -> exploded ``(chembl_id, drug_name)`` synonym map.

    Reference: ``utils/Loaders.scala:10-28`` (S2 + L2 + F7-F9 + A2 + O1):
    merge pref_name with synonym/tradeName arrays, flatten, dedup, lowercase,
    explode to one row per name.  Reads with the pinned ``CHEMBL_SCHEMA``.
    """
    raw = spark.read.schema(CHEMBL_SCHEMA).json(path)
    names = F.array_distinct(
        F.flatten(
            F.array(
                F.array(F.col("name")),
                F.coalesce(F.col("synonyms"), F.array()),
                F.coalesce(F.col("tradeNames"), F.array()),
            )
        )
    )
    return (
        raw.select(F.col("id").alias("chembl_id"), names.alias("names"))
        .select("chembl_id", F.explode("names").alias("raw_name"))
        .select("chembl_id", F.lower(F.col("raw_name")).alias("drug_name"))
        .where(F.col("drug_name").isNotNull() & (F.col("drug_name") != ""))
        .distinct()
        .orderBy(F.col("drug_name").asc())
    )


def load_blacklist(spark: SparkSession, path: str) -> DataFrame:
    """One-column blacklist of reaction terms, normalized.

    Reference: ``utils/Loaders.scala:53-61`` (S3): tab-separated CSV with
    whitespace trim, lowercased + ``translate('^' -> "'")`` + trimmed, sorted.
    The result is tiny — consumers broadcast it (J1).  Reads with the
    pinned one-column ``BLACKLIST_SCHEMA``.
    """
    raw = (
        spark.read.schema(BLACKLIST_SCHEMA)
        .options(
            sep="\t",
            ignoreLeadingWhiteSpace=True,
            ignoreTrailingWhiteSpace=True,
        )
        .csv(path)
    )
    return (
        raw.select(normalize_term(F.col("raw_term")).alias("reactions"))
        .where(F.col("reactions").isNotNull() & (F.col("reactions") != ""))
        .distinct()
        .orderBy(F.col("reactions").asc())
    )


def load_meddra_asc(
    spark: SparkSession, path: str, columns: list[str]
) -> DataFrame:
    """``$``-delimited MedDRA ``.asc`` file -> named columns.

    Reference: ``utils/Loaders.scala:64-99`` (S4 + F13-F15): read each line,
    strip the trailing ``$`` run, split on runs of ``$``, positional
    ``getItem`` projection.

    Deliberate divergence (``utils/Loaders.scala:91-93``): the reference reads
    each line as CSV, rewrites ``$`` runs to ``,`` and splits on ``,``, so a
    term that contains a comma (``Fracture, hip``) is cut at the comma and a
    ``"``-quoted term is subject to CSV quoting.  Reading plain text and
    splitting on ``$`` alone keeps every term whole; it also needs no
    schema-inference job.  Blank lines are skipped, as the CSV reader does.
    """
    raw = spark.read.text(path).where(F.col("value") != "")
    tokens = F.split(F.regexp_replace(F.col("value"), r"\$+$", ""), r"\$+")
    return raw.select(
        *[tokens.getItem(i).alias(name) for i, name in enumerate(columns)]
    )


def load_meddra_preferred_terms(spark: SparkSession, path: str) -> DataFrame:
    """pt.asc -> (pt_code, pt_name-normalized). Reference Loaders.scala:64-74."""
    df = load_meddra_asc(spark, path, ["pt_code", "pt_name"])
    return df.select(
        F.col("pt_code"), F.lower(F.trim(F.col("pt_name"))).alias("pt_name")
    )


def load_meddra_low_level_terms(spark: SparkSession, path: str) -> DataFrame:
    """llt.asc -> (llt_code, llt_name-normalized). Reference Loaders.scala:86-99."""
    df = load_meddra_asc(spark, path, ["llt_code", "llt_name"])
    return df.select(
        F.col("llt_code"), F.lower(F.trim(F.col("llt_name"))).alias("llt_name")
    )


def scale_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition a *narrow* scan so downstream fan-out
    (explode / UDF) parallelizes.

    Small files scan as a single input split (``maxPartitionBytes``), which
    serializes every per-row transform that follows — a 32-core local run
    executes a shingle explode on one core.  Only repartitions when the scan
    has fewer partitions than ``defaultParallelism`` (cluster-scale inputs
    with many splits pass through untouched, so this is safe to leave in at
    100 TB).

    CAVEAT (measured, r15 sf30 probe): the guard counts BYTE-RANGE
    splits, which overestimate effective parallelism when the file's
    parquet ROW GROUPS are oversized — only splits containing a
    row-group start produce rows, so a 283 MB file with two 1M-row
    groups planned 32 splits but executed the downstream SimHash fold
    on TWO tasks.  The fix belongs at WRITE time (bounded row groups —
    Spark's own parquet sink writes ≤128 MB blocks; the testdata
    generator now writes 32k-row groups); a reader-side row-group probe
    would cost a footer read per file per query, which at 100 TB /
    millions of files is exactly the metadata storm this engine avoids.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast every ``TIMESTAMP_NTZ`` column to session-zone ``TIMESTAMP``.

    Parquet micros written with ``isAdjustedToUTC=0`` surface as
    ``TimestampNTZType`` in Spark 4, and time-arithmetic builtins
    (``unix_micros``, interval compares, watermarks) reject that type.
    The engine pins the session time zone to UTC (``session.py``), so the
    cast is a deterministic relabel — wall-clock micros are preserved
    bit-for-bit, no offset is applied.  Applied once at the load boundary
    (plus defensively at time-operator entry points) so every downstream
    plan sees one timestamp type regardless of how the parquet was written.
    """
    ntz = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    ]
    if not ntz:
        return df
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic star-schema table from a scale-factor directory.

    Timestamp edge cases normalized here: TIMESTAMP(NANOS) parquet only
    reads as a long (``spark.sql.legacy.parquet.nanosAsLong``) and is
    converted to microsecond TimestampType; ``isAdjustedToUTC=0`` micros
    read as TIMESTAMP_NTZ and are cast to TIMESTAMP (UTC session zone —
    see ``normalize_timestamps``).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if "ts" in df.columns and dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return normalize_timestamps(df)
