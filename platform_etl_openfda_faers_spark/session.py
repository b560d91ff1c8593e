"""SparkSession construction with scale-conscious defaults.

Reference equivalent: ``config/ETLSessionContext.scala:16-33`` (session built
from HOCON ``spark-uri``, ``spark.driver.maxResultSize=0``).  Ours differs
deliberately: AQE on (skew joins on FAERS drug popularity are real), Arrow on
(every Python UDF exchange is Arrow-batched), and a bounded driver result size
(the reference's unlimited cap is a foot-gun at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# Defaults chosen for the local[32] test harness; on a real cluster the
# shuffle-partition count should be ~2-3x total executor cores and is
# expected to be overridden (AQE coalescing makes over-provisioning cheap).
DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    # 128 MiB input splits: keeps per-task memory bounded when scans widen.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": "8g",
}


def get_spark(
    app_name: str = "platform-etl-openfda-faers-spark",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine's defaults, or return the
    active one unchanged.

    ``master=None`` defers to spark-submit so the same code runs unchanged
    on a 1000-executor cluster and on ``local[32]``.  An already running
    session belongs to its host (a notebook, a test harness, a caller of
    ``main()``): applying ``DEFAULT_CONF`` and ``conf`` to it would rewrite
    its SQL settings, so neither is applied.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    merged = {**DEFAULT_CONF, **(conf or {})}
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
