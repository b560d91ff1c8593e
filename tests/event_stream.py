"""Stream harness for the stream==batch tests of the event-window
operators (``streaming/events.py``): the events schema a file-source
stream needs, a parquet-directory stream over it, and an ``availableNow``
drain into an in-memory table."""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a parquet directory (schema must be explicit)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def run_available_now(stream_df: DataFrame, query_name: str) -> DataFrame:
    """Drain the stream into an in-memory table and return it."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)
