"""``get_spark`` builds a session with the engine defaults, but never
rewrites one that is already running."""

from platform_etl_openfda_faers_spark.session import get_spark


def test_get_spark_returns_the_active_session_unchanged(spark):
    keys = ("spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold")
    before = {k: spark.conf.get(k) for k in keys}
    # the conftest session's own setting, not DEFAULT_CONF's 32
    assert before["spark.sql.shuffle.partitions"] == "8"
    assert get_spark("x") is spark
    assert {k: spark.conf.get(k) for k in keys} == before
