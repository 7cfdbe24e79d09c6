"""The values a `get_spark` session plans with, as the session reports
them.  Several are Spark's own defaults rather than `get_spark` configs,
so a Spark upgrade that changes one fails here instead of changing plans
silently."""

EFFECTIVE = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.execution.arrow.maxBytesPerBatch": str(4 * 1024 * 1024),
    # a JVM launched in-process has the package root on the workers' path
    "spark.python.daemon.module": "solaris_spark.pydaemon",
}


def test_session_effective_values(spark):
    assert {k: spark.conf.get(k) for k in EFFECTIVE} == EFFECTIVE
