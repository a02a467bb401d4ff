"""get_spark on a running session: settings re-applied in one JVM call."""

from __future__ import annotations

from insar_spark.session import get_spark

KEY = "spark.sql.shuffle.partitions"
ARGS = {"app_name": "insar_spark_tests", "master": "local[4]", "shuffle_partitions": 4}


def _round_trips(spark, fn) -> int:
    """Py4J commands ``fn`` sends to the JVM."""
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    orig = client.send_command

    def counting(*a, **kw):
        sent.append(a[0] if a else None)
        return orig(*a, **kw)

    client.send_command = counting
    try:
        fn()
    finally:
        del client.send_command
    return len(sent)


def test_get_spark_reapplies_runtime_settings_to_the_running_session(spark):
    try:
        for _ in range(2):  # a first call builds the settings map, a second reuses it
            spark.conf.set(KEY, "7")
            assert get_spark(**ARGS) is spark
            assert spark.conf.get(KEY) == "4"
        # other settings are applied, not the kept ones
        assert get_spark(**{**ARGS, "shuffle_partitions": 5}) is spark
        assert spark.conf.get(KEY) == "5"
    finally:
        get_spark(**ARGS)
    assert spark.conf.get(KEY) == "4"


def test_get_spark_on_a_warm_session_is_two_jvm_calls(spark):
    """A job run in-process calls get_spark every run (a no-op resume
    costs little else): re-applying the settings is one call, the log
    level another. The builder's getOrCreate sends one more per setting."""
    get_spark(**ARGS)
    assert _round_trips(spark, lambda: get_spark(**ARGS)) == 2
