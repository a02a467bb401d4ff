"""SparkSession factory with engine-standard configuration.

One place to pin every config the engine relies on:

* UTC session timezone — required for bit-exact agreement with the DuckDB
  oracle and for deterministic `date_trunc` tier boundaries.
* AQE on — runtime coalescing + skew-join handling (the reference hand-plans
  uniform blocks, /root/reference/insar/timeseries.py:684-706; AQE is the
  Catalyst-native replacement).
* Arrow on — all Python crossings are Arrow-batched (pandas UDFs only).
* shuffle partitions sized to cores, not the 200 default.
* no distributed file-listing job for explicit path lists (TierStore
  reads).
* ``TIMESTAMP_MICROS`` Parquet timestamps, not Spark's INT96 default:
  INT96 columns carry no footer min/max, and a TierStore commit takes
  each day's ``w_min``/``w_max`` from the footers of the files it wrote
  instead of a second pass over the plan. Files written as INT96 still
  read back as the same Spark timestamp type.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size plays the role of the reference's 10 MB block budget
# (/root/reference/insar/timeseries.py:172-174): bound per-batch memory in
# the vectorized UDF stage.
ARROW_MAX_RECORDS = 100_000


def get_spark(
    app_name: str = "insar_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    On a real cluster, pass ``master=None`` and let spark-submit supply it.
    A running session is returned with the settings re-applied to it
    (``_reapply``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # local[N] → N; a real cluster should set this to ~2-3× total cores.
        n = cpus or (master.split("[")[-1].rstrip("]") if "[" in master else "")
        shuffle_partitions = int(n) if n.isdigit() else 32

    settings = {
        "spark.app.name": app_name,
        "spark.master": master,
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_MAX_RECORDS),
        # TierStore reads pass the manifest's explicit file list; past this
        # threshold (default 32) Spark stats the paths with a distributed
        # listing job: read_tier on a 112-file tier took ~650 ms with it
        # and ~85 ms with driver-side stats (4-core host). The 1d tier is
        # never expired, so no committed file list may reach the threshold.
        "spark.sql.sources.parallelPartitionDiscovery.threshold": str(2**31 - 1),
        # INT96 (the default) has no footer min/max; TierStore commits read
        # each day's window range from the footers of the files they wrote
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "16g"),
        **(extra_conf or {}),
    }
    spark = SparkSession._instantiatedSession
    if spark is None or spark._sc._jsc is None:
        spark = SparkSession.builder.config(map=settings).getOrCreate()
    else:
        _reapply(spark, settings)
    spark.sparkContext.setLogLevel("WARN")
    return spark


# (session, settings, JVM session module, JVM map of the settings) of the
# last re-application
_last_applied: tuple | None = None


def _reapply(spark: SparkSession, settings: dict[str, str]) -> None:
    """Apply ``settings`` to the running session, as
    ``SparkSession.builder.getOrCreate`` does (runtime SQL settings take
    effect; static ones are ignored with a warning). The builder converts
    the settings to a JVM map with one Py4J round trip per entry, ~20 per
    call; a job run in-process on a warm session calls this every run, so
    the map of the last settings is kept and re-applied in one call."""
    global _last_applied
    if _last_applied is None or _last_applied[:2] != (spark, settings):
        jmap = spark._jvm.java.util.HashMap()
        for k, v in settings.items():
            jmap.put(k, v)
        module = SparkSession._get_j_spark_session_module(spark._jvm)
        _last_applied = (spark, dict(settings), module, jmap)
    _, _, module, jmap = _last_applied
    module.applyModifiableSettings(spark._jsparkSession, jmap)
