from __future__ import annotations

import pytest

from insar_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="insar_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts(spark):
    """Small deterministic transcripts table shared across tests."""
    from insar_spark.synth import synth_transcripts

    df = synth_transcripts(
        spark, n_convs=40, seed=42, mega_every=20, mega_turns=2000
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def transcripts_pdf():
    from insar_spark.synth import synth_transcripts_pandas

    return synth_transcripts_pandas(n_convs=40, seed=42, mega_every=20, mega_turns=2000)


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn`` and returns its result and the ids of
    the Spark jobs it launched (job group + status tracker)."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run
