"""Structured-Streaming tier builders == their batch twins."""

from __future__ import annotations

import pandas as pd


def test_ord_key_overflow_fails_loudly(spark):
    import datetime as dt

    import pandas as pd
    import pytest

    from insar_spark.operators.series import ord_key

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c"],
                "turn_idx": [1 << 20],
                "ts": [dt.datetime(2025, 1, 1)],
            }
        )
    )
    with pytest.raises(Exception, match="ord_key overflow"):
        df.select(ord_key()).collect()


def test_streaming_ord_key_overflow_fails_loudly(spark, tmp_path):
    """The streaming 1m rollup packs the same ord key: a turn_idx >= 2^20
    must raise in the micro-batch exactly as the batch path does, not
    silently corrupt first/last ordering."""
    import datetime as dt

    import pandas as pd
    import pytest

    from insar_spark.sources.catalog import TierStore
    from insar_spark.streaming.rollup_stream import stream_to_tierstore

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c"],
                "turn_idx": pd.array([1 << 20], dtype="int32"),
                "role": ["user"],
                "text": ["hi"],
                "tool": [None],
                "ts": [dt.datetime(2025, 1, 1)],
            }
        )
    )
    src = str(tmp_path / "overflow_src")
    df.write.mode("overwrite").parquet(src)
    q = stream_to_tierstore(
        spark, src, TierStore(str(tmp_path / "tiers")),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        with pytest.raises(Exception, match="ord_key overflow"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_streaming_hist_matches_batch_and_serves_global_p95(
    spark, tmp_path, transcripts
):
    """Streaming-built 1m histogram tier == batch hist_rollup on the same
    turns, and the merged global percentile served from the streaming tier
    equals the batch-served one (the sketch's mergeability is what makes
    it streamable with no custom state)."""
    from pyspark.sql import functions as F

    from insar_spark.operators.sketch import (
        hist_merge_global,
        hist_quantile,
        hist_rollup,
    )
    from insar_spark.streaming.rollup_stream import (
        read_transcript_stream,
        streaming_hist_1m,
    )

    src = str(tmp_path / "hist_src")
    transcripts.write.mode("overwrite").parquet(src)

    stream = streaming_hist_1m(read_transcript_stream(spark, src))
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName("h1m_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = spark.sql("SELECT * FROM h1m_stream")
    batch_turns = transcripts.select(
        "conv_id", "ts", F.length("text").cast("double").alias("text_len")
    )
    exp = hist_rollup(batch_turns, "1m", value_col="text_len")

    g = got.toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
    e = exp.toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
    assert len(g) == len(e) and len(g) > 0
    assert [list(h) for h in g["hist"]] == [list(h) for h in e["hist"]]

    def p95(df):
        return (
            hist_merge_global(df, "1h")
            .select("window_start", hist_quantile("hist", 0.95).alias("p95"))
            .toPandas()
            .sort_values("window_start")
            .reset_index(drop=True)
        )

    gp, ep = p95(got), p95(exp)
    assert gp["p95"].tolist() == ep["p95"].tolist() and len(gp) > 0


def test_streaming_hll_matches_batch(spark, tmp_path, transcripts):
    """Streaming-built 1m HLL register sketch == batch hll_rollup on the
    same turns — unbounded streaming count-distinct with zero custom
    state (max(rho) is incremental AND idempotent across micro-batches)."""
    from insar_spark.operators.sketch import hll_rollup
    from insar_spark.streaming.rollup_stream import (
        read_transcript_stream,
        streaming_hll_1m,
    )

    src = str(tmp_path / "hll_src")
    transcripts.write.mode("overwrite").parquet(src)

    stream = streaming_hll_1m(read_transcript_stream(spark, src))
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName("hll1m_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    key = ["window_start", "reg", "max_rho"]
    g = {
        tuple(r)
        for r in spark.sql("SELECT * FROM hll1m_stream").select(*key).collect()
    }
    e = {
        tuple(r)
        for r in hll_rollup(transcripts.select("conv_id", "ts"), "1m")
        .select(*key)
        .collect()
    }
    assert g == e and len(g) > 0


def test_streaming_m4_matches_batch_and_cascades(spark, tmp_path, transcripts):
    """Streaming-built 1m M4 tier == batch m4_downsample on the same
    turns, and the weekly cascade from the streamed tier equals the
    direct weekly build — the downsample family rides the seal cycle
    like every sketch family."""
    from pyspark.sql import functions as F

    from insar_spark.operators.downsample import m4_cascade, m4_downsample
    from insar_spark.streaming.rollup_stream import (
        read_transcript_stream,
        streaming_m4_1m,
    )

    src = str(tmp_path / "m4_src")
    transcripts.write.mode("overwrite").parquet(src)

    stream = streaming_m4_1m(read_transcript_stream(spark, src))
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName("m4_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = spark.sql("SELECT * FROM m4_stream")
    batch_src = transcripts.select(
        "conv_id", "turn_idx", "ts",
        F.length("text").cast("double").alias("text_len"),
    )
    exp = m4_downsample(batch_src, "minute", value_col="text_len")

    cols = exp.columns
    g = (
        got.toPandas()[cols]
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    e = (
        exp.toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    import pandas as pd

    assert len(g) == len(e) > 0
    pd.testing.assert_frame_equal(g, e, check_exact=True)

    gw = (
        m4_cascade(got, "week")
        .toPandas()[cols]
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    ew = (
        m4_downsample(batch_src, "week", value_col="text_len")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(gw, ew, check_exact=True)
