"""Cross-operator integration: the compression round-trip feeding rollups
and the SBAS solve from compressed blobs."""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F


def test_rollup_over_decompressed_equals_direct(spark, transcripts):
    """compress -> decompress -> rollup == rollup, exactly: the compressed
    blob column is a lossless transport for series between stages."""
    from insar_spark.operators.compression import compress_series, decompress_series

    df = transcripts.select(
        "conv_id", "ts", F.length("text").cast("double").alias("v")
    )
    direct = (
        df.groupBy("conv_id", F.date_trunc("hour", "ts").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .toPandas()
        .sort_values(["conv_id", "w"])
        .reset_index(drop=True)
    )
    via_blob = (
        decompress_series(compress_series(df))
        .groupBy("conv_id", F.date_trunc("hour", "ts").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .toPandas()
        .sort_values(["conv_id", "w"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(direct, via_blob, check_exact=True)


def test_solve_from_blobs_equals_pair_solve(spark, transcripts):
    """Gorilla-blob transport into the solver == pair-row transport."""
    from insar_spark.operators import series as S
    from insar_spark.operators.compression import compress_series
    from insar_spark.operators.sbas import invert_blobs, invert_pairs

    df = S.with_text_len(transcripts.filter("conv_id < 'conv00000008'")).select(
        "conv_id", "ts", F.col("text_len").alias("v")
    )
    via_pairs = (
        invert_pairs(
            S.adjacent_pairs(df.withColumn("turn_idx", F.lit(0)), "v", k=1),
            prefilter=False,
        )
        .toPandas()
        .sort_values(["conv_id", "date_num"])
        .reset_index(drop=True)
    )
    via_blobs = (
        invert_blobs(compress_series(df))
        .toPandas()
        .sort_values(["conv_id", "date_num"])
        .reset_index(drop=True)
    )
    assert len(via_pairs) == len(via_blobs)
    np.testing.assert_allclose(
        via_pairs["phase"].to_numpy(), via_blobs["phase"].to_numpy(), atol=1e-9
    )
