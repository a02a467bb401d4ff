"""Cross-operator integration: compression round-trip feeding rollups,
IVF partitioned store with verified partition pruning."""

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


def test_ivf_store_partition_pruning(spark, tmp_path):
    from insar_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_from_store,
        ivf_write,
        train_centroids,
    )

    rng = np.random.default_rng(21)
    centers = rng.normal(size=(6, 16)) * 5
    V = np.vstack([c + rng.normal(0, 0.25, size=(50, 16)) for c in centers]).astype(
        np.float32
    )
    pdf = pd.DataFrame({"vec_id": range(len(V)), "embedding": list(map(list, V))})
    emb = spark.createDataFrame(pdf)
    C = train_centroids(emb, n_centroids=6, sample_rows=300, iters=8)
    path = str(tmp_path / "ivf")
    ivf_write(emb, C, path)

    qv = [float(x) for x in V[10]]
    topk = ivf_topk_from_store(spark, path, qv, C, k=10, n_probe=2)
    # pruning: the cell predicate reaches the scan as a partition filter
    # (inputFiles() reports pre-pruning listing, so inspect the plan)
    n_cells_total = len(
        [f for f in __import__("os").listdir(path) if f.startswith("cell=")]
    )
    assert n_cells_total == 6
    plan = topk._jdf.queryExecution().executedPlan().toString()
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "cell" in pf.group(1), plan[:800]

    exact = set(brute_force_topk(emb, qv, k=10).toPandas().vec_id)
    got = set(topk.toPandas().vec_id)
    assert len(got & exact) / 10 >= 0.8


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


def test_lsh_store_partition_pruning(spark, tmp_path):
    """Persisted hyperplane-LSH index: signatures computed once at write
    time, query probes prune to <= 56 bucket partitions (n_bits=10,
    multiprobe<=2), and the store path returns exactly what the
    scan-recompute path returns."""
    from insar_spark.operators.similarity import (
        hyperplane_lsh_topk,
        lsh_topk_from_store,
        lsh_write,
    )

    rng = np.random.default_rng(33)
    V = rng.normal(size=(400, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(len(V)), "embedding": list(map(list, V))})
    emb = spark.createDataFrame(pdf)
    path = str(tmp_path / "lsh")
    lsh_write(emb, path, dim=16, n_bits=10, seed=7)

    qv = [float(x) for x in V[5]]
    topk = lsh_topk_from_store(spark, path, qv, k=10, n_bits=10, seed=7)

    # pruning: the bucket predicate reaches the scan as a partition filter
    plan = topk._jdf.queryExecution().executedPlan().toString()
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "bucket" in pf.group(1), plan[:800]

    # store path == scan-recompute path, bit for bit
    a = topk.toPandas().reset_index(drop=True)
    b = (
        hyperplane_lsh_topk(emb, qv, k=10, n_bits=10, seed=7)
        .toPandas()
        .reset_index(drop=True)
    )
    assert a.vec_id.tolist() == b.vec_id.tolist()
    np.testing.assert_allclose(a.cos_sim, b.cos_sim, rtol=0, atol=0)


