"""Tier rollup + cascade tests (FIXTURES.md §4 semantics)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from insar_spark.operators.rollup import cascade, rollup_turns


def _pd_rollup(pdf: pd.DataFrame, unit: str) -> pd.DataFrame:
    p = pdf.copy()
    p["text_len"] = p["text"].str.len().astype("float64")
    p["window_start"] = p["ts"].dt.floor(unit)
    g = p.groupby(["conv_id", "window_start"])
    out = g.agg(
        n_turns=("text_len", "size"),
        n_tool_calls=("tool", "count"),
        sum_text_len=("text_len", "sum"),
        min_text_len=("text_len", "min"),
        max_text_len=("text_len", "max"),
    ).reset_index()
    return out.sort_values(["conv_id", "window_start"]).reset_index(drop=True)


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["conv_id", "window_start"]).reset_index(drop=True)


def test_rollup_1m_matches_pandas(spark, transcripts, transcripts_pdf):
    got = _sorted(rollup_turns(transcripts, "1m").toPandas())
    exp = _pd_rollup(transcripts_pdf, "min")
    assert len(got) == len(exp)
    for c in ["n_turns", "n_tool_calls", "sum_text_len", "min_text_len", "max_text_len"]:
        np.testing.assert_allclose(got[c].to_numpy("float64"), exp[c].to_numpy("float64"), err_msg=c)


def test_cascade_identity_1h(spark, transcripts):
    """rollup_1h(turns) == cascade(rollup_1m(turns)) — exact reagg."""
    direct = _sorted(rollup_turns(transcripts, "1h").toPandas())
    cascaded = _sorted(cascade(rollup_turns(transcripts, "1m"), "1h").toPandas())
    pd.testing.assert_frame_equal(direct, cascaded, check_exact=True)


def test_cascade_identity_1d(spark, transcripts):
    direct = _sorted(rollup_turns(transcripts, "1d").toPandas())
    cascaded = _sorted(
        cascade(cascade(rollup_turns(transcripts, "1m"), "1h"), "1d").toPandas()
    )
    pd.testing.assert_frame_equal(direct, cascaded, check_exact=True)


def test_first_last_stable_order(spark, transcripts, transcripts_pdf):
    got = _sorted(rollup_turns(transcripts, "1h").toPandas())
    p = transcripts_pdf.copy()
    p["text_len"] = p["text"].str.len().astype("float64")
    p["window_start"] = p["ts"].dt.floor("h")
    p = p.sort_values(["conv_id", "window_start", "ts", "turn_idx"])
    g = p.groupby(["conv_id", "window_start"])
    exp_first = g["text_len"].first().reset_index(drop=True)
    exp_last = g["text_len"].last().reset_index(drop=True)
    np.testing.assert_allclose(got["first_text_len"].to_numpy(), exp_first.to_numpy())
    np.testing.assert_allclose(got["last_text_len"].to_numpy(), exp_last.to_numpy())


def test_rollup_insensitive_to_input_order(spark):
    """Out-of-order arrival must not change any tier output (FIXTURES.md §1)."""
    from insar_spark.synth import synth_transcripts

    a = synth_transcripts(spark, n_convs=12, seed=7, mega_every=0)
    b = synth_transcripts(spark, n_convs=12, seed=7, mega_every=0, shuffle=True)
    ra = _sorted(rollup_turns(a, "1m").toPandas())
    rb = _sorted(rollup_turns(b, "1m").toPandas())
    pd.testing.assert_frame_equal(ra, rb, check_exact=True)


def test_hist_sketch_cascade_is_exact_and_quantile_bounded(spark, transcripts):
    """The histogram sketch is a true continuous aggregate: cascading the
    1m tier to 1h is bit-equal to building 1h directly (element-wise
    integer merge), and the quantile estimate is within one bin width of
    the exact percentile."""
    import numpy as np

    from pyspark.sql import functions as F

    from insar_spark.operators.series import with_text_len
    from insar_spark.operators.sketch import (
        DEFAULT_BINS,
        DEFAULT_HI,
        DEFAULT_LO,
        hist_cascade,
        hist_quantile,
        hist_rollup,
    )

    df = with_text_len(transcripts).select(
        "conv_id", "ts", F.col("text_len").alias("v")
    )
    h1m = hist_rollup(df, "1m", value_col="v")
    via_cascade = (
        hist_cascade(h1m, "1h")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    direct = (
        hist_rollup(df, "1h", value_col="v")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    assert len(via_cascade) == len(direct) > 0
    for a, b in zip(via_cascade["hist"], direct["hist"]):
        np.testing.assert_array_equal(np.asarray(a), np.asarray(b))

    # quantile error bound: |estimate - exact| <= bin width
    step = (DEFAULT_HI - DEFAULT_LO) / DEFAULT_BINS
    est = (
        hist_cascade(h1m, "1h")
        .select("conv_id", "window_start", hist_quantile("hist", 0.95).alias("e"))
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    # the sketch's guarantee is vs the NEAREST-RANK statistic (rank =
    # ceil(q*n)), the same convention the fold uses — not vs interpolated
    # percentiles, which can sit a gap below the rank value
    raw = df.select(
        "conv_id", F.date_trunc("hour", "ts").alias("window_start"), "v"
    ).toPandas()
    exact = (
        raw.groupby(["conv_id", "window_start"])["v"]
        .apply(lambda s: np.sort(s.to_numpy())[int(np.ceil(0.95 * len(s))) - 1])
        .reset_index(name="x")
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    assert len(est) == len(exact)
    err = est["e"].to_numpy() - exact["x"].to_numpy()
    assert (err >= 0).all() and (err <= step).all()  # upper edge of the rank's bin


def test_hist_clamp_saturation_detectable_from_stored_tier(spark, tmp_path):
    """A mis-sized `hi` is baked into the sketch at ingest; the clamp
    counters make that detectable FROM THE STORED TIER ALONE: they merge
    through the cascade like bins, survive the TierStore round-trip, the
    bin edges ride the manifest, and `hist_saturated` flags exactly the
    windows whose quantile estimate rides a clamp edge."""
    import datetime as dt

    from insar_spark.operators.sketch import (
        hist_cascade,
        hist_quantile,
        hist_rollup,
        hist_saturated,
    )
    from insar_spark.sources.catalog import TierStore

    lo, hi, bins = 0.0, 64.0, 8
    t0 = dt.datetime(2025, 6, 1, 12, 0, 0)
    rows = [
        # conv A, one window: half the mass beyond hi (clamped high) and
        # one value below lo -> p95 rides the hi clamp edge
        *[("A", t0 + dt.timedelta(seconds=i), v)
          for i, v in enumerate([5.0, 10.0, -3.0, 100.0, 200.0, 900.0])],
        # conv B, in-range window -> clean sketch, not saturated
        *[("B", t0 + dt.timedelta(seconds=i), v)
          for i, v in enumerate([5.0, 10.0, 20.0, 30.0])],
    ]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp, v double")
    h1m = hist_rollup(df, "1m", value_col="v", lo=lo, hi=hi, bins=bins)

    got = {r["conv_id"]: r for r in h1m.collect()}
    assert got["A"]["n_clamped_hi"] == 3 and got["A"]["n_clamped_lo"] == 1
    assert got["B"]["n_clamped_hi"] == 0 and got["B"]["n_clamped_lo"] == 0
    # counts stay exact: clamped mass lands in the edge bins, never drops
    assert sum(got["A"]["hist"]) == 6 and sum(got["B"]["hist"]) == 4

    # TierStore round-trip: clamp counters + manifest bin edges
    store = TierStore(str(tmp_path / "tiers"))
    store.write_tier(
        h1m, "hist_1m",
        run_params={"hist_lo": lo, "hist_hi": hi, "hist_bins": bins},
    )
    snap = store.manifest("hist_1m")["snapshots"][-1]["run_params"]
    assert (snap["hist_lo"], snap["hist_hi"], snap["hist_bins"]) == (lo, hi, bins)
    stored = store.read_tier(spark, "hist_1m").drop("day")
    flags = {
        r["conv_id"]: r
        for r in stored.select(
            "conv_id",
            hist_quantile("hist", 0.95, lo, hi, bins).alias("p95"),
            hist_saturated("hist", 0.95, lo, hi, bins).alias("saturated"),
        ).collect()
    }
    assert flags["A"]["saturated"] is True and flags["A"]["p95"] == hi
    assert flags["B"]["saturated"] is False and flags["B"]["p95"] < hi

    # cascade merges the counters by plain sum (continuous-aggregate law)
    casc = {
        r["conv_id"]: r
        for r in hist_cascade(stored, "1h", bins=bins).collect()
    }
    assert casc["A"]["n_clamped_hi"] == 3 and casc["A"]["n_clamped_lo"] == 1
    assert casc["B"]["n_clamped_hi"] == 0


def test_lb_rank_sketch_invariants_and_cascade(spark):
    """Range-free log-bucket rank sketch: bucket id is monotone in the
    value, values below 2^k are EXACT (singleton buckets), the upper-edge
    estimate bounds the value with relative error <= 2^-k, negatives stay
    visible in the underflow bucket, and the tall tier cascades exactly
    (groupBy-sum merge: cascade(1m)->1h == direct 1h)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from insar_spark.operators.sketch import (
        LB_SUB_BITS,
        lb_bucket,
        lb_cascade,
        lb_quantiles,
        lb_rollup,
        lb_upper_edge,
    )

    # --- bucket/edge invariants on an adversarial value grid -----------
    k = LB_SUB_BITS
    grid = sorted(
        {0, 1, (1 << k) - 1, 1 << k, (1 << k) + 1, -7, (1 << 63) - 1}
        | {(1 << e) + d for e in range(k, 63) for d in (-1, 0, 1)}
        | {3 ** e for e in range(1, 39)}
    )
    df = spark.createDataFrame([(v,) for v in grid], "v long")
    rows = (
        df.select("v", lb_bucket("v").alias("b"))
        .withColumn("edge", lb_upper_edge("b"))
        .collect()
    )
    by_v = sorted((r["v"], r["b"], r["edge"]) for r in rows)
    assert all(by_v[i][1] <= by_v[i + 1][1] for i in range(len(by_v) - 1))
    for v, b, edge in by_v:
        if v < 0:
            assert b == -1 and edge == -1
        elif v < (1 << k):
            assert b == v and edge == v  # exact region
        else:
            assert v <= edge <= v + v // (1 << k) + 1
            assert (edge - v) <= edge * 2.0 ** -k

    # --- tall-tier cascade identity + quantile error bound -------------
    t0 = dt.datetime(2025, 6, 1, 0, 0, 0)
    vals = [(f"c{i % 7}", t0 + dt.timedelta(minutes=i % 90, seconds=i % 60),
             float((i * 37) % 5000)) for i in range(3000)]
    turns = spark.createDataFrame(
        vals, "conv_id string, ts timestamp, v double"
    ).withColumn("vi", F.col("v").cast("long"))
    s1m = lb_rollup(turns, "1m", value_col="vi")
    via = (
        lb_cascade(s1m, "1h")
        .toPandas()
        .sort_values(["conv_id", "window_start", "bucket"])
        .reset_index(drop=True)
    )
    direct = (
        lb_rollup(turns, "1h", value_col="vi")
        .toPandas()
        .sort_values(["conv_id", "window_start", "bucket"])
        .reset_index(drop=True)
    )
    assert len(via) == len(direct) > 0
    assert (via["bucket"] == direct["bucket"]).all()
    assert (via["cnt"] == direct["cnt"]).all()

    est = {
        (r["conv_id"], r["window_start"]): r["p95"]
        for r in lb_quantiles(
            lb_cascade(s1m, "1h"), {"p95": 0.95}, ("conv_id", "window_start")
        ).collect()
    }
    p = turns.toPandas()
    p["window_start"] = p["ts"].dt.floor("h")
    for (conv, w), g in p.groupby(["conv_id", "window_start"]):
        xs = sorted(g["vi"])
        exact = xs[-(-len(xs) * 95 // 100) - 1]  # nearest-rank ceil(q*n)
        e = est[(conv, w)]
        assert exact <= e, (conv, w, exact, e)
        assert (e - exact) <= max(1, e * 2.0 ** -k), (conv, w, exact, e)


def _pb_mirror(v: int, k: int = 5) -> int:
    """Python mirror of the nonnegative log-bucket id (independent
    restatement for property testing)."""
    cap = 1 << k
    if v < cap:
        return v
    m = v.bit_length() - 1
    return (m - k + 1) * cap + (v >> (m - k)) - cap


def _bucket_signed_mirror(v: int, k: int = 5) -> int:
    if v >= 0:
        return _pb_mirror(v, k)
    a = -max(v, -(2**63 - 1))  # long-min clamps into the top octave
    return -2 - _pb_mirror(a, k)


def _edge_signed_mirror(b: int, k: int = 5) -> int:
    cap = 1 << k

    def lower(p):
        if p < cap:
            return p
        mm = (p >> k) + k - 1
        return (cap + p % cap) << (mm - k)

    def upper(p):
        if p < cap:
            return p
        mm = (p >> k) + k - 1
        return ((cap + p % cap) << (mm - k)) + ((1 << (mm - k)) - 1)

    return upper(b) if b >= 0 else -lower(-2 - b)


def test_lb_signed_bucket_properties():
    """Property test (hypothesis): over the FULL signed long range the
    mirrored-octave bucket id is monotone, the edge decode bounds the
    value from above with relative error <= 2^-k on both tails, and the
    exact region |v| < 2^k is exact."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    longs = st.integers(min_value=-(2**63), max_value=2**63 - 1)

    @settings(max_examples=500, deadline=None)
    @given(longs, longs)
    def monotone(v1, v2):
        if v1 > v2:
            v1, v2 = v2, v1
        assert _bucket_signed_mirror(v1) <= _bucket_signed_mirror(v2)

    @settings(max_examples=500, deadline=None)
    @given(longs)
    def edge_bounds(v):
        b = _bucket_signed_mirror(v)
        e = _edge_signed_mirror(b)
        if v == -(2**63):
            v = -(2**63 - 1)  # clamped domain edge
        assert v <= e
        a = abs(v)
        if a < 32:
            assert e == v  # exact region (both signs)
        else:
            assert e - v <= (a >> 5) + 1  # relative error <= 2^-5

    monotone()
    edge_bounds()


def test_lb_signed_spark_matches_mirror(spark):
    """The Spark signed bucket/edge expressions agree with the python
    mirror on an adversarial signed grid (octave boundaries both signs,
    long extremes incl. the long-min clamp), sort in value order across
    the sign boundary, and signed lb_rollup cascades exactly."""
    import datetime as dt

    from pyspark.sql import functions as F

    from insar_spark.operators.sketch import (
        lb_bucket_signed,
        lb_cascade,
        lb_edge_signed,
        lb_quantiles,
        lb_rollup,
    )

    grid = sorted(
        {0, 1, 31, 32, 33, -1, -31, -32, -33, 2**63 - 1, -(2**63 - 1), -(2**63)}
        | {s * ((1 << e) + d) for e in range(5, 63) for d in (-1, 0, 1)
           for s in (1, -1)}
        | {s * 3**e for e in range(1, 39) for s in (1, -1)}
    )
    df = spark.createDataFrame([(v,) for v in grid], "v long")
    rows = (
        df.select("v", lb_bucket_signed("v").alias("b"))
        .withColumn("e", lb_edge_signed("b"))
        .orderBy("v")
        .collect()
    )
    prev_b = None
    for r in rows:
        v, b, e = r["v"], r["b"], r["e"]
        assert b == _bucket_signed_mirror(v), (v, b)
        assert e == _edge_signed_mirror(b), (v, b, e)
        if prev_b is not None:
            assert b >= prev_b  # bucket ids sort in value order
        prev_b = b

    # signed rollup: cascade identity + quantiles bound the exact answer
    t0 = dt.datetime(2025, 6, 1, 0, 0, 0)
    vals = [
        ("c%d" % (i % 5), t0 + dt.timedelta(minutes=i % 90),
         ((i * 37) % 701) - 350)
        for i in range(2000)
    ]
    turns = spark.createDataFrame(vals, "conv_id string, ts timestamp, vi long")
    s1m = lb_rollup(turns, "1m", value_col="vi", signed=True)
    via = (
        lb_cascade(s1m, "1h")
        .toPandas()
        .sort_values(["conv_id", "window_start", "bucket"])
        .reset_index(drop=True)
    )
    direct = (
        lb_rollup(turns, "1h", value_col="vi", signed=True)
        .toPandas()
        .sort_values(["conv_id", "window_start", "bucket"])
        .reset_index(drop=True)
    )
    assert len(via) == len(direct) > 0
    assert (via["bucket"] == direct["bucket"]).all()
    assert (via["cnt"] == direct["cnt"]).all()

    est = lb_quantiles(
        lb_cascade(s1m, "1h"),
        {"p05": 0.05, "p95": 0.95},
        ("conv_id", "window_start"),
        signed=True,
    ).toPandas()
    p = turns.toPandas()
    p["window_start"] = p["ts"].dt.floor("h")
    byk = {
        (r["conv_id"], r["window_start"]): r for _, r in est.iterrows()
    }
    import math

    for (conv, w), g in p.groupby(["conv_id", "window_start"]):
        xs = sorted(g["vi"])
        for q, col in ((0.05, "p05"), (0.95, "p95")):
            exact = xs[max(0, math.ceil(q * len(xs)) - 1)]  # nearest-rank
            e = byk[(conv, w)][col]
            assert exact <= e, (conv, w, q, exact, e)
            assert e - exact <= max(1, abs(exact) >> 5), (conv, w, q, exact, e)
    """Skew proof for the tall sketch: a mega conversation concentrated in
    few windows produces identical tier rows whether it arrives alone or
    mixed with a long tail, and the per-(key, window) row count stays
    bounded by the bucket space (the groupBy key includes `bucket`, so
    map-side partial aggregation absorbs the hot series exactly like the
    stats tiers — no single reducer sees the raw mega series)."""
    from pyspark.sql import functions as F

    from insar_spark.operators.sketch import lb_quantiles, lb_rollup
    from insar_spark.synth import synth_transcripts

    mixed = synth_transcripts(
        spark, n_convs=12, seed=11, mega_every=3, mega_turns=20000
    ).select("conv_id", "ts", F.length("text").cast("long").alias("tl"))
    rolled = lb_rollup(mixed, "1h", value_col="tl")

    # bounded tier width: every (conv, window) holds at most the bucket
    # space, regardless of how many raw turns the window absorbed
    per_conv = rolled.groupBy("conv_id").agg(F.sum("cnt").alias("n_turns"))
    top = per_conv.orderBy(F.desc("n_turns")).first()
    assert top["n_turns"] >= 20000  # the mega series really is hot
    width = rolled.groupBy("conv_id", "window_start").agg(
        F.count(F.lit(1)).alias("n_buckets")
    )
    assert width.agg(F.max("n_buckets")).first()[0] <= 64 * 32  # tall bound

    # isolation: the mega conv's sketch is unaffected by the tail
    mega_id = (
        mixed.groupBy("conv_id").count().orderBy(F.desc("count")).first()["conv_id"]
    )
    alone = lb_rollup(
        mixed.filter(F.col("conv_id") == mega_id), "1h", value_col="tl"
    )
    a = (
        alone.toPandas()
        .sort_values(["window_start", "bucket"])
        .reset_index(drop=True)
    )
    b = (
        rolled.filter(F.col("conv_id") == mega_id)
        .toPandas()
        .sort_values(["window_start", "bucket"])
        .reset_index(drop=True)
    )
    assert len(a) == len(b) > 0
    assert (a["bucket"].to_numpy() == b["bucket"].to_numpy()).all()
    assert (a["cnt"].to_numpy() == b["cnt"].to_numpy()).all()

    # quantile read over the hot window stays cheap and correct
    q = lb_quantiles(
        rolled.filter(F.col("conv_id") == mega_id),
        {"p95": 0.95},
        ("conv_id", "window_start"),
    ).toPandas()
    assert (q["p95"] >= 0).all() and len(q) > 0


def test_lb_bucket_matches_python_model_on_random_longs(spark):
    """Model-based check of the integer bucket arithmetic: the Spark
    expressions (length(bin(v)), shiftright/shiftleft) must agree with an
    independent pure-Python model on random longs across the full domain —
    this is the bit-reproducibility claim the oracle relies on, checked
    against a third implementation."""
    import random

    from insar_spark.operators.sketch import LB_SUB_BITS, lb_bucket, lb_upper_edge

    k = LB_SUB_BITS
    cap = 1 << k

    def model_bucket(v: int) -> int:
        if v < 0:
            return -1
        if v < cap:
            return v
        m = v.bit_length() - 1
        return (m - k + 1) * cap + (v >> (m - k)) - cap

    def model_edge(b: int) -> int:
        if b < cap:
            return b
        m = (b >> k) + k - 1
        sub = b & (cap - 1)
        return ((cap + sub + 1) << (m - k)) - 1

    rng = random.Random(20260817)
    vals = [rng.randrange(-100, 1 << (8 + rng.randrange(0, 55))) for _ in range(10000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    rows = (
        df.select("v", lb_bucket("v").alias("b"))
        .withColumn("e", lb_upper_edge("b"))
        .collect()
    )
    assert len(rows) == len(vals)
    for r in rows:
        assert r["b"] == model_bucket(r["v"]), (r["v"], r["b"])
        expect_e = -1 if r["b"] == -1 else model_edge(r["b"])
        assert r["e"] == expect_e, (r["v"], r["b"], r["e"], expect_e)


def test_hist_saturated_flags_lo_side_clamp(spark):
    """The lo-side branch of hist_saturated: when the rank mass sits in
    bin 0 AND lo-clamped rows exist, the estimate (lo + step) is flagged;
    an in-range bin-0 window without clamped mass is NOT flagged."""
    import datetime as dt

    from pyspark.sql import functions as F

    from insar_spark.operators.sketch import (
        hist_quantile,
        hist_rollup,
        hist_saturated,
    )

    lo, hi, bins = 0.0, 64.0, 8
    t0 = dt.datetime(2025, 6, 2, 9, 0, 0)
    rows = [
        # conv L: most mass BELOW lo -> p95 rides the lo clamp edge
        *[("L", t0 + dt.timedelta(seconds=i), v)
          for i, v in enumerate([-9.0, -4.0, -1.0, 2.0])],
        # conv C: clean bin-0 mass, nothing clamped -> not flagged
        *[("C", t0 + dt.timedelta(seconds=i), v)
          for i, v in enumerate([1.0, 2.0, 3.0, 4.0])],
    ]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp, v double")
    h = hist_rollup(df, "1m", value_col="v", lo=lo, hi=hi, bins=bins)
    got = {
        r["conv_id"]: r
        for r in h.select(
            "conv_id",
            "n_clamped_lo",
            hist_quantile("hist", 0.95, lo, hi, bins).alias("p95"),
            hist_saturated("hist", 0.95, lo, hi, bins).alias("sat"),
        ).collect()
    }
    step = (hi - lo) / bins
    assert got["L"]["n_clamped_lo"] == 3
    assert got["L"]["p95"] == lo + step and got["L"]["sat"] is True
    assert got["C"]["n_clamped_lo"] == 0
    assert got["C"]["p95"] == lo + step and got["C"]["sat"] is False


def test_hll_sketch_cascade_exact_and_estimate_bounded(spark):
    """HLL register tier: (a) 1m->1h max-cascade == direct 1h build,
    (b) idempotent under replay (union of the tier with itself merges to
    the identical sketch), (c) estimate within 6 sigma (sigma =
    1.04/sqrt(1024) ~ 3.25%) across four decades of true cardinality —
    including far past the m=1024 register count, the whole point of the
    tier."""
    import pandas as pd

    from insar_spark.operators.sketch import (
        HLL_M,
        hll_cascade,
        hll_estimate,
        hll_read,
        hll_rollup,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    frames = []
    for hour, n in [(0, 40), (1, 700), (2, 20_000), (3, 300_000)]:
        frames.append(
            pd.DataFrame(
                {
                    "conv_id": [f"h{hour}-c{i}" for i in range(n)],
                    "ts": pd.Timestamp(f"2026-01-01 {hour:02d}:00:00")
                    + pd.to_timedelta(
                        [i % 3600 for i in range(n)], unit="s"
                    ),
                }
            )
        )
    df = spark.createDataFrame(pd.concat(frames))

    t1m = hll_rollup(df, "1m")
    via_cascade = hll_cascade(t1m, "1h")
    direct = hll_rollup(df, "1h")
    key = ["window_start", "reg"]
    a = {tuple(r) for r in via_cascade.select(*key, "max_rho").collect()}
    b = {tuple(r) for r in direct.select(*key, "max_rho").collect()}
    assert a == b, "1m->1h max-cascade must equal the direct 1h build"

    replayed = hll_cascade(t1m.unionAll(t1m), "1h")
    c = {tuple(r) for r in replayed.select(*key, "max_rho").collect()}
    assert c == b, "replayed partitions must merge idempotently"

    served = hll_read(direct).withColumn(
        "est", hll_estimate("n_regs", "sum_scaled")
    )
    got = {
        r["window_start"].hour: r
        for r in served.collect()
    }
    sigma = 1.04 / (HLL_M ** 0.5)
    for hour, n in [(0, 40), (1, 700), (2, 20_000), (3, 300_000)]:
        est = got[hour]["est"]
        assert abs(est - n) <= 6 * sigma * n + 3, (
            f"hour {hour}: est {est} vs true {n}"
        )
    # the two big hours far exceed the m=1024 register count; the HLL
    # raw regime must be active there (lc_regime=0), and the small hour
    # must sit in the linear-counting regime
    assert got[0]["lc_regime"] == 1
    assert got[3]["lc_regime"] == 0


def test_hll_rho_register_bounds(spark):
    """Every (reg, rho) drawn from random keys stays in the documented
    domain: reg in [0, 1024), rho in [1, 51] — the invariant the tall
    tier's schema and the 2^51 scaling rely on."""
    from insar_spark.functions.shared_hash import h60_col
    from insar_spark.operators.sketch import HLL_M, hll_rho

    from pyspark.sql import functions as F

    df = spark.range(20_000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    h = h60_col(F.col("k"))
    stats = df.select(
        F.pmod(h, F.lit(HLL_M)).cast("int").alias("reg"),
        hll_rho(h).alias("rho"),
    ).agg(
        F.min("reg"), F.max("reg"), F.min("rho"), F.max("rho")
    ).collect()[0]
    assert stats[0] >= 0 and stats[1] < HLL_M
    assert stats[2] >= 1 and stats[3] <= 51


def test_cms_sketch_never_undercounts_and_cascade_exact(spark):
    """Count-min invariants on a known workload: (a) 1m->1h sum-cascade
    == direct 1h build, (b) the probe NEVER undercounts any true count
    and overshoots by <= e/w * N (the CMS guarantee, deterministic here
    because the hashes are fixed), (c) an unseen watchlist key estimates
    0 via the absent-cell short-circuit."""
    import pandas as pd

    from insar_spark.operators.sketch import (
        CMS_W,
        cms_cascade,
        cms_probe,
        cms_rollup,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # hour 0: key "hot" x 500, keys k0..k99 x 3 each; total N = 800
    rows = [("hot", i) for i in range(500)] + [
        (f"k{i}", 500 + 3 * i + r) for i in range(100) for r in range(3)
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": [k for k, _ in rows],
            "ts": pd.Timestamp("2026-01-01 00:00:00")
            + pd.to_timedelta([s % 3600 for _, s in rows], unit="s"),
        }
    )
    df = spark.createDataFrame(pdf)

    t1m = cms_rollup(df, "1m", item_col="conv_id")
    via = cms_cascade(t1m, "1h")
    direct = cms_rollup(df, "1h", item_col="conv_id")
    key = ["window_start", "row_j", "cell", "cnt"]
    assert {tuple(r) for r in via.select(*key).collect()} == {
        tuple(r) for r in direct.select(*key).collect()
    }

    truth = {"hot": 500, "k0": 3, "k42": 3, "k99": 3, "never-seen": 0}
    probed = {
        r["item"]: r["est_count"]
        for r in cms_probe(spark, via, list(truth)).collect()
    }
    n_total = len(rows)
    import math

    eps = math.e / CMS_W
    for k, true_cnt in truth.items():
        est = probed.get(k, 0)  # absent from probe output == all cells 0
        assert est >= true_cnt, f"{k}: CMS undercounted {est} < {true_cnt}"
        assert est <= true_cnt + eps * n_total + 1, (
            f"{k}: overshoot beyond the eps*N bound: {est} vs {true_cnt}"
        )
