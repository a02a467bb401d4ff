"""First/last by window order: no stats tier stores an order key.

Within a 1m window ``first_text_len``/``last_text_len`` are the text
length of the turn with the smallest/largest (ts, turn_idx) order key;
every coarser tier picks them from its earliest/latest finer window. That
is exact only while each cascade input row is a distinct finer window of
its conversation, so these tests pin that precondition on batch, stream
and real-time stores, and check the cascades against direct builds on an
input built to break a wrong ordering: same-millisecond ties, turn_idx out
of ts order, and turns exactly on minute, hour, day and month boundaries.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from insar_spark.operators.rollup import cascade, rollup_turns
from insar_spark.sources.catalog import TierStore
from insar_spark.synth import TRANSCRIPT_SCHEMA

STATS = [
    ("conv_id", "string"),
    ("window_start", "timestamp"),
    ("n_turns", "bigint"),
    ("n_tool_calls", "bigint"),
    ("sum_text_len", "double"),
    ("min_text_len", "double"),
    ("max_text_len", "double"),
    ("first_text_len", "double"),
    ("last_text_len", "double"),
]
# the stream seals a day once its end is this far behind the latest
# window; drop A's rows reach 2025-04-01, so every drop-B row on or after
# 2025-03-30 is still inside the watermark when drop B arrives
WATERMARK = "3 days"
TS = pd.Timestamp
MS = pd.Timedelta(milliseconds=1)


def _turn(conv, idx, ts, n_chars, tool=None):
    return (conv, idx, "user", None if n_chars is None else "x" * n_chars, tool, ts)


def _edge_turns() -> list[tuple]:
    t = TS("2025-03-30 10:15:00.123")
    us = pd.Timedelta(microseconds=1)
    return [
        # one millisecond, four turns: turn_idx orders them (1, 2, 5, 9),
        # also against the sub-millisecond ts order
        _turn("tie", 5, t, 4),
        _turn("tie", 2, t, 2, "bash"),
        _turn("tie", 9, t + 400 * us, 1),
        _turn("tie", 1, t + 900 * us, 7),
        # a tie on a minute edge, and a later minute of the same hour
        _turn("tie", 12, TS("2025-03-30 10:16:00"), 3),
        _turn("tie", 11, TS("2025-03-30 10:16:00"), 8),
        _turn("tie", 0, TS("2025-03-30 10:40:10"), 6),
        # turn_idx falls as ts rises, across minutes and an hour edge
        _turn("ooo", 9, TS("2025-03-30 10:59:59.999"), 5),
        _turn("ooo", 8, TS("2025-03-30 11:00:00"), 9, "read_file"),
        _turn("ooo", 7, TS("2025-03-30 11:00:00"), 2),
        _turn("ooo", 6, TS("2025-03-30 11:00:59.999"), 11),
        _turn("ooo", 3, TS("2025-03-30 11:01:00"), 4),
        _turn("ooo", 1, TS("2025-03-30 11:59:00"), 13),
        # exactly on the day edge, and the day + month edge
        _turn("edge", 30, TS("2025-03-30 23:59:59.999"), 3),
        _turn("edge", 20, TS("2025-03-31 00:00:00"), 10),
        _turn("edge", 21, TS("2025-03-31 00:00:00"), 1, "bash"),
        _turn("edge", 10, TS("2025-03-31 00:01:00"), 6),
        _turn("edge", 40, TS("2025-03-31 23:59:59.999"), 12),
        _turn("edge", 2, TS("2025-04-01 00:00:00"), 5),
        _turn("edge", 3, TS("2025-04-01 00:00:00"), 7),
        # an hour whose first turn has no text: first_text_len is null
        _turn("null", 4, TS("2025-03-31 08:00:00"), None),
        _turn("null", 5, TS("2025-03-31 08:30:00"), 9),
        _turn("null", 1, TS("2025-03-31 08:59:59.999"), None, "bash"),
    ]


def _filler_turns(rng) -> list[tuple]:
    """Six conversations of 250 turns over three days: ts in whole
    milliseconds, a fifth of them repeating the previous turn's ts, and
    turn_idx a permutation, so ties and out-of-order indexes are common."""
    rows = []
    for c in range(6):
        ms = np.sort(rng.integers(0, 3 * 86_400_000, 250))
        rep = rng.random(250) < 0.2
        rep[0] = False
        ms[rep] = ms[np.flatnonzero(rep) - 1]
        ms = np.maximum.accumulate(ms)
        idx = rng.permutation(250)
        for k in range(250):
            rows.append(_turn(
                f"f{c}", int(idx[k]), TS("2025-03-30") + int(ms[k]) * MS,
                int(rng.integers(1, 40)), "bash" if rng.random() < 0.3 else None,
            ))
    return rows


def _pdf(rows) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])


def _spark_df(spark, pdf):
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)


def _frame(df) -> pd.DataFrame:
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(["conv_id", "window_start"]).reset_index(drop=True)


def _dup_keys(df) -> int:
    return df.groupBy("conv_id", "window_start").count().filter("count > 1").count()


def _first_last(pdf: pd.DataFrame, unit: str) -> pd.DataFrame:
    """First/last text length per (conv_id, window) by the engine's order:
    epoch millisecond, then turn_idx."""
    p = pdf.assign(
        window_start=pdf["ts"].dt.floor(unit),
        ms=pdf["ts"].dt.floor("ms"),
        text_len=pdf["text"].str.len().astype("float64"),
    ).sort_values(["conv_id", "window_start", "ms", "turn_idx"])
    keys = ["conv_id", "window_start"]
    first = p.drop_duplicates(keys, keep="first")[keys + ["text_len"]]
    last = p.drop_duplicates(keys, keep="last")[keys + ["text_len"]]
    return (
        first.rename(columns={"text_len": "first_text_len"})
        .merge(last.rename(columns={"text_len": "last_text_len"}), on=keys)
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def turns_pdf():
    rng = np.random.default_rng(16)
    rows = _edge_turns() + _filler_turns(rng)
    return _pdf(rows).sample(frac=1.0, random_state=3).reset_index(drop=True)


@pytest.fixture(scope="module")
def stores(spark, turns_pdf, tmp_path_factory):
    """The same turns through the batch job and through the stream.

    Stream: drop A (half the rows) and drop B (the other half and a turn
    on 2025-04-05 06:00) arrive as two micro-batches of one query, so the
    log holds update-mode refinements of shared windows; a stream cycle
    then seals 2025-03-30..2025-04-01 and cascades them to 1h and 1d.
    Drop C then refines the still-open 2025-04-05 06:00 window in a third
    epoch. Batch: ``rollup_job`` over every row of A, B and C."""
    from jobs import rollup_job
    from jobs.stream_job import run_cycle
    from insar_spark.streaming.rollup_stream import stream_to_tierstore

    root = tmp_path_factory.mktemp("window_order")
    src, ckpt = str(root / "drops"), str(root / "ckpt")
    tail = _pdf([_turn("tail", 5, TS("2025-04-05 06:00:00"), 4)])
    late = _pdf([
        _turn("tail", 1, TS("2025-04-05 06:00:30"), 9),
        _turn("tail", 3, TS("2025-04-05 06:40:00"), 2, "bash"),
    ])
    drops = [turns_pdf.iloc[0::2], pd.concat([turns_pdf.iloc[1::2], tail]), late]

    stream = TierStore(str(root / "stream"))

    def drain(*parts):
        """Land each part and drain it as its own micro-batch of one query."""
        _spark_df(spark, parts[0]).write.mode("append").parquet(src)
        q = stream_to_tierstore(
            spark, src, stream, checkpoint_dir=ckpt, watermark=WATERMARK, tier="1m_log"
        )
        try:
            q.processAllAvailable()
            for part in parts[1:]:
                _spark_df(spark, part).write.mode("append").parquet(src)
                q.processAllAvailable()
        finally:
            q.stop()

    drain(drops[0], drops[1])
    refined_before_seal = _dup_keys(stream.read_tier(spark, "1m_log"))
    cycle = run_cycle(spark, stream, src, ckpt, watermark=WATERMARK)
    drain(drops[2])

    batch_in = str(root / "batch_in")
    _spark_df(spark, pd.concat(drops)).write.parquet(batch_in)
    batch = TierStore(str(root / "batch"))
    rollup_job.main(["--input", batch_in, "--store", batch.root, "--master", "local[4]"])
    return {
        "stream": stream,
        "batch": batch,
        "cycle": cycle,
        "refined_before_seal": refined_before_seal,
        "all_turns": pd.concat(drops).reset_index(drop=True),
    }


def test_window_order_cascade_equals_direct_build(spark, turns_pdf):
    """cascade(1m -> 1h -> 1d) equals a direct 1h/1d rollup of the turns on
    every column, and the direct builds' first/last follow the
    (millisecond, turn_idx) order."""
    df = _spark_df(spark, turns_pdf).repartition(3)
    m1 = rollup_turns(df, "1m")
    h1 = cascade(m1, "1h")
    for tier, unit, via in (("1h", "h", h1), ("1d", "D", cascade(h1, "1d"))):
        direct = _frame(rollup_turns(df, tier))
        pd.testing.assert_frame_equal(_frame(via), direct, check_exact=True, obj=tier)
        want = _first_last(turns_pdf, unit)
        pd.testing.assert_frame_equal(
            direct[want.columns.tolist()], want, check_exact=True, obj=tier
        )
    got = _frame(m1).set_index(["conv_id", "window_start"])
    # the tie minute: turn_idx 1 (7 chars) is first, turn_idx 9 (1 char) last
    assert got.loc[("tie", TS("2025-03-30 10:15")), ["first_text_len", "last_text_len"]].tolist() == [7.0, 1.0]
    # the null-text hour starts and ends with a turn without text
    hour = _frame(h1).set_index(["conv_id", "window_start"]).loc[("null", TS("2025-03-31 08:00"))]
    assert np.isnan(hour["first_text_len"]) and np.isnan(hour["last_text_len"])


def test_stored_tiers_hold_one_row_per_window(spark, stores):
    """The precondition of window order: a batch ``rollup_job`` store and a
    stream store after its seal and cascade hold no duplicate
    (conv_id, window_start) in 1m, 1h or 1d, although the stream's log held
    refinements of the same windows before the seal."""
    assert stores["refined_before_seal"] > 0
    assert stores["cycle"]["written_days"] == ["2025-03-30", "2025-03-31", "2025-04-01"]
    for name in ("batch", "stream"):
        store = stores[name]
        for tier in ("1m", "1h", "1d"):
            df = store.read_tier(spark, tier)
            assert df.count() > 0, (name, tier)
            assert _dup_keys(df) == 0, (name, tier)


def test_realtime_view_over_refined_log_rows_holds_one_row_per_window(spark, stores):
    """``stats_realtime_1h_view`` over sealed 1h days and an open log day
    whose window was refined in a later epoch: one row per window, equal to
    a batch 1h rollup of every turn."""
    from insar_spark.streaming.rollup_stream import stats_realtime_1h_view

    store = stores["stream"]
    assert store.committed_days("1m_log") == {"2025-04-05"}
    assert _dup_keys(store.read_tier(spark, "1m_log")) > 0
    view = stats_realtime_1h_view(spark, store)
    assert _dup_keys(view) == 0
    want = rollup_turns(_spark_df(spark, stores["all_turns"]), "1h")
    pd.testing.assert_frame_equal(_frame(view), _frame(want), check_exact=True)


def test_stream_path_equals_batch_path(spark, stores):
    """stream_to_tierstore -> seal_and_compact -> stored cascade commits the
    same 1m/1h/1d rows as ``rollup_job`` over the same turns, on every day
    the stream sealed."""
    stream, batch = stores["stream"], stores["batch"]
    for tier in ("1m", "1h", "1d"):
        days = sorted(stream.committed_days(tier))
        assert days == ["2025-03-30", "2025-03-31", "2025-04-01"], tier
        pd.testing.assert_frame_equal(
            _frame(stream.read_tier(spark, tier)),
            _frame(batch.read_tier(spark, tier, days=days)),
            check_exact=True, obj=tier,
        )


def test_stored_stats_schemas_carry_no_order_key(spark, stores):
    for name, tiers in (("batch", ("1m", "1h", "1d")), ("stream", ("1m", "1h", "1d", "1m_log"))):
        for tier in tiers:
            extra = [("_epoch", "int")] if tier.endswith("_log") else []
            assert stores[name].read_tier(spark, tier).dtypes == STATS + extra + [("day", "string")], (name, tier)


def test_old_layout_tier_refuses_new_layout_commits(spark, tmp_path, turns_pdf):
    """A 1m day committed with the order-key layout (two more bigint
    columns) makes a new-layout write_tier and write_tier_log raise before
    writing anything."""
    df = _spark_df(spark, turns_pdf)
    new = rollup_turns(df, "1m")
    old = new.filter(F.col("window_start") < "2025-03-31").select(
        "*",
        F.lit(0).cast("long").alias("first_ord"),
        F.lit(0).cast("long").alias("last_ord"),
    )
    store = TierStore(str(tmp_path / "tiers"))
    store.write_tier(old, "1m")
    store.write_tier_log(old, "1m_log", epoch=0)

    def files():
        return sorted(
            os.path.join(d, f) for d, _, fs in os.walk(store.root) for f in fs
        )

    before = files()
    later = new.filter(F.col("window_start") >= "2025-03-31")
    with pytest.raises(ValueError, match="differs from the recorded"):
        store.write_tier(later, "1m")
    with pytest.raises(ValueError, match="differs from the recorded"):
        store.write_tier_log(later, "1m_log", epoch=1)
    assert files() == before
    assert store.committed_days("1m") == {"2025-03-30"}
    assert len(store.manifest("1m_log")["snapshots"]) == 1
