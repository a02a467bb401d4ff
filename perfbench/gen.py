"""Seeded input generator for the benchmark.

The program under test only ever sees the Parquet files this module lands.
Rows come from ``insar_spark.synth.synth_transcripts_pandas`` (heavy-tailed
conversation lengths, one mega-conversation every ``mega_every``), then
every conversation is rebased into a fixed day span (one for ingest and
series, a longer one for serve): its start moves to a
seed-derived offset inside the span, and a conversation longer than the
span is time-scaled to fit (monotonic, so turn order is kept). Without the
rebase the default synth shape spreads 1000 conversations over ~1350 days
at ~30 rows per day partition, and per-file overhead hides everything else.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Traffic dimensions. A run synthesizes one set of conversations from its
# --seed and lands it twice: rebased into ``day_span`` days for ingest and
# series, and into ``history_days + live_days`` days for serve.
DIMENSIONS = {
    "conversations": 2500,
    "mega_every": 1000,  # conversations 1000 and 2000 are mega ones
    "mega_turns": 10_000,
    "first_day": "2025-03-03",
    # ingest, series: ~7 800 turns per day partition; 9 days, so expiry at
    # the 7-day 1m retention drops two of them
    "day_span": 9,
    # serve: days before history_days are sealed 1m/1h/1d history, built
    # by rollup_job with --expire-asof at the cut, so the store holds what
    # catalog.DEFAULT_RETENTION keeps: the last 7 days of 1m and all days
    # of 1h (90-day retention) and 1d. 28 days is the store depth the
    # serve path was sized on (write_tier_log ~0.5 s per append and
    # stats_realtime_1h_view ~1.2 s to build, 4-core host); 1h manifests
    # and read_tier's file list grow with it.
    "history_days": 28,
    "live_days": 2,
    # serve appends: jobs/stream_job.py's run_cycle drains every drop
    # landed since its last cycle in one micro-batch (the file source has
    # no maxFilesPerTrigger) into the 1m_log epoch log, then runs
    # seal_and_compact; so an append is one landed drop followed by one
    # seal. stream_job cycles every 60 s (--seal-interval); a drop here is
    # time-compressed to append_hours of traffic so that set-up's
    # warm_appends drops fill the first live day to 18:00 and each cycle's
    # one drop crosses midnight, so its seal commits that day.
    "append_hours": 9,
    "warm_appends": 2,
    # serve reads after the cycle's append and seal: the repository records
    # no read rate, so the counts are the ones that give the read median
    # (op_p50_ms) five samples (the first read after a seal runs ~15%
    # slower than the next ones) and keep a cycle near 13 seconds
    "reads_per_cycle": 5,
    "fleet_per_cycle": 1,
    "fleet_top_k": 10,
    "read_conversations": 24,
    # series: spline gap-fill grid
    "spline_interval_s": 600,
}

_US_PER_DAY = 86_400 * 1_000_000

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def day_us(offset: float) -> int:
    """Epoch microseconds of midnight ``offset`` days into the span."""
    first = dt.datetime.fromisoformat(DIMENSIONS["first_day"]).replace(
        tzinfo=dt.timezone.utc
    )
    return int(first.timestamp() * 1_000_000 + offset * _US_PER_DAY)


def day(offset: int) -> str:
    """ISO date ``offset`` days into the span."""
    first = dt.date.fromisoformat(DIMENSIONS["first_day"])
    return (first + dt.timedelta(days=offset)).isoformat()


def synthesize(seed: int) -> pd.DataFrame:
    """The seeded conversations, before any rebase."""
    from insar_spark.synth import synth_transcripts_pandas

    d = DIMENSIONS
    return synth_transcripts_pandas(
        n_convs=d["conversations"],
        seed=seed,
        mega_every=d["mega_every"],
        mega_turns=d["mega_turns"],
    )


def rebase(df: pd.DataFrame, days: int, seed: int) -> pd.DataFrame:
    """``df`` with every conversation moved into the first ``days`` days
    of the span; ``ts`` becomes int64 microseconds."""
    us = df["ts"].to_numpy("datetime64[us]").astype("int64")
    conv = pd.factorize(df["conv_id"])[0]
    first = pd.Series(us).groupby(conv).transform("min").to_numpy()
    dur = pd.Series(us).groupby(conv).transform("max").to_numpy() - first
    span = days * _US_PER_DAY
    fit = 0.9 * span  # the longest conversation fills 90% of the span
    scale = np.where(dur > fit, fit / np.maximum(dur, 1), 1.0)
    room = span - dur * scale
    u = np.random.default_rng(seed).random(conv.max() + 1)[conv]
    offset = (u * room).astype("int64")
    return df.assign(ts=day_us(0) + offset + ((us - first) * scale).astype("int64"))


def _write(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(
        df.assign(ts=df["ts"].astype("datetime64[us]").dt.tz_localize("UTC")),
        schema=SCHEMA,
        preserve_index=False,
    )
    pq.write_table(table, path)


TURN_FILES = 4


def land(raw: pd.DataFrame, seed: int, root: str) -> dict[str, object]:
    """Land the inputs every workload reads under ``root``:

    * ``turns/``: every row rebased into ``day_span`` days, in TURN_FILES
      Parquet files (ingest, series);
    * ``serve/history/``: the rows rebased into the serve span, before the
      history cut;
    * ``serve/drops/drop-NNNN.parquet``: the serve rows after the cut, one
      file per ``append_hours`` slice in time order: the set-up's
      ``warm_appends`` and the one each cycle appends.

    Returns the paths and the slice bounds of every drop.
    """
    d = DIMENSIONS
    out = {
        "turns": os.path.join(root, "turns"),
        "serve": os.path.join(root, "serve"),
        "history": os.path.join(root, "serve", "history"),
        "drops": os.path.join(root, "serve", "drops"),
    }
    for k in ("turns", "history", "drops"):
        os.makedirs(out[k])
    df = rebase(raw, d["day_span"], seed)
    for i, part in enumerate(np.array_split(np.arange(len(df)), TURN_FILES)):
        _write(df.iloc[part], os.path.join(out["turns"], f"part-{i}.parquet"))
    df = rebase(raw, d["history_days"] + d["live_days"], seed)
    cut = day_us(d["history_days"])
    _write(df[df["ts"] < cut], os.path.join(out["history"], "part-0.parquet"))
    step = d["append_hours"] * 3_600_000_000
    n_drops = d["warm_appends"] + 1
    bounds = []
    for i in range(n_drops):
        lo, hi = cut + i * step, cut + (i + 1) * step
        p = os.path.join(out["drops"], f"drop-{i:04d}.parquet")
        _write(df[(df["ts"] >= lo) & (df["ts"] < hi)], p)
        bounds.append((p, lo, hi))
    out["drop_bounds"] = bounds
    return out


def generate_and_land(seed: int, root: str) -> tuple[dict, int, float]:
    """synthesize() + land(), for a worker thread: returns the landed
    paths, the row count and the seconds taken."""
    t0 = time.perf_counter()
    raw = synthesize(seed)
    return land(raw, seed, root), len(raw), time.perf_counter() - t0
