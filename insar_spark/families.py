"""Tier families: the one table that batch ingest, restate, expiry, the
stream cycle and the real-time views all read.

A family is one kind of mergeable per-window summary (plain stats, a
sketch, the M4 downsample) stored as a chain of tiers. A tier-0 builder
turns raw transcript turns into the first stored tier; a cascade
re-aggregates a STORED finer tier into the next coarser one, never raw.

* ``chain`` — ``(tier, window)`` pairs, finest first; the window is what
  the builder or cascade is called with. Tier names carry a ``{name}_``
  prefix, except the stats family's (``1m``/``1h``/``1d``).
* ``batch_from`` — the first tier ``rollup_job`` builds from raw turns;
  it cascades every later tier of the chain from storage.
* ``stream_to`` — the last tier the stream cycle cascades to. The cycle
  streams ``stream_1m`` rows into the epoch log ``{prefix}1m_log``
  (latest epoch wins per ``log_keys``) under the checkpoint
  ``<checkpoint>`` (stats) or ``<checkpoint>_<name>``, seals finalized
  days into the chain's first tier and cascades up to ``stream_to`` under
  the seal horizon.
* ``params`` — extras every commit records in its manifest
  ``run_params``, so a reader knows what a stored sketch was built with.
* ``retention`` — each chain tier's horizon in days (None = forever).
* file period (``file_period``, one rule for every family) — the calendar
  span one data file of a tier covers: a day for the chain's first tier,
  a UTC calendar month for every later tier.

Entries look engine functions up as module attributes when they run (no
``operators``/``streaming`` import here), so a wrapper installed on a
module attribute, such as a tracer's, is the one called.
"""

from __future__ import annotations

import datetime as dt
import importlib
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _late(path: str) -> Callable:
    """A function calling ``insar_spark.<path>``, looked up at each call."""
    module, name = path.rsplit(".", 1)

    def call(*args, **kwargs):
        return getattr(importlib.import_module(f"insar_spark.{module}"), name)(*args, **kwargs)

    return call


def _sketch(**consts: str) -> dict:
    """Run params: each key set to the named ``operators.sketch`` constant."""
    sk = importlib.import_module("insar_spark.operators.sketch")
    return {k: getattr(sk, v) for k, v in consts.items()}


def _text_len(turns: DataFrame, cast: str, *cols: str) -> DataFrame:
    """``cols`` plus the turn's text length as ``text_len``."""
    return turns.select(*cols, F.length("text").cast(cast).alias("text_len"))


@dataclass(frozen=True)
class Family:
    """One tier family (fields: see the module docstring)."""

    name: str
    chain: tuple[tuple[str, str], ...]
    retention: tuple[int | None, ...]
    batch_from: str
    tier0: Callable[[DataFrame, str], DataFrame]
    cascade: Callable[[DataFrame, str], DataFrame]
    stream_to: str
    stream_1m: Callable[[DataFrame, str], DataFrame]
    log_keys: tuple[str, ...] = ("conv_id", "window_start")
    params: Callable[[], dict] = dict

    @property
    def tiers(self) -> tuple[str, ...]:
        return tuple(t for t, _ in self.chain)

    @property
    def log_tier(self) -> str:
        return "1m_log" if self.name == "stats" else f"{self.name}_1m_log"

    def cascades(self, first: str, last: str | None = None) -> list[tuple[str, str, str]]:
        """``(source, tier, window)`` for each cascade step after ``first``
        up to ``last`` (default: the coarsest tier)."""
        i = self.tiers.index(first)
        j = self.tiers.index(last) if last else len(self.chain) - 1
        return [(self.tiers[k - 1], *self.chain[k]) for k in range(i + 1, j + 1)]


FAMILIES: dict[str, Family] = {f.name: f for f in (
    # the flagship decomposable stats (sums/counts/min/max, first+last by
    # ord within a 1m window and by window order above it); a sealed 1m
    # day is final (watermark passed), so the stream cycle cascades its
    # 1h/1d windows too
    Family(
        "stats", chain=(("1m", "1m"), ("1h", "1h"), ("1d", "1d")), retention=(7, 90, None),
        batch_from="1m", stream_to="1d",
        tier0=_late("operators.rollup.rollup_turns"),
        cascade=_late("operators.rollup.cascade"),
        stream_1m=_late("streaming.rollup_stream.streaming_rollup_1m"),
    ),
    # fixed-edge histogram over text_len: element-wise bin sums merge
    # exactly; the bin edges ride the manifest, so a reader can tell what
    # range the stored sketch was built for (and, with the n_clamped_*
    # columns, whether that range saturated) without re-scanning raw
    Family(
        "hist", chain=(("hist_1m", "1m"), ("hist_1h", "1h")), retention=(7, 90),
        batch_from="hist_1m", stream_to="hist_1h",
        tier0=lambda t, w: _late("operators.sketch.hist_rollup")(
            _text_len(t, "double", "conv_id", "ts"), w, value_col="text_len"
        ),
        cascade=_late("operators.sketch.hist_cascade"),
        stream_1m=_late("streaming.rollup_stream.streaming_hist_1m"),
        params=lambda: _sketch(
            hist_lo="DEFAULT_LO", hist_hi="DEFAULT_HI", hist_bins="DEFAULT_BINS"
        ),
    ),
    # range-free log-bucket rank sketch: tall (key, window, bucket, cnt)
    # rows, merge = groupBy sum, no [lo,hi) assumption so nothing ever
    # clamps/saturates; the bucket column is part of the epoch-log key.
    #
    # STORE POLICY (round-5): the tall sketch barely collapses sparse
    # series at 1m granularity — measured 1.57x the hist tier's row
    # count on the sparse synth corpus, i.e. a tier-0 sketch comparable
    # to the raw table, which defeats the "cascade reads stored tiers,
    # never raw" rule. So the PERSISTED batch family starts at 1h (a
    # direct 1h rollup — pytest-proven identical to cascading a transient
    # 1m sketch) and cascades 1h -> 1d from storage. Only the STREAM
    # cycle seals 1m lb partials — that layer is the bounded
    # (7-day retention) real-time serve window, not long-term storage.
    Family(
        "lb", chain=(("lb_1m", "1m"), ("lb_1h", "1h"), ("lb_1d", "1d")),
        retention=(7, 90, None), batch_from="lb_1h", stream_to="lb_1h",
        log_keys=("conv_id", "window_start", "bucket"),
        tier0=lambda t, w: _late("operators.sketch.lb_rollup")(
            _text_len(t, "long", "conv_id", "ts"), w, value_col="text_len"
        ),
        cascade=_late("operators.sketch.lb_cascade"),
        stream_1m=_late("streaming.rollup_stream.streaming_lb_1m"),
        params=lambda: _sketch(lb_sub_bits="LB_SUB_BITS"),
    ),
    # HLL registers: distinct conversations per window with no
    # cardinality ceiling (~3% error flat forever). Register max-merge is
    # idempotent, so replays are free and the log's latest-epoch-wins IS
    # the merge. A global tier is bounded at 2^p rows per window
    # regardless of traffic, so tier-0 persistence is always cheap — no
    # lb-style store policy. p rides the manifest, so readers derive the
    # register count (and LC-regime cutoff) from the stored tier alone.
    Family(
        "hll", chain=(("hll_1m", "1m"), ("hll_1h", "1h")), retention=(7, 90),
        batch_from="hll_1m", stream_to="hll_1h", log_keys=("window_start", "reg"),
        tier0=lambda t, w: _late("operators.sketch.hll_rollup")(t.select("conv_id", "ts"), w),
        cascade=_late("operators.sketch.hll_cascade"),
        stream_1m=_late("streaming.rollup_stream.streaming_hll_1m"),
        params=lambda: _sketch(hll_p="HLL_P"),
    ),
    # count-min frequency: point-frequency probes (hot-key /
    # mega-conversation detection) from d*w counters per window, bounded
    # like HLL (stored rows and stream state alike), sum-merge cascades.
    # d/w/seed ride the manifest so probes recompute the SAME
    # universal-hash cells the stored tier was built with.
    Family(
        "cms", chain=(("cms_1m", "1m"), ("cms_1h", "1h")), retention=(7, 90),
        batch_from="cms_1m", stream_to="cms_1h", log_keys=("window_start", "row_j", "cell"),
        tier0=lambda t, w: _late("operators.sketch.cms_rollup")(t.select("conv_id", "ts"), w),
        cascade=_late("operators.sketch.cms_cascade"),
        stream_1m=_late("streaming.rollup_stream.streaming_cms_1m"),
        params=lambda: _sketch(cms_d="CMS_D", cms_w="CMS_W", cms_seed="CMS_SEED"),
    ),
    # M4 downsample, the chart-serving shape (first/min/max/last real
    # points per bucket): every component composes exactly, so each tier
    # cascades from the STORED finer one (== direct build, tested), and
    # its min_by/max_by components are plain incremental aggregates, so
    # the 1m layer streams with no custom state. One row per (series,
    # bucket): persisting from 1d is always cheap. The stream stops at
    # m4_1d: the seal horizon is compared with a tier's day partition,
    # which for m4_1w is the week's Monday, so a seal would commit a
    # partial week.
    Family(
        "m4", chain=(("m4_1m", "minute"), ("m4_1d", "day"), ("m4_1w", "week")),
        retention=(7, 90, None), batch_from="m4_1d", stream_to="m4_1d",
        tier0=lambda t, w: _late("operators.downsample.m4_downsample")(
            _text_len(t, "double", "conv_id", "turn_idx", "ts"), w, value_col="text_len"
        ),
        cascade=_late("operators.downsample.m4_cascade"),
        stream_1m=_late("streaming.rollup_stream.streaming_m4_1m"),
    ),
)}


def enabled(sketch: bool) -> list[Family]:
    """The families a job maintains: stats, plus every other family with
    ``--sketch``."""
    return [f for f in FAMILIES.values() if sketch or f.name == "stats"]


# The file period of each chain tier. A chain's first tier (``*1m``, 7-day
# retention, sealed and committed once a day, ingest's largest write) keeps
# one file per day; every later tier stores one ``(conv_id, window_start)``-
# sorted file per UTC calendar month, so a read of a coarse tier opens one
# file per month, not one per day. The epoch logs and any tier outside the
# families keep day files. Measured with tools/coarse_periods.py (seed 4242,
# 4 cores), median filtered stats_realtime_1h_view read in cpu-ms / wall ms:
# a 28-day 1h tier as 28 day files 530/202, 4 ISO-week files 420/168, 1
# month file 350/152; a 90-day tier as 90 day files 470/199, 13 week files
# 300/154, 3 month files 230/141. The cost is the write amplification of
# an open month: a daily 1h commit rewrites the month so far, a median
# 157 KB and at most 308 KB on the 28-day tier, against 17 KB for a day
# file, and takes a median 800 cpu-ms / 438 ms wall against 555/321 (90-day
# tier: 415/329 against 310/261).
def file_period(tier: str) -> str:
    """``"day"`` or ``"month"``: the calendar span one data file of ``tier``
    covers (see the comment above)."""
    for fam in FAMILIES.values():
        if tier in fam.tiers:
            return "day" if tier == fam.tiers[0] else "month"
    return "day"


def period_start(unit: str, day: str) -> str:
    """The first day of the ``unit`` (``"day"``, ISO ``"week"`` or
    ``"month"``) holding ``day``, both ``YYYY-MM-DD``: the Python twin of
    Spark's ``date_trunc(unit, ...)``."""
    d = dt.date.fromisoformat(day)
    if unit == "week":
        d -= dt.timedelta(days=d.weekday())
    elif unit == "month":
        d = d.replace(day=1)
    return d.isoformat()


def window_day(window: str, day: str) -> str:
    """The day partition holding ``day``'s windows in a tier of ``window``:
    the day itself, or the week's Monday for the weekly M4 tier."""
    return period_start("week" if window == "week" else "day", day)


def pending_cascade(
    store, source: str, tier: str, window: str, before: str | None = None
) -> tuple[list[str], list[str]]:
    """``(pending, reads)`` for the cascade ``source`` -> ``tier`` at
    ``window``, from the manifests alone: the target days still to commit
    from the source's committed days (those before ``before`` only, when
    given), and the source days those target days are built from."""
    src = [d for d in sorted(store.committed_days(source)) if before is None or d < before]
    pending = store.pending_days(tier, {window_day(window, d) for d in src})
    wanted = set(pending)
    return pending, [d for d in src if window_day(window, d) in wanted]
