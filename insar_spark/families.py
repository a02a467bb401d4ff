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
* ``stream_to`` — the last tier the stream cycle cascades to (None:
  batch-only). The cycle streams ``stream_1m`` rows into the epoch log
  ``{prefix}1m_log`` (latest epoch wins per ``log_keys``) under the
  checkpoint ``<checkpoint>`` (stats) or ``<checkpoint>_<name>``, seals
  finalized days into the chain's first tier and cascades up to
  ``stream_to`` under the seal horizon.
* ``params`` — extras every commit records in its manifest
  ``run_params``, so a reader knows what a stored sketch was built with.
* ``retention`` — each chain tier's horizon in days (None = forever).

Entries look engine functions up as module attributes when they run (no
``operators``/``streaming`` import here), so a wrapper installed on a
module attribute, such as a tracer's, is the one called.
"""

from __future__ import annotations

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
    stream_to: str | None = None
    stream_1m: Callable[[DataFrame, str], DataFrame] | None = None
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
    # the flagship decomposable stats (sums/counts/min/max/ord-keyed
    # first+last); a sealed 1m day is final (watermark passed), so the
    # stream cycle cascades its 1h/1d windows too
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
    # 1m sketch) and cascades 1h -> 1d from storage. rollup_job
    # --lb-tier0 opts into persisting the 1m sketch too (dense-window
    # deployments) and records the measured lb_1m/hist_1m row ratio. The
    # STREAM cycle still seals 1m lb partials — that layer is the bounded
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
    # global distinct-conversation bitmap (no series key): write_tier
    # clusters by day only. The GLOBAL tier sees fleet cardinality, so it
    # uses the TALL large-m form (m=2^20: load factor < 10% at 1M
    # distincts per window — the array form's m=1024 saturates silently
    # there), and m rides the manifest like the hist bin edges so a
    # reader can derive the load factor / saturation flag from the stored
    # tier alone. Batch-only.
    Family(
        "dist", chain=(("dist_1m", "1m"), ("dist_1h", "1h")), retention=(7, 90),
        batch_from="dist_1m",
        tier0=lambda t, w: _late("operators.sketch.distinct_rollup_tall")(
            t.select("conv_id", "ts"), w, **_sketch(m="DISTINCT_M_GLOBAL")
        ),
        cascade=_late("operators.sketch.distinct_cascade_tall"),
        params=lambda: {**_sketch(distinct_m="DISTINCT_M_GLOBAL"), "distinct_form": "tall"},
    ),
    # HLL registers: the UNBOUNDED-cardinality companion to the bitmap
    # (~3% error flat forever). Register max-merge is idempotent, so
    # replays are free and the log's latest-epoch-wins IS the merge. A
    # global tier is bounded at 2^p rows per window regardless of
    # traffic, so tier-0 persistence is always cheap — no lb-style store
    # policy. p rides the manifest, so readers derive the register count
    # (and LC-regime cutoff) from the stored tier alone.
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
    # KMV distinct samples: the only distinct summary whose stored form
    # also answers set INTERSECTION (bitmap/HLL merge by union only). One
    # array row of <= k hashes per window, so tier-0 persistence is
    # always cheap; the cascade is union-and-retake (== direct build,
    # tested). k rides the manifest so intersection readers know the
    # sample contract. Batch-only: its merge is no incremental aggregate
    # (streaming.rollup_stream.stateful_kmv_1m is the drain-scoped path).
    Family(
        "kmv", chain=(("kmv_1m", "1m"), ("kmv_1h", "1h")), retention=(7, 90),
        batch_from="kmv_1m",
        tier0=lambda t, w: _late("operators.sketch.kmv_rollup")(t.select("conv_id", "ts"), w),
        cascade=_late("operators.sketch.kmv_cascade"),
        params=lambda: _sketch(kmv_k="KMV_K"),
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
