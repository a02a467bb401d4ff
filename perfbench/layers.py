"""Per-layer metrics of the traced run, each with the end-to-end metric and
workload it should move.

Values come from three sources: span durations recorded around the layer
entry points (spans.ENTRY_POINTS) and around the benchmark's own
executions of layer plans, counts the workloads' probes read off the
stores and plans, and the set-up timings of run.py. Span figures of a
workload's ops come from its timed ops only (op ids ``<workload>/<kind>-<n>``):
set-up, warm-up, output checks and probes record spans without an op id.
"""

from __future__ import annotations

from common import median
from spans import Span, Tracer

CAT = "sources.catalog"
STREAM = "streaming.rollup_stream"

# the layers each workload's timed ops call; self_s.<workload>.<layer> is
# their self time per cycle
SELF_TIME = {
    "ingest": ["jobs.rollup_job", "operators.rollup", "sources.catalog"],
    "serve": ["operators.rollup", "sources.catalog", "streaming.rollup_stream"],
    "series": ["operators.compression", "operators.gapfill", "operators.sbas"],
}

# name, unit, better, moves (end-to-end metric on workload)
PER_LAYER = [
    ("rollup.tier0_exec_s", "s", "lower", "points_per_cpu_s on ingest"),
    ("rollup.cascade_1h_exec_s", "s", "lower", "points_per_cpu_s on ingest"),
    ("rollup.cascade_1d_exec_s", "s", "lower", "points_per_cpu_s on ingest"),
    ("rollup.collapse_1m", "ratio", "lower", "points_per_cpu_s, bytes_per_point on ingest"),
    ("catalog.write_tier_s.1m", "s", "lower", "points_per_cpu_s on ingest"),
    ("catalog.write_tier_s.1h", "s", "lower", "points_per_cpu_s on ingest"),
    ("catalog.write_tier_s.1d", "s", "lower", "points_per_cpu_s on ingest"),
    ("catalog.write_amplification_1m", "ratio", "lower",
     "points_per_cpu_s on ingest (base: rollup.tier0_exec_s)"),
    ("catalog.spark_jobs_per_write", "count", "lower",
     "points_per_cpu_s, op_p50_cpu_ms on ingest; serve_append_p50_ms on serve"),
    ("catalog.files_committed.1m", "count", "lower", "bytes_per_point on ingest"),
    ("catalog.files_committed.1h", "count", "lower", "bytes_per_point on ingest"),
    ("catalog.files_committed.1d", "count", "lower", "bytes_per_point on ingest"),
    ("catalog.expire_s", "s", "lower", "points_per_cpu_s on ingest"),
    ("catalog.resume_write_s", "s", "lower", "op_p50_cpu_ms on ingest"),
    ("catalog.read_tier_call_ms", "ms", "lower", "op_p50_cpu_ms on serve"),
    ("catalog.manifest_bytes.1m", "B", "lower", "op_p50_cpu_ms on serve"),
    ("catalog.manifest_bytes.1h", "B", "lower", "op_p50_cpu_ms on serve"),
    ("catalog.manifest_bytes.1d", "B", "lower", "op_p50_cpu_ms on serve"),
    ("catalog.manifest_bytes.1m_log", "B", "lower", "op_p50_cpu_ms, serve_append_p50_ms on serve"),
    ("catalog.partitions.1m", "count", "lower", "op_p50_cpu_ms on serve"),
    ("catalog.partitions.1h", "count", "lower", "op_p50_cpu_ms on serve"),
    ("catalog.partitions.1d", "count", "lower", "op_p50_cpu_ms on serve"),
    ("catalog.partitions.1m_log", "count", "lower", "op_p50_cpu_ms on serve"),
    ("catalog.fleet_read_ms", "ms", "lower", "points_per_cpu_s on serve"),
    ("stream.write_tier_log_ms", "ms", "lower", "points_per_cpu_s, serve_append_p50_ms on serve"),
    ("stream.view_build_ms", "ms", "lower", "op_p50_cpu_ms on serve"),
    ("stream.view_exec_ms", "ms", "lower", "op_p50_cpu_ms on serve"),
    ("stream.seal_ms", "ms", "lower", "points_per_cpu_s on serve"),
    ("stream.sealed_days", "count", "higher", "points_per_cpu_s on serve"),
    ("stream.log_files", "count", "lower", "op_p50_cpu_ms on serve"),
    ("compress.exec_s", "s", "lower", "sbas.series_points_per_s"),
    ("compress.blob_bytes_per_point", "B/point", "lower", "none: blob size of the series store"),
    ("gorilla.decode_s", "s", "lower", "sbas.series_points_per_s"),
    ("sbas.invert_exec_s", "s", "lower", "sbas.series_points_per_s"),
    ("sbas.series_solved", "count", "higher", "sbas.series_points_per_s"),
    ("sbas.series_points_per_s", "points/s", "higher",
     "none bounded: input points through compress->invert, traced runs only"),
    ("gapfill.spline_exec_s", "s", "lower", "gapfill.points_per_s"),
    ("gapfill.points_out", "count", "higher", "gapfill.points_per_s"),
    ("gapfill.python_invocations", "count", "lower", "gapfill.points_per_s"),
    ("gapfill.points_per_s", "points/s", "higher",
     "none bounded: grid points resample_spline emits, traced runs only"),
    ("session.start_s", "s", "lower", "setup_s on every workload"),
    ("synth.land_s", "s", "lower", "setup_s on every workload"),
    ("synth.rows", "count", "higher", "setup_s on every workload"),
    *[
        (f"self_s.{wl}.{layer}", "s", "lower",
         {"ingest": "points_per_cpu_s, op_p50_cpu_ms on ingest",
          "serve": "op_p50_cpu_ms, points_per_cpu_s on serve",
          "series": "sbas.series_points_per_s, gapfill.points_per_s"}[wl])
        for wl, layers in SELF_TIME.items()
        for layer in layers
    ],
    ("peak_rss_mb", "MB", "lower", "memory of every workload"),
    ("trace.overhead_pct", "%", "lower",
     "none: wrapper bookkeeping as a share of the traced timed loop"),
    ("trace.points_per_s", "points/s", "higher",
     "none: wall-clock points_per_cpu_s counterpart, traced timed loop"),
    ("trace.op_p50_ms", "ms", "lower",
     "none: wall-clock op_p50_cpu_ms counterpart, traced timed loop"),
    ("trace.spans_per_op", "count", "lower", "none: spans recorded per timed op"),
]


def _kind(op: str | None) -> str | None:
    """The op kind of a timed op id ``<workload>/<kind>-<n>``."""
    return op.split("/", 1)[1].rsplit("-", 1)[0] if op else None


def _timed(tr: Tracer, name: str, *kinds: str) -> list[float]:
    """Durations of ``name`` spans recorded under timed ops of ``kinds``."""
    return [s.dur for s in tr.spans if s.name == name and _kind(s.op) in kinds]


def _timed_ops(tr: Tracer, workload: str) -> list[Span]:
    return [s for s in tr.spans if (s.op or "").startswith(workload + "/")]


def compute(tr: Tracer, main: str, cycles: dict[str, int], probes: dict,
            extra: dict) -> dict[str, float]:
    """Every PER_LAYER metric from the spans, probe counts and ``extra``
    (set-up timings, peak RSS, tracing overhead). ``main`` is the traced
    run's workload and ``cycles`` the timed cycles each workload ran."""
    w = f"{CAT}.write_tier"
    resume_ops = {s.op for s in tr.spans if _kind(s.op) == "resume"}
    main_spans = _timed_ops(tr, main)
    m = {
        "rollup.tier0_exec_s": median(tr.durations("rollup.tier0_exec")),
        "rollup.cascade_1h_exec_s": median(tr.durations("rollup.cascade_1h_exec")),
        "rollup.cascade_1d_exec_s": median(tr.durations("rollup.cascade_1d_exec")),
        **{
            f"catalog.write_tier_s.{t}": median(_timed(tr, f"{w}.{t}", "ingest"))
            for t in ("1m", "1h", "1d")
        },
        "catalog.expire_s": median(tr.durations("catalog.expire_probe")),
        "catalog.spark_jobs_per_write": median(
            [n for k, op, n in tr.jobs if k.startswith(w + ".") and _kind(op) == "ingest"]
        ),
        "catalog.resume_write_s": sum(
            sum(_timed(tr, f"{w}.{t}", "resume")) for t in ("1m", "1h", "1d")
        ) / len(resume_ops),
        "catalog.read_tier_call_ms": 1000 * median([
            s.dur for s in tr.spans
            if s.name.startswith(f"{CAT}.read_tier.") and _kind(s.op) in ("read", "fleet")
        ]),
        "catalog.fleet_read_ms": 1000 * median(_timed(tr, "catalog.fleet_read", "fleet")),
        "stream.write_tier_log_ms": 1000 * median(
            _timed(tr, f"{CAT}.write_tier_log.1m_log", "append")
        ),
        "stream.view_build_ms": 1000 * median(
            _timed(tr, f"{STREAM}.stats_realtime_1h_view", "read")
        ),
        "stream.view_exec_ms": 1000 * median(_timed(tr, "stream.view_exec", "read")),
        "stream.seal_ms": 1000 * median(_timed(tr, f"{STREAM}.seal_and_compact", "seal")),
        "compress.exec_s": median(tr.durations("compress.exec")),
        "gorilla.decode_s": median(tr.durations("gorilla.decode")),
        "sbas.invert_exec_s": median(tr.durations("sbas.invert_exec")),
        "gapfill.spline_exec_s": median(_timed(tr, "gapfill.spline_exec", "gapfill")),
        "trace.spans_per_op": len(main_spans) / len({s.op for s in main_spans}),
        **probes,
        **extra,
    }
    for wl, layers in SELF_TIME.items():
        self_s = tr.self_time_by_layer(_timed_ops(tr, wl))
        for layer in layers:
            m[f"self_s.{wl}.{layer}"] = self_s.get(layer, 0.0) / cycles[wl]
    m["catalog.write_amplification_1m"] = (
        m["catalog.write_tier_s.1m"] / m["rollup.tier0_exec_s"]
    )
    return m
