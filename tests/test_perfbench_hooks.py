"""The traced benchmark run (perfbench/spans.py) records a layer's spans
by wrapping its functions as module attributes. An engine path that
calls a reference captured before the wrappers were installed silently
drops those spans, and the per-layer figures built on them."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")


def test_traced_run_records_rollup_and_view_spans(spark, tmp_path):
    import insar_spark.streaming.rollup_stream as rs
    import jobs.rollup_job as rollup_job
    from insar_spark.sources.catalog import TierStore

    sys.path.insert(0, PERFBENCH)
    try:
        import spans
    finally:
        sys.path.remove(PERFBENCH)

    tracer = spans.Tracer()
    tracer.install()
    try:
        sp = str(tmp_path / "t")
        rollup_job.main(["--input", "synth:20", "--store", sp, "--master", "local[4]"])
        rows = rs.stats_realtime_1h_view(spark, TierStore(sp)).collect()
    finally:
        tracer.uninstall()
    assert rows
    names = {s.name for s in tracer.spans}
    for name in (
        "operators.rollup.rollup_turns",
        "operators.rollup.cascade",
        "streaming.rollup_stream.realtime_1h_view",
        "streaming.rollup_stream.sealed_union_view",
    ):
        assert name in names, name
