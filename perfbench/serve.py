"""serve: real-time reads beside small appends and seals on a live store.

Set-up builds sealed 1m/1h/1d history with ``jobs.rollup_job`` (expired
to the default retention), appends the first live drops to the ``1m_log``
epoch log and seals; that store is the pristine state. Each cycle restores
it (untimed), then runs what one ``jobs/stream_job.py`` cycle does to the
store: an append (the next drop, which crosses midnight ->
``streaming_rollup_1m`` -> ``write_tier_log``, the call the
``foreachBatch`` sink makes) and a ``seal_and_compact`` that commits the
crossed day; then per-conversation real-time reads
(``stats_realtime_1h_view`` filtered to one conversation, collected) and a
fleet read (1d top-k by ``n_turns`` via ``read_tier``). Every cycle thus
sees the same store states.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil

from common import Ctx, Op, bytes_per_point, median, tail
from gen import DIMENSIONS, day, day_us
from insar_spark.sources.catalog import DEFAULT_RETENTION, TierStore

TIERS = ["1m", "1h", "1d", "1m_log"]
STAT_COLS = [
    "conv_id", "window_start", "n_turns", "n_tool_calls", "sum_text_len",
    "min_text_len", "max_text_len", "first_text_len", "last_text_len",
]


class Serve:
    name = "serve"
    p50_op = "read"  # the op kind op_p50_ms is the median of

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        d = DIMENSIONS
        self.base = os.path.join(ctx.work, "serve-base")
        self.live = os.path.join(ctx.work, "serve-live")
        self.drops = ctx.inputs["drop_bounds"]
        self.cut = day_us(d["history_days"])
        # conversations with rows both in history and in the live drops,
        # drawn by seed; reads cycle through them
        hi = self.drops[-1][2]
        convs = ctx.oracle("serve").query(
            "SELECT conv_id FROM t GROUP BY conv_id "
            "HAVING min(us) < ? AND bool_or(us >= ? AND us < ?) ORDER BY conv_id",
            self.cut, self.cut, hi,
        )["conv_id"].tolist()
        import numpy as np

        rng = np.random.default_rng(ctx.seed)
        n = min(d["read_conversations"], len(convs))
        self.convs = [str(x) for x in rng.choice(convs, n, replace=False)]
        self.n_reads = 0
        self.appended_hi = self.cut  # rows before this have been appended
        self.read_log: list[tuple[str, int, list]] = []
        self.fleet_log: list[list] = []
        # (op id, days the seal should commit, days it committed)
        self.sealed: list[tuple[str | None, list[str], list[str]]] = []
        self.cycles = 0
        self.store = None

    # ------------------------------------------------------------ cycle

    def setup(self) -> None:
        import jobs.rollup_job as rollup_job

        c = self.ctx
        args = ["--input", c.inputs["history"], "--store", self.base,
                "--master", c.master(), "--expire-asof", day(DIMENSIONS["history_days"])]
        with contextlib.redirect_stdout(io.StringIO()):
            rollup_job.main(args)
        self.store = TierStore(self.base)
        for i in range(DIMENSIONS["warm_appends"]):
            self._append(i)
        self._seal()
        self._read()
        self._fleet()
        self.pristine_hi = self.appended_hi

    def cycle(self) -> list[Op]:
        d = DIMENSIONS
        return [
            (None, self._restore),
            ("append", lambda: self._append(d["warm_appends"])),
            ("seal", self._seal),
            *[("read", self._read)] * d["reads_per_cycle"],
            *[("fleet", self._fleet)] * d["fleet_per_cycle"],
        ]

    def _restore(self) -> int:
        self.cycles += 1
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.base, self.live)
        self.store = TierStore(self.live)
        self.appended_hi = self.pristine_hi
        return 0

    def _append(self, i: int) -> int:
        import insar_spark.streaming.rollup_stream as rs

        path, lo, hi = self.drops[i]
        batch = self.ctx.spark.read.parquet(path)
        res = self.store.write_tier_log(rs.streaming_rollup_1m(batch), "1m_log", epoch=i)
        self.appended_hi = hi
        return res["written"]

    def _read(self) -> int:
        from pyspark.sql import functions as F

        import insar_spark.streaming.rollup_stream as rs

        c = self.ctx
        conv = self.convs[self.n_reads % len(self.convs)]
        self.n_reads += 1
        view = rs.stats_realtime_1h_view(c.spark, self.store)
        with c.tracer.span("stream.view_exec", "streaming.rollup_stream"):
            rows = view.filter(F.col("conv_id") == conv).collect()
        if len(self.read_log) < 16:
            self.read_log.append((conv, self.appended_hi, rows))
        return len(rows)

    def _fleet(self) -> int:
        from pyspark.sql import functions as F

        c = self.ctx
        k = DIMENSIONS["fleet_top_k"]
        with c.tracer.span("catalog.fleet_read", "sources.catalog"):
            rows = (
                self.store.read_tier(c.spark, "1d")
                .orderBy(F.desc("n_turns"), "conv_id", "window_start")
                .limit(k)
                .collect()
            )
        if len(self.fleet_log) < 2:
            self.fleet_log.append(rows)
        return len(rows)

    def _seal(self) -> int:
        import insar_spark.streaming.rollup_stream as rs

        res = rs.seal_and_compact(self.ctx.spark, self.store)
        # the live day is sealed once an append reaches into the next day
        hd = DIMENSIONS["history_days"]
        expect = [day(hd)] if self.appended_hi > day_us(hd + 1) else []
        self.sealed.append((self.ctx.tracer.op, expect, res["written_days"]))
        return len(res["written_days"])

    # ----------------------------------------------------------- results

    def check(self) -> None:
        import pandas as pd

        from oracle import diff_rollup

        c = self.ctx
        o = c.oracle("serve")
        hd = DIMENSIONS["history_days"]
        kept = [day(i) for i in range(hd - DEFAULT_RETENTION["1m"], hd)]
        got_1m = sorted(TierStore(self.base).committed_days("1m"))
        c.check("serve.history_1m_retention", got_1m == kept, str(got_1m))
        for conv, hi, rows in self.read_log:
            got = pd.DataFrame([r.asDict() for r in rows], columns=STAT_COLS)
            want = o.rollup("1h", "conv_id = ? AND us < ?", conv, hi)
            bad = diff_rollup(got, want)
            c.check("serve.read_equals_batch_1h", bad is None, f"{conv}: {bad}")
        k = DIMENSIONS["fleet_top_k"]
        want = o.rollup("1d", "us < ?", self.cut).sort_values(
            ["n_turns", "conv_id", "w"], ascending=[False, True, True]
        ).head(k)
        for rows in self.fleet_log:
            got = pd.DataFrame([r.asDict() for r in rows], columns=STAT_COLS)
            bad = diff_rollup(got, want)
            c.check("serve.fleet_equals_batch_1d_topk", bad is None, str(bad))
        for _, expect, days in self.sealed:
            c.check("serve.seal_commits_crossed_day", days == expect, f"{days} vs {expect}")

    def summary(self, samples) -> dict:
        by = {k: [s.seconds for s in samples if s.kind == k]
              for k in ("read", "append", "fleet", "seal")}
        read_cpu_s = median([s.cpu_s for s in samples if s.kind == "read"])
        # throughput of the read path: the sealed 1h points a real-time
        # read stitches, per second of median read (counts of appended or
        # returned rows would vary with the seed's drop sizes)
        sealed_1h = sum(
            p["rows"] for p in TierStore(self.base).manifest("1h")["partitions"].values()
        )
        rate = sealed_1h / median(by["read"])
        cpu_rate = sealed_1h / read_cpu_s
        bpp = bytes_per_point(self.base, TIERS)
        t = tail(by["read"])
        named = [
            ("serve_read_points_per_s", rate, "points/s", len(by["read"])),
            ("serve_read_points_per_cpu_s", cpu_rate, "points/cpu-s", len(by["read"])),
            ("serve_read_p50_ms", 1000 * median(by["read"]), "ms", len(by["read"])),
            ("serve_read_p50_cpu_ms", 1000 * read_cpu_s, "cpu-ms", len(by["read"])),
            ("serve_fleet_p50_ms", 1000 * median(by["fleet"]), "ms", len(by["fleet"])),
            ("serve_append_p50_ms", 1000 * median(by["append"]), "ms", len(by["append"])),
            ("serve_seal_p50_ms", 1000 * median(by["seal"]), "ms", len(by["seal"])),
        ]
        if t:
            named.append((f"serve_read_p{t[0]}_ms", 1000 * t[1], "ms", len(by["read"])))
        return {
            "e2e": {
                "points_per_cpu_s": cpu_rate,
                "op_p50_cpu_ms": 1000 * read_cpu_s,
                "bytes_per_point": bpp,
                "points_per_s": rate,
                "op_p50_ms": 1000 * median(by["read"]),
            },
            "named": named,
        }

    def probe(self) -> dict:
        """Store shape the last cycle's reads saw, and its seals."""
        store = self.store
        out = {
            "stream.sealed_days": sum(
                len(days) for op, _, days in self.sealed if op is not None
            ) / self.cycles,
            "stream.log_files": sum(
                len(p.get("files", [])) for p in store.manifest("1m_log")["partitions"].values()
            ),
        }
        for t in TIERS:
            out[f"catalog.partitions.{t}"] = len(store.manifest(t)["partitions"])
            out[f"catalog.manifest_bytes.{t}"] = os.path.getsize(store._manifest_path(t))
        return out
