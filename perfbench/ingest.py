"""ingest: the north-star tier job over landed transcripts.

One cycle, twice over: ``jobs.rollup_job.main`` on a fresh store (1m
rollup, 1h/1d cascades from the stored tiers, retention expiry), then three
times on a store that already holds every day, which must resume without
committing anything. Two ingests and six resumes per cycle, so that the
medians shrug off an op slowed by the host: with one ingest and three
resumes per cycle, the resume median spread 0.25 of its median over five
seeds on a 4-core host.

The resume store is built in set-up without ``--expire-asof``: a re-run
on an expired store re-commits the expired 1m days (they are no longer in
the manifest) and expires them again, so it is not a no-op resume.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil

from common import Ctx, Op, bytes_per_point, manifests, median, run_noop
from gen import DIMENSIONS, day, day_us
from insar_spark.sources.catalog import DEFAULT_RETENTION, TierStore

TIERS = ["1m", "1h", "1d"]


class Ingest:
    name = "ingest"
    p50_op = "resume"  # the op kind op_p50_ms is the median of

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.n = 0
        self.store: str | None = None  # store of the running cycle
        self.done: str | None = None  # store of the latest finished ingest
        # expire as of the day after the span: 1m days past its retention
        # go, 1h/1d keep everything
        span = DIMENSIONS["day_span"]
        self.asof = day(span)
        self.cutoff = day(span - DEFAULT_RETENTION["1m"])
        self.cutoff_us = day_us(span - DEFAULT_RETENTION["1m"])
        o = ctx.oracle()
        self.points = sum(len(o.rollup(t)) for t in TIERS)
        self.days = o.days()
        self.kept_1m = [d for d in self.days if d >= self.cutoff]

    def _main(self, store: str, expire: bool) -> dict:
        import jobs.rollup_job as rollup_job

        args = [
            "--input", self.ctx.inputs["turns"],
            "--store", store,
            "--master", self.ctx.master(),
        ] + (["--expire-asof", self.asof] if expire else [])
        with contextlib.redirect_stdout(io.StringIO()):
            return rollup_job.main(args)

    # ------------------------------------------------------------ cycle

    def setup(self) -> None:
        self.full = os.path.join(self.ctx.work, "ingest-full")
        self._main(self.full, expire=False)
        # then half a cycle, untimed: with one resume of warm-up, the CPU
        # time of an ingest fell ~25% from the first timed one to the
        # second, and of a resume ~30% over the six, on a 4-core host
        for _, fn in self.cycle()[:5]:
            fn()

    def cycle(self) -> list[Op]:
        return ([(None, self._fresh), ("ingest", self._ingest)] + [("resume", self._resume)] * 3) * 2

    def _fresh(self) -> int:
        # stores are a few MB each; the run's work dir goes at exit
        self.n += 1
        self.store = os.path.join(self.ctx.work, f"ingest-store-{self.n}")
        return 0

    def _ingest(self) -> int:
        m = self._main(self.store, expire=True)
        self.done = self.store
        c = self.ctx
        written = {t: m["tiers"][t]["written_days"] for t in TIERS}
        c.check("ingest.days_written", written == {t: len(self.days) for t in TIERS}, str(written))
        c.check("ingest.expired_1m", m["expired"]["1m"] == [d for d in self.days if d < self.cutoff],
                str(m["expired"]["1m"]))
        return self.points

    def _resume(self) -> int:
        before = manifests(self.full)
        m = self._main(self.full, expire=False)
        c = self.ctx
        written = sum(m["tiers"][t]["written_days"] for t in TIERS)
        c.check("resume.commits_nothing", written == 0, f"{written} days written")
        c.check("resume.manifests_unchanged", manifests(self.full) == before)
        return 0

    # ----------------------------------------------------------- results

    def check(self) -> None:
        """Output checks on the store of the latest cycle."""
        from oracle import diff_rollup

        c = self.ctx
        store = TierStore(self.done)
        for t in TIERS:
            df = store.read_tier(c.spark, t).toPandas()
            want = c.rows if t != "1m" else c.oracle().rows("us >= ?", self.cutoff_us)
            c.check(f"ingest.sum_n_turns.{t}", int(df["n_turns"].sum()) == want,
                    f"{df['n_turns'].sum()} vs {want}")
            days = self.kept_1m if t == "1m" else self.days
            c.check(f"ingest.days.{t}", sorted(store.committed_days(t)) == days)
            if t == "1d":
                bad = diff_rollup(df, c.oracle().rollup("1d"))
                c.check("ingest.1d_equals_reference", bad is None, str(bad))

    def summary(self, samples) -> dict:
        ing = [s for s in samples if s.kind == "ingest"]
        res = [s for s in samples if s.kind == "resume"]
        rate = median([s.points / s.seconds for s in ing])
        cpu_rate = median([s.points / s.cpu_s for s in ing])
        resume_s = median([s.seconds for s in res])
        resume_cpu_s = median([s.cpu_s for s in res])
        bpp = bytes_per_point(self.done, TIERS)
        return {
            "e2e": {
                "points_per_cpu_s": cpu_rate,
                "op_p50_cpu_ms": 1000 * resume_cpu_s,
                "bytes_per_point": bpp,
                "points_per_s": rate,
                "op_p50_ms": 1000 * resume_s,
            },
            "named": [
                ("ingest_points_per_s", rate, "points/s", len(ing)),
                ("ingest_points_per_cpu_s", cpu_rate, "points/cpu-s", len(ing)),
                ("resume_s", resume_s, "s", len(res)),
                ("resume_cpu_s", resume_cpu_s, "cpu-s", len(res)),
                ("store_bytes_per_point", bpp, "B/point", None),
            ],
        }

    # ------------------------------------------------------- layer probes

    def probe(self) -> dict:
        """Per-layer numbers that need their own execution (traced run),
        on the unexpired store set-up built."""
        from pyspark.sql import functions as F

        import insar_spark.operators.rollup as rollup

        c = self.ctx
        tr = c.tracer
        out: dict = {}
        turns = c.spark.read.parquet(c.inputs["turns"]).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        with tr.span("rollup.tier0_exec", "operators.rollup"):
            n1m = run_noop(rollup.rollup_turns(turns, "1m"))
        out["rollup.collapse_1m"] = n1m / c.rows
        store = TierStore(self.full)
        for src, dst in (("1m", "1h"), ("1h", "1d")):
            with tr.span(f"rollup.cascade_{dst}_exec", "operators.rollup"):
                run_noop(rollup.cascade(store.read_tier(c.spark, src).drop("day"), dst))
        copy = TierStore(os.path.join(c.work, "ingest-expire-probe"))
        shutil.copytree(self.full, copy.root)
        with tr.span("catalog.expire_probe", "sources.catalog"):
            for t in TIERS:
                copy.expire(t, self.asof)
        for t in TIERS:
            out[f"catalog.files_committed.{t}"] = sum(
                len(p.get("files", [])) for p in store.manifest(t)["partitions"].values()
            )
        return out

