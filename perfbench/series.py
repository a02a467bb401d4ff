"""series: per-series Python kernels over the text-length series.

One cycle materializes, through the noop sink, ``compress_series`` ->
``invert_blobs`` (Gorilla encode/decode and the SBAS adjacent-chain solve
in Arrow batches) and then ``resample_spline`` (natural-spline gap-fill on a
regular grid). Neither touches the catalog or the rollup.
"""

from __future__ import annotations

from common import Ctx, Op, median, run_noop
from gen import DIMENSIONS


# the kernels' first pass runs far slower than later ones (Python worker
# start, JIT); on a 4-core host the first cycle took 2.3x a warm one, the
# second 1.15x and the third 1.03x
WARM_CYCLES = 2


class Series:
    name = "series"
    p50_op = "gapfill"  # the op kind op_p50_ms is the median of

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.grid_points = None
        self.blobs = None  # compress_series output, cached by _blobs()
        self.blob_stats = None

    def _series(self):
        from pyspark.sql import functions as F

        return self.ctx.spark.read.parquet(self.ctx.inputs["turns"]).select(
            "conv_id",
            F.col("ts").cast("timestamp").alias("ts"),
            F.length("text").cast("double").alias("v"),
        )

    # ------------------------------------------------------------ cycle

    def setup(self) -> None:
        for _ in range(WARM_CYCLES):
            for _, fn in self.cycle():
                fn()

    def cycle(self) -> list[Op]:
        return [("series", self._compress_invert), ("gapfill", self._spline)]

    def _compress_invert(self) -> int:
        import insar_spark.operators.compression as compression
        import insar_spark.operators.sbas as sbas

        with self.ctx.tracer.span("sbas.compress_invert_exec", "operators.sbas"):
            run_noop(sbas.invert_blobs(compression.compress_series(self._series())))
        return self.ctx.rows

    def _spline(self) -> int:
        import insar_spark.operators.gapfill as gapfill

        df = gapfill.resample_spline(
            self._series(), interval_sec=DIMENSIONS["spline_interval_s"]
        )
        with self.ctx.tracer.span("gapfill.spline_exec", "operators.gapfill"):
            n = run_noop(df)
        self.grid_points = n
        return n

    def _blobs(self):
        """``compress_series`` of the series, cached and materialized once
        per run by the pass that also takes its blob statistics (the
        traced run's compress.exec span)."""
        from pyspark.sql import functions as F

        import insar_spark.operators.compression as compression

        if self.blobs is None:
            with self.ctx.tracer.span("compress.exec", "operators.compression"):
                self.blobs = compression.compress_series(self._series()).cache()
                self.blob_stats = self.blobs.agg(
                    F.sum(F.length("ts_blob") + F.length("v_blob")).alias("b"),
                    F.sum("n_points").alias("n"),
                    F.sum((F.col("n_points") >= 2).cast("int")).alias("solvable"),
                ).first()
        return self.blobs

    def blob_bytes_per_point(self) -> float:
        self._blobs()
        return self.blob_stats["b"] / self.blob_stats["n"]

    # ----------------------------------------------------------- results

    def check(self) -> None:
        import numpy as np

        import insar_spark.operators.compression as compression
        import insar_spark.operators.gapfill as gapfill

        c = self.ctx
        s = self._series()
        back = compression.decompress_series(self._blobs()).toPandas()
        back["us"] = back["ts"].to_numpy("datetime64[us]").astype("int64")
        key = ["conv_id", "us"]
        back = back.sort_values(key).reset_index(drop=True)
        src = c.oracle().query("SELECT conv_id, us, text_len AS v FROM t ORDER BY conv_id, us")
        same = (
            len(src) == len(back)
            and (src["conv_id"].to_numpy() == back["conv_id"].to_numpy()).all()
            and (src["us"].to_numpy() == back["us"].to_numpy()).all()
            and (src["v"].to_numpy().view("int64") == back["v"].to_numpy().view("int64")).all()
        )
        c.check("series.gorilla_round_trip_bit_exact", bool(same))

        step = DIMENSIONS["spline_interval_s"] * 1_000_000
        out = gapfill.resample_spline(s, interval_sec=DIMENSIONS["spline_interval_s"])
        obs = out.filter("is_observed").select("conv_id", "grid_ts", "v_filled").toPandas()
        want = c.oracle().query(
            f"SELECT conv_id, (us // {step}) * {step} AS g, arg_max(text_len, us) AS v "
            "FROM t GROUP BY ALL ORDER BY conv_id, g"
        )
        got = obs.assign(g=obs["grid_ts"].to_numpy("datetime64[us]").astype("int64"))
        got = got.sort_values(["conv_id", "g"]).reset_index(drop=True)
        ok = len(got) == len(want) and (got["g"].to_numpy() == want["g"].to_numpy()).all()
        if ok:
            a, b = got["v_filled"].to_numpy(), want["v"].to_numpy()
            ok = bool(np.allclose(a, b, rtol=1e-9, atol=1e-9))
        c.check("series.spline_observed_points_equal_inputs", ok,
                f"{len(got)} observed grid points, reference {len(want)}")
        grid = int(c.oracle().query(
            f"SELECT sum(n) AS n FROM (SELECT max(us) // {step} - min(us) // {step} + 1 "
            "AS n FROM t GROUP BY conv_id)"
        )["n"][0])
        c.check("series.grid_points", self.grid_points == grid, f"{self.grid_points} vs {grid}")

    def summary(self, samples) -> dict:
        ser = [s for s in samples if s.kind == "series"]
        gap = [s for s in samples if s.kind == "gapfill"]
        rate = median([s.points / s.seconds for s in ser])
        gap_rate = median([s.points / s.seconds for s in gap])
        bpp = self.blob_bytes_per_point()
        return {
            "e2e": {
                "points_per_cpu_s": median([s.points / s.cpu_s for s in ser]),
                "op_p50_cpu_ms": 1000 * median([s.cpu_s for s in gap]),
                "bytes_per_point": bpp,
                "points_per_s": rate,
                "op_p50_ms": 1000 * median([s.seconds for s in gap]),
            },
            "named": [
                ("series_points_per_s", rate, "points/s", len(ser)),
                ("gapfill_points_per_s", gap_rate, "points/s", len(gap)),
                ("series_blob_bytes_per_point", bpp, "B/point", None),
            ],
        }

    # ------------------------------------------------------- layer probes

    def probe(self) -> dict:
        from pyspark.sql import functions as F

        import insar_spark.operators.compression as compression
        import insar_spark.operators.gapfill as gapfill
        import insar_spark.operators.sbas as sbas

        c = self.ctx
        tr = c.tracer
        blobs = self._blobs()
        with tr.span("gorilla.decode", "operators.compression"):
            run_noop(compression.decompress_series(blobs))
        with tr.span("sbas.invert_exec", "operators.sbas"):
            run_noop(sbas.invert_blobs(blobs))
        # Arrow batches the spline UDF sees: keyed_map hash-partitions the
        # observed grid points by conversation into defaultParallelism
        # partitions, and mapInPandas cuts each into batches of at most
        # maxRecordsPerBatch rows
        obs = gapfill.observed_per_window(
            self._series(), "conv_id", "ts", "v", DIMENSIONS["spline_interval_s"], None
        )
        per_batch = int(c.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        parts = (
            obs.repartition(c.spark.sparkContext.defaultParallelism, "conv_id")
            .groupBy(F.spark_partition_id().alias("p"))
            .count()
            .collect()
        )
        return {
            "compress.blob_bytes_per_point": self.blob_bytes_per_point(),
            "sbas.series_solved": int(self.blob_stats["solvable"]),
            "gapfill.python_invocations": sum(-(-r["count"] // per_batch) for r in parts),
            "gapfill.points_out": self.grid_points,
        }
