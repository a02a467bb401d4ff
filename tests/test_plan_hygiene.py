"""Physical-plan hygiene as CI over the plans the engine runs: each tier
family's tier-0 build and its first cascade (from a stored tier, as
``rollup_job`` and ``stream_job`` run it), the per-series Python kernels
(SBAS solve, spline gap-fill, Gorilla compression) and every
DuckDB-checked query of ``test_duckdb_oracle``, the last over the
sf0.001 files.

A BatchEvalPython node means a row-at-a-time Python UDF crept in (the
kernels must stay on the Arrow path). The exchange and Python-stage
budgets are the counts these plans have, so a shuffle sneaking into a
plan fails a test run instead of surfacing at 100 TB.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from insar_spark.families import FAMILIES
from plan_inspect import audit, executed_plan
from test_duckdb_oracle import ORACLES, SF


@pytest.fixture(scope="module")
def plans(spark, transcripts, tmp_path_factory):
    """Plan name -> DataFrame, each over a Parquet scan as the jobs read
    their input (built, not run, except the written inputs: the turns and
    each family's tier-0 output as the cascade's stored source)."""
    from insar_spark.operators.compression import compress_series
    from insar_spark.operators.gapfill import resample_spline
    from insar_spark.operators.sbas import invert_pairs
    from insar_spark.operators.series import adjacent_pairs, with_text_len

    out = {}
    tmp = tmp_path_factory.mktemp("plan_hygiene")
    transcripts.write.parquet(str(tmp / "turns"))
    turns = spark.read.parquet(str(tmp / "turns"))
    for fam in FAMILIES.values():
        windows = dict(fam.chain)
        tier0 = fam.tier0(turns, windows[fam.batch_from])
        out[f"{fam.name}.tier0"] = tier0
        source, _, window = fam.cascades(fam.batch_from)[0]
        tier0.write.parquet(str(tmp / source))
        out[f"{fam.name}.cascade"] = fam.cascade(spark.read.parquet(str(tmp / source)), window)
    # the stats family's 1m tier-0 build is the flagship rollup
    out["flagship_rollup_1m"] = out["stats.tier0"]
    series = turns.select("conv_id", "ts", F.length("text").cast("double").alias("v"))
    out["invert_pairs"] = invert_pairs(adjacent_pairs(with_text_len(turns)))
    out["resample_spline"] = resample_spline(series, interval_sec=3600)
    out["compress_series"] = compress_series(series)
    for name, (query, _) in ORACLES.items():
        out[name] = query(spark, SF)
    return out


def test_unique_exchanges_count_each_different_shuffle(spark):
    """A branch repeated in one plan counts once; a different shuffle on
    the same key counts again."""
    df = spark.range(64).select(
        (F.col("id") % 7).cast("string").alias("conv_id"), F.col("id").alias("v")
    )
    total = df.groupBy("conv_id").agg(F.sum("v").alias("x"))
    top = df.groupBy("conv_id").agg(F.max("v").alias("x"))
    assert audit(total.unionByName(total)).n_exchanges_unique == 1
    assert audit(total.unionByName(top)).n_exchanges_unique == 2


def test_no_rowwise_python_in_any_contract_query(plans):
    """Every plan above must stay on the Arrow path: a BatchEvalPython
    node means a row-at-a-time Python UDF crept in."""
    offenders = [name for name, df in plans.items() if "BatchEvalPython" in executed_plan(df)]
    assert not offenders, offenders


@pytest.mark.parametrize(
    ("name", "max_unique_exchanges", "max_python_stages"),
    [
        ("stats.tier0", 1, 0),
        ("stats.cascade", 1, 0),
        ("hist.tier0", 1, 0),
        ("hist.cascade", 1, 0),
        ("lb.tier0", 1, 0),
        ("lb.cascade", 1, 0),
        ("hll.tier0", 1, 0),
        ("hll.cascade", 1, 0),
        ("cms.tier0", 1, 0),
        ("cms.cascade", 1, 0),
        ("m4.tier0", 1, 0),
        ("m4.cascade", 1, 0),
        # the pairs' conv_id window, which the nonzero-series window and
        # the keyed solve ride; one Arrow solve stage
        ("invert_pairs", 1, 1),
        ("resample_spline", 2, 1),  # last-wins per (conv_id, grid cell) + keyed repartition
        ("compress_series", 1, 1),
        ("flagship_rollup_1m", 1, 0),  # one shuffle, all JVM
        ("w1_turn_deltas", 1, 0),  # series window only
        ("hist_p95_1h", 1, 0),  # spread; the direct-1h rank read rides it
        ("sbas_solve_bandwidth1", 1, 1),  # series window; one Arrow solve stage
        ("hist_p95_global_1h", 2, 0),  # spread + direct global read
        ("distinct_hll_1h", 3, 0),  # spread + direct 1h regs + read agg
        ("hot_convs_cms_1h", 3, 0),  # spread + probe-pushdown aggs
        ("late_data_profile", 1, 0),  # one conv_id window, groupBy reuses it
        ("cusum_level_shift", 1, 0),  # one conv_id window, groupBy reuses it
        ("counter_increase_1h", 1, 0),  # (conv,seg) windows ride conv_id hash
        ("anomaly_hod_1h", 2, 0),  # 1h tier build + cohort window on tiny tier
        ("metric_corr_1h", 2, 0),  # 1h tier build + per-conv component agg
        # lateness window + bucket agg (both reused by the late-count
        # branch) + two single-partition aggs over <= ~2k bucket rows
        ("watermark_sizing", 4, 0),
        # one collect-fold shuffle (reused by both length-route branches);
        # the mega-series Arrow route adds one vectorized stage that only
        # sees series past EWMA_FOLD_MAX_TURNS
        ("holt_smooth", 1, 1),
        # day agg + one 1h build per side, two for the perturbed side's
        # union branches + the join exchange on that side
        ("tier_reconcile_1h", 5, 0),
    ],
)
def test_exchange_and_python_budgets(plans, name, max_unique_exchanges, max_python_stages):
    """Unique-exchange budgets (repeated DAG branches collapse:
    ReuseExchange runs them once) and Arrow Python stages per plan."""
    a = audit(plans[name])
    assert a.n_exchanges_unique <= max_unique_exchanges, (
        name, [e.splitlines()[0] for e in a.exchanges]
    )
    assert a.python_stages <= max_python_stages, name
