"""Batched per-key Arrow execution: the grouped-map pattern without the
per-group invocation cost.

``keyed_map`` = repartition by key + sort within partitions + ONE
mapInPandas pass that walks contiguous key runs, carrying a key that
straddles Arrow batch boundaries across iterator steps. Semantically
identical to ``groupBy(key).applyInPandas`` (proven bit-exact in tests),
but thousands of small groups share one Python invocation — the difference
between ~2.5 ms/group serde overhead and amortized microseconds at
10^8-series scale.

Kernel return protocol (r6): ``fn_group`` may return either a
``pd.DataFrame`` (the original contract) or a ``dict`` of equal-length
columns (name -> ndarray/list/scalar-broadcastable sequence). The dict
form skips the per-group DataFrame construction entirely — the runner
accumulates raw columns across every group in a chunk and materializes
ONE frame per chunk. Measured on the LTTB kernel (2 000 × 67-row
groups): per-group frames + concat 0.82 s vs columnar 0.24 s — the
construction overhead was ~60 % of that kernel's Python time. Output
rows and order are identical (groups are emitted in delivered order,
columns concatenated in that same order).

Use for fleets of SMALL groups (series solves, blob packing). For few huge
groups, plain applyInPandas is equivalent.
"""

from __future__ import annotations

from typing import Callable, Iterator, Mapping

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame


def _is_seq(v) -> bool:
    if isinstance(v, np.ndarray):
        return v.ndim > 0
    return hasattr(v, "__len__") and not isinstance(v, (str, bytes))


def _rows_of(cols: Mapping) -> int:
    """Row count of a dict-of-columns result (first sized column wins)."""
    for v in cols.values():
        if _is_seq(v):
            return len(v)
    return 1 if cols else 0


def keyed_map(
    df: DataFrame,
    key: str,
    sort_cols: list[str],
    fn_group: Callable[[pd.DataFrame], pd.DataFrame | Mapping | None],
    schema: str,
    n_partitions: int | None = None,
) -> DataFrame:
    """Apply ``fn_group`` to each contiguous key group, batched per
    partition. ``fn_group`` receives the group's rows (sorted by
    ``sort_cols`` — the partition-level sort guarantees delivered order,
    so kernels need no re-sort) and returns an output frame OR a dict of
    columns (or None to drop); the two forms may be mixed, and output rows
    keep the groups' delivered order either way.

    Delivered order is Spark's ascending sort: within a partition, groups
    arrive by ``key`` and each group's rows by ``sort_cols``, NULLS FIRST
    (a row with a null sort value leads its group; pandas ``sort_values``
    would put it last). Rows with a null ``key`` are dropped (pandas
    ``groupby``)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None

        def emit(chunk: pd.DataFrame):
            frames: list[pd.DataFrame] = []
            col_parts: dict[str, list] = {}

            def flush():
                # pending dict results go out before a frame result, so
                # groups keep their delivered order
                if col_parts:
                    frames.append(
                        pd.DataFrame({c: np.concatenate(p) for c, p in col_parts.items()})
                    )
                    col_parts.clear()

            for _, g in chunk.groupby(key, sort=False):
                r = fn_group(g)
                if r is None:
                    continue
                if isinstance(r, pd.DataFrame):
                    if len(r):
                        flush()
                        frames.append(r)
                    continue
                n = _rows_of(r)
                if not n:
                    continue
                for c, v in r.items():
                    if not _is_seq(v):
                        v = [v] * n
                    col_parts.setdefault(c, []).append(np.asarray(v))
            flush()
            if len(frames) == 1:
                return frames[0]
            if frames:
                return pd.concat(frames, ignore_index=True)
            return None

        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            last_key = pdf[key].iloc[-1]
            head = pdf[pdf[key] != last_key]
            carry = pdf[pdf[key] == last_key]
            out = emit(head) if len(head) else None
            if out is not None:
                yield out
        if carry is not None and len(carry):
            out = emit(carry)
            if out is not None:
                yield out

    parts = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(parts, key)
        .sortWithinPartitions(key, *sort_cols)
        .mapInPandas(run, schema=schema)
    )
