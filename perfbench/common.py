"""Shared pieces of the benchmark workloads: run context, timed samples,
Spark execution helpers and the summary statistics every report uses."""

from __future__ import annotations

import glob
import os
import statistics
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.parquet as pq

from spans import Tracer


@dataclass
class Sample:
    kind: str
    seconds: float
    points: int
    cpu_s: float  # CPU time this process and its children used in the op


# One op of a workload cycle: (kind, fn). ``fn`` returns the points the op
# moved. Kind None marks untimed housekeeping (e.g. restoring a store).
Op = tuple[str | None, Callable[[], int]]


# Parquet glob of each landed input a reference is computed over
REFERENCE_GLOBS = {"turns": "*.parquet", "serve": "*/*.parquet"}


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str  # scratch directory of this run, inside the checkout
    cpus: int
    inputs: dict  # gen.land() result
    rows: int  # synthesized transcript rows (each landed input holds all)
    tracer: Tracer
    failures: list[str] = field(default_factory=list)
    _oracles: dict = field(default_factory=dict)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Record one output check; a failed one counts in wrong_results."""
        if not ok:
            self.failures.append(f"{name}: {detail}")

    def master(self) -> str:
        return f"local[{self.cpus}]"

    def oracle(self, name: str = "turns"):
        """The DuckDB reference (oracle.Oracle) over landed input ``name``."""
        from oracle import Oracle

        if name not in self._oracles:
            pattern = os.path.join(self.inputs[name], REFERENCE_GLOBS[name])
            self._oracles[name] = Oracle(pattern)
        return self._oracles[name]

    def close(self) -> None:
        for o in self._oracles.values():
            o.close()


def run_noop(df) -> int:
    """Execute ``df`` fully through the noop sink; return its row count
    (taken by an observation on the same pass, so no second execution)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["n"])


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples above it,
    and its value; None when the sample supports none above the median."""
    n = len(xs)
    if n < 20:
        return None
    pct = int(100 * (1 - 10 / n))
    qs = statistics.quantiles(xs, n=100, method="inclusive")
    return pct, qs[pct - 1]


def bytes_per_point(root: str, tiers: list[str]) -> float:
    """On-disk bytes (TierStore.tier_bytes) per stored row over ``tiers``
    of the TierStore at ``root``. Rows come from the manifests; only
    epoch-log partitions, which record none, have their Parquet footers
    read."""
    from insar_spark.sources.catalog import TierStore

    store = TierStore(root)
    size = sum(store.tier_bytes(t) for t in tiers)
    rows = 0
    for t in tiers:
        for day, part in store.manifest(t)["partitions"].items():
            if part.get("rows") is not None:
                rows += part["rows"]
                continue
            d = store.tier_path(t, day)
            rows += sum(pq.read_metadata(os.path.join(d, n)).num_rows for n in part["files"])
    return size / rows


def manifests(root: str) -> dict[str, bytes]:
    """Raw bytes of every manifest of a TierStore at ``root``."""
    out = {}
    for p in sorted(glob.glob(os.path.join(root, "_snapshots", "*.json"))):
        with open(p, "rb") as f:
            out[os.path.basename(p)] = f.read()
    return out


def _stat(pid: int) -> tuple[int, str, int] | None:
    """(parent pid, state, start time) of ``pid`` from /proc, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), fields[0], int(fields[19])


def descendants() -> list[tuple[int, int]]:
    """(pid, start time) of every process under this one, from /proc."""
    children: dict[int, list[tuple[int, int]]] = {}
    for d in glob.glob("/proc/[0-9]*"):
        pid = int(d.rsplit("/", 1)[1])
        st = _stat(pid)
        if st is not None:
            children.setdefault(st[0], []).append((pid, st[2]))
    out: list[tuple[int, int]] = []
    todo = [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.append(c)
                todo.append(c[0])
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live process under it (the JVM, Python workers), from /proc."""
    ticks = 0
    for pid in [os.getpid()] + [p for p, _ in descendants()]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks / _TICK


def alive(pid: int, start: int) -> bool:
    """Whether process ``pid`` started at ``start`` still runs (a zombie
    has ended)."""
    st = _stat(pid)
    return st is not None and st[2] == start and st[1] != "Z"


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) summed over this process and every process
    under it (the Spark JVM and its Python workers), from /proc."""
    kb = 0
    for pid in [os.getpid()] + [p for p, _ in descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024
