"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,serve,series,all} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One run: pin the Spark environment, land
the seeded inputs, warm the workload up (all of that is ``setup_s``), run
the workload's op cycle in a closed loop with one client for ``--seconds``,
check the outputs against independent references, and print a report
followed by one JSON line with the metrics (the end-to-end ones untraced,
the per-layer ones with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "serve", "series")
JVM_HEAP = "2g"  # the engine's 16g default exceeds small hosts

END_TO_END = [  # name, unit
    ("setup_s", "s"),
    ("points_per_cpu_s", "points/cpu-s"),
    ("op_p50_cpu_ms", "cpu-ms"),
    ("bytes_per_point", "B/point"),
]


def parse(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> int:
    """Spark and Python settings for this run, fixed before the JVM starts:
    local[nproc], a JVM heap well under host memory, scratch dirs inside
    the checkout, and PYTHONPATH so Python workers import insar_spark."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))
    py_path = [ROOT, os.environ.get("PYTHONPATH", "")]
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        # every JVM spark-submit starts: temp files inside the checkout,
        # no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=JVM_HEAP,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in py_path if p),
        PYSPARK_PYTHON=sys.executable,
        TZ="UTC",
    )
    time.tzset()
    sys.path[:0] = [ROOT, HERE]
    return cpus


def start_session(work: str, cpus: int):
    from insar_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )


def run_all(args) -> int:
    """Every workload in its own process, one after the other."""
    status = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        status |= subprocess.run(cmd).returncode
    return status


def timed_loop(wl, tracer, seconds: float, samples: list, counts: dict) -> int:
    """Closed loop, one client: the next op starts when the last ends.
    Whole cycles only, so every cycle contributes the same op mix: a cycle
    starts if it is the first or if, at the pace of the last one, it ends
    within ``seconds``. Returns the number of cycles run."""
    from common import Sample, tree_cpu_s

    start = time.perf_counter()
    last = 0.0
    n = 0
    cycles = 0
    while cycles == 0 or time.perf_counter() - start + last <= seconds:
        t_cycle = time.perf_counter()
        cycles += 1
        for kind, fn in wl.cycle():
            if kind is None:
                fn()
                continue
            n += 1
            tracer.op = f"{wl.name}/{kind}-{n}"
            counts["attempted"] += 1
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                points = fn()
            except Exception:
                counts["failed"] += 1
                traceback.print_exc()
                continue
            t1 = time.perf_counter()
            samples.append(Sample(kind, t1 - t0, points, tree_cpu_s() - c0))
        last = time.perf_counter() - t_cycle
    tracer.op = None
    return cycles


def main(argv=None) -> int:
    args = parse(argv)
    if not all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("insar_spark/__init__.py", "jobs/rollup_job.py")
    ):
        print(f"perfbench: no insar_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    cpus = pin_environment(work)
    try:
        return measure(args, work, cpus)
    finally:
        from common import descendants

        end_processes(descendants())
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str, cpus: int) -> int:
    import gen
    import layers
    from common import Ctx, peak_rss_mb
    from ingest import Ingest
    from serve import Serve
    from series import Series
    from spans import Tracer

    classes = {"ingest": Ingest, "serve": Serve, "series": Series}
    tracer = Tracer()
    if args.trace:
        tracer.install()

    # ---- set-up: a thread generates and lands the inputs while the JVM
    # starts
    with ThreadPoolExecutor(1) as pool:
        t_submit = time.perf_counter()
        landing = pool.submit(gen.generate_and_land, args.seed, os.path.join(work, "inputs"))
        t0 = time.perf_counter()
        spark = start_session(work, cpus)
        session_s = time.perf_counter() - t0
        try:
            inputs, rows, land_s = landing.result()
        except BaseException:
            stop_spark(spark)
            raise
    with contextlib.ExitStack() as stack:
        stack.callback(stop_spark, spark)
        tracer.record("synth.land", "synth", t_submit, t_submit + land_s)
        ctx = Ctx(spark, args.seed, work, cpus, inputs, rows, tracer)
        stack.callback(ctx.close)
        wl = classes[args.workload](ctx)
        t0 = time.perf_counter()
        wl.setup()
        warm_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START

        # ---- timed closed loop, then the output checks
        samples: list = []
        counts = {"attempted": 0, "failed": 0}
        t0 = time.perf_counter()
        cpu0 = cpu_ticks()
        overhead0 = tracer.overhead_s
        cycles = {args.workload: timed_loop(wl, tracer, args.seconds, samples, counts)}
        overhead_s = tracer.overhead_s - overhead0
        cpu1 = cpu_ticks()
        loop_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t0
        summary = wl.summary(samples)

        if not args.trace:
            metrics = {"setup_s": setup_s, **summary["e2e"]}
            metrics = {k: metrics[k] for k, _ in END_TO_END}
            units = dict(END_TO_END)
        else:
            probes = wl.probe()
            runs = {args.workload: (wl, samples)}
            # every other workload sets up (warm-up included), runs one
            # timed cycle and probes, so every layer has numbers from timed
            # ops in every traced run
            for name, cls in classes.items():
                if name != args.workload:
                    other = cls(ctx)
                    other.setup()
                    runs[name] = (other, [])
                    cycles[name] = timed_loop(other, tracer, 0, runs[name][1], counts)
                    probes.update(other.probe())
            # the kernel rates of series, which the benchmark measures in
            # traced runs only
            series, series_samples = runs["series"]
            named = {n: v for n, v, _, _ in series.summary(series_samples)["named"]}
            probes["sbas.series_points_per_s"] = named["series_points_per_s"]
            probes["gapfill.points_per_s"] = named["gapfill_points_per_s"]
            extra = {
                "session.start_s": session_s,
                "synth.land_s": land_s,
                "synth.rows": rows,
                "peak_rss_mb": peak_rss_mb(),
                "trace.overhead_pct": 100 * overhead_s / loop_s,
                "trace.points_per_s": summary["e2e"]["points_per_s"],
                "trace.op_p50_ms": summary["e2e"]["op_p50_ms"],
            }
            metrics = layers.compute(tracer, args.workload, cycles, probes, extra)
            units = {name: unit for name, unit, _, _ in layers.PER_LAYER}
            traces = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
            tracer.uninstall()
        rss = peak_rss_mb()

    # ---- report, then the result line
    wrong = len(ctx.failures)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"cpus {cpus} seconds {args.seconds} (timed loop {loop_s:.3f} s, "
          f"output checks {check_s:.3f} s)")
    print("dimensions " + json.dumps(gen.DIMENSIONS, sort_keys=True))
    busy = [b - a for a, b in zip(cpu0, cpu1)]
    total = max(sum(busy), 1)
    print(f"host during the timed loop: busy {100 * (total - busy[3] - busy[4]) / total:.1f}%, "
          f"iowait {100 * busy[4] / total:.1f}%, steal {100 * busy[7] / total:.1f}% "
          f"of {cpus} cpus")
    for kind in dict.fromkeys(s.kind for s in samples):
        ms = " ".join(f"{1000 * s.seconds:.0f}" for s in samples if s.kind == kind)
        print(f"  {kind} latencies ms: {ms}")
        ms = " ".join(f"{1000 * s.cpu_s:.0f}" for s in samples if s.kind == kind)
        print(f"  {kind} cpu ms: {ms}")
    for name, value, unit, n in summary["named"]:
        print(f"  {name} = {value:.6g} {unit}" + (f" (n={n})" if n is not None else ""))
    print(f"  setup_s = {setup_s:.6g} s (session start {session_s:.3f} s, "
          f"input generation and landing {land_s:.3f} s, warm-up {warm_s:.3f} s)")
    print(f"  peak_rss_mb = {rss:.6g} MB")
    print(f"  error_rate = {counts['failed'] / max(counts['attempted'], 1):.6g} ratio "
          f"(n={counts['attempted']})")
    print(f"  wrong_results = {wrong} count")
    for f in ctx.failures[:20]:
        print(f"  FAILED CHECK {f}")
    bad = [k for k in units if not _finite(metrics.get(k))]
    if bad:
        raise RuntimeError(f"metrics missing or not finite: {bad}")
    result = {
        "correct": wrong == 0 and counts["failed"] == 0,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait until the JVM and
    every process under it (the Python worker daemon and its workers, which
    the JVM's exit orphans) have ended."""
    from pyspark import SparkContext

    from common import descendants

    started = descendants()
    gateway = SparkContext._gateway
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM's gateway server exits on stdin EOF
                proc.wait(timeout=60)
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        end_processes(started)


def end_processes(procs: list[tuple[int, int]], grace: float = 30.0) -> None:
    """Wait until each process of ``procs`` ((pid, start time) pairs, as
    common.descendants gives them) has ended; kill those still running
    after ``grace`` seconds. Ended children of this process are reaped."""
    from common import alive

    deadline = time.monotonic() + grace
    killed = False
    while True:
        for pid, _ in procs:
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)
        procs = [p for p in procs if alive(*p)]
        if not procs:
            return
        if not killed and time.monotonic() > deadline:
            for pid, _ in procs:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            killed = True
        time.sleep(0.05)


def cpu_ticks() -> list[int]:
    """The aggregate cpu line of /proc/stat: user nice system idle iowait
    irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _finite(v) -> bool:
    try:
        return math.isfinite(float(v))
    except (TypeError, ValueError):
        return False


if __name__ == "__main__":
    sys.exit(main())
