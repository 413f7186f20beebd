"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tpch_llm --seed 1 --seconds 8 --trace 0

Run it from the repository root. It generates the workload's inputs from
``--seed`` and sets up a Spark session on ``local[<cores>]`` three times
(session start, ``catalog.load_all``, input generation and one warm-up
pass each). It then checks every query's output, runs the workload's
untimed warm-up passes, and runs timed passes for at least ``--seconds``
seconds and at least the workload's fixed number of passes. Pass and
query costs are CPU seconds of the process tree (Python, the JVM, Python
workers); their wall times are printed with the details. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics of ``BENCHMARK.json`` with ``--trace 1``). The
line before it holds the run environment and the details behind each
metric. Every file the run writes goes under ``.perfbench_work/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
    sys.path[0] = ROOT  # import the package as ``perfbench``, never its modules bare


def prepare_environment(work_dir: str) -> dict:
    """Point every scratch and temp directory into ``work_dir`` and fix
    the core count before pyspark is imported."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores))
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {"nproc": cores, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"]}


def tail(latencies: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest whole percentile with at least
    ``TAIL_BEYOND`` samples above it, by the nearest-rank rule."""
    from perfbench.harness import TAIL_BEYOND

    xs = sorted(latencies)
    n = len(xs)
    pct = math.floor(100 * (n - TAIL_BEYOND) / n)
    rank = max(1, math.ceil(pct * n / 100))
    return pct, xs[rank - 1]


def end_to_end(raw: dict, attempted: int, failed: int) -> tuple[dict, dict]:
    passes = raw["plain"]
    cpu = [x for p in passes for x in p.cpu_latencies]
    wall = [x for p in passes for x in p.latencies]
    pct, cpu_tail = tail(cpu)
    _, wall_tail = tail(wall)
    metrics = {
        "setup_s": statistics.median(raw["setup_s"]),
        "pass_cpu_s": statistics.fmean(p.cpu_s for p in passes),
        "query_cpu_p50_s": statistics.median(cpu),
        "query_cpu_tail_s": cpu_tail,
        "ok_ratio": (attempted - failed) / attempted,
    }
    detail = {
        "setup_runs_s": raw["setup_s"],
        "warmup_query_s": raw["warmup_latencies"],
        "passes": len(passes),
        "pass_s": statistics.median(p.wall_s for p in passes),
        "query_p50_s": statistics.median(wall),
        "query_tail_s": wall_tail,
        "query_samples": len(cpu),
        "query_tail_percentile": pct,
        "pass_runs_s": [p.wall_s for p in passes],
        "pass_cpu_runs_s": [p.cpu_s for p in passes],
        "pass_steal_ratio": [p.steal_ratio for p in passes],
        "peak_rss_mb": peak_rss_mb(passes),
        "query_median_s": query_medians(passes, "latencies"),
        "query_cpu_median_s": query_medians(passes, "cpu_latencies"),
        "pass_query_s": [dict(zip(p.names, p.latencies)) for p in passes],
        "pass_query_cpu_s": [dict(zip(p.names, p.cpu_latencies)) for p in passes],
        "failed_ratio": failed / attempted,
        "host_steal_ratio": raw["host_steal_ratio"],
        "phase_s": {k: raw[k] for k in ("check_s", "extra_warm_s", "timed_s")},
    }
    return metrics, detail


def peak_rss_mb(passes) -> float:
    """Median over the untraced timed passes of each pass's peak RSS, in MB."""
    return statistics.median(p.peak_rss_bytes for p in passes) / 2**20


def query_medians(passes, attr: str) -> dict[str, float]:
    by_name: dict[str, list[float]] = {}
    for p in passes:
        for name, x in zip(p.names, getattr(p, attr)):
            by_name.setdefault(name, []).append(x)
    return {name: statistics.median(xs) for name, xs in by_name.items()}


def declared_units() -> dict[str, str]:
    """Metric name -> unit, as declared in ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def per_layer(raw: dict) -> tuple[dict, dict]:
    layers = raw["layers"]
    metrics = {}
    for name in layers[0]:
        metrics[name] = statistics.median(d[name] for d in layers)
    metrics["session.get_spark_s"] = statistics.median(raw["setup_spans"]["session.get_spark"])
    metrics["catalog.load_all_s"] = statistics.median(raw["setup_spans"]["catalog.load_all"])
    metrics["cache.memo_miss_s"] = statistics.median(raw["setup_spans"]["cache.memo_miss"])
    metrics["session.peak_rss_mb"] = peak_rss_mb(raw["plain"])
    ov = raw["overhead"]
    metrics["trace.overhead_ratio"] = ov["traced_pass_s"] / ov["plain_pass_s"]
    detail = {
        "traced_passes": len(layers),
        "untraced_pass_s": ov["plain_pass_s"],
        "traced_pass_s": ov["traced_pass_s"],
        "setup_spans_s": raw["setup_spans"],
        "host_steal_ratio": raw["host_steal_ratio"],
    }
    return metrics, detail


def cpu_calibration() -> float:
    """Seconds a fixed single-thread CPU loop takes on this machine (the
    same loop as ``bench.py``'s ``calib_cpu_sec``)."""
    import hashlib

    t0 = time.perf_counter()
    b = b"calibration"
    for _ in range(200_000):
        b = hashlib.sha256(b).digest()
    s = 0
    for i in range(5_000_000):
        s += i
    return time.perf_counter() - t0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="a tiny corpus, for the smoke test")
    args = ap.parse_args(argv)

    work_dir = os.path.join(WORK_ROOT, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    env = prepare_environment(work_dir)
    try:
        import simplemapreduce_spark  # noqa: F401
        import pyspark
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}", file=sys.stderr)
        shutil.rmtree(work_dir, ignore_errors=True)
        return 2

    from perfbench import harness
    from perfbench.workloads import SMOKE_WORKLOADS, WORKLOADS

    workloads = {**WORKLOADS, **SMOKE_WORKLOADS} if args.smoke else WORKLOADS
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2
    env["calib_cpu_sec"] = cpu_calibration()
    trace_out = None
    if args.trace:
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        trace_out = os.path.join(WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    cfg = harness.RunConfig(
        workload=workloads[args.workload],
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        work_dir=work_dir,
        trace_out=trace_out,
    )
    try:
        raw = harness.run(cfg)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    units = declared_units()
    attempted = raw["attempted"]
    failed = len(raw["failures"])
    if args.trace:
        metrics, detail = per_layer(raw)
    else:
        metrics, detail = end_to_end(raw, attempted, failed)
    env.update(raw["env"])
    env.update(
        python_version=platform.python_version(),
        pyspark_version=pyspark.__version__,
        seed=args.seed,
        input_bytes=raw["input_bytes"],
        workload=args.workload,
        queries=raw["queries"],
        trace_file=trace_out,
    )
    print(json.dumps({"env": env, "detail": detail, "failures": raw["failures"][:20]}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
