"""Set-up, timed passes, output checks and metric assembly for one run.

The load is a closed loop with one client: the driver process runs the
workload's queries one after another, in a seeded order each pass, and
starts a query only when the previous one has returned.
"""

from __future__ import annotations

import os
import random
import statistics
import threading
import time
from dataclasses import dataclass, field

from perfbench import sparkstats
from perfbench.spans import MEMO_SPANS, Tracer, children_of, self_time

# Set-ups per run; setup_s is their median. The first set-up launches
# the JVM and runs cold JIT code, so with three the median is a warm one.
SETUPS = 3
# The timed passes are split between the sessions of the warm set-ups:
# the Python workers of one session can run 10-15 % faster or slower than
# those of the next one, with the same inputs and the same JVM.
TIMED_SESSIONS = SETUPS - 1
TAIL_BEYOND = 10  # samples that must lie beyond the reported tail percentile
PAGE = os.sysconf("SC_PAGE_SIZE")
CLK_TCK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ process RSS


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and all its descendants,
    including children they have already reaped (Python workers)."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


class RssSampler(threading.Thread):
    """Peak RSS summed over this process and all its descendants (the
    JVM and its Python workers), sampled every ``interval`` seconds,
    since the last ``restart``."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()
        # Held across the /proc walk, so a restart cannot be overwritten
        # by a sample that began before it.
        self._lock = threading.Lock()

    def sample(self) -> None:
        with self._lock:
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.sample()
            self._stop_event.wait(self.interval)

    def restart(self) -> None:
        with self._lock:
            self.peak = tree_rss_bytes(os.getpid())

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


# ---------------------------------------------------------------- passes


@dataclass
class PassResult:
    wall_s: float
    cpu_s: float = 0.0  # CPU seconds of the process tree over the pass
    latencies: list[float] = field(default_factory=list)
    cpu_latencies: list[float] = field(default_factory=list)  # untraced passes only
    names: list[str] = field(default_factory=list)
    peak_rss_bytes: int = 0
    steal_ratio: float = 0.0
    failures: list[str] = field(default_factory=list)


def run_pass(spark, queries, order_seed: str, tracer: Tracer | None = None) -> PassResult:
    order = list(queries)
    random.Random(order_seed).shuffle(order)
    res = PassResult(0.0)
    pid = os.getpid()
    cpu_pass = tree_cpu_s(pid)
    t_pass = time.perf_counter()
    if tracer is None:
        for q in order:
            c0 = tree_cpu_s(pid)
            t0 = time.perf_counter()
            try:
                q.sink(q.build(spark))
            except Exception as e:  # a failed query is counted, the run goes on
                res.failures.append(f"{q.name}: {type(e).__name__}: {e}")
            res.latencies.append(time.perf_counter() - t0)
            res.cpu_latencies.append(tree_cpu_s(pid) - c0)
            res.names.append(q.name)
    else:
        with tracer.span("pass"):
            for q in order:
                t0 = time.perf_counter()
                try:
                    with tracer.span("query", query=q.name):
                        with tracer.span("streaming.drain" if q.streaming else "plans.build"):
                            df = q.build(spark)
                        with tracer.span("plans.catalyst") as s:
                            s.attrs.update(catalyst_phases(df))
                        with tracer.span("sinks.materialize"):
                            q.sink(df)
                except Exception as e:
                    res.failures.append(f"{q.name}: {type(e).__name__}: {e}")
                res.latencies.append(time.perf_counter() - t0)
                res.names.append(q.name)
    res.wall_s = time.perf_counter() - t_pass
    res.cpu_s = tree_cpu_s(pid) - cpu_pass
    return res


def catalyst_phases(df) -> dict:
    """Plan the query (analysis, optimization, physical planning) and
    return each phase's duration in seconds from the query's own
    ``QueryPlanningTracker``."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[str(kv._1())] = kv._2().durationMs() / 1000.0
    return out


# ------------------------------------------------------------- the run


@dataclass
class RunConfig:
    workload: object
    seed: int
    seconds: float
    trace: bool
    work_dir: str
    trace_out: str | None = None


def _stop_session(spark) -> None:
    from simplemapreduce_spark import cache

    cache.clear_memo()
    spark.stop()


def run(cfg: RunConfig) -> dict:
    """Run one workload; returns the raw measurements."""
    from simplemapreduce_spark import catalog, session

    wl = cfg.workload
    tracer = Tracer() if cfg.trace else None
    rss = RssSampler()
    rss.start()
    out: dict = {"setup_s": [], "failures": [], "attempted": 0, "timed_s": 0.0}
    plain: list[list[PassResult]] = []  # untraced timed passes, one list per session
    traced: list[tuple[str, PassResult, dict]] = []
    steal = [0, 0]  # (steal, total) CPU ticks of the host over the timed passes
    n_pass = 0

    def timed_block(spark, queries) -> None:
        """Timed passes in the current session. An untraced run keeps going
        until it has run ``wl.timed_passes / TIMED_SESSIONS`` passes and its
        share of ``cfg.seconds`` has passed, and keeps the last that many
        passes, so every run has the same number of query samples and
        reports the same tail percentile. A traced run alternates untraced
        and traced passes, so the two pass times give the tracing overhead."""
        nonlocal n_pass
        reader = sparkstats.SparkReader(spark)
        block: list[PassResult] = []
        n_traced = len(traced)
        t_start = time.perf_counter()
        steal_start, total_start = cpu_ticks()
        while True:
            if tracer:  # per-layer numbers need no tail percentile
                enough = min(len(block), len(traced) - n_traced) >= 1
            else:
                enough = len(block) >= wl.timed_passes // TIMED_SESSIONS
            if enough and time.perf_counter() - t_start >= cfg.seconds / TIMED_SESSIONS:
                break
            seed_key = f"{cfg.seed}:pass:{n_pass}"
            if tracer and n_pass % 2 == 1:
                tracer.phase = f"pass-{n_pass}"
                tracer.job_counter = reader.job_count
                exec_before = reader.last_execution_id()
                tracer.install()
                try:
                    res = run_pass(spark, queries, seed_key, tracer)
                finally:
                    tracer.restore()
                traced.append((tracer.phase, res, spark_side(reader, tracer, tracer.phase, exec_before)))
            else:
                rss.restart()
                st0, tot0 = cpu_ticks()
                res = run_pass(spark, queries, seed_key)
                rss.sample()
                st1, tot1 = cpu_ticks()
                res.steal_ratio = (st1 - st0) / max(1, tot1 - tot0)
                res.peak_rss_bytes = rss.peak
                block.append(res)
            out["attempted"] += len(res.latencies)
            out["failures"] += res.failures
            n_pass += 1
        steal_end, total_end = cpu_ticks()
        steal[0] += steal_end - steal_start
        steal[1] += total_end - total_start
        out["timed_s"] += time.perf_counter() - t_start
        plain.append(block if tracer else block[-(wl.timed_passes // TIMED_SESSIONS) :])

    spark = None
    queries = inputs = None
    for k in range(SETUPS):
        if tracer:
            tracer.phase = f"setup-{k}"
            tracer.install()
        t0 = time.perf_counter()
        if spark is not None:
            if tracer:
                tracer.job_counter = lambda: None
            _stop_session(spark)
        spark = session.get_spark("perfbench")
        if tracer:
            reader = sparkstats.SparkReader(spark)
            tracer.job_counter = reader.job_count
        catalog.load_all()
        inputs = wl.generate(os.path.join(cfg.work_dir, f"setup_{k}"), cfg.seed)
        queries = wl.queries(inputs)
        warm = run_pass(spark, queries, f"{cfg.seed}:warm:{k}")
        out["setup_s"].append(time.perf_counter() - t0)
        out.setdefault("warmup_latencies", []).append(dict(zip(warm.names, warm.latencies)))
        out["attempted"] += len(warm.latencies)
        out["failures"] += warm.failures
        if tracer:
            tracer.restore()
        if k == 0:
            continue  # the cold session: JVM launch and cold JIT

        if k == 1:
            # Output checks, outside the timed passes; each runs its query
            # once more, so the checks also warm the JIT up.
            t0 = time.perf_counter()
            out["attempted"] += len(queries)
            for q in queries:
                try:
                    q.check(spark)
                except Exception as e:
                    out["failures"].append(f"check {q.name}: {type(e).__name__}: {str(e)[:500]}")
            out["check_s"] = time.perf_counter() - t0

            # Untimed passes while the JIT is still compiling the hot paths.
            # On a shared host the compiler threads lose CPU time to other
            # guests, and the later timing starts, the less that lag shows.
            t0 = time.perf_counter()
            for j in range(wl.warm_passes):
                res = run_pass(spark, queries, f"{cfg.seed}:warm-after:{j}")
                out["attempted"] += len(res.latencies)
                out["failures"] += res.failures
            out["extra_warm_s"] = time.perf_counter() - t0

        timed_block(spark, queries)
    out["input_bytes"] = inputs.input_bytes
    # Share of CPU time the hypervisor gave to other guests while the timed
    # passes ran: the main source of run-to-run spread on a shared host.
    out["host_steal_ratio"] = steal[0] / max(1, steal[1])

    out["env"] = sparkstats.environment(spark)
    out["plain"] = [res for block in plain for res in block]
    out["traced"] = traced
    out["queries"] = [q.name for q in queries]
    if tracer:
        out["setup_spans"] = setup_span_times(tracer)
        cores = spark.sparkContext.defaultParallelism
        out["layers"] = [
            pass_layers([s for s in tracer.spans if s.phase == phase], spark_nums, cores)
            for phase, _, spark_nums in traced
        ]
        out["overhead"] = {
            "plain_pass_s": statistics.median(r.wall_s for r in out["plain"]),
            "traced_pass_s": statistics.median(r.wall_s for _, r, _ in traced),
        }
        if cfg.trace_out:
            tracer.dump(cfg.trace_out)
    rss.stop()
    shutdown(spark)
    return out


def shutdown(spark) -> None:
    """Stop Spark and the JVM, and wait until every child process of
    this one has exited."""
    from pyspark import SparkContext

    _stop_session(spark)
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and len(process_tree(os.getpid())) > 1:
        time.sleep(0.1)
    for pid in process_tree(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for _ in range(50):
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


# ------------------------------------------------------- per-layer metrics


def spark_side(reader: sparkstats.SparkReader, tracer: Tracer, phase: str, exec_before: int) -> dict:
    """Stage, task and operator numbers of one traced pass."""
    reader.drain()
    spans = [s for s in tracer.spans if s.phase == phase]
    sink_stages: list[sparkstats.StageStats] = []
    seen: set[int] = set()
    for s in spans:
        if s.name != "sinks.materialize" or s.job_start is None:
            continue
        for sid in reader.stages_of_jobs(s.job_start, s.job_end):
            if sid in seen:
                continue
            seen.add(sid)
            st = reader.stage(sid)
            if st is not None and st.status in ("COMPLETE", "FAILED"):
                sink_stages.append(st)
    ops = {"exchanges": 0, "python_worker_s": 0.0, "python_mb_sent": 0.0, "python_mb_returned": 0.0}
    for eid in reader.executions_after(exec_before):
        for k, v in reader.execution_operators(eid).items():
            ops[k] += v
    slowest = max(sink_stages, key=lambda st: st.wall_ms, default=None)
    reducer = max(sink_stages, key=lambda st: st.shuffle_read_bytes, default=None)
    q_slow = reader.task_quantiles(slowest) if slowest else None
    q_red = reader.task_quantiles(reducer) if reducer and reducer.shuffle_read_bytes else None
    peak_mem = 0.0
    for st in sorted(sink_stages, key=lambda st: st.run_ms, reverse=True)[:3]:
        q = reader.task_quantiles(st)
        if q:
            peak_mem = max(peak_mem, q["peak_mem_bytes"][1])
    return {
        "jobs": sum(s.jobs for s in spans if s.name == "sinks.materialize"),
        "tasks": sum(st.num_tasks for st in sink_stages),
        "tasks_failed": sum(st.failed_tasks for st in sink_stages),
        "task_run_s": sum(st.run_ms for st in sink_stages) / 1e3,
        "task_cpu_s": sum(st.cpu_ns for st in sink_stages) / 1e9,
        "input_bytes": sum(st.input_bytes for st in sink_stages),
        "output_bytes": sum(st.output_bytes for st in sink_stages),
        "shuffle_write_bytes": sum(st.shuffle_write_bytes for st in sink_stages),
        "spill_bytes": sum(st.spill_bytes for st in sink_stages),
        "peak_exec_mem_bytes": peak_mem,
        "task_skew": _ratio(q_slow["run_ms"]) if q_slow else 0.0,
        "max_reducer_input_ratio": _ratio(q_red["shuffle_read_bytes"]) if q_red else 0.0,
        **ops,
    }


def _ratio(median_max: tuple[float, float]) -> float:
    median, top = median_max
    return top / median if median > 0 else (1.0 if top == 0 else float(top))


def setup_span_times(tracer: Tracer) -> dict[str, list[float]]:
    """Per set-up: the session start, ``catalog.load_all`` and the time
    spent in memo misses. Each set-up starts with an empty memo, so its
    warm-up pass is where the misses happen; timed passes only hit."""
    out: dict[str, list[float]] = {"session.get_spark": [], "catalog.load_all": [], "cache.memo_miss": []}
    for k in range(SETUPS):
        spans = [s for s in tracer.spans if s.phase == f"setup-{k}"]
        for s in spans:
            if s.name in ("session.get_spark", "catalog.load_all") and s.parent is None:
                out[s.name].append(s.duration)
        misses = [s for s in spans if s.name in MEMO_SPANS and not s.attrs.get("hit")]
        out["cache.memo_miss"].append(sum((s.duration for s in misses), 0.0))
    return out


def pass_layers(spans, spark: dict, cores: int) -> dict[str, float]:
    """Per-layer numbers of one traced pass."""
    kids = children_of(spans)

    def of(name):
        return [s for s in spans if s.name == name]

    def total(name):
        return sum((s.duration for s in of(name)), 0.0)

    memo = [s for s in spans if s.name.startswith("cache.memo_")]
    hits = sum(1 for s in memo if s.attrs.get("hit"))
    build = of("plans.build")
    catalyst = of("plans.catalyst")
    root = of("pass")[0]
    materialize_s = total("sinks.materialize")
    input_bytes = spark["input_bytes"]
    return {
        "sources.load_table_calls": len(of("sources.load_table")),
        "sources.load_table_s": total("sources.load_table"),
        "sources.load_table_jobs": sum(s.jobs for s in of("sources.load_table")),
        "sources.read_whole_files_s": total("sources.read_whole_files"),
        "plans.build_s": sum((s.duration for s in build), 0.0),
        "plans.build_self_s": sum((self_time(s, kids.get(s.id, [])) for s in build), 0.0),
        "plans.build_jobs": sum(s.jobs for s in build),
        "plans.analysis_s": sum(s.attrs.get("analysis", 0.0) for s in catalyst),
        "plans.optimization_s": sum(s.attrs.get("optimization", 0.0) for s in catalyst),
        "plans.planning_s": sum(s.attrs.get("planning", 0.0) for s in catalyst),
        "plans.exchanges": spark["exchanges"],
        "cache.memo_calls": len(memo),
        "cache.memo_hit_ratio": hits / len(memo) if memo else 0.0,
        "streaming.drain_s": total("streaming.drain"),
        "streaming.drain_jobs": sum(s.jobs for s in of("streaming.drain")),
        "operators.python_worker_s": spark["python_worker_s"],
        "operators.python_mb_sent": spark["python_mb_sent"],
        "operators.python_mb_returned": spark["python_mb_returned"],
        "sinks.materialize_s": materialize_s,
        "sinks.output_mb": spark["output_bytes"] / sparkstats.MB,
        "sinks.jobs": spark["jobs"],
        "sinks.tasks": spark["tasks"],
        "sinks.task_run_s": spark["task_run_s"],
        "sinks.task_cpu_s": spark["task_cpu_s"],
        "sinks.core_busy_ratio": spark["task_run_s"] / (materialize_s * cores) if materialize_s else 0.0,
        "sinks.shuffle_write_mb": spark["shuffle_write_bytes"] / sparkstats.MB,
        "sinks.replication_rate": spark["shuffle_write_bytes"] / input_bytes if input_bytes else 0.0,
        "sinks.spill_mb": spark["spill_bytes"] / sparkstats.MB,
        "sinks.peak_exec_mem_mb": spark["peak_exec_mem_bytes"] / sparkstats.MB,
        "sinks.task_skew": spark["task_skew"],
        "sinks.max_reducer_input_ratio": spark["max_reducer_input_ratio"],
        "sinks.tasks_failed": spark["tasks_failed"],
        "trace.pass_s": root.duration,
        "trace.unattributed_s": self_time(root, kids.get(root.id, [])),
    }
