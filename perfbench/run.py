"""Benchmark entry point.

    python3 perfbench/run.py --workload tpch_sql --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from ``--seed``, builds a Spark session at
``local[<usable cores>]`` in an isolated per-run directory, and drives one
closed-loop client (the next op is issued when the previous result is in)
for at least ``--seconds`` and whole passes of at least ``stats.MIN_OPS``
ops. Every op's result is checked against its DuckDB oracle. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``).

``--trace 1`` alternates untraced and traced ops. Per-layer numbers come
from the traced ops; ``overhead.<metric>`` is traced minus untraced.
Spans are written to ``.bench_build/perfbench/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.trace import PLAN_COUNTS, Tracer  # noqa: E402

START = time.perf_counter()
SETUPS = 3  # set-ups per run (5 when traced); setup_s is their median
HARD_STOP_S = 150.0  # stop measuring past this much run time, whatever the op count

E2E = ("setup_s", "ok_op_ratio", "peak_rss_mb", "op_p50_ms", "op_tail_ms", "ops_per_s")


class RssSampler:
    """Peak resident memory of the JVM and the Python workers it forks,
    sampled from /proc every 100 ms, kept per mode (untraced, traced)."""

    def __init__(self) -> None:
        self.peak_mb = {False: 0.0, True: 0.0}
        self.traced = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(0.1):
            mb = _engine_rss_mb(me)
            self.peak_mb[self.traced] = max(self.peak_mb[self.traced], mb)


# The processes that make up the engine: the Spark JVM (this process's own
# child) and PySpark's worker daemon with its forks. A helper the JVM spawns
# for a file-system call shows the JVM's command line and pages until it
# execs, so a JVM-looking process whose parent is not this one is skipped.
_JVM = b"org.apache.spark.deploy.SparkSubmit"
_WORKERS = b"pyspark.daemon"


def _engine_rss_mb(root: int) -> float:
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parent[int(d)] = int(fields[1])
            rss[int(d)] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            continue  # the process ended between listing and reading
    total = 0
    for pid in rss:
        p = parent.get(pid)
        while p and p != root:
            p = parent.get(p)
        if p != root:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if (_JVM in cmd and parent[pid] == root) or _WORKERS in cmd:
            total += rss[pid]
    return total / 2**20



def _isolate(run_dir: str) -> dict[str, str]:
    """Point every scratch location of Spark, the JVM, Python and the
    program at ``run_dir``; returns the Spark confs that carry it."""
    for sub in ("tmp", "jtmp", "local", "warehouse", "duck"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem = f"{max(1024, min(3072, mem_mb // 4))}m"
    os.environ.update(
        {
            "TMPDIR": f"{run_dir}/tmp",
            "SPARK_LOCAL_DIRS": f"{run_dir}/local",
            "SPARK_GRAFT_WAREHOUSE": f"{run_dir}/warehouse",
            "SPARK_GRAFT_CPUS": str(cpus),
            # a heap well below physical memory: the host is shared
            "SPARK_GRAFT_DRIVER_MEM": mem,
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{run_dir}/local",
        "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
        "spark.driver.extraJavaOptions": (
            # the whole heap from the start: RSS then tracks what the
            # program touches, not when the JVM chose to grow the heap
            f"-Xms{mem} -Djava.io.tmpdir={run_dir}/jtmp -XX:-UsePerfData"
        ),
    }


class ExecProbe:
    """Counts of the exec layer for one traced op: jobs, stages and tasks
    from the status tracker (by job group) and JVM GC time. The executed
    plan's metrics are read where the result is collected."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.gc_beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def _gc_ms(self) -> int:
        return sum(self.gc_beans.get(i).getCollectionTime() for i in range(self.gc_beans.size()))

    def begin(self, group: str) -> None:
        self.group = group
        self.sc.setJobGroup(group, group)
        self.gc0 = self._gc_ms()

    def end(self) -> None:
        t = self.tracer
        t.count("exec.gc_ms", self._gc_ms() - self.gc0)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(self.group)
        t.count("exec.jobs", len(jobs))
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = tracker.getStageInfo(s)
                if st:
                    t.count("exec.stages", 1)
                    t.count("exec.tasks", st.numTasks)
                    t.count("exec.failed_tasks", st.numFailedTasks)
        self.sc.setJobGroup(None, None)


def _summary(log: stats.OpLog, setups: list[float], peak_mb: float) -> dict[str, float]:
    out = log.summary()
    out["setup_s"] = statistics.median(setups)
    out["peak_rss_mb"] = peak_mb
    return out


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _finite(v: float) -> float:
    # JSON has no infinity; a failed op's +inf latency prints as the
    # largest double, which any bound reads as a regression
    return v if math.isfinite(v) else sys.float_info.max


def _measure(args, spark, workload, tracer, rss, logs, keys, errors) -> None:
    """The closed loop: one op at a time, whole passes in seeded order,
    until ``--seconds`` have passed and there are ``stats.MIN_OPS`` ops.
    Whole passes keep each run's mix of ops the same.

    A fixed warm-up op runs first (mode None: checked and counted as
    attempted, but not measured). A traced run alternates
    untraced and traced ops as U T T U ..., so both modes see the same
    average JVM age, and stops once each mode has a tail
    (``2 * stats.TAIL_BEYOND`` ops)."""
    probe = ExecProbe(spark, tracer)
    modes = (False, True) if args.trace else (False,)
    n = 0  # ops issued, warm-up included

    def issue(op, mode) -> None:
        nonlocal n
        traced = mode is True
        tracer.op = n
        tracer.enabled = rss.traced = traced
        if traced:
            probe.begin(f"perfbench-op{n}")
        ok, result = True, None
        t0 = time.perf_counter()
        try:
            with tracer.span(f"client.{op.name}"):
                result = op.fn()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            ok = False
            errors.append(f"FAIL {op.key}: raised {type(exc).__name__}: {str(exc)[:300]}")
        elapsed = time.perf_counter() - t0
        if traced:
            probe.end()
        tracer.enabled = False  # the result check is not part of the op
        fp = None
        if ok:
            try:
                fp = op.capture(result)
            except Exception as exc:  # noqa: BLE001
                ok = False
                errors.append(f"FAIL {op.key}: result check raised {type(exc).__name__}: {exc}")
        logs[mode].add(op.name, elapsed, ok)
        tag = {None: " warm-up", False: "", True: " traced"}[mode]
        _log(f"op {n} {op.key} {elapsed * 1e3:.0f} ms{'' if ok else ' FAILED'}{tag}")
        keys.append((mode, logs[mode].attempted - 1, op.key, fp))
        spark.catalog.clearCache()
        n += 1

    for op in workload.warmup(spark):
        issue(op, None)
    deadline = time.perf_counter() + args.seconds

    need = 2 * stats.TAIL_BEYOND if args.trace else stats.MIN_OPS

    def done() -> bool:
        return time.perf_counter() >= deadline and all(logs[m].attempted >= need for m in modes)

    measured = 0
    for pass_no, ops in enumerate(workload.passes(spark)):
        for op in ops:
            # shifted each pass, so an op at a fixed place in the pass is
            # traced in some pass even when the pass length is a multiple of 4
            issue(op, bool(args.trace) and (measured + pass_no) % 4 in (1, 2))
            measured += 1
            if time.perf_counter() - START > HARD_STOP_S:
                return
        if done():
            return


def run(args, run_dir: str) -> dict:
    from datafusion_distributed_experiment_spark import session as dde_session

    from perfbench.workloads import WORKLOADS

    _log("started")
    conf = _isolate(run_dir)
    tracer = Tracer()
    if args.trace:
        tracer.install()
    workload = WORKLOADS[args.workload](args.seed, run_dir, tracer)
    rss = RssSampler()
    rss.start()

    # Inputs and their oracle answers are made while the JVM starts: the
    # first set-up (cold JVM) is always the slowest of the run, so the
    # median setup_s never includes this overlap.
    generated = threading.Event()
    failures: list[BaseException] = []

    def prepare() -> None:
        try:
            workload.prepare()
            generated.set()
            _log("inputs generated")
            workload.precompute()
            _log("oracles computed")
        except BaseException as exc:  # re-raised on the main thread
            failures.append(exc)
            generated.set()

    pre = threading.Thread(target=prepare)
    pre.start()
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    setups: dict[bool, list[float]] = {False: [], True: []}
    spark = None
    # a traced run alternates untraced and traced set-ups as it does ops;
    # the first (cold JVM) is untraced and never the median
    for i in range(SETUPS + 2 * args.trace):
        traced = bool(args.trace) and i % 2 == 1
        if spark is not None:
            spark.stop()
        tracer.enabled = rss.traced = traced
        t0 = time.perf_counter()
        spark = dde_session.build_session(
            app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf
        )
        spark.sparkContext.setLogLevel("ERROR")
        if i == 0:
            generated.wait()
            if failures:
                raise failures[0]
        workload.register(spark)
        setups[traced].append(time.perf_counter() - t0)
        if i == 0:
            pre.join()
            if failures:
                raise failures[0]
            inputs = {k: v for k, v in workload.inputs.items() if k != "injected_pairs"}
            print("inputs: " + json.dumps(inputs), flush=True)
    tracer.enabled = rss.traced = False
    _log(f"set-ups done: {', '.join(f'{t:.2f}s' for t in setups[False] + setups[True])}")

    logs = {None: stats.OpLog(), False: stats.OpLog(), True: stats.OpLog()}
    keys: list[tuple[bool | None, int, str, str | None]] = []  # (mode, index, key, fingerprint)
    errors: list[str] = []
    start = time.perf_counter()
    _measure(args, spark, workload, tracer, rss, logs, keys, errors)
    measured_s = time.perf_counter() - start
    tracer.enabled = rss.traced = False
    rss.stop()
    spark.stop()
    _log(f"measured {measured_s:.1f}s")

    # outputs: each distinct (op, input) against its oracle, once
    expected: dict[str, str | None] = {}
    for mode, i, key, fp in keys:
        if not logs[mode].ok[i]:
            continue
        if key not in expected:
            expected[key] = workload.expected(key)
        if expected[key] is not None and fp != expected[key]:
            logs[mode].ok[i] = False
            errors.append(f"FAIL {key}: result {fp} != oracle {expected[key]}")
    workload.close()
    _log("outputs checked")

    attempted = sum(l.attempted for l in logs.values())
    failed = sum(l.failed for l in logs.values())
    checked = sum(v is not None for v in expected.values())
    print(
        f"check: {attempted} ops, {checked} distinct (op, input) checked against "
        f"DuckDB oracles, {failed} failed; measured {measured_s:.1f}s",
        flush=True,
    )
    for e in errors:
        print(e, flush=True)

    base = _summary(logs[False], setups[False], rss.peak_mb[False])
    if not args.trace:
        metrics = {k: base[k] for k in E2E}
        units = {k: UNITS[k] for k in E2E}
    else:
        traced = _summary(logs[True], setups[True], rss.peak_mb[True])
        metrics = _per_layer(tracer, workload, logs[True].attempted)
        for k in E2E:
            metrics[f"overhead.{k}"] = traced[k] - base[k]
        units = {k: _layer_unit(k) for k in metrics}
        os.makedirs(os.path.join(ROOT, ".bench_build", "perfbench"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".bench_build", "perfbench", f"spans-{args.workload}-{args.seed}.json"))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": _finite(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return result


UNITS = {
    "setup_s": "s",
    "ok_op_ratio": "ratio",
    "peak_rss_mb": "MB",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "ops_per_s": "1/s",
}

def _per_layer(tracer: Tracer, workload, traced_ops: int) -> dict[str, float]:
    per_op = max(1, traced_ops)
    m: dict[str, float] = {
        "session.build_s": tracer.mean_ms("session.build_session") / 1e3,
        "engine.register_ms": tracer.mean_ms("engine.register_parquet"),
        "engine.sql_ms": tracer.mean_ms("engine.sql"),
        "engine.sql_calls": tracer.calls("engine.sql") / per_op,
        "plans.plan_ms": tracer.mean_ms("plans.stage_summary"),
    }
    for k in PLAN_COUNTS:
        m[f"plans.{k}"] = tracer.counts.get(f"plans.{k}", 0.0) / per_op
    m["sources.read_table_ms"] = tracer.mean_ms("sources.read_parquet_table", "sources.probe_ts_type")
    m["sources.write_ms"] = tracer.mean_ms("sources.write_parquet", "sources.overwrite_partitions")
    m["sources.drop_ms"] = tracer.mean_ms("sources.drop_partition_dirs")
    for k in ("sources.bytes_written_per_input_byte", "sources.files_written_per_cycle", "sources.table_files"):
        v = workload.counters.get(k, [])
        m[k] = statistics.median(v) if v else 0.0
    for mod, fn in (
        ("text", "quality_score"),
        ("dedup", "dedup_exact"),
        ("dedup", "minhash_dedup_pairs"),
        ("curation", "chunk_documents"),
        ("pipeline", "corpus_pipeline"),
        ("similarity", "embedding_topk"),
    ):
        m[f"operators.{mod}.{fn}_ms"] = tracer.mean_ms(f"operators.{mod}.{fn}")
    v = workload.counters.get("operators.dedup.pairs_per_injected_dup", [])
    m["operators.dedup.pairs_per_injected_dup"] = statistics.median(v) if v else 0.0
    m["streaming.read_stream_ms"] = tracer.mean_ms("streaming.read_events_stream")
    m["streaming.drain_ms"] = tracer.mean_ms("streaming.run_to_completion")
    m["exec.collect_ms"] = tracer.mean_ms("exec.collect")
    for k in (
        "exec.jobs",
        "exec.stages",
        "exec.tasks",
        "exec.failed_tasks",
        "exec.shuffle_records_written",
        "exec.spill_bytes",
        "exec.files_scanned",
        "exec.rows_out",
        "exec.gc_ms",
    ):
        m[k] = tracer.counts.get(k, 0.0) / per_op
    self_ms = tracer.self_ms()
    # session is only called in set-up (see session.build_s); "trace" is the
    # tracer's own work inside ops (reading executed-plan metrics)
    layers = ("client", "engine", "plans", "sources", "operators", "streaming", "exec", "trace")
    for layer in layers:
        m[f"self_ms.{layer}"] = self_ms.get(layer, 0.0) / per_op
    return m


def _layer_unit(name: str) -> str:
    if name.startswith("overhead."):
        return UNITS[name.split(".", 1)[1]]
    if name.endswith("_ms") or name.startswith("self_ms."):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_per_input_byte", "_per_injected_dup")):
        return "ratio"
    return "count"


def _stop_jvm() -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=base)
    try:
        result = run(args, run_dir)
    finally:
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result, allow_nan=False), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
