"""Run one benchmark workload and print its metrics.

Usage, from the repository root::

    python3 perfbench/run.py --workload etl_zori --seed 1 --seconds 15 --trace 0

Workloads: ``etl_zori`` and ``catalog_sql`` (see ``workloads.py``). One
client runs ops back to back against a ``local[N]`` session, N = the CPUs
this process may use, with the engine's session defaults. The run:

1. generates its inputs from ``--seed`` (not timed);
2. sets up once: launches the JVM, starts a session in it and runs the
   workload's first op; ``setup_s`` is that cold start's time to a first
   result. It is taken once per run because one cold set-up costs 15-25 s
   on 4 cores, and restarting the SparkContext in a JVM that is already
   running would leave out the JVM launch and the cold JIT;
3. runs the workload's untimed warm-up passes, then whole passes (every
   op once, in a seeded order) until ``--seconds`` have gone by, checking
   every op's output outside its timed window.

Each timed op records its wall time and the CPU the engine used for it
(:class:`CpuMeter`). ``pass_cpu_s`` is the CPU of one pass: the sum over
ops of each op's median. CPU, not wall time, is the bounded figure
because the benchmark runs on shared hosts: while the host takes virtual
CPUs away (steal, ``measure_steal_s`` in the record), ops on 4 cores took
up to 2x longer in wall time, and their CPU rose far less. Wall times
(``pass_s``, ``op_s_p50``, ``op_s_tail``) are recorded next to the
metrics.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, taken from traced
passes that alternate with untraced ones so the tracing overhead is
measured in the same process. The line before it records the host, the
phase times, and the figures kept out of the bounded metrics.
Everything the run writes goes to one temporary directory under
``.perfbench_tmp/`` in the checkout, removed at exit, so a run touches
nothing outside the tree it runs from.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
PROBE_ROWS = 50_000_000
_TCK = os.sysconf("SC_CLK_TCK")

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.tables.calls": "count",
    "sources.tables.s": "s",
    "sources.tables.jobs": "count",
    "sources.csv.s": "s",
    "sources.csv.jobs": "count",
    "plans.build_self_s": "s",
    "plans.build_jobs": "count",
    "plans.build_tasks": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.skipped_stages": "count",
    "exec.tasks": "count",
    "exec.tasks_per_stage": "ratio",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.offcpu_s": "s",
    "exec.gc_s": "s",
    "exec.fetch_wait_s": "s",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.input_records": "count",
    "exec.input_scan_ratio": "ratio",
    "materialize.rdds": "count",
    "materialize.bytes": "B",
    "collect.rows": "count",
    "collect.s": "s",
    "sources.sink.s": "s",
    "sources.sink.jobs": "count",
    "sources.sink.files": "count",
    "sources.sink.bytes": "B",
    "sources.sink.bytes_per_row": "B/row",
    "operators.quality.s": "s",
    "operators.quality.jobs": "count",
    "operators.quality.scan_ratio": "ratio",
    "trace.overhead_frac": "ratio",
    "trace.layer_sum_ratio": "ratio",
}
# Per-pass sums that map one-to-one onto a per-layer metric.
_PASS_SUMS = {
    "sources.tables.calls": "sources.tables.calls",
    "sources.tables.s": "sources.tables.s",
    "sources.tables.jobs": "sources.tables.jobs",
    "sources.csv.s": "sources.csv.s",
    "sources.csv.jobs": "sources.csv.jobs",
    "plans.build_self_s": "plans.self_s",
    "plans.build_jobs": "plans.jobs",
    "plans.build_tasks": "plans.tasks",
    "catalyst.analysis_s": "catalyst.analysis_s",
    "catalyst.optimization_s": "catalyst.optimization_s",
    "catalyst.planning_s": "catalyst.planning_s",
    "collect.s": "collect.self_s",
    "sources.sink.s": "sources.sink.s",
    "sources.sink.jobs": "sources.sink.jobs",
    "operators.quality.s": "operators.quality.s",
    "operators.quality.jobs": "operators.quality.jobs",
}


def tail_percentile(n: int) -> int:
    """Highest of p99/p95/p90/p75 with at least 10 samples beyond it, else
    p50 (which needs 20 samples for that, so short runs report the median)."""
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return p
    return 50


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    rank = max(1, -(-p * len(ordered) // 100))
    return ordered[rank - 1]


def _rss_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _proc_stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat file."""
    with open(path, encoding="ascii", errors="replace") as f:
        s = f.read()
    end = s.rindex(")")
    return s[s.index("(") + 1:end], s[end + 2:].split()


class CpuMeter:
    """CPU the engine has used so far: (work, JIT compilation) in seconds.

    Work is this process, the JVM less its JIT compiler threads, and the
    JVM's child processes (the Python workers), living or reaped. Process
    CPU leaves out the time the host takes a virtual CPU away (steal),
    which moves wall time by up to 2x on a shared host. JIT compilation is
    kept apart because it is warm-up work whose timing follows the host.
    """

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        # the JVM ends idle compiler threads; keep what each one used
        self.jit_threads: dict[str, float] = {}

    def read(self) -> tuple[float, float]:
        jvm = self.jvm_pid
        for tid in os.listdir(f"/proc/{jvm}/task"):
            try:
                name, f = _proc_stat(f"/proc/{jvm}/task/{tid}/stat")
            except OSError:
                continue  # the thread ended
            if "CompilerThre" in name:
                self.jit_threads[tid] = (int(f[11]) + int(f[12])) / _TCK
        jit = sum(self.jit_threads.values())
        stats = _process_stats()
        # utime and stime of the JVM's threads, living or ended
        work = sum(os.times()[:2]) + sum(int(x) for x in stats[jvm][11:13]) / _TCK
        for p in _descendants(jvm, stats):
            # utime, stime, and the same of its reaped children
            work += sum(int(x) for x in stats[p][11:15]) / _TCK
        return work - jit, jit


def _process_stats() -> dict[int, list[str]]:
    """pid -> /proc stat fields after the command name, for every process."""
    stats = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                stats[int(p)] = _proc_stat(f"/proc/{p}/stat")[1]
            except OSError:
                continue  # the process ended
    return stats


def _descendants(pid: int, stats: dict[int, list[str]] | None = None) -> list[int]:
    """The living processes below ``pid``."""
    stats = _process_stats() if stats is None else stats
    children: dict[int, list[int]] = {}
    for p, f in stats.items():
        children.setdefault(int(f[1]), []).append(p)
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def _steal_s() -> float:
    """Seconds the host has taken this VM's CPUs away, summed over CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        return int(f.readline().split()[8]) / _TCK


def _isolate(tmp: Path, nproc: int) -> None:
    """Send every file the run writes into ``tmp`` and make the engine
    importable from any working directory, Python workers included."""
    for d in ("tmp", "local"):
        (tmp / d).mkdir()
    os.environ["TMPDIR"] = str(tmp / "tmp")
    tempfile.tempdir = str(tmp / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
    )
    # the engine sizes shuffle partitions from this, as the test suite does
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    sys.path.insert(0, str(REPO))
    os.chdir(tmp)  # the JVM's stray files (derby.log, metastore) land here


def _start_session(tmp: Path, nproc: int):
    from rentals_data_pipeline_spark.session import create_spark_session

    spark = create_spark_session(
        "perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp / 'tmp'} -Dderby.system.home={tmp}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _host(spark, nproc: int) -> dict:
    import duckdb

    # bench.py's fixed shuffle-free probe, sized for a short run
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, PROBE_ROWS, 1, nproc).selectExpr("sum(id * 2) AS s").collect()
        walls.append(time.perf_counter() - t0)
    return {
        "nproc": nproc,
        "spark": spark.version,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "probe_spark_agg_s": statistics.median(walls[1:]),
        "probe_rows": PROBE_ROWS,
    }


class Runner:
    """Runs and checks ops, keeping what the metrics are computed from."""

    def __init__(self, workload, spark):
        self.wl = workload
        self.spark = spark
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.op_index = 0
        self.check_s = 0.0
        self.meter = CpuMeter(_jvm_pid())
        self.cpu = (0.0, 0.0)  # (work, JIT) CPU seconds of the last op

    def run_op(self, op: str, traced: bool) -> tuple[float, int, dict | None]:
        """Run, time and check one op: (wall seconds, rows written, layers)."""
        from workloads import instrumented

        self.op_index += 1
        tracer = self.tracer if traced else None
        result, error, layers = None, None, None
        if tracer is not None:
            tracer.op = self.op_index
            first_rdd = tracer.next_rdd_id()
        cpu0 = self.meter.read()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                result = self.wl.run(self.spark, op)
            else:
                with instrumented(tracer):
                    result = self.wl.run(self.spark, op, tracer)
        except Exception:  # noqa: BLE001 - a failed op is counted
            error = traceback.format_exc()
        wall = time.perf_counter() - t0
        cpu1 = self.meter.read()
        self.cpu = (cpu1[0] - cpu0[0], cpu1[1] - cpu0[1])
        if tracer is not None and error is None:
            layers = self._layers(tracer, op, result, first_rdd)
        if error is None:
            t_check = time.perf_counter()
            try:
                error = self.wl.check(op, result)
            except Exception:  # noqa: BLE001 - a failed check is counted
                error = traceback.format_exc()
            self.check_s += time.perf_counter() - t_check
        self.attempted += 1
        if error is not None:
            self.failed += 1
            print(f"FAIL {self.wl.name}/{op}: {error}", file=sys.stderr)
            return wall, 0, layers
        return wall, self.wl.written_rows(result), layers

    def _layers(self, tracer, op, result, first_rdd) -> dict:
        from spans import op_counters

        spans = [s for s in tracer.spans if s.op == self.op_index]
        tracer.collect_jobs([s for s in spans if s.layer != "catalyst"])
        spans = [s for s in tracer.spans if s.op == self.op_index]
        c = op_counters(spans)
        loaded = {s.name for s in spans if s.layer == "sources.tables"}
        c["source_rows"] = self.wl.source_rows(loaded)
        c["materialize.rdds"], c["materialize.bytes"] = tracer.new_rdds(first_rdd)
        c["collect.rows"] = self.wl.collected_rows(result)
        files, size = self.wl.written_files(result)
        c["sources.sink.files"], c["sources.sink.bytes"] = files, size
        c["rows_written"] = self.wl.written_rows(result)
        print(json.dumps({"op": op, "layers": c}), file=sys.stderr)
        return c


def _pass_layers(ops: list[dict]) -> dict[str, float]:
    """Per-layer metrics of one traced pass from its ops' counters."""
    tot: dict[str, float] = {}
    for c in ops:
        for k, v in c.items():
            tot[k] = tot.get(k, 0.0) + v
    g = lambda k: tot.get(k, 0.0)  # noqa: E731
    out = {name: g(key) for name, key in _PASS_SUMS.items()}
    for k in ("jobs", "stages", "skipped_stages", "tasks", "run_s", "cpu_s",
              "gc_s", "fetch_wait_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "input_records"):
        out[f"exec.{k}"] = g(f"exec.{k}")
    out["exec.tasks_per_stage"] = g("exec.tasks") / max(1.0, g("exec.stages"))
    out["exec.offcpu_s"] = g("exec.run_s") - g("exec.cpu_s")
    out["exec.input_scan_ratio"] = g("exec.input_records") / max(1.0, g("source_rows"))
    out["materialize.rdds"] = g("materialize.rdds")
    out["materialize.bytes"] = g("materialize.bytes")
    out["collect.rows"] = g("collect.rows")
    out["sources.sink.files"] = g("sources.sink.files")
    out["sources.sink.bytes"] = g("sources.sink.bytes")
    out["sources.sink.bytes_per_row"] = g("sources.sink.bytes") / max(1.0, g("rows_written"))
    out["operators.quality.scan_ratio"] = (
        g("operators.quality.input_records") / max(1.0, g("rows_written"))
    )
    return out


def measure(args, tmp: Path, nproc: int) -> tuple[dict, dict, int, int]:
    import workloads
    from spans import Tracer

    wl = workloads.WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    wl.prepare(str(tmp), args.seed)
    phases = {"prepare_s": time.perf_counter() - t0}
    rng = random.Random(args.seed)

    spark, runner = None, None
    try:
        t0 = time.perf_counter()
        spark = _start_session(tmp, nproc)
        start_s = time.perf_counter() - t0
        runner = Runner(wl, spark)
        setup_s = start_s + runner.run_op(wl.first_op, False)[0]
        phases["warmup_passes_s"] = [
            sum(runner.run_op(op, False)[0] for op in wl.pass_ops(rng))
            for _ in range(wl.warmup_passes)
        ]
        runner.tracer = Tracer(spark) if args.trace else None
        plain, traced_ops, traced_passes, traced_layers = [], [], [], []
        plain_passes, rows = [], {}
        steal0 = _steal_s()
        t_measure = time.perf_counter()
        deadline = t_measure + args.seconds
        traced = False
        while True:
            walls, layers = [], []
            for op in wl.pass_ops(rng):
                wall, out_rows, op_layers = runner.run_op(op, traced)
                walls.append(wall)
                if not traced:
                    plain.append((op, wall, *runner.cpu))
                    rows[op] = out_rows
                elif op_layers is not None:
                    layers.append(op_layers)
                    traced_ops.append((op, op_layers["self_s"]))
            (traced_passes if traced else plain_passes).append(sum(walls))
            if traced:
                traced_layers.append(_pass_layers(layers))
            if time.perf_counter() >= deadline and plain_passes and (
                traced_passes or not args.trace
            ):
                break
            traced = bool(args.trace) and not traced
        phases["measure_s"] = time.perf_counter() - t_measure
        phases["measure_steal_s"] = _steal_s() - steal0
        host = _host(spark, nproc)
    finally:
        jvm_pid = _jvm_pid()
        jvm_mb = _rss_hwm_mb(jvm_pid) if jvm_pid else 0.0
        if args.trace_out and runner is not None and runner.tracer is not None:
            runner.tracer.dump(args.trace_out)
        if spark is not None:
            _stop_jvm(spark)
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

    op_walls = [w for _, w, _, _ in plain]
    by_op: dict[str, list[tuple[float, float, float]]] = {}
    for op, *m in plain:
        by_op.setdefault(op, []).append(m)

    def pass_sum(i: int) -> float:
        """A pass runs every op once: the sum of the per-op medians."""
        return sum(statistics.median(m[i] for m in ms) for ms in by_op.values())

    op_median = {op: statistics.median(m[0] for m in ms) for op, ms in by_op.items()}
    tail_p = tail_percentile(len(op_walls))
    summary = {
        "host": host,
        "phases": phases,
        "check_s": runner.check_s,
        "op_s_tail": {
            "value": percentile(op_walls, tail_p), "percentile": tail_p,
            "n": len(op_walls),
        },
        "ops": len(op_walls),
        # wall time, in which host steal shows (measure_steal_s)
        "pass_s": pass_sum(0),
        "op_s_p50": statistics.median(op_walls),
        "jit_cpu_s": pass_sum(2),
        # per timed op: [wall, work CPU, JIT CPU] seconds
        "op_s": {op: [[round(x, 4) for x in m] for m in ms] for op, ms in by_op.items()},
        # JVM high-water RSS swings up to 1.5x between runs of one workload,
        # e.g. 1.5-2.3 GB on the ETL and 3.0-4.4 GB on the query mix (heap
        # growth under the engine's 8g heap is the GC's choice), too wide
        # to bound, so it is recorded here and not as a metric
        "peak_rss_mb": jvm_mb + py_mb,
        "complete_passes": {"untraced": len(plain_passes), "traced": len(traced_passes)},
        "failed_frac": runner.failed / max(1, runner.attempted),
    }
    if sum(rows.values()):
        # rows written per second of op time: a constant (the seeded
        # input) over pass_s, so it is recorded here and not bounded
        summary["rows_per_s"] = sum(rows.values()) / summary["pass_s"]
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "pass_cpu_s": pass_sum(1),
        }
        units = END_TO_END
    else:
        metrics = {
            k: statistics.median(p[k] for p in traced_layers)
            for k in traced_layers[0]
        }
        metrics["session.start_s"] = start_s
        metrics["trace.overhead_frac"] = (
            statistics.median(traced_passes) / statistics.median(plain_passes) - 1
        )
        metrics["trace.layer_sum_ratio"] = statistics.median(
            self_s / op_median[op] for op, self_s in traced_ops if op in op_median
        )
        units = PER_LAYER
    record = {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()}
    return record, summary, runner.attempted, runner.failed


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # so the run's temp directory is removed


def main(argv: list[str] | None = None) -> int:
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("etl_zori", "catalog_sql"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", help="write the spans of --trace 1 here as JSONL")
    args = ap.parse_args(argv)
    if args.trace_out:
        args.trace_out = os.path.abspath(args.trace_out)

    engine = REPO / "rentals_data_pipeline_spark" / "__init__.py"
    oracle = REPO / "tools" / "check_oracle.py"
    if not (engine.is_file() and oracle.is_file()):
        print(f"engine sources not found next to {HERE.name}/", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    runs_dir = REPO / ".perfbench_tmp"
    runs_dir.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs_dir))
    try:
        _isolate(tmp, nproc)
        record, summary, attempted, failed = measure(args, tmp, nproc)
    finally:
        os.chdir(REPO)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            runs_dir.rmdir()
        except OSError:
            pass  # another run still uses it
    print(json.dumps(summary))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": record,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
