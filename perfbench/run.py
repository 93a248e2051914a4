"""The repo benchmark: one command, closed-loop workloads.

    python3 perfbench/run.py --workload curation_tail --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed``
under ``.perfbench_work/`` in the checkout, which also holds Spark's
scratch files; nothing outside the checkout is read or written.  The
engine runs on ``local[nproc]`` with an explicit driver heap, from a
single client: the next operation starts when the previous one returns.

A run is: set up several times (import the package, start the session,
register the inputs) and keep the median; one unmeasured warm-up pass;
the measured passes, whose count is fixed by ``--seconds`` (with one
more when the host steals CPU, see ``Run.measure``); the output
checks; then two JSON lines on stdout.  The first holds the run
environment, sample counts and host canaries; the last holds
``correct``, ``attempted``, ``failed`` and the metrics: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

A traced run repeats the measured passes on a second session that writes
Spark's event log, tags every public call with a job group, and folds
the log into per-layer figures (``perfbench/eventlog.py``).  Its
``trace.overhead_s`` is traced minus untraced ``pass_s``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
from eventlog import GroupStats, event_log_files, read_groups, union_length  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DRIVER_MEMORY = "2g"  # the engine's default of 16g is sized for local[32]
SHUFFLE_PARTITIONS = 32  # the engine's default; AQE coalesces
SETUPS = 3
# measured passes per 10 s of --seconds: a count fixed by --seconds alone,
# so every run of a workload reports the same operations (a warm pass takes
# about 12 s, 8.5 s and 5.5 s on 4 cores)
PASSES_PER_10S = {"analytics_headline": 1, "curation_tail": 3, "elt_merge": 3}
STEAL_OK = 0.05
EXTRA_PASSES = 1


class Op:
    """One operation: the public calls it made and what it produced."""

    def __init__(self, run: Run, p: int, name: str):
        self.run, self.p, self.name = run, p, name
        self.walls: dict[str, float] = {}
        self.calls: list[tuple[str, str, float, float]] = []  # phase, group, t0, t1
        self.failed = False
        self.rows = 0
        self.latency_s = self.read_s = None
        self.skipped = self.loaded_bytes = 0

    def call(self, phase: str, fn):
        group = f"{phase}|{self.p}|{self.name}"
        self.run.sc.setJobGroup(group, group)
        t0, c0 = time.time(), time.perf_counter()
        try:
            return fn()
        finally:
            wall = time.perf_counter() - c0
            self.walls[phase] = self.walls.get(phase, 0.0) + wall
            self.calls.append((phase, group, t0, t0 + wall))
            self.run.sc.setJobGroup("idle", "idle")

    def __enter__(self) -> Op:
        return self

    def __exit__(self, kind, exc, tb) -> bool:
        if self.latency_s is None:
            self.latency_s = sum(self.walls.values())
        if self.read_s is None:
            self.read_s = self.latency_s
        if exc is not None and isinstance(exc, Exception):
            self.failed = True
            print(f"# op {self.name} failed: {type(exc).__name__}: {exc}", file=sys.stderr)
        self.run.ops.append(self)
        return self.failed


class Run:
    """The passes made on one Spark session and the operations they made."""

    def __init__(self, spark, workload):
        self.spark, self.sc, self.workload = spark, spark.sparkContext, workload
        self.ops: list[Op] = []
        self.walls: dict[int, float] = {}  # pass -> wall seconds
        self.steal: dict[int, float] = {}  # pass -> share of CPU time stolen
        self.kept: list[int] = []  # the measured passes the metrics use

    def op(self, p: int, name: str) -> Op:
        return Op(self, p, name)

    def passes(self, first: int, count: int, collect: bool = False) -> None:
        for p in range(first, first + count):
            self.workload.begin_pass(p)
            j0, t0 = host.cpu_jiffies(), time.perf_counter()
            self.workload.run_pass(self, p, collect)
            self.walls[p] = time.perf_counter() - t0
            total, steal = (b - a for a, b in zip(j0, host.cpu_jiffies()))
            self.steal[p] = steal / total if total else 0.0

    def measure(self, first: int, n: int) -> None:
        """Run ``n`` passes from pass ``first`` and keep them, unless the
        hypervisor stole more than ``STEAL_OK`` of the CPU during one: then
        run up to ``EXTRA_PASSES`` more and keep the ``n`` least disturbed.
        Steal slows every timing of a pass, whatever the program does."""
        self.passes(first, n)
        while True:
            calm = sorted((p for p in self.walls if p >= first), key=self.steal.get)
            if self.steal[calm[n - 1]] <= STEAL_OK or len(calm) == n + EXTRA_PASSES:
                break
            self.passes(max(self.walls) + 1, 1)
        self.kept = sorted(calm[:n])

    def kept_walls(self) -> list[float]:
        return [self.walls[p] for p in self.kept]

    def measured(self) -> list[Op]:
        return [o for o in self.ops if o.p in self.kept]


# ------------------------------------------------------------------ setup
def configure_env(work: str) -> dict[str, str]:
    """Keep every file inside the checkout and pin the core count and heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # Python workers import the engine; they must find it from any cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the engine's tuning knobs run at their defaults
    for knob in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[knob]
    os.environ["SPARK_GRAFT_CPUS"] = str(host.cpu_count())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    return {
        # a fixed, pre-touched heap: peak RSS then measures what grows
        # outside it instead of when the collector chose to expand it
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(workload, conf: dict[str, str]):
    """``get_spark`` plus input registration; returns (spark, start_s, register_s)."""
    from verified_sources_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", master=f"local[{host.cpu_count()}]",
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    workload.register(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm() -> None:
    """Stop Spark and wait until the JVM and its Python workers have exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while host.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in host.descendants(os.getpid()):
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)


# ---------------------------------------------------------------- metrics
def tail(values: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least 10 samples beyond it
    (the median when there are fewer than 20 samples)."""
    import numpy as np

    n = len(values)
    pct = max(50, int(100 * (1 - 10 / n))) if n else 50
    return float(np.percentile(values, pct)), pct


def end_to_end(run: Run, setup_s: float, peak_rss: int) -> dict:
    ops = run.measured()
    lat = [o.latency_s for o in ops if not o.failed]
    reads = [o.read_s for o in ops if not o.failed]
    passes = run.kept_walls()
    tail_s, pct = tail(lat)
    metrics = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_s,
        "pass_s": statistics.median(passes),
        # rows each operation produced (result rows, or change rows
        # applied by a load) per second of operation latency
        "rows_per_s": sum(o.rows for o in ops if not o.failed) / sum(lat),
        "read_p50_s": statistics.median(reads),
        "peak_rss_mb": peak_rss / 2**20,
    }
    by_name: dict[str, list[float]] = {}
    for o in ops:
        by_name.setdefault(o.name, []).append(o.latency_s)
    samples = {
        "op_p50_s": len(lat), "op_tail_s": len(lat), "op_tail_percentile": pct,
        "pass_s": len(passes), "read_p50_s": len(reads), "setup_s": SETUPS,
        "pass_walls_s": run.walls,
        "pass_cpu_steal_share": run.steal,
        "kept_passes": run.kept,
        "op_p50_by_name_s": {n: statistics.median(v) for n, v in by_name.items()},
    }
    return metrics, samples


def per_layer(run: Run, groups: dict[str, GroupStats], cores: int,
              extra: dict) -> tuple[dict, dict]:
    """Per-pass medians of the layer figures, plus per-entry records."""
    ops = run.measured()
    by_pass: dict[int, list[Op]] = {}
    for o in ops:
        by_pass.setdefault(o.p, []).append(o)

    def stats(o: Op, phases=None) -> GroupStats:
        out = GroupStats()
        for phase, group, t0, t1 in o.calls:
            if phases and phase not in phases:
                continue
            if group in groups:
                out.add(groups[group], t0, t1)
        return out

    rows = []
    for p, pops in sorted(by_pass.items()):
        allg = [stats(o) for o in pops]
        span = sum(union_length(g.spans) for g in allg)
        wall = sum(sum(o.walls.values()) for o in pops)
        build = [stats(o, {"build"}) for o in pops]
        exe = [stats(o, {"exec"}) for o in pops]
        load = [stats(o, {"load"}) for o in pops]
        task_s = sum(g.task_s for g in allg)
        changed = sum(o.rows for o in pops if "load" in o.walls)
        loaded = sum(o.loaded_bytes for o in pops)
        rows.append({
            "plans.queries.build_s": sum(o.walls.get("build", 0.0) for o in pops),
            "plans.queries.build_jobs": sum(g.jobs for g in build),
            "exec.exec_s": sum(o.walls.get("exec", 0.0) for o in pops),
            "exec.jobs": sum(g.jobs for g in exe),
            "exec.stages": sum(g.stages for g in exe),
            "exec.tasks": sum(g.tasks for g in exe),
            "spark.job_span_s": span,
            "spark.driver_gap_s": wall - span,
            "spark.task_s": task_s,
            "spark.task_cpu_s": sum(g.task_cpu_s for g in allg),
            "spark.gc_s": sum(g.gc_s for g in allg),
            "spark.core_util": task_s / (span * cores) if span else 0.0,
            "spark.failed_tasks": sum(g.failed_tasks for g in allg),
            "spark.shuffle_write_bytes": sum(g.shuffle_write_bytes for g in allg),
            "spark.shuffle_read_bytes": sum(g.shuffle_read_bytes for g in allg),
            "spark.spill_bytes": sum(g.spill_bytes for g in allg),
            "llm.python_task_s": sum(g.python_task_s for g in allg),
            "llm.python_stages": sum(g.python_stages for g in allg),
            "cut.jobs": sum(g.cut_jobs for g in allg),
            "cut.task_s": sum(g.cut_task_s for g in allg),
            "pipeline.load_jobs": sum(g.jobs for g in load),
            "operators.merge.write_task_s": sum(g.write_task_s for g in allg),
            "operators.merge.rows_written_per_row_changed":
                sum(g.records_written for g in load) / changed if changed else 0.0,
            "operators.merge.bytes_written_per_byte_loaded":
                sum(g.bytes_written for g in load) / loaded if loaded else 0.0,
            "operators.incremental.rows_skipped": sum(o.skipped for o in pops),
        })
    layer = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    layer.update(extra)

    entries: dict[str, dict] = {}
    for o in ops:
        e = entries.setdefault(o.name, {k: [] for k in (
            "build_s", "exec_s", "build_jobs", "exec_jobs", "python_task_s", "cut_jobs")})
        whole = stats(o)
        e["build_s"].append(o.walls.get("build", 0.0))
        e["exec_s"].append(o.walls.get("exec", 0.0) + o.walls.get("load", 0.0))
        e["build_jobs"].append(stats(o, {"build"}).jobs)
        e["exec_jobs"].append(stats(o, {"exec", "load"}).jobs)
        e["python_task_s"].append(whole.python_task_s)
        e["cut_jobs"].append(whole.cut_jobs)
    entries = {n: {k: statistics.median(v) for k, v in e.items()} for n, e in entries.items()}
    return layer, entries


def with_units(values: dict[str, float], trace: int) -> dict[str, dict]:
    """Attach units from ``BENCHMARK.json``, the one list of metrics; the
    run must produce exactly the metrics listed for its mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    if set(units) != set(values):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(units) ^ set(values)}")
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


# ------------------------------------------------------------------- main
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def set_up(workload, conf: dict[str, str]):
    """Import the engine once, then start a session and register the inputs
    ``SETUPS`` times; returns the last session and the timings."""
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    import verified_sources_spark.pipeline
    import verified_sources_spark.plans.queries  # noqa: F401

    if not os.path.abspath(verified_sources_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"the engine must come from this checkout ({ROOT})")
    import_s = time.perf_counter() - t0
    starts, samples = [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, start_s, register_s = start_session(workload, conf)
        starts.append(start_s)
        samples.append(start_s + register_s)
        log(f"set-up: start {start_s:.2f}s, register {register_s:.2f}s")
    return spark, {
        "setup_s": import_s + statistics.median(samples),
        "import_s": import_s,
        "setup_samples_s": samples,
        "session.start_s": statistics.median(starts),
    }


def environment(spark) -> dict:
    """What the engine actually ran on, read back from the session."""
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "cpus_effective": sc.defaultParallelism,
        "nproc": host.cpu_count(),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "spark": spark.version,
        "python": sys.version.split()[0],
        "java": sc._jvm.System.getProperty("java.version"),
    }


def traced_passes(workload, conf: dict[str, str], work: str, n_passes: int, first: int):
    """Restart Spark with the event log on, warm it, and repeat the measured
    passes; returns the traced ``Run`` and the log folded by job group."""
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark, _, _ = start_session(workload, dict(conf, **{
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",  # the default codec needs zstandard
        "spark.eventLog.dir": f"file://{log_dir}",
    }))
    traced = Run(spark, workload)
    traced.passes(first, 1)  # the new session starts new Python workers
    traced.measure(first + 1, n_passes)
    app_id = spark.sparkContext.applicationId
    spark.stop()  # flushes the event log
    log(f"traced passes {[round(w, 2) for w in traced.kept_walls()]}")
    return traced, read_groups(event_log_files(log_dir, app_id))


def bench(args, work: str, conf: dict[str, str]) -> int:
    workload = WORKLOADS[args.workload]()
    n_passes = max(1, round(PASSES_PER_10S[args.workload] * args.seconds / 10))
    inputs = workload.prepare(work, args.seed)
    context = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "passes": n_passes, "inputs": inputs, "host.other_jvms": host.other_jvms(),
               "host.canary_s": host.host_canary()}
    log("inputs generated, host canary done")
    try:
        spark, setup = set_up(workload, conf)
        context.update(environment(spark))
        run = Run(spark, workload)
        workload.start_oracle()
        t0 = time.perf_counter()
        run.passes(0, 1, collect=True)
        warmup_s = time.perf_counter() - t0
        workload.wait_oracle()
        log(f"warm-up pass {warmup_s:.2f}s")
        with host.PeakRss() as rss:
            run.measure(1, n_passes)
        log(f"measured passes {[round(w, 2) for w in run.kept_walls()]}")
        e2e, samples = end_to_end(run, setup["setup_s"], rss.peak)
        context["host.jvm_canary_s"] = host.jvm_canary(spark)
        failures = workload.check(run.ops)
        ops = run.measured()
        if args.trace:
            spark.stop()
            traced, groups = traced_passes(workload, conf, work, n_passes, max(run.walls) + 1)
            failures += workload.check(traced.ops)
            ops += traced.measured()
            sink = workload.sink_stats()
            layer, context["entries"] = per_layer(traced, groups, host.cpu_count(), {
                "session.start_s": setup["session.start_s"],
                "session.warmup_s": warmup_s,
                "trace.overhead_s": statistics.median(traced.kept_walls())
                - statistics.median(run.kept_walls()),
                "operators.merge.sink_files": sink.get("files", 0),
                "operators.merge.sink_bytes_per_live_row":
                    sink["bytes"] / inputs["final_live"] if sink else 0.0,
                "host.canary_s": context["host.canary_s"],
                "host.jvm_canary_s": context["host.jvm_canary_s"],
                "host.other_jvms": context["host.other_jvms"],
                "error_rate": sum(o.failed for o in ops) / len(ops),
            })
    finally:
        stop_jvm()
    log(f"stopped; checks: {failures or 'ok'}")

    failed = sum(o.failed for o in ops)
    context.update(setup, samples=samples, check_failures=failures)
    print(json.dumps({"context": context}))
    metrics = with_units(layer if args.trace else e2e, args.trace)
    correct = not failures and not failed
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = configure_env(work)
    try:
        return bench(args, work, conf)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it


if __name__ == "__main__":
    sys.exit(main())
