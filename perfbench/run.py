"""Benchmark entry point.

    python3 perfbench/run.py --workload elt_chain --seed 1 --seconds 15 --trace 0

Runs one workload (see workloads.py and README.md) in one Spark
process on local[<cores>] with one closed-loop client, from the root
of a checkout of this repository. All inputs are generated from
``--seed``; everything the run writes goes to a scratch directory
under the checkout that is removed at exit.

stdout: one ``{"report": ...}`` line with every metric of the workload
and the pinned run environment, then, LAST, one line
``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) that BENCHMARK.json declares. Exit code 0 only when a
result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

T_PROCESS = time.perf_counter()
sys.dont_write_bytecode = True  # a run leaves no __pycache__ behind
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The metrics BENCHMARK.json declares, with their units. Every
# workload reports all of them; the workload-specific ones go to the
# report line. Latency and throughput are declared in units of the
# reference job (see reference_s), so that the host's drift cancels;
# the same figures in seconds are in the report line.
END_TO_END = {"setup_s": "s", "op_p50_ref": "ref", "rows_per_ref": "rows/ref",
              "write_amp": "ratio"}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.exec_s": "s", "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.task_skew": "ratio",
    "spark.failed_tasks": "count", "layer.self_s": "s",
    "trace.overhead_s": "s", "trace.spans": "count",
}


def pin_env(work: str) -> dict[str, str]:
    """Run-environment settings, made from the benchmark side only."""
    cores = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        # The package default (48g) exceeds small hosts' RAM.
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(3, int(phys_gb // 4)))}g",
        "SPARK_GRAFT_ARTIFACT_DIR": os.path.join(work, "artifacts"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONDONTWRITEBYTECODE": "1",  # for Spark's Python workers too
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of every CPU since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


# JVM housekeeping threads: JIT compilers, garbage collectors, the VM
# thread. Their CPU depends on the JVM's warm-up state, not the work.
_HOUSEKEEPING = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread",
                 "G1 ", "VM ", "Sweeper", "Common-Cleaner")


def program_cpu_s() -> float:
    """CPU seconds the driver JVM's other threads (driver, scheduler,
    executor tasks) have used so far. CPU time does not include the
    time a vCPU is stolen by the hypervisor."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid()}/task"):
        try:
            with open(f"/proc/{jvm_pid()}/task/{tid}/stat") as f:
                comm, rest = f.read().split(" (", 1)[1].rsplit(") ", 1)
        except (FileNotFoundError, ProcessLookupError):
            continue               # the thread ended meanwhile
        if not comm.startswith(_HOUSEKEEPING):
            fields = rest.split()
            total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def reference_session(spark):
    """A session of its own for the reference job, on the same Spark
    context, with the SQL settings the job depends on pinned, so the
    package's session settings do not change it."""
    ref = spark.newSession()
    for key, value in (("spark.sql.shuffle.partitions", "8"),
                       ("spark.sql.adaptive.enabled", "true"),
                       ("spark.sql.autoBroadcastJoinThreshold", "10485760"),
                       ("spark.sql.codegen.wholeStage", "true")):
        ref.conf.set(key, value)
    return ref


def reference_s(ref_spark) -> float:
    """Wall time of the reference job: two fixed Spark jobs that do not
    touch the package, a throughput-bound aggregation of 6M generated
    rows and a small, driver-bound join. Guest speed on a shared host
    drifts by a third within minutes, for this job and the program
    alike. It runs around every timed operation, and that operation's
    time divided by it cancels the drift."""
    t0 = time.perf_counter()
    (ref_spark.range(0, 6_000_000, 1, 8)
              .selectExpr("id % 1000 AS k", "id AS v")
              .groupBy("k").sum("v")
              .write.format("noop").mode("overwrite").save())
    a = ref_spark.range(0, 2000, 1, 4).selectExpr("id", "id % 50 AS g")
    b = ref_spark.range(0, 500, 1, 2).selectExpr("id AS bid", "id % 50 AS g")
    a.join(b, "g").groupBy("g").count().collect()
    return time.perf_counter() - t0


def jvm_peak_rss_mb() -> float:
    """High-water resident set of the driver JVM (VmHWM)."""
    with open(f"/proc/{jvm_pid()}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def shutdown_spark() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM
    to exit (its Python workers exit with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def layer_metrics(tracer, spark) -> dict[str, float]:
    """Per-layer metrics from the traced operations' spans and the
    Spark jobs that ran under their leaf spans, as medians per traced
    operation."""
    from spans import SparkJobs, covered, layer_self_times, self_times
    from stats import median
    api = SparkJobs(spark)
    by_group = api.by_group()
    keys = ("jobs", "stages", "tasks", "exec_s", "leaf_s", "run_s", "cpu_s",
            "gc_s", "shuffle_mb", "spill_mb")
    per_op: dict[int, dict[str, float]] = {}
    skews: list[float] = []
    failed_tasks = 0
    timed = [s for s in tracer.spans if s.request >= 0]  # not layer probes
    for s in timed:
        r = per_op.setdefault(s.request, dict.fromkeys(keys, 0.0))
        g = by_group.get(f"span-{s.span_id}")
        if g is None:
            continue
        r["jobs"] += len(g["jobs"])
        r["stages"] += len(g["stages"])
        r["exec_s"] += covered([j for j in g["jobs"] if all(j)],
                               s.start, s.end)
        r["leaf_s"] += s.duration
        for st in g["stages"]:
            r["tasks"] += st.get("numTasks", 0)
            r["run_s"] += st.get("executorRunTime", 0) / 1e3
            r["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            r["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            r["shuffle_mb"] += st.get("shuffleWriteBytes", 0) / 2**20
            r["spill_mb"] += (st.get("memoryBytesSpilled", 0)
                              + st.get("diskBytesSpilled", 0)) / 2**20
            failed_tasks += st.get("numFailedTasks", 0)
            skew = api.task_skew(st)
            if skew is not None:
                skews.append(skew)
    ops = list(per_op.values())

    def med(key):
        return median(r[key] for r in ops) or 0.0

    # share of each parent span's wall time its child calls account for
    # (for a query: plans.build + plans.exec over plans.query)
    st = self_times(timed)
    parents = {s.parent for s in timed}
    cover = [1 - st[s.span_id] / s.duration for s in timed
             if s.span_id in parents and s.duration > 0]
    self_by_layer = {layer: v / max(1, len(ops))
                     for layer, v in layer_self_times(timed).items()}
    durations: dict[str, list[float]] = {}
    for s in tracer.spans:
        durations.setdefault(s.name, []).append(s.duration)
    return {
        "spark.jobs": med("jobs"), "spark.stages": med("stages"),
        "spark.tasks": med("tasks"), "spark.exec_s": med("exec_s"),
        "spark.driver_gap_s": median(r["leaf_s"] - r["exec_s"]
                                     for r in ops) or 0.0,
        "spark.executor_run_s": med("run_s"),
        "spark.executor_cpu_s": med("cpu_s"), "spark.gc_s": med("gc_s"),
        "spark.shuffle_write_mb": med("shuffle_mb"),
        "spark.spill_mb": med("spill_mb"),
        "spark.task_skew": median(skews) or 1.0,
        "spark.failed_tasks": failed_tasks,
        # self time in the package's layers per operation
        "layer.self_s": sum(self_by_layer.values()),
        **{f"{layer}.self_s": v for layer, v in self_by_layer.items()},
        **{f"{name}_s": median(d) for name, d in durations.items()},
        "trace.children_cover_min": min(cover, default=None),
    }


def run(args, work: str, env: dict) -> tuple[dict, dict, object]:
    """Set up, warm up, time, check; returns the report, the metrics
    of the result line and the tally of operations."""
    from checks import Tally
    from spans import Tracer
    from stats import median
    from workloads import WORKLOADS, Context

    from elt_gluepipeline_spark.session import get_spark

    wl = WORKLOADS[args.workload]()
    tally = Tally()
    steal0, total0 = cpu_ticks()
    off = Tracer(False)

    # Set-up, several times in this process: (re)start the session,
    # write the seeded inputs, seed state. Only the first start
    # launches the JVM (session.start_s); setup_s is the median.
    setups: list[float] = []
    spark = None
    for _ in range(wl.setup_repeats):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        if not setups:
            start_s = time.perf_counter() - T_PROCESS
        ctx = Context(spark=spark, seed=args.seed,
                      data=os.path.join(work, "data"), tracer=off,
                      tally=tally)
        wl.setup(ctx)
        setups.append(time.perf_counter() - t0)

    t0 = time.perf_counter()
    cold_s = wl.cold(ctx)
    wl.warmup(ctx)
    warmup_s = time.perf_counter() - t0
    ctx.samples.clear()            # the timed operations' samples only

    # Timed phase: a fixed amount of work (seconds x the workload's
    # nominal rate), so every run of a workload does the same
    # operations. Traced runs trace operations 1, 2, 5, 6, 9, ... (an
    # ABBA order that cancels a linear drift in operation cost); the
    # difference of the traced and untraced medians is the overhead.
    n_ops = wl.n_ops(args.seconds)
    traced = Tracer(True, spark)
    lat: dict[bool, list[float]] = {False: [], True: []}
    cpu: list[float] = []
    # The reference job runs before the first operation and after
    # each; an operation is divided by the mean of the two around it.
    ref_spark = reference_session(spark)
    for _ in range(4):             # compile the reference job's code
        reference_s(ref_spark)
    refs = [reference_s(ref_spark)]
    rel: list[float] = []          # untraced latencies / reference
    rows, busy, busy_ref = 0, 0.0, 0.0
    t_timed = time.perf_counter()
    for i in range(n_ops):
        on = bool(args.trace) and i % 4 in (1, 2)
        ctx.tracer = traced if on else off
        traced.request = i
        c0 = program_cpu_s()
        try:
            dt, op_busy, n = wl.op(ctx, i)
            c1 = program_cpu_s()
        except Exception as e:
            traceback.print_exc()
            tally.record(False, f"op {i}: {e!r}")
            dt = None
        refs.append(reference_s(ref_spark))
        if dt is None:
            continue
        ref = (refs[-2] + refs[-1]) / 2
        lat[on].append(dt)
        if not on:
            rel.append(dt / ref)
            cpu.append(c1 - c0)
        busy += op_busy
        busy_ref += op_busy / ref
        rows += n
    timed_s = time.perf_counter() - t_timed
    if args.trace:
        ctx.tracer, traced.request = traced, -1
        wl.layer_probes(ctx)
    ctx.tracer = off

    t_finish = time.perf_counter()
    try:
        report = wl.finish(ctx)
    except Exception as e:
        traceback.print_exc()
        tally.record(False, f"final check: {e!r}")
        report = {}

    finish_s = time.perf_counter() - t_finish
    from bench import calibration_sec
    e2e = {"setup_s": median(setups), "op_p50_ref": median(rel),
           "rows_per_ref": rows / busy_ref if busy_ref else 0.0,
           "op_cpu_s": median(cpu),
           "write_amp": median(ctx.samples.get("write_amp", [])),
           "reference_s": median(refs), "cold_op_s": cold_s,
           "op_p50_s": median(lat[False]),
           "rows_per_s": rows / busy if busy else 0.0,
           "peak_rss_mb": jvm_peak_rss_mb()}
    report.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        ops=n_ops, timed_s=timed_s, busy_s=busy,
        phases_s={"setup": sum(setups), "cold_and_warmup": warmup_s,
                  "timed": timed_s, "finish": finish_s},
        samples={k: [round(x, 4) for x in v]
                 for k, v in {**ctx.samples, "reference": refs}.items()},
        error_rate=tally.error_rate,
        problems=tally.problems[:5], setup_runs_s=setups,
        end_to_end=e2e, loop="closed, 1 client", env=env,
        calibration_sec=calibration_sec(spark))
    steal1, total1 = cpu_ticks()
    # share of CPU time the hypervisor gave to other guests: host noise
    report["host_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    if not args.trace:
        return report, {k: (e2e[k], u) for k, u in END_TO_END.items()}, tally

    layers = {"session.start_s": start_s, "session.warmup_s": warmup_s,
              **layer_metrics(traced, spark),
              "trace.overhead_s": median(lat[True]) - median(lat[False]),
              "trace.spans": len(traced.spans)}
    report["layers"] = layers
    if args.spans:
        with open(args.spans, "w") as f:
            traced.write(f)
    return report, {k: (layers[k], u) for k, u in PER_LAYER.items()}, tally


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", default="",
                    help="with --trace 1, also write every span as a "
                         "JSON line to this file")
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "bench.py")) and os.path.isdir(
            os.path.join(ROOT, "elt_gluepipeline_spark"))):
        print(f"perfbench: {ROOT} is not a checkout of the package "
              "(bench.py / elt_gluepipeline_spark missing)", file=sys.stderr)
        return 2
    if args.spans:
        args.spans = os.path.abspath(args.spans)

    # a SIGTERM unwinds through the cleanup below like an exception
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(
        128 + signum))
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    here = os.getcwd()
    os.makedirs(work, exist_ok=True)
    try:
        # before the package is imported: session.py reads the env then
        env = pin_env(work)
        sys.path.insert(0, ROOT)
        from workloads import WORKLOADS
        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; choose "
                  f"from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        os.chdir(work)  # spark-warehouse/, derby.log, metastore_db land here
        report, metrics, tally = run(args, work, env)
    finally:
        try:
            shutdown_spark()
        finally:
            os.chdir(here)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(work_root)
            except OSError:
                pass
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": tally.failed == 0, "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
