"""Repository benchmark: one seeded workload on local[nproc], one process.

    python3 perfbench/run.py --workload submission --seed 1 --seconds 6 --trace 0

Run from the repository root.  The run sets up ``SETUP_REPS`` times
(input generation and digest check, a new JVM and Spark session; the
previous JVM is shut down first) and reports the median.  A cold pass
runs in each of the last ``cold_passes`` set-ups' fresh JVMs (a
workload attribute) and ``first_pass_s`` is their median; closed-loop
warm passes for ``--seconds`` follow in the last JVM.  The run checks
every output untimed and prints one JSON line as the last line of
stdout: ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics.  ``--trace 1`` launches the last
set-up's JVM with an uncompressed event log, runs one cold pass whatever
the workload, adds one traced pass after the warm passes and reports the
per-layer metrics (see ``spans.py``).  Diagnostics (versions,
per-pass walls and /proc/stat steal) go to stderr; generated inputs,
Spark scratch space and the trace record stay under ``.benchdata/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import spans as tr  # noqa: E402

SETUP_REPS = 2  # each launches a JVM, ~7 s on 4 vCPUs; more overrun the run budget
MIN_WARM_PASSES = 1
DRIVER_MEM = "3g"  # of the host's 15 GB; the program's own default is 16g
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def steal_s() -> float:
    """Cumulative hypervisor steal time from /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def pin_environment(work: str, cores: int, confs: dict | None = None) -> None:
    """Everything the program reads from the environment, set here.  Read
    when a JVM launches, so ``confs`` reach the next session only."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts: no hsperfdata, temp files stay here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        **(confs or {}),
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {k}={v}" for k, v in confs.items()]
        + ["pyspark-shell"]
    )


def start_session(cores: int):
    from vtb_datafusion_2023_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(wl, cores: int, tracer):
    """One set-up: generate and verify inputs, launch the JVM and the session.
    The caller shuts the previous JVM down first.  No warm-up query: the
    cold pass is the JVM's first work, as in a one-shot CLI run."""
    t0 = time.perf_counter()
    digest = gen.digest(*wl.generate())
    with tracer.span("session", fn="get_spark"):
        spark = start_session(cores)
        tracer.rebind()
    return time.perf_counter() - t0, digest, spark


def one_pass(wl, spark, tracer, corrupt: bool, label: str):
    """One closed-loop pass, its output checked untimed: (wall, ops, steal)."""
    s0 = steal_s()
    t0 = time.perf_counter()
    ops = wl.run_pass(spark, tracer)
    wall = time.perf_counter() - t0
    steal = steal_s() - s0
    wl.check(ops, corrupt=corrupt)
    log(f"{label}: {wall:.3f} s, steal {steal:.2f} s, "
        f"{sum(o.error is not None for o in ops)} failed; "
        + " ".join(f"{o.name}={o.wall_s:.2f}" for o in ops))
    return wall, ops, steal


def warm_passes(wl, spark, tracer, seconds: float, corrupt: bool):
    """Closed-loop warm passes for ``seconds``, at least ``MIN_WARM_PASSES``."""
    passes = []
    t0 = time.perf_counter()
    while len(passes) < MIN_WARM_PASSES or time.perf_counter() - t0 < seconds:
        passes.append(one_pass(wl, spark, tracer, corrupt, f"warm pass {len(passes)}"))
    return passes


def end_to_end(wl, setups, colds, warm) -> dict:
    walls = [w for w, _, _ in warm]
    op_walls = sorted(o.wall_s for _, ops, _ in warm for o in ops)
    q = statistics.quantiles(op_walls, n=10) if len(op_walls) > 1 else op_walls * 9
    log(f"warm passes {len(walls)}, query samples {len(op_walls)}, "
        f"query p50 {statistics.median(op_walls):.3f} s, p90 {q[8]:.3f} s")
    return {
        "setup_s": statistics.median(setups),
        "first_pass_s": statistics.median(w for w, _, _ in colds),
        "rows_per_s": wl.input_rows / statistics.median(walls),
        "queries_per_s": len(op_walls) / sum(walls),
        "query_p50_s": statistics.median(op_walls),
    }


def event_log_confs(logdir: str) -> dict:
    shutil.rmtree(logdir, ignore_errors=True)
    os.makedirs(logdir)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",  # zstandard is not installed
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + logdir,
    }


def traced_pass(wl, spark, tracer, cores: int, work: str, untraced_pass_s: float):
    """One traced pass in the warm session of the last set-up (launched with
    an event log); the log folds into per-layer metrics."""
    (session,) = [s for s in tracer.spans if s["layer"] == "session"]
    undo = tr.instrument(tracer)
    try:
        t0 = time.perf_counter()
        ops = wl.run_pass(spark, tracer)
        wall = time.perf_counter() - t0
    finally:
        tr.restore(undo)
    failed = wl.check(ops)
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    jvm_hwm_mb = _vm_hwm_mb(jvm_pid)
    spark.stop()  # closes and renames the event log
    logdir = os.path.join(work, "eventlog")
    (log_path,) = [p for p in glob.glob(os.path.join(logdir, "*")) if not p.endswith(".inprogress")]
    groups, stages = tr.fold_event_log(log_path)
    m = tr.layer_metrics(tracer, groups, cores)

    selfs = tracer.self_times()
    m.update({
        "session.start_s": session["end"] - session["start"],
        "session.driver_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        "session.jvm_hwm_mb": jvm_hwm_mb,
        "plans.submission.build_s": sum(tr.span_durations(tracer, "plans.submission")),
        "plans.submission.execute_s": sum(tr.span_durations(tracer, "sources.writers")),
        "plans.features.build_s": sum(tr.span_durations(tracer, "plans.features")),
        "inference.udfs.python_tasks": stages["python_tasks"],
        "sources.readers.csv_scans": stages["csv_scans"],
        "sources.readers.read_amplification": (
            stages["input_bytes"] / sum(os.path.getsize(p) for p in wl.inputs)),
        "suite.build_s_p50": tr.p50([s["build_s"] for s in tracer.spans
                                     if s["layer"] == "suite" and "build_s" in s]),
        "suite.execute_s_p50": tr.p50([s["end"] - s["start"] - s["build_s"] for s in tracer.spans
                                       if s["layer"] == "suite" and "build_s" in s]),
        "suite.jobs_per_query": sum(
            groups.get(f"perfbench-{s['id']}", {}).get("jobs", 0)
            for s in tracer.spans if s["layer"] != "session") / len(ops),
        "operators.dedup.pairs_out": sum(o.extra.get("pairs", 0) for o in ops),
        "operators.dedup.planted_recall": min(
            [o.extra["planted_recall"] for o in ops if "planted_recall" in o.extra] or [0.0]),
        "trace.pass_s": wall,
        "trace.overhead_s": wall - untraced_pass_s,
        "trace.unaccounted_s": wall - sum(v for i, v in selfs.items() if i != session["id"]),
    })
    record = {"spans": tracer.spans, "groups": groups, "ops": [o.name for o in ops]}
    with open(os.path.join(work, "trace.json"), "w") as f:
        json.dump(record, f, default=str)
    return m, len(ops), failed


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def shutdown() -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-check's inputs")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-check: damage every output before it is checked")
    args = ap.parse_args(argv)

    try:
        # the session module imports pyspark: module imports stay out of setup_s
        import vtb_datafusion_2023_spark.session  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        log(f"cannot import the program from {ROOT}: {e}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".benchdata", "perfbench", f"{args.workload}-{args.size}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work, cores)
    wl = WORKLOADS[args.workload](os.path.join(work, "data"), args.seed, args.size == "tiny")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)

    try:
        setups, colds, digests = [], [], set()
        tracer = tr.Tracer() if args.trace else tr.NullTracer()
        for rep in range(SETUP_REPS):
            shutdown()  # every set-up launches its own JVM
            last = rep == SETUP_REPS - 1
            if args.trace and last:  # the JVM the passes run in keeps an event log
                pin_environment(work, cores, event_log_confs(os.path.join(work, "eventlog")))
            secs, digest, spark = setup(wl, cores, tracer if last else tr.NullTracer())
            setups.append(secs)
            digests.add(digest)
            # a traced run reports no first_pass_s: one cold pass warms its JVM
            if rep >= SETUP_REPS - (1 if args.trace else wl.cold_passes):
                colds.append(one_pass(wl, spark, tr.NullTracer(), args.corrupt, f"cold pass {rep}"))
        if len(digests) != 1:
            raise RuntimeError("inputs differ between set-ups of one seed")
        from pyspark import __version__ as spark_version

        log(json.dumps({
            "nproc": cores, "spark": spark_version,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0], "workload": args.workload, "seed": args.seed,
            "setup_s": setups, "input_rows": wl.input_rows,
        }))
        warm = warm_passes(wl, spark, tr.NullTracer(), args.seconds, args.corrupt)
        all_ops = [o for _, ops, _ in colds + warm for o in ops]
        attempted, failed = len(all_ops), sum(o.error is not None for o in all_ops)
        for o in all_ops:
            if o.error:
                log(f"FAILED {o.name}: {o.error}")
        values = end_to_end(wl, setups, colds, warm)
        kind = "end_to_end"
        if args.trace:
            pass_s = statistics.median(w for w, _, _ in warm)
            values, n_ops, n_failed = traced_pass(wl, spark, tracer, cores, work, pass_s)
            attempted, failed = attempted + n_ops, failed + n_failed
            kind = "per_layer"
    finally:
        shutdown()
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in declared[kind]},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
