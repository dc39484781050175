"""Benchmark of the ckg_spark product entry points.

Run from the repository root:

    python3 perfbench/run.py --workload build_full --seed 1 --seconds 1 --trace 0

One process, one Spark session at local[4], one closed-loop client. After
set-up the workload repeats its operation (a timed write part, then a
timed read part) until ``--seconds`` have passed, checks every answer
against the pandas oracle, and prints as its last stdout line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
alternate operations run under the span tracer and the metrics are the
per-layer ones. The line before it carries every raw sample of the run,
which is also written, with the spans, under ``perfbench/results/``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
SETUP_REPS = 3
LIVE_HEAP_GCS = 5
PR_SET_CHILD_SUBREAPER = 36
# after the JVM's stdin closes: how long it may take to exit by itself,
# then how long after SIGTERM before SIGKILL
JVM_EXIT_S = 20.0
TERM_S = 10.0

# the spans the traced run records, in the order they are reported
SPAN_NAMES = [
    "op.write", "op.read",
    "lineage.write_stage.10_mentions", "lineage.write_stage.20_linked",
    "lineage.write_stage.30_canonical", "lineage.write_stage.40_nodes",
    "lineage.write_stage.41_edges",
    "table.append",
    "canon.sync_graph", "canon.sync_canonical_mapping",
    "canonicalize.incremental_canonical_parts",
    "incremental.sync_mention_edges",
    "canon.read_graph_edges", "canon.read_remap_log",
    "catalog.run_query",
]


def _proc_cpu_s(pid: int) -> float:
    """utime+stime of ``pid`` and its reaped children, plus the same for
    its live descendants, in seconds. For this process the descendants are
    the Spark driver JVM and the JVM's Python workers."""
    tick = os.sysconf("SC_CLK_TCK")
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except FileNotFoundError:  # exited between listing and reading
            continue
    return total / tick


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs: a noisy neighbour shows here, not in the program."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _heap_pools(spark):
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.MemoryType.HEAP
    return [p for p in jvm.java.lang.management.ManagementFactory
            .getMemoryPoolMXBeans() if p.getType() == heap]


def _live_heap_mb(spark, pools) -> float:
    """The driver heap the program still holds after its operations (peak
    figures follow the collector's heap sizing, not the program). Python
    first drops its unreferenced handles on JVM objects; then several full
    collections, since Spark's context cleaner frees checkpoint and
    broadcast blocks only after a collection has found them unreachable
    (on sync_ticks a 64 MB block was sometimes still held after three)."""
    gc.collect()
    system = spark.sparkContext._jvm.java.lang.System
    for _ in range(LIVE_HEAP_GCS):
        system.gc()
        time.sleep(0.5)
    return sum(p.getUsage().getUsed() for p in pools) / 2**20


def _gc_s(spark) -> float:
    beans = (spark.sparkContext._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def _install_spans(tracer) -> None:
    """Wrap the program's layer entry points, so calls it makes
    internally are recorded too."""
    import workloads
    from ckg_spark.plans import canon, incremental, lineage, table

    tracer.wrap(lineage, "write_stage",
                lambda df, out_dir, stage, *a, **k:
                f"lineage.write_stage.{stage}")
    tracer.wrap(table, "append")
    tracer.wrap(canon, "sync_graph")
    tracer.wrap(canon, "sync_canonical_mapping")
    # canon imported this name from operators.canonicalize
    tracer.wrap(canon, "incremental_canonical_parts",
                "canonicalize.incremental_canonical_parts")
    tracer.wrap(incremental, "sync_mention_edges")
    tracer.wrap(canon, "read_graph_edges")
    tracer.wrap(canon, "read_remap_log")
    # run_query only plans; this span covers the query and its collect()
    tracer.wrap(workloads, "query_edge_counts", "catalog.run_query")


def _become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants: a Python
    worker or JVM that outlives its parent is re-parented here, not to
    init, so :func:`_stop_children` can end and reap it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    kids = []
    for tid in os.listdir("/proc/self/task"):
        try:
            with open(f"/proc/self/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
        except FileNotFoundError:  # the thread ended
            continue
    return kids


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_children() -> None:
    """End the Spark JVM and every other descendant, and wait for each.

    The JVM exits by itself once its stdin closes (PySpark's gateway
    server watches it); what is left after ``JVM_EXIT_S`` gets SIGTERM,
    and SIGKILL ``TERM_S`` later. Returns once no child is left."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # finish the clean-up
    context = sys.modules.get("pyspark.core.context")
    gateway = context.SparkContext._gateway if context else None
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # connections already gone
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
    start = time.monotonic()
    sent = None
    while True:
        _reap()
        kids = _children()
        waited = time.monotonic() - start
        if not kids:
            print(f"perfbench: child processes ended {waited:.2f} s after "
                  f"the session stopped (signal sent: "
                  f"{sent.name if sent else 'none'})", file=sys.stderr)
            return
        sig = (signal.SIGKILL if waited >= JVM_EXIT_S + TERM_S else
               signal.SIGTERM if waited >= JVM_EXIT_S else None)
        if sig is not None and sig != sent:
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def _exit_on_sigterm(signum, frame):
    # unwinds through main()'s finally, which stops the children
    sys.exit(128 + signum)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke test only")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ckg_spark", "__init__.py")):
        print(f"perfbench: no ckg_spark package under {ROOT}; run from the "
              "root of a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work", str(os.getpid()))
    results = os.path.join(HERE, "results")
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    # keep every file Spark, the JVM and Python write inside the checkout,
    # and pin the session settings a caller's environment could change
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM runs with the product's defaults (heap size, JIT); only its
    # temporary directory moves into the checkout
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = f"-Djava.io.tmpdir={work}"
    for k in ("SPARK_DRIVER_MEM", "SPARK_GRAFT_PREFER_SMJ",
              "SPARK_GRAFT_SHJ_LOCALMAP"):
        os.environ.pop(k, None)

    _become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    spark = None
    try:
        t0 = time.perf_counter()
        from ckg_spark.session import get_spark

        spark = get_spark("perfbench", cpus=CPUS, extra_conf={
            "spark.ui.showConsoleProgress": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        spark_start_s = time.perf_counter() - t0
        return _run(args, spark, spark_start_s, work, results,
                    WORKLOADS[args.workload])
    finally:
        _clean_up(spark, work)


def _clean_up(spark, work: str) -> None:
    """Stop the session, end every child process and remove the run's
    files, each step also when the one before it raised."""
    try:
        if spark is not None:
            spark.stop()
    finally:
        try:
            _stop_children()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:  # another run still uses it
                pass


def _run(args, spark, spark_start_s, work, results, workload_cls) -> int:
    from spans import Tracer

    tracer = Tracer(spark)
    if args.trace:
        _install_spans(tracer)
    wl = workload_cls(spark, work, args.seed, args.scale)

    prep = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        wl.prepare(rep)
        prep.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.warm_up()
    wl.read(-1)
    warm_s = time.perf_counter() - t
    setup_s = spark_start_s + statistics.median(prep) + warm_s

    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    pools = _heap_pools(spark)
    for p in pools:
        p.resetPeakUsage()
    ops, op_roots = [], []
    error = None
    gc0 = _gc_s(spark)
    steal0 = _steal_s()
    start = time.perf_counter()
    while True:
        i = len(ops)
        wl.stage(i)
        # the traced run alternates untraced and traced operations; the
        # difference of their times is the tracing overhead, and starting
        # and ending untraced cancels the drift of a warming JVM
        traced = bool(args.trace) and i % 2 == 1
        tracer.active = traced
        n_spans = len(tracer.spans)
        op = {"i": i, "traced": traced}
        # CPU of the write and read parts only: stage() is the
        # benchmark's own work (generating the next inputs)
        cpu0 = _proc_cpu_s(os.getpid())
        try:
            t = time.perf_counter()
            with tracer.span("op.write"):
                op["rows"] = wl.write(i)
            op["write_s"] = time.perf_counter() - t
            op["read_samples"], answers = [], []
            for _ in range(wl.reads_per_op):
                t = time.perf_counter()
                with tracer.span("op.read"):
                    answers.append(wl.read(i))
                op["read_samples"].append(time.perf_counter() - t)
            op["read_s"] = statistics.median(op["read_samples"])
            op["result"] = answers[0]
            op["reads_agree"] = all(a == answers[0] for a in answers)
        except Exception as e:  # the run reports it as a failed operation
            error = f"op {i}: {type(e).__name__}: {e}"
            op["ok"] = False
            ops.append(op)
            break
        finally:
            tracer.active = False
            op["cpu_s"] = _proc_cpu_s(os.getpid()) - cpu0
        ops.append(op)
        if traced:
            op_roots.append([s for s in tracer.spans[n_spans:]
                             if s["parent"] is None])
        elapsed = time.perf_counter() - start
        if elapsed >= args.seconds and (not args.trace or (
                len(ops) >= 3 and not traced)):
            break
    window_s = time.perf_counter() - start
    heap_peak_mb = sum(p.getPeakUsage().getUsed() for p in pools) / 2**20
    rss_peak_mb = _vm_hwm_mb(jvm_pid)
    gc_s = _gc_s(spark) - gc0
    steal_s = _steal_s() - steal0
    # measured before the gates run Spark jobs of their own
    heap_live_mb = _live_heap_mb(spark, pools) if args.trace else None
    tracer.resolve()

    # correctness gates, outside the timed window: each answer against
    # the oracle of the state its operation saw, then the final state
    for op in ops:
        if "result" in op:
            op["ok"] = op["reads_agree"] and wl.verify(op["i"], op["result"])
    ok_ops = [o for o in ops if o["ok"]]
    if not ok_ops:
        raise RuntimeError(error or "no operation gave a correct answer")
    attempted = len(ops)
    failed = attempted - len(ok_ops)
    if error is None and not wl.verify_final():
        failed = attempted
    correct = failed == 0

    samples = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale": args.scale, "run_id": tracer.run_id,
        "spark_start_s": spark_start_s, "prepare_s": prep, "warm_s": warm_s,
        "window_s": window_s, "gc_s": gc_s, "steal_s": steal_s,
        "heap_peak_mb": heap_peak_mb, "rss_peak_mb": rss_peak_mb,
        "heap_live_mb": heap_live_mb,
        "ops": ops,
        "error": error,
    }
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "write_s": (statistics.median(o["write_s"] for o in ok_ops),
                        "s"),
            "read_s": (statistics.median(o["read_s"] for o in ok_ops), "s"),
            "cpu_s_per_op": (statistics.median(o["cpu_s"] for o in ok_ops),
                             "s"),
        }
    else:
        layer = tracer.per_op(op_roots, SPAN_NAMES)
        metrics = {k: (v, "count" if k.endswith(".jobs") else
                       "ratio" if k.endswith(".skew") else
                       "MB" if k.endswith("_mb") else "s")
                   for k, v in layer.items()}
        traced_ops = [o for o in ok_ops if o["traced"]]
        untraced_ops = [o for o in ok_ops if not o["traced"]]

        def op_s(o):
            return o["write_s"] + o["read_s"]

        overhead = (statistics.median(map(op_s, traced_ops))
                    - statistics.median(map(op_s, untraced_ops))
                    if traced_ops and untraced_ops else 0.0)
        roots = [s for r in op_roots for s in r]
        figs = [tracer.inclusive(s) for s in roots]
        run = sum(f["stages_run"] for f in figs)
        skipped = sum(f["stages_skipped"] for f in figs)
        manifest_kb, live_files = 0.0, 0
        from ckg_spark.plans import table as T

        for tdir in wl.graph_tables():
            m = T.read_manifest(tdir)
            manifest_kb += os.path.getsize(
                T._manifest_path(tdir, m["version"])) / 1024.0
            live_files += m["file_count"]
        metrics.update({
            "trace.overhead_s": (overhead, "s"),
            "jvm.gc_s": (gc_s / len(ops), "s"),
            "jvm.heap_live_mb": (heap_live_mb, "MB"),
            "spark.stages_skipped_ratio": (
                skipped / (run + skipped) if run + skipped else 0.0, "ratio"),
            "table.manifest_kb": (manifest_kb, "KB"),
            "table.live_files": (float(live_files), "count"),
        })
        tracer.dump(os.path.join(results, f"spans-{tracer.run_id}.jsonl"))

    samples["metrics"] = {k: v for k, (v, _) in metrics.items()}
    with open(os.path.join(results, f"run-{tracer.run_id}.json"), "w") as f:
        json.dump(samples, f, indent=1)
    print(json.dumps({"samples": samples}))
    if error:
        print(f"perfbench: {error}", file=sys.stderr)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
