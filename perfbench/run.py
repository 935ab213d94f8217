#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one fresh Spark process.

    python3 perfbench/run.py --workload inventory --seed 1 --seconds 12 --trace 0

Run from the repository root. The runner generates the workload's inputs
from the seed (``perfbench/gen.py``), sizes Spark to the machine
(``local[nproc]``, a heap of a quarter of RAM), builds the warehouse,
runs the closed loop (``perfbench/workloads.py``; ``--seconds`` sets its
amount of work),
checks every output outside the timed region, and prints two JSON lines:
the full record (box facts, input manifest, per-operation latencies,
check problems), then the result line ``{"correct", "attempted",
"failed", "metrics"}``. ``--trace 1`` adds the per-layer metrics from
spans and Spark's status stores (``perfbench/spans.py``,
``perfbench/layers.py``) and writes the spans under
``.bench_work/traces/``.

All files go under ``.bench_work/`` in the current directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("inventory", "analytics")
# End-to-end metrics, name -> unit. Every phase, set-up included, is
# counted in CPU seconds of the whole process tree (the Python client,
# the JVM and its Python workers): on a shared virtual machine the wall
# time of the same work moved by a third between ten-run sets as the host
# stole CPU, while its CPU time moved by a few percent. Wall times are
# kept in the record ("wall") and compared by compare.py without a bound.
END_TO_END = {
    "setup_s": "s", "build_cpu_s": "s", "first_op_cpu_s": "s", "op_cpu_s": "s",
    "write_cpu_s": "s", "peak_rss_mb": "MB",
}
# per-layer metrics taken as the median over the traced operations
PER_OP = ("scan.files_read", "scan.bytes_read", "scan.rows_out", "plan.build_s", "plan.jobs",
          "catalyst.plan_s", "exec.wall_s", "exec.jobs", "exec.stages", "exec.tasks",
          "exec.task_run_s", "exec.task_cpu_s", "exchange.count", "exchange.write_bytes",
          "exchange.read_bytes", "exchange.fetch_wait_s")
# per-layer metrics summed over the traced operations
PER_RUN = ("exec.failed_tasks", "exec.spill_bytes")


def box_facts() -> dict:
    """Cores, RAM and the Spark settings derived from them."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    ram_gib = mem_kib / 2**20
    heap_gib = max(1, min(64, int(ram_gib // 4)))
    return {"cores": cores, "ram_gib": round(ram_gib, 1), "heap": f"{heap_gib}g"}


def configure(box: dict, work: str) -> None:
    """Environment for ``session.get_spark``: machine-sized settings and
    every scratch path under ``work``."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(box["cores"]),
        "SPARK_GRAFT_DRIVER_MEM": box["heap"],
        "SPARK_GRAFT_CACHE_VIEWS": "0",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        # initial heap = maximum heap: heap resizing would otherwise add
        # run-to-run noise to every cold phase
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.driver.defaultJavaOptions=-Xms{box['heap']} "
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"),
    })


def peak_rss_mb(spark) -> float:
    """JVM high-water RSS plus this Python process's peak RSS."""
    import resource

    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        jvm_kib = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return (jvm_kib + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def layer_metrics(sess, setup: dict, codegen: dict, probes: dict, cores: int) -> dict:
    # the writes have their own probes (plans.upsert.*, plans.workqueue.*)
    traced = [s.counters for s in sess.samples if s.op.kind != "write"]
    m = {k: setup[k] for k in ("session.start_s", "session.warmup_s", "sources.build_s",
                               "sources.rows_written", "sources.files_written",
                               "sources.bytes_written")}
    m.update(codegen)  # over the whole client loop
    for k in PER_OP:
        m[k] = statistics.median(c[k] for c in traced)
    for k in PER_RUN:
        m[k] = sum(c[k] for c in traced)
    m["exec.core_util"] = statistics.median(
        c["exec.task_run_s"] / (c["op.wall_s"] * cores) for c in traced)
    m.update(probes)
    m["trace.overhead_frac"] = statistics.median(
        s.seconds / t.seconds - 1 for s, t in zip(sess.samples, sess.untraced_twins))
    m["trace.uncovered_frac"] = statistics.median(
        s.counters["trace.uncovered_s"] / s.counters["op.wall_s"] for s in sess.samples)
    return m


def per_kind_layers(sess) -> dict:
    """Per operation type: the median of every per-op counter."""
    out: dict = {}
    for kind in sorted({s.op.kind for s in sess.samples}):
        cs = [s.counters for s in sess.samples if s.op.kind == kind]
        out[kind] = {k: statistics.median(c[k] for c in cs) for k in cs[0]}
    return out


def run(args) -> int:
    import gen

    work = os.path.abspath(os.path.join(".bench_work", f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    box = box_facts()
    box["loadavg_start"] = list(os.getloadavg())
    inputs = os.path.join(work, "inputs")
    t = time.perf_counter()
    manifest = gen.generate(inputs, args.workload, args.seed)
    gen_s = time.perf_counter() - t
    configure(box, work)
    try:
        return _measure(args, box, manifest, inputs, work, gen_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, box, manifest, inputs, work, gen_s) -> int:
    from ast_data_pipeline_spark.session import get_spark
    from ast_data_pipeline_spark.sources.domain_views import materialized_views

    import workloads as W
    from spans import tree_cpu_s

    setup = {"inputs.gen_s": gen_s}
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    setup["session.start_s"] = time.perf_counter() - t
    try:
        t = time.perf_counter()
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        setup["session.warmup_s"] = time.perf_counter() - t
        t, cpu = time.perf_counter(), tree_cpu_s(os.getpid())
        W.build_warehouse(spark, inputs, box["cores"])
        setup["sources.build_s"] = time.perf_counter() - t
        setup["sources.build_cpu_s"] = tree_cpu_s(os.getpid()) - cpu
        setup.update(W.warehouse_facts(spark))
        sess = W.Session(spark, inputs, work, os.path.join(".bench_work", "oracle-cache"),
                         args.seed, traced=bool(args.trace))
        tracking = W.Tracking(sess, os.path.join(work, "tracking"),
                              W.chip_count(spark, inputs))
        tracking.create()
        setup_wall_s = time.perf_counter() - T_START
        setup_s = tree_cpu_s(os.getpid())  # since process start
        cg0 = sess.counters.codegen()
        with materialized_views():
            if args.workload == "inventory":
                loop = W.run_inventory(sess, args.seconds, tracking)
            else:
                loop = W.run_analytics(sess, args.seconds, tracking)
            cg1 = sess.counters.codegen()
            codegen = {k: cg1[k] - cg0[k] for k in cg0}
            rss = peak_rss_mb(spark)  # before the probes and the checks
            probes = {}
            if args.trace:
                import layers as L

                probes.update(L.probe_merge(sess))
                probes.update(L.probe_spatial(sess))
                probes.update(L.probe_dedup(sess))
                probes.update(L.probe_upsert(sess, tracking))
                probes.update(L.probe_workqueue(sess))
        t = time.perf_counter()
        sess.check_outputs()
        tracking.check()
        check_s = time.perf_counter() - t
    finally:
        stop(spark)

    warm = sess.samples[1:]
    ops = [s for s in warm if s.op.kind != "write"]
    writes = [s for s in warm if s.op.kind == "write"]
    first = loop["first"]
    # means: the warm calls of a run fall along one JIT warm-up curve, so
    # their median is just the middle call
    e2e = {"setup_s": setup_s, "build_cpu_s": setup["sources.build_cpu_s"],
           "first_op_cpu_s": first.cpu_s,
           "op_cpu_s": statistics.fmean(s.cpu_s for s in ops),
           "write_cpu_s": statistics.fmean(s.cpu_s for s in writes), "peak_rss_mb": rss}
    wall = {"setup_wall_s": setup_wall_s, "build_s": setup["sources.build_s"],
            "first_op_s": first.seconds,
            "op_p50_s": statistics.median(s.seconds for s in ops),
            "op_mean_s": statistics.fmean(s.seconds for s in ops),
            "write_mean_s": statistics.fmean(s.seconds for s in writes),
            "check_s": check_s}
    attempted = len(sess.samples)
    failed = sess.failed
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "box": {**box, "loadavg_end": list(os.getloadavg())},
        "inputs": {k: manifest[k] for k in ("rows", "tiles_over_split_threshold",
                                            "max_annotations_per_tile", "hot_tile_share",
                                            "documents")},
        "setup": setup, "loop_s": loop["loop_s"], "rounds": loop.get("rounds"),
        "first_op": first.op.name, "latency": W.summarize_latencies(warm),
        "samples": [[s.op.kind, s.op.name, s.seconds, s.rows, s.cpu_s] for s in sess.samples],
        "error_rate": failed / attempted, "problems": sess.problems[:50],
        "end_to_end": e2e, "wall": wall,
    }
    if args.trace:
        layers = layer_metrics(sess, setup, codegen, probes, box["cores"])
        record["per_layer"] = layers
        record["per_kind"] = per_kind_layers(sess)
        tdir = os.path.join(".bench_work", "traces")
        os.makedirs(tdir, exist_ok=True)
        sess.tracer.dump(os.path.join(tdir, f"{args.workload}-s{args.seed}.json"),
                         {"record": record,
                          "ops": [{"op": i, "query": s.op.name, "kind": s.op.kind,
                                   "counters": s.counters} for i, s in enumerate(sess.samples)]})
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith(("_frac", "_ratio", "core_util")):
        return "ratio"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join("ast_data_pipeline_spark", "session.py")):
        print("perfbench: run from the repository root; ast_data_pipeline_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    try:
        return run(args)
    except Exception:  # one boundary: report the failure, print no result
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
