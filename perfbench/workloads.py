"""The benchmark workloads: one closed-loop client against one session.

An operation is timed from the call into the registered query function
to its last row written to a parquet output, because query functions
already run Spark jobs while they build the plan. Outputs are read back
and checked outside the timed region.

- ``inventory``: one warehouse build, then ``flagship_tank_inventory``
  repeatedly, each warm call followed by a tracking-table update; the
  first call is the cold one a per-ingest job pays.
- ``analytics``: the same warehouse shape, no hot tiles; complete rounds
  of the 20 other ``bench`` reads in a seeded order, interleaved with
  writes (``plans.upsert`` batches into a parquet tracking table and
  ``d_workqueue_rounds`` allocation rounds).

The tracking table and its batches follow the reference: one row per
chip of the warehouse (``track_annotator_draw.py`` builds the table from
the chip list), and a batch is one verifier allocation of 200 chips
(``src/az_proc.py:731-758``, the head-200 of ``d_f7_verifier_allocation``).
Reads and writes are gated apart, so the number of writes per round sets
only how many write samples a run has, not a weight between the two.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd

from check import OracleCheck, replay_upserts, state_problems
from spans import SparkCounters, Tracer, tree_cpu_s

FLAGSHIP = "flagship_tank_inventory"
EXCLUDED_READS = (FLAGSHIP, "x_curation_pipeline")
WORKQUEUE = "d_workqueue_rounds"
TWINS = 8  # traced operations that also run untraced, for the overhead
BATCH_ROWS = 200  # one verifier allocation
TRACKING_SCHEMA = "chip_id long, annotator string, status string, round int"
# The loops do a fixed amount of work per run, so that every run of a
# workload measures the same operations; ``--seconds`` sets that amount
# through the cost of an inventory round (a tracking update and a warm
# flagship call) and of an analytics round on a 4-core box.
INVENTORY_ROUND_S = 5.0
ANALYTICS_ROUND_S = 30.0


@dataclass
class Op:
    kind: str  # "inventory" | "read" | "write"
    name: str
    call: Callable  # () -> DataFrame to write, or None if the call wrote itself


@dataclass
class Sample:
    op: Op
    seconds: float
    cpu_s: float = 0.0  # CPU seconds of the whole process tree
    rows: int | None = None
    counters: dict = field(default_factory=dict)


class Session:
    """One workload run: the Spark session, its inputs and the client loop."""

    def __init__(self, spark, input_dir: str, work_dir: str, cache_dir: str,
                 seed: int, traced: bool) -> None:
        from ast_data_pipeline_spark.registry import load_all

        self.spark = spark
        self.input_dir = input_dir
        self.work_dir = work_dir
        self.seed = seed
        self.specs = load_all()
        self.oracle = OracleCheck(input_dir, cache_dir)
        self.tracer = Tracer() if traced else None
        self.counters = SparkCounters(spark)
        self.samples: list[Sample] = []
        self.untraced_twins: list[Sample] = []
        self.problems: list[str] = []
        self.bad_names: set[str] = set()  # operations whose checked output is wrong
        self.bad_samples: set[int] = set()  # repetitions that wrote the wrong row count

    # -- the timed operation -------------------------------------------
    def _run_plain(self, op: Op) -> float:
        t0 = time.perf_counter()
        df = op.call()
        if df is not None:
            df.write.mode("overwrite").parquet(self.sink(op.name))
        return time.perf_counter() - t0

    def _run_traced(self, op: Op, op_id: int) -> tuple[float, dict]:
        tr, sc = self.tracer, self.counters
        cg0 = sc.codegen()
        spans: dict[str, float] = {}
        with tr.span("op", op_id, kind=op.kind, query=op.name) as top:
            with sc.group("plan") as plan_c:
                with tr.span("plan.build", op_id) as s:
                    df = op.call()
            spans["plan.build_s"] = s["end"] - s["start"]
            with sc.group("exec") as exec_c:
                if df is not None:
                    with tr.span("catalyst", op_id) as s:
                        df._jdf.queryExecution().executedPlan()
                    spans["catalyst.plan_s"] = s["end"] - s["start"]
                    with tr.span("exec", op_id) as s:
                        df.write.mode("overwrite").parquet(self.sink(op.name))
                    spans["exec.wall_s"] = s["end"] - s["start"]
        wall = top["end"] - top["start"]
        cg1 = sc.codegen()
        c = {k: plan_c.get(k, 0.0) + exec_c.get(k, 0.0) for k in exec_c}
        c.update({k: cg1[k] - cg0[k] for k in cg0})
        c["plan.jobs"] = plan_c.get("exec.jobs", 0.0)
        c["exec.jobs"] = exec_c.get("exec.jobs", 0.0)
        c.update({"catalyst.plan_s": 0.0, "exec.wall_s": 0.0}, **spans)
        c["op.wall_s"] = wall
        c["trace.uncovered_s"] = wall - sum(spans.values())
        return wall, c

    def run(self, op: Op) -> Sample:
        """Run ``op`` once; in a traced run, the first ``TWINS`` operations
        also run untraced (alternating which goes first) so the tracing
        overhead is measured on the same operations."""
        op_id = len(self.samples)
        cpu0 = tree_cpu_s(os.getpid())
        if self.tracer is None:
            sample = Sample(op, self._run_plain(op))
        elif op_id >= TWINS:
            wall, c = self._run_traced(op, op_id)
            sample = Sample(op, wall, counters=c)
        else:
            traced_first = op_id % 2 == 0  # the cold first call is traced
            if traced_first:
                wall, c = self._run_traced(op, op_id)
                plain = self._run_plain(op)
            else:
                plain = self._run_plain(op)
                wall, c = self._run_traced(op, op_id)
            sample = Sample(op, wall, counters=c)
            self.untraced_twins.append(Sample(op, plain))
        sample.cpu_s = tree_cpu_s(os.getpid()) - cpu0
        if os.path.isdir(self.sink(op.name)):
            sample.rows = self._written_rows(op.name)
        self.samples.append(sample)
        return sample

    def sink(self, name: str) -> str:
        return os.path.join(self.work_dir, "out", name)

    def _written_rows(self, name: str) -> int:
        import pyarrow.parquet as pq

        path = self.sink(name)
        return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                   for f in os.listdir(path) if f.endswith(".parquet"))

    # -- checks (outside the timed region) ------------------------------
    def check_outputs(self) -> None:
        """Check the last output of each distinct registered operation
        against its oracle, and every repetition's row count against it."""
        counts = {}
        for name in sorted({s.op.name for s in self.samples if s.op.name in self.specs}):
            got = self.spark.read.parquet(self.sink(name)).toPandas()
            counts[name] = len(got)
            self._note(name, self.oracle.problems(name, self.specs[name].oracle, got))
        for i, s in enumerate(self.samples):
            if s.op.name in counts and s.rows is not None and s.rows != counts[s.op.name]:
                self.bad_samples.add(i)
                self.problems.append(f"{s.op.name}: repetition {i} wrote {s.rows} rows, "
                                     f"the checked output has {counts[s.op.name]}")

    def _note(self, name: str, problems: list[str]) -> None:
        if problems:
            self.bad_names.add(name)
            self.problems.extend(f"{name}: {p}" for p in problems)

    @property
    def failed(self) -> int:
        return sum(1 for i, s in enumerate(self.samples)
                   if i in self.bad_samples or s.op.name in self.bad_names)

    def registered(self, name: str) -> Callable:
        spec = self.specs[name]
        return lambda: spec.fn(self.spark, self.input_dir)


# -- workload loops ------------------------------------------------------

def build_warehouse(spark, input_dir: str, cores: int) -> dict:
    from ast_data_pipeline_spark.sources.materialize import materialize_domain_views

    return materialize_domain_views(spark, input_dir, buckets=cores)


def run_inventory(sess: Session, seconds: float, tracking: Tracking) -> dict:
    """The cold first call, then ``ceil(seconds / INVENTORY_ROUND_S)`` rounds
    (at least 3) of a tracking update and a warm call. The update is two
    upserts, as ``verification_and_tracking.py`` writes the tracking table
    twice: path repair, then verifier allocation."""
    op = Op("inventory", FLAGSHIP, sess.registered(FLAGSHIP))
    up = tracking.upsert_op()
    first = sess.run(op)
    t0 = time.perf_counter()
    for _ in range(max(3, math.ceil(seconds / INVENTORY_ROUND_S))):
        sess.run(up)
        sess.run(up)
        sess.run(op)
    return {"first": first, "loop_s": time.perf_counter() - t0}


def chip_count(spark, input_dir: str) -> int:
    """Chips of the warehouse's tiles: the tracking table's row count."""
    from ast_data_pipeline_spark.sources.domain_views import images

    return images(spark, input_dir).count()


class Tracking:
    """The annotator tracking table and its seeded update batches."""

    def __init__(self, sess: Session, path: str, chips: int) -> None:
        self.sess = sess
        self.path = path
        self.chips = chips
        self.initial = pd.DataFrame({
            "chip_id": np.arange(chips, dtype=np.int64),
            "annotator": [""] * chips,
            "status": ["unlabeled"] * chips,
            "round": np.zeros(chips, dtype=np.int32),
        })
        self.applied: list[pd.DataFrame] = []

    def batch(self, i: int) -> pd.DataFrame:
        """Allocation ``i``: 200 seeded chips, verifiers round-robin."""
        rng = np.random.default_rng([self.sess.seed, 7, i])
        ids = np.sort(rng.choice(self.chips, BATCH_ROWS, replace=False)).astype(np.int64)
        return pd.DataFrame({
            "chip_id": ids,
            "annotator": np.resize(["amy", "bob", "cat"], BATCH_ROWS),
            "status": rng.choice(["verified", "rejected"], BATCH_ROWS),
            "round": np.full(BATCH_ROWS, i + 1, dtype=np.int32),
        })

    def create(self) -> None:
        from ast_data_pipeline_spark.plans.upsert import upsert_parquet_state

        shutil.rmtree(self.path, ignore_errors=True)
        upsert_parquet_state(self.sess.spark, self.path,
                             self.sess.spark.createDataFrame(self.initial, TRACKING_SCHEMA), "chip_id")

    def upsert_op(self) -> Op:
        from ast_data_pipeline_spark.plans.upsert import upsert_parquet_state

        def call():
            b = self.batch(len(self.applied))
            upsert_parquet_state(self.sess.spark, self.path,
                                 self.sess.spark.createDataFrame(b, TRACKING_SCHEMA), "chip_id")
            self.applied.append(b)
            return None

        return Op("write", "upsert_tracking", call)

    def check(self) -> None:
        got = self.sess.spark.read.parquet(self.path).toPandas()
        want = replay_upserts(self.initial, self.applied, "chip_id")
        self.sess._note("upsert_tracking", state_problems(got, want, "chip_id"))


def analytics_reads(specs) -> list[str]:
    return sorted(n for n, s in specs.items() if "bench" in s.tags and n not in EXCLUDED_READS)


def run_analytics(sess: Session, seconds: float, tracking: Tracking) -> dict:
    reads = {n: Op("read", n, sess.registered(n)) for n in analytics_reads(sess.specs)}
    wq = Op("write", WORKQUEUE, sess.registered(WORKQUEUE))
    up = tracking.upsert_op()
    rng = random.Random(sess.seed)
    t0 = time.perf_counter()
    first = None
    # complete rounds, so every run issues each read equally often
    rounds = max(1, math.ceil(seconds / ANALYTICS_ROUND_S))
    for _ in range(rounds):
        for op in round_order(list(reads.values()), up, wq, rng):
            s = sess.run(op)
            first = first or s
    return {"first": first, "loop_s": time.perf_counter() - t0, "rounds": rounds}


def round_order(reads: list, up, wq, rng: random.Random) -> list:
    """One analytics round: an upsert and the work-queue allocation, then
    the reads in a seeded order with an upsert after each half.

    Only the read order is seeded, because an operation's cost in a fresh
    JVM depends on what ran before it: placed after seeded reads, the
    work-queue allocation cost 4.7 to 8.0 CPU seconds over twenty seeds.
    Placed first, the operations before each write are the same in every
    run, except for the two later upserts, which vary much less."""
    order = list(reads)
    rng.shuffle(order)
    half = len(order) // 2
    return [up, wq, *order[:half], up, *order[half:], up]


# -- summaries -----------------------------------------------------------

def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """Highest percentile with at least ``beyond`` samples above it:
    (value, percentile, sample count). With too few samples for any
    such percentile, the median is returned."""
    v = sorted(values)
    n = len(v)
    k = max(n - beyond - 1, (n - 1) // 2)
    return v[k], round(100.0 * (k + 1) / n, 1), n


def summarize_latencies(samples: list[Sample]) -> dict:
    out = {}
    for kind in sorted({s.op.kind for s in samples}):
        xs = [s.seconds for s in samples if s.op.kind == kind]
        t, pct, n = tail(xs)
        out[kind] = {"n": n, "p50_s": statistics.median(xs), "tail_s": t, "tail_pct": pct,
                     "mean_s": statistics.fmean(xs),
                     "cpu_p50_s": statistics.median(s.cpu_s for s in samples if s.op.kind == kind)}
    per_query: dict[str, list[float]] = {}
    for s in samples:
        per_query.setdefault(s.op.name, []).append(s.seconds)
    out["per_query_p50_s"] = {k: statistics.median(v) for k, v in sorted(per_query.items())}
    return out


def warehouse_facts(spark) -> dict:
    """Files, bytes and rows (parquet footers) of the built warehouse."""
    import pyarrow.parquet as pq
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    files = bytes_ = rows = 0
    for root, _, names in os.walk(wh):
        for name in names:
            if name.endswith(".parquet") and root.split(os.sep)[-1].startswith("mat_"):
                p = os.path.join(root, name)
                files += 1
                bytes_ += os.path.getsize(p)
                rows += pq.ParquetFile(p).metadata.num_rows
    return {"sources.files_written": files, "sources.bytes_written": bytes_,
            "sources.rows_written": rows}


def dir_facts(path: str) -> tuple[int, int]:
    files = bytes_ = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                bytes_ += os.path.getsize(os.path.join(root, name))
    return files, bytes_
