"""Per-layer probes for the traced run.

Each probe times one public operator or plan call of the engine on the
workload's own inputs (median of ``REPS`` calls, each a span) and reads
the counters the layer exposes. Both workloads run every probe, so the
traced run reports the same per-layer metrics on each.
"""

from __future__ import annotations

import shutil
import statistics
import time

from pyspark.sql import functions as F

REPS = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(sess, name: str, fn) -> float:
    times = []
    for _ in range(REPS):
        with sess.tracer.span(name):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
    return statistics.median(times)


def probe_merge(sess) -> dict:
    """``operators.merge.merge_tile_annotations`` over the warehouse gann:
    time plus the Python-worker traffic of one call."""
    from ast_data_pipeline_spark.functions.labels import standardize_label
    from ast_data_pipeline_spark.operators.merge import merge_tile_annotations
    from ast_data_pipeline_spark.sources.domain_views import g_annotations

    def build():
        g = g_annotations(sess.spark, sess.input_dir)
        g = g.withColumn("object_class", standardize_label(F.col("raw_label"), "undefined_object"))
        return merge_tile_annotations(g, 5)

    s = _timed(sess, "operators.merge", lambda: _noop(build()))
    with sess.counters.group("merge") as c:
        _noop(build())
    return {"operators.merge.s": s,
            "pyworker.rows_sent": c["pyworker.rows_sent"],
            "pyworker.bytes_sent": c["pyworker.bytes_sent"],
            "pyworker.bytes_returned": c["pyworker.bytes_returned"]}


def probe_spatial(sess) -> dict:
    """``operators.spatial.assign_county_argmax`` of every annotation box."""
    from ast_data_pipeline_spark.operators.spatial import assign_county_argmax
    from ast_data_pipeline_spark.sources.domain_views import counties, g_annotations

    def run():
        g = g_annotations(sess.spark, sess.input_dir)
        _noop(assign_county_argmax(g, counties(sess.spark, sess.input_dir)))

    return {"operators.spatial.s": _timed(sess, "operators.spatial", run)}


def probe_dedup(sess) -> dict:
    """LSH chain ``lsh_bands`` -> ``candidate_pairs`` -> ``jaccard_verify``
    with ``plans.curation``'s constants, over the documents table."""
    from ast_data_pipeline_spark.operators.dedup import (
        candidate_pairs, jaccard_verify, lsh_bands, minhash_signatures, word_shingles, words_col)
    from ast_data_pipeline_spark.plans import curation as C
    from ast_data_pipeline_spark.sources.catalog import load

    def chain():
        docs = load(sess.spark, sess.input_dir, "documents").withColumn("w", words_col(F.col("text")))
        docsets = docs.filter(F.size("w") >= 2).select("doc_id", word_shingles("w", 2)).cache()
        sig = minhash_signatures(docsets.select("doc_id", F.explode("shingles").alias("shingle")),
                                 C.NUM_HASHES)
        bands = lsh_bands(sig, C.NUM_HASHES, C.ROWS_PER_BAND).cache()
        cand = candidate_pairs(bands).cache()
        return docsets, bands, cand, jaccard_verify(cand, docsets, C.JACCARD_T)

    def run():
        frames = chain()
        _noop(frames[-1])
        for f in frames[:3]:
            f.unpersist()

    s = _timed(sess, "operators.dedup", run)
    docsets, bands, cand, verified = chain()
    n_cand = cand.count()
    n_ver = verified.count()
    max_bucket = bands.groupBy("band_id", "band_val").count().agg(F.max("count")).first()[0]
    for f in (docsets, bands, cand):
        f.unpersist()
    return {"operators.dedup.s": s,
            "operators.dedup.candidates": n_cand,
            "operators.dedup.verified": n_ver,
            "operators.dedup.useful_ratio": n_ver / n_cand if n_cand else 0.0,
            "operators.dedup.max_bucket": max_bucket,
            "operators.dedup.bucket_headroom": C.MAX_BUCKET_OCCUPANCY - max_bucket}


def probe_upsert(sess, tracking) -> dict:
    """``plans.upsert.upsert_parquet_state`` of one batch into a copy of
    the tracking table's initial state."""
    from ast_data_pipeline_spark.plans.upsert import upsert_parquet_state

    from workloads import TRACKING_SCHEMA, dir_facts

    path = f"{sess.work_dir}/probe_tracking"
    times = []
    for i in range(REPS):
        shutil.rmtree(path, ignore_errors=True)
        upsert_parquet_state(sess.spark, path,
                             sess.spark.createDataFrame(tracking.initial, TRACKING_SCHEMA), "chip_id")
        batch = sess.spark.createDataFrame(tracking.batch(i), TRACKING_SCHEMA)
        with sess.tracer.span("plans.upsert"):
            t0 = time.perf_counter()
            upsert_parquet_state(sess.spark, path, batch, "chip_id")
            times.append(time.perf_counter() - t0)
    files, bytes_ = dir_facts(path)
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path + ".staging", ignore_errors=True)
    return {"plans.upsert.s": statistics.median(times),
            "plans.upsert.files_written": files, "plans.upsert.bytes_written": bytes_}


def probe_workqueue(sess) -> dict:
    """``plans.workqueue.run_rounds``: three rounds of 200 over orders."""
    from ast_data_pipeline_spark.plans.workqueue import run_rounds
    from ast_data_pipeline_spark.sources.catalog import load

    def run():
        _noop(run_rounds(load(sess.spark, sess.input_dir, "orders").select("o_orderkey"),
                         "o_orderkey", 200, 3))

    s = _timed(sess, "plans.workqueue", run)
    with sess.counters.group("workqueue") as c:
        run()
    return {"plans.workqueue.s": s, "plans.workqueue.jobs": c["exec.jobs"]}
