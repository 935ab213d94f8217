"""Checks that need a Spark session: scan bytes come from the SQL scan
node, and the benchmark's output check catches a corrupted output."""

import os

import pytest

import gen
import run as R
import workloads as W
from spans import SparkCounters

SMALL = gen.Shape(tiles=200, annotations=3_000, orders=1_000, customers=300, suppliers=50,
                  events=1_000, documents=200, embeddings=20)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    saved = dict(os.environ)
    R.configure({"cores": 2, "heap": "1g"}, str(tmp_path_factory.mktemp("work")))
    from ast_data_pipeline_spark.session import get_spark

    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
    os.environ.clear()
    os.environ.update(saved)


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("in"))
    gen.generate(d, "analytics", 4, SMALL)
    return d


def test_scan_bytes_equal_the_parquet_size_on_disk(spark, inputs):
    path = os.path.join(inputs, "lineitem.parquet")
    counters = SparkCounters(spark)
    with counters.group("scan") as c:
        spark.read.parquet(path).write.format("noop").mode("overwrite").save()
    assert c["scan.bytes_read"] == os.path.getsize(path)
    assert c["scan.files_read"] == 1
    assert c["scan.rows_out"] == SMALL.annotations
    assert c["exec.jobs"] >= 1 and c["exec.tasks"] >= 1


def _session(spark, inputs, tmp_path):
    return W.Session(spark, inputs, str(tmp_path), str(tmp_path / "cache"), 4, traced=False)


def test_clean_outputs_pass(spark, inputs, tmp_path):
    sess = _session(spark, inputs, tmp_path)
    op = W.Op("read", "q4_order_priority", sess.registered("q4_order_priority"))
    sess.run(op)
    sess.run(op)
    sess.check_outputs()
    assert sess.problems == [] and sess.failed == 0


def test_corrupted_output_is_caught(spark, inputs, tmp_path):
    sess = _session(spark, inputs, tmp_path)
    op = W.Op("read", "q4_order_priority", sess.registered("q4_order_priority"))
    sess.run(op)
    sess.run(op)
    out = sess.sink(op.name)
    df = spark.read.parquet(out).toPandas()
    df.iloc[0, -1] = df.iloc[0, -1] + 1
    spark.createDataFrame(df).write.mode("overwrite").parquet(out + ".bad")
    spark.read.parquet(out + ".bad").write.mode("overwrite").parquet(out)
    sess.check_outputs()
    assert any("value mismatch" in p for p in sess.problems)
    assert sess.failed == 2  # every repetition of the operation counts


def test_wrong_row_count_in_one_repetition_is_caught(spark, inputs, tmp_path):
    sess = _session(spark, inputs, tmp_path)
    op = W.Op("read", "q4_order_priority", sess.registered("q4_order_priority"))
    sess.run(op)
    sess.run(op)
    sess.samples[0].rows += 1
    sess.check_outputs()
    assert sess.failed == 1
