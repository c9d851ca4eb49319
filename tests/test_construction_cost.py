"""Fixed per-call costs of query construction: stream state width,
schema-pinned store opens, and the parsed-expression vector math.

A registered query builds its plan on the driver; jobs and py4j round
trips spent there are paid on every call. These tests pin the three that
were removed: state stores sized to the cores, persisted stores opened
without a footer-inference job, and dot/norm/cosine built as one parsed
expression with the same arithmetic as the lambda form.
"""

from __future__ import annotations

import json
import os
import shutil
import struct

import pytest
from pyspark.sql import functions as F

from disco_spark import registry
from disco_spark.session import SCHEMA_RECORD, default_parallelism, load_tables

from tests.conftest import SF_SMOKE

registry.load_all()


def test_stream_state_stores_follow_cores(spark, monkeypatch):
    """A stateful stream runs with one state store per core (read back
    from its progress), and the batch shuffle width is restored."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    started = []
    orig_start = DataStreamWriter.start

    def start(self, *a, **kw):
        q = orig_start(self, *a, **kw)
        started.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", start)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    registry.QUERIES["streaming_tumbling_window"](spark, SF_SMOKE).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    (q,) = started
    ops = [op for p in q.recentProgress for op in p.stateOperators]
    assert ops, "the tumbling stream should report a state operator"
    assert {op.numShufflePartitions for op in ops} == {default_parallelism(spark)}


def _jobs_in(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_index_open_runs_one_job_and_serves_same_rows(spark, tmp_path):
    """Opening a persisted index and its layers (base codes, a delta
    batch, a tombstone batch) starts only the bounded codebook collect,
    and serves exactly the rows a schema-inferring read of the same
    files gives."""
    from disco_spark.similarity.index_store import (
        ann_index_add,
        ann_index_delete,
        ann_index_load,
        ann_index_serveable_codes,
        ensure_index,
    )

    e = load_tables(spark, SF_SMOKE)["embeddings"]
    path = str(tmp_path / "idx")
    ensure_index(e.filter(F.col("vec_id") % 2 == 0), path, subset="even")
    _, _, books = ann_index_load(spark, path)
    ann_index_add(e.filter(F.col("vec_id") % 2 == 1), path, books=books)
    ann_index_delete(e.filter(F.col("vec_id") % 5 == 3).select("vec_id"), path)

    (cents, _, books2), load_jobs = _jobs_in(
        spark, "index_open", lambda: ann_index_load(spark, path)
    )
    codes, serve_jobs = _jobs_in(
        spark, "index_serve", lambda: ann_index_serveable_codes(spark, path)
    )
    assert load_jobs + serve_jobs <= 1
    assert (books2 == books).all()

    # the inferring reads the store used to make, kept only here
    inferred = (
        spark.read.parquet(os.path.join(path, "codes"))
        .select("vec_id", "codes", "label")
        .unionByName(
            spark.read.parquet(os.path.join(path, "codes_delta")).select(
                "vec_id", "codes", "label"
            )
        )
        .join(spark.read.parquet(os.path.join(path, "tombstones")), "vec_id", "left_anti")
    )

    def rows(df):
        return sorted((r.vec_id, tuple(r.codes), int(r.label)) for r in df.collect())

    assert rows(codes) == rows(inferred)
    assert sorted(map(tuple, cents.collect())) == sorted(
        map(tuple, spark.read.parquet(os.path.join(path, "centroids")).collect())
    )


def _stale_v4(path: str) -> None:
    mf = os.path.join(path, "manifest.json")
    with open(mf) as fh:
        m = json.load(fh)
    m["version"] = 4
    with open(mf, "w") as fh:
        json.dump(m, fh)


def test_index_without_v5_manifest_or_schema_record_is_rebuilt(spark, tmp_path):
    from disco_spark.similarity.index_store import ann_index_load, ensure_index

    e = load_tables(spark, SF_SMOKE)["embeddings"]
    path = str(tmp_path / "idx")
    assert ensure_index(e, path) is True
    assert ensure_index(e, path) is False
    _stale_v4(path)
    assert ensure_index(e, path) is True  # a v4 store is rebuilt
    os.remove(os.path.join(path, SCHEMA_RECORD))
    with pytest.raises(FileNotFoundError):
        ann_index_load(spark, path)  # never opened by inference
    assert ensure_index(e, path) is True
    assert ensure_index(e, path) is False
    ann_index_load(spark, path)


def test_signature_store_without_schema_record_is_rebuilt(spark, tmp_path):
    from disco_spark.dedup.incremental import ensure_signature_store

    docs = load_tables(spark, SF_SMOKE)["documents"]
    path = str(tmp_path / "sig")
    assert ensure_signature_store(docs, path) is True
    assert ensure_signature_store(docs, path) is False
    _stale_v4(path)
    assert ensure_signature_store(docs, path) is True
    os.remove(os.path.join(path, SCHEMA_RECORD))
    assert ensure_signature_store(docs, path) is True
    assert ensure_signature_store(docs, path) is False


def test_knn_graph_store_without_schema_record_is_rebuilt(spark):
    from disco_spark.similarity.ann import GRAPH_ROOT

    store = os.path.join(GRAPH_ROOT, f"{os.path.basename(SF_SMOKE)}_k5_p4")
    query = registry.QUERIES["ann_knn_graph_adaptive"]
    want = sorted(map(tuple, query(spark, SF_SMOKE).collect()))
    os.remove(os.path.join(store, SCHEMA_RECORD))
    shutil.rmtree(os.path.join(store, "graph"))
    os.makedirs(os.path.join(store, "graph"))  # present but not the store's
    assert sorted(map(tuple, query(spark, SF_SMOKE).collect())) == want
    assert os.path.isfile(os.path.join(store, SCHEMA_RECORD))


def test_vector_expressions_bit_identical_to_lambda_form(spark):
    """dot/norm/cosine as parsed expressions give the same bits as the
    F.aggregate/F.zip_with lambda form they replaced, kept here as the
    reference."""
    from disco_spark.dedup.dedup import cosine, dot, norm

    def dot_ref(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def norm_ref(a):
        return F.sqrt(
            F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
        )

    def cosine_ref(a, b):
        return dot_ref(a, b) / (norm_ref(a) * norm_ref(b))

    e = load_tables(spark, SF_SMOKE)["embeddings"]
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    pairs = e.crossJoin(q)
    qa, ea = F.col("q_emb"), F.col("embedding")
    got = pairs.select(
        "vec_id", "qid",
        dot("q_emb", "embedding").alias("dot"),
        norm("embedding").alias("norm"),
        cosine("q_emb", "embedding").alias("cos"),
        dot_ref(qa, ea).alias("dot_ref"),
        norm_ref(ea).alias("norm_ref"),
        cosine_ref(qa, ea).alias("cos_ref"),
    ).collect()
    assert len(got) == 3 * e.count()

    def bits(x):
        return struct.pack("<d", x)

    for r in got:
        assert bits(r.dot) == bits(r.dot_ref)
        assert bits(r.norm) == bits(r.norm_ref)
        assert bits(r.cos) == bits(r.cos_ref)
