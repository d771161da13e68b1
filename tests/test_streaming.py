"""Incremental index refresh: streaming ingest → base+delta queries →
compaction equivalence (base+delta results == from-scratch rebuild)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quickb_spark.config import EngineConfig, IndexConfig
from quickb_spark.corpus import DOCUMENTS_SCHEMA, fixture_queries, gen_document, generate_documents_df
from quickb_spark.index.segments import build_index
from quickb_spark.query.wand import bm25_topk_segments
from quickb_spark.streaming.incremental import (
    fold_deltas_into_index,
    query_with_deltas,
    start_incremental_ingest,
)

CFG = EngineConfig(
    index=IndexConfig(
        hot_term_doc_fraction=0.2,
        hot_term_min_df=40,
        salt_buckets=4,
        term_buckets=8,
    )
)

N_BASE, N_NEW = 150, 40


def _collect_ranked(df):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6))
        for r in df.collect()
    )


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    return tmp_path_factory.mktemp("stream")


def test_ingest_query_compact_equivalence(spark, dirs, tmp_path_factory):
    base_docs = generate_documents_df(spark, N_BASE, seed=42, partitions=2)
    all_docs = generate_documents_df(spark, N_BASE + N_NEW, seed=42, partitions=2)
    new_docs = all_docs.exceptAll(base_docs)

    idx = str(dirs / "idx")
    build_index(spark, index_dir=idx, cfg=CFG, documents=base_docs)

    qdf = spark.createDataFrame(fixture_queries()[:15], ["query_id", "query_text"])
    base_only = _collect_ranked(bm25_topk_segments(spark, idx, qdf, k=10))

    # stream the new docs in via a file source (real Structured Streaming)
    src = str(dirs / "incoming")
    new_docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src)
    q = start_incremental_ingest(spark, stream, idx, CFG)
    q.awaitTermination(120)

    merged = _collect_ranked(query_with_deltas(spark, idx, qdf, k=10))
    assert merged != base_only  # new docs are visible pre-compaction

    # oracle: a from-scratch index over base+new must give identical results
    fresh = str(dirs / "fresh")
    build_index(spark, index_dir=fresh, cfg=CFG, documents=all_docs)
    expected = _collect_ranked(bm25_topk_segments(spark, fresh, qdf, k=10))
    assert merged == expected

    # compaction folds deltas into the base; WAND-only path now matches too
    n = fold_deltas_into_index(spark, idx, CFG)
    assert n > 0
    after = _collect_ranked(bm25_topk_segments(spark, idx, qdf, k=10))
    assert after == expected
    # and the delta tier is gone
    assert _collect_ranked(query_with_deltas(spark, idx, qdf, k=10)) == expected


def test_fold_crash_recovery_exactly_once(spark, tmp_path):
    """A fold that crashes AFTER its commit marker (staged merge written,
    deltas not yet cleared, buckets not swapped) must converge to exactly
    the same index on the next fold call — deltas must never be folded in
    twice (the round-1 double-union hazard)."""
    from quickb_spark.corpus import DOCUMENTS_SCHEMA
    from quickb_spark.streaming.incremental import _fold_marker

    base = generate_documents_df(spark, 80, seed=5, partitions=2)
    alldocs = generate_documents_df(spark, 110, seed=5, partitions=2)
    new = alldocs.exceptAll(base)

    idx = str(tmp_path / "idx")
    build_index(spark, index_dir=idx, cfg=CFG, documents=base)
    src = str(tmp_path / "in")
    new.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src)
    start_incremental_ingest(spark, stream, idx, CFG).awaitTermination(120)

    # simulate the crash point: run the pre-commit part manually — staged
    # merge + marker exist, but deltas/buckets/metas untouched
    import json as _json

    from pyspark.sql import functions as F  # noqa: F811
    from quickb_spark.fs import IndexFS, join_path

    fs = IndexFS(idx, spark)
    delta = spark.read.parquet(join_path(idx, "flat_delta"))
    touched = [int(r["bucket"]) for r in delta.select("bucket").distinct().collect()]
    # mirror the product fold's pre-commit staging exactly: delta rows get
    # the persisted hot-set salt, and the staged buckets are re-keyed and
    # sorted to the v4 checkpoint invariant (the no-shuffle phase-2 encode
    # depends on group-aligned, doc_id-sorted files)
    hot = _json.loads(fs.read_text(join_path(idx, "meta", "hot_terms.json")))[
        "hot_terms"
    ]
    salt_col = (
        F.when(
            F.col("term").isin(hot),
            F.pmod(F.xxhash64("doc_id"), F.lit(CFG.index.salt_buckets)).cast("int"),
        ).otherwise(F.lit(0))
        if hot
        else F.lit(0).cast("int")
    )
    delta_v4 = (
        delta.drop("ingest_batch")
        .withColumn("salt", salt_col)
        .withColumn("term_h", F.xxhash64("term"))
        .drop("term")
    )
    merged = (
        spark.read.parquet(join_path(idx, "flat"))
        .filter(F.col("bucket").isin(touched))
        .unionByName(delta_v4)
        .repartition(max(len(touched), 1), F.col("bucket"), F.xxhash64("term_h", "salt"))
        .sortWithinPartitions("bucket", "term_h", "salt", "doc_id")
    )
    merged.write.mode("overwrite").partitionBy("bucket").parquet(
        join_path(idx, "flat_stage")
    )
    fs.write_text_atomic(_fold_marker(idx), _json.dumps({"touched": touched}))
    # "crash" here — now the public API must recover and finish exactly-once
    n = fold_deltas_into_index(spark, idx, CFG)
    assert n == 0  # the interrupted fold consumed all deltas; no new ones
    assert not fs.exists(_fold_marker(idx))
    assert not fs.exists(join_path(idx, "flat_stage"))

    fresh = str(tmp_path / "fresh")
    build_index(spark, index_dir=fresh, cfg=CFG, documents=alldocs)
    qdf = spark.createDataFrame(fixture_queries()[:10], ["query_id", "query_text"])
    got = _collect_ranked(bm25_topk_segments(spark, idx, qdf, k=10))
    want = _collect_ranked(bm25_topk_segments(spark, fresh, qdf, k=10))
    assert got == want


def test_fold_rejects_corpus_uri_index(spark, tmp_path):
    """A corpus_uri= build writes the sorted-runs checkpoint, which the
    fold cannot merge deltas into: fold_deltas_into_index must fail fast
    with a clear message, before it reads the deltas, and leave the index
    and its deltas exactly as they were (the deltas stay servable)."""
    import os

    from quickb_spark.corpus import DOCUMENTS_SCHEMA

    base = generate_documents_df(spark, 60, seed=9, partitions=2)
    alldocs = generate_documents_df(spark, 80, seed=9, partitions=2)
    corpus = str(tmp_path / "corpus")
    base.write.parquet(corpus)
    idx = str(tmp_path / "idx")
    build_index(spark, index_dir=idx, cfg=CFG, corpus_uri=corpus)
    src = str(tmp_path / "in")
    alldocs.exceptAll(base).write.parquet(src)
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src)
    start_incremental_ingest(spark, stream, idx, CFG).awaitTermination(120)

    def snapshot():
        out = {}
        for root, _dirs, files in os.walk(idx):
            for f in files:
                st = os.stat(os.path.join(root, f))
                out[os.path.relpath(os.path.join(root, f), idx)] = (
                    st.st_size, st.st_mtime_ns,
                )
        return out

    qdf = spark.createDataFrame(fixture_queries()[:10], ["query_id", "query_text"])
    before_files = snapshot()
    before = _collect_ranked(bm25_topk_segments(spark, idx, qdf, k=10))
    with pytest.raises(ValueError, match="not supported: it was built with corpus_uri="):
        fold_deltas_into_index(spark, idx, CFG)
    assert snapshot() == before_files
    assert _collect_ranked(bm25_topk_segments(spark, idx, qdf, k=10)) == before

    fresh = str(tmp_path / "fresh")
    build_index(spark, index_dir=fresh, cfg=CFG, documents=alldocs)
    expected = _collect_ranked(bm25_topk_segments(spark, fresh, qdf, k=10))
    assert _collect_ranked(query_with_deltas(spark, idx, qdf, k=10)) == expected


def test_gen_document_prefix_stability():
    # exceptAll(base) as "new docs" is only valid if generation is
    # row-index-stable: doc i is identical in any corpus size
    assert gen_document(7, 42) == gen_document(7, 42)
    assert [gen_document(i, 42) for i in range(10)] == [
        gen_document(i, 42) for i in range(10)
    ]
