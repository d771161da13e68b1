"""Incremental index refresh via Structured Streaming.

The batch build (index/segments.py) is the base; new documents arrive as a
stream and become queryable in two tiers, the classic base+delta design:

1. **Ingest** (`start_incremental_ingest`): readStream over a documents
   source → the same fused chunk+tokenize kernel → `foreachBatch` appends
   each micro-batch's flat postings to `<index>/flat_delta/ingest_batch=<n>`
   (append-only, naturally idempotent per epoch — Structured Streaming
   replays a failed epoch into the same directory).
2. **Serve** (`query_with_deltas`): BM25 over base segments ∪ delta flats.
   Deltas are small and uncompressed; they join the query path through the
   declarative scorer over decoded base postings (with no deltas, the
   Searcher serves the base alone). Corpus stats (N, avgdl) are
   recomputed cheaply from base stats + delta doc counts.
3. **Compact** (`fold_deltas_into_index`): fold accumulated deltas into the
   bucketed checkpoint and re-encode ONLY the buckets that received new
   postings (bucket pruning makes refresh cost proportional to the delta,
   not the index). An index built with `corpus_uri=` (sorted-runs
   checkpoint) cannot be folded into; the fold fails fast on it.

Watermarks/event-time windows are not needed for index refresh (postings
are monotone accumulations, not windowed aggregates); the ingest trigger
interval bounds staleness instead.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from quickb_spark.config import BM25_B, BM25_K1, EngineConfig
from quickb_spark.fs import IndexFS, join_path
from quickb_spark.index.flatten import flat_postings_from_documents
from quickb_spark.index.segments import _bucket_col, invalidate_buckets, load_stats

__all__ = [
    "start_incremental_ingest",
    "query_with_deltas",
    "fold_deltas_into_index",
]


def _delta_dir(index_dir: str) -> str:
    return join_path(index_dir, "flat_delta")


def start_incremental_ingest(
    spark: SparkSession,
    stream_docs: DataFrame,
    index_dir: str,
    cfg: EngineConfig | None = None,
    trigger_seconds: int | None = None,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """stream_docs: a STREAMING DataFrame with the documents schema.

    Each micro-batch lands as an append under flat_delta/ingest_batch=<n>.
    """
    cfg = cfg or EngineConfig()
    nb = cfg.index.term_buckets
    out = _delta_dir(index_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        flat = flat_postings_from_documents(batch_df, cfg).withColumn(
            "bucket", _bucket_col(F.col("term"), nb)
        )
        (
            flat.withColumn("ingest_batch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(out)
        )

    writer = stream_docs.writeStream.foreachBatch(sink).option(
        "checkpointLocation",
        checkpoint or join_path(index_dir, "stream_checkpoint"),
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _delta_flat(spark: SparkSession, index_dir: str) -> DataFrame | None:
    fs = IndexFS(index_dir, spark)
    d = _delta_dir(index_dir)
    if not fs.exists(d) or not any(
        n.startswith("ingest_batch=") for n in fs.listdir(d)
    ):
        return None
    return spark.read.parquet(d)


def query_with_deltas(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25 top-k over base segments plus any unfolded streaming deltas.

    Base and delta partial scores share one (N, avgdl, df) statistics view,
    so scores equal a from-scratch rebuild over base+delta (tested)."""
    from quickb_spark.query.bm25 import bm25_score_col, query_terms, topk_window
    from quickb_spark.query.wand import _segment_candidates, bm25_topk_segments

    delta = _delta_flat(spark, index_dir)
    if delta is None:
        return bm25_topk_segments(spark, index_dir, queries, k=k, k1=k1, b=b)
    stats = load_stats(index_dir)
    qt = query_terms(queries)

    # merged corpus stats
    drow = delta.agg(
        F.countDistinct("doc_id").alias("n"),
        F.sum("tf").alias("tokens"),
    ).collect()[0]
    n_delta = int(drow["n"] or 0)
    delta_tokens = float(drow["tokens"] or 0.0)
    n_docs = stats["n_docs"] + n_delta
    avgdl = (
        (stats["avgdl"] * stats["n_docs"] + delta_tokens) / n_docs if n_docs else 0.0
    )

    # per-(query, term, doc) partial rows from both tiers, then one agg
    base = _segment_candidates(spark, index_dir, qt)  # (query_id, term, doc_id, tf, doc_len, df_base)
    dterms = delta.join(F.broadcast(qt.select("term").distinct()), "term")
    ddf = dterms.groupBy("term").agg(F.countDistinct("doc_id").alias("df_delta"))

    df_all = (
        base.select("term", "df_base")
        .distinct()
        .join(ddf, "term", "outer")
        .select(
            "term",
            (
                F.coalesce(F.col("df_base"), F.lit(0))
                + F.coalesce(F.col("df_delta"), F.lit(0))
            ).alias("df"),
        )
    )
    cand = (
        base.select("query_id", "term", "doc_id", "tf", "doc_len")
        .unionByName(
            dterms.join(F.broadcast(qt), "term").select(
                "query_id", "term", "doc_id", "tf", "doc_len"
            )
        )
        .join(F.broadcast(df_all), "term")
    )
    partial = cand.select(
        "query_id", "doc_id", bm25_score_col(n_docs, avgdl, k1, b).alias("partial")
    )
    scored = partial.groupBy("query_id", "doc_id").agg(F.sum("partial").alias("score"))
    return topk_window(scored, k)


def _fold_marker(index_dir: str) -> str:
    return join_path(index_dir, "meta", "fold_commit.json")


def _finish_fold(fs: IndexFS, index_dir: str, touched: list[int]) -> None:
    """Commit point passed: swap staged bucket dirs into the flat checkpoint
    and clear deltas/stale metadata. Every step is idempotent, so a crashed
    fold resumes here from the marker and converges to exactly-once.

    The fold marker itself is NOT deleted here: it must outlive the
    build_index re-encode that follows, so a crash anywhere between the
    swap and the finished re-encode is repaired by the next fold call
    (marker present -> re-run this idempotent cleanup + build_index). The
    caller deletes the marker only after build_index returns."""
    flat_dir = join_path(index_dir, "flat")
    stage_dir = join_path(index_dir, "flat_stage")
    # delta dirs first: once the marker exists, the staged merge is the
    # single source of truth for the touched buckets — a retry must never
    # union deltas in a second time
    fs.delete(_delta_dir(index_dir))
    fs.delete(join_path(index_dir, "stream_checkpoint"))
    for b in touched:
        staged = join_path(stage_dir, f"bucket={b}")
        if fs.exists(staged):  # not yet swapped by a prior attempt
            fs.rename(staged, join_path(flat_dir, f"bucket={b}"))
    stats_path = join_path(index_dir, "meta", "stats.json")
    if fs.exists(stats_path):
        fs.delete(stats_path, recursive=False)
    invalidate_buckets(fs, index_dir, touched)
    fs.delete(stage_dir)


def fold_deltas_into_index(
    spark: SparkSession,
    index_dir: str,
    cfg: EngineConfig | None = None,
) -> int:
    """Compact deltas into the base: merge into the flat checkpoint, then
    re-encode only the buckets the deltas touched. Returns #buckets redone.

    Crash-safe (exactly-once): the merge lands in a STAGING dir (never a
    read-and-overwrite of the live checkpoint), then a fold-commit marker is
    written atomically; only after the marker do deltas get deleted and the
    staged buckets swapped in. A crash before the marker leaves the live
    index + deltas untouched; a crash after it is finished idempotently by
    the next call via the marker."""
    cfg = cfg or EngineConfig()
    from quickb_spark.index.p1_direct import RUNS_MARKER
    from quickb_spark.index.segments import build_index

    fs = IndexFS(index_dir, spark)
    if fs.exists(join_path(index_dir, "flat", RUNS_MARKER)):
        # the sorted-runs checkpoint (corpus_uri= builds) lacks the delta
        # rows' `first` column, so the union below cannot merge into it
        raise ValueError(
            f"folding deltas into {index_dir} is not supported: it was built "
            "with corpus_uri= (sorted-runs checkpoint). Rebuild with the new "
            "documents included, or serve them with query_with_deltas"
        )
    # finish a previously crashed fold before looking at new deltas: the
    # marker survives until build_index completes, so a crash anywhere
    # after the commit point (including between cleanup and re-encode —
    # the window that used to orphan the index with no stats.json) is
    # repaired here idempotently
    if fs.exists(_fold_marker(index_dir)):
        prev = json.loads(fs.read_text(_fold_marker(index_dir)))["touched"]
        _finish_fold(fs, index_dir, prev)
        build_index(spark, index_dir=index_dir, cfg=cfg)
        fs.delete(_fold_marker(index_dir), recursive=False)

    delta = _delta_flat(spark, index_dir)
    if delta is None:
        return 0
    flat_dir = join_path(index_dir, "flat")
    stage_dir = join_path(index_dir, "flat_stage")
    touched = [
        int(r["bucket"]) for r in delta.select("bucket").distinct().collect()
    ]
    # salt delta rows with the SAME persisted hot set the base build used
    # (salt assignment must stay a pure function of (term, doc_id) across
    # folds; correctness is salt-invariant — queries re-merge sub-lists —
    # but a stable assignment keeps segments canonical), then restore the
    # v3 checkpoint invariant: partitions keyed by (bucket, subgroup(term,
    # salt)) and sorted, so the no-shuffle phase-2 encode applies to folded
    # buckets too.
    hot_path = join_path(index_dir, "meta", "hot_terms.json")
    payload = (
        json.loads(fs.read_text(hot_path)) if fs.exists(hot_path) else {}
    )
    hot = payload.get("hot_terms", [])
    salt_col = (
        F.when(
            F.col("term").isin(hot),
            F.pmod(F.xxhash64("doc_id"), F.lit(cfg.index.salt_buckets)).cast("int"),
        ).otherwise(F.lit(0))
        if hot
        else F.lit(0).cast("int")
    )
    from quickb_spark.index.segments import _subgroups_per_bucket

    g = _subgroups_per_bucket(
        spark.sparkContext.defaultParallelism,
        cfg.index.term_buckets,
        int(payload.get("est_postings", 0)),
        cfg,
    )
    # delta rows still carry term STRINGS (the delta tier joins queries by
    # string); convert to the v4 checkpoint identity (salt from the hot-set
    # strings, then term_h) before unioning with the already-v4 base
    delta_v4 = (
        delta.drop("ingest_batch")
        .withColumn("salt", salt_col)
        .withColumn("term_h", F.xxhash64("term"))
        .drop("term")
    )
    merged = (
        spark.read.parquet(flat_dir)
        .filter(F.col("bucket").isin(touched))
        .unionByName(delta_v4)
        .repartition(
            max(len(touched), 1) * g,
            F.col("bucket"),
            F.pmod(F.xxhash64("term_h", "salt"), F.lit(g)),
        )
        .sortWithinPartitions("bucket", "term_h", "salt", "doc_id")
    )
    merged.write.mode("overwrite").partitionBy("bucket").parquet(stage_dir)
    fs.write_text_atomic(
        _fold_marker(index_dir), json.dumps({"touched": touched})
    )  # atomic commit point
    _finish_fold(fs, index_dir, touched)

    # no input DataFrame: the merged phase-1 checkpoint already exists, so
    # build_index only recomputes stats and re-encodes the meta-less buckets
    build_index(spark, index_dir=index_dir, cfg=cfg)
    fs.delete(_fold_marker(index_dir), recursive=False)
    return len(touched)
