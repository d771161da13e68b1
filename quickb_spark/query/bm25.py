"""BM25 top-k scoring — declarative (flat-postings) path.

The reference's query engine is a ChromaDB ANN top-k call
(examples/chromadb_integration.ipynb cell 8: `collection.query(query_texts,
n_results=3)` → ranked documents+distances+ids). This module is its BM25
re-expression per the north star: ranked (query_id, rank, doc_id, score)
with deterministic tie-breaks.

Scoring variant: Lucene-style BM25 —
    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))            [always > 0]
    score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
with k1 = 1.2, b = 0.75 (SURVEY.md §2.11). Tie-break: score desc, doc_id asc.

Plan shape (and why it scales):
- query terms are tiny → joined to term_stats first (Catalyst broadcasts the
  tiny side), then the enriched term list is explicitly `broadcast()` into
  the postings join — the big postings relation is NEVER shuffled for a
  query batch, and partition/bucket pruning on `term` applies upstream.
- per-term partial scores aggregate with a partial+final hash agg on
  (query_id, doc_id); the final top-k window only sees candidate docs that
  matched ≥1 query term.

Everything is a built-in column expression — whole-stage codegen end to end;
no Python in the scoring hot path. (The compressed-segment engine,
quickb_spark.query.searcher, trades this for block-max pruning.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from quickb_spark.config import BM25_B, BM25_K1
from quickb_spark.functions.tokenize import tokens_col

__all__ = ["query_terms", "bm25_score_col", "topk_window", "bm25_topk_flat"]


def query_terms(queries: DataFrame, text_col: str = "query_text") -> DataFrame:
    """queries(query_id, query_text) -> distinct (query_id, term).

    Duplicate terms within a query score once (standard bag-of-words BM25
    over unique query terms; matches the Python oracle in tests).
    """
    return (
        queries.select(
            "query_id", F.explode(tokens_col(text_col)).alias("term")
        ).distinct()
    )


def bm25_score_col(n_docs: int, avgdl: float, k1: float = BM25_K1, b: float = BM25_B):
    """Per-(term, doc) BM25 partial score as a pure column expression.

    Expects columns: tf (long/int), df (long), doc_len (long).
    """
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf = F.col("tf").cast("double")
    norm = tf + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("doc_len").cast("double") / F.lit(avgdl)
    )
    return idf * tf * F.lit(k1 + 1.0) / norm


def topk_window(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, doc_id, score) -> top-k with rank, deterministic ties."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def bm25_topk_flat(
    flat_postings: DataFrame,
    term_stats: DataFrame,
    doc_stats: DataFrame,
    queries: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    hashed_terms: bool = False,
) -> DataFrame:
    """End-to-end declarative BM25 top-k over the flat posting layer.

    hashed_terms: set when flat_postings/term_stats key terms by the v4
    int64 ``term_h`` (the checkpoint layout since index FORMAT_VERSION 4) —
    query terms are hashed with the same xxhash64 before the joins.
    """
    qt = query_terms(queries)
    if hashed_terms:
        qt = qt.withColumn("term", F.xxhash64("term"))
    qt = qt.join(term_stats, "term")  # tiny ⋈ big → tiny
    candidates = flat_postings.join(F.broadcast(qt), "term").join(
        doc_stats, "doc_id"
    )
    partial = candidates.select(
        "query_id",
        "doc_id",
        bm25_score_col(n_docs, avgdl, k1, b).alias("partial"),
    )
    scored = partial.groupBy("query_id", "doc_id").agg(
        F.sum("partial").alias("score")
    )
    return topk_window(scored, k)
