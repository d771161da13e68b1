"""BM25 top-k over compressed segments: scoring kernels and the one-shot API.

Every BM25 query is served by `quickb_spark.query.searcher.Searcher`; the
one-shot `bm25_topk_segments` is a thin wrapper that opens a Searcher for
one call. This module holds what the Searcher's range tasks share:

  - docID-range planning: docIDs are xxhash64 outputs, uniform over int64,
    so R equal int64 intervals (`_range_bounds`) split every posting list
    ~evenly with zero statistics. Ranges partition the doc space, so
    per-range top-k lists merge exactly (a doc's full score is computed in
    exactly one range); `_auto_ranges` sizes R from the candidate-posting
    count and the cluster's task slots.
  - `_build_struct`: a term's range-trimmed slice parts (salted sub-lists
    re-merged — hot-term salting is a build-time artifact, queries see one
    logical posting list) with block-max metadata rebuilt on the merged
    arrays and per-posting BM25 scores.
  - two scoring kernels, bit-identical including tie-breaks (fuzz-tested
    in tests/test_wand_fuzz.py):
      * `_dense_topk` — the engine (strategy="auto"): a shared sorted doc
        domain is built ONCE per range, each term gets a dense index column
        into it, and every query in the batch scores via buffered
        fancy-index adds into one reused accumulator. Above
        AUTO_EXACT_MAX_POSTINGS candidate postings it first applies the
        block-max segment-sweep masks (`_blockmax_masks`): a θ seed from
        exact sums of each term's top-k candidates, then every docID
        segment whose summed covering-block upper bounds fall below θ is
        dropped with one boolean mask.
      * `_exact_topk` — vectorized exhaustive accumulation over its own
        concatenated postings; the in-package oracle behind
        strategy="exact".
  - `_conj_topk`: conjunctive (all-terms) top-k over the same structs.

Pruning uses strict `< θ` (θ backed off a few ulps) so docs tying the kth
score are still scored — results are EXACTLY the exhaustive scorer's.
Upper bounds come from (max_tf, min_dl): BM25 is increasing in tf and
decreasing in dl, so idf·S(max_tf, min_dl) bounds every doc in a block;
block bounds are recomputed post-merge so salting can't break them. df for
idf is the GLOBAL per-term df (build-time lexicon), so a range never sees
a partial df.

The channel scorer (`_score_segments`: JVM-side range slicing in
`_slice_to_ranges` -> `groupBy(range_id).applyInPandas` with
`_make_batch_scorer` -> top-k window) is the Searcher's fallback for index
storage pyarrow cannot reach; it scores with the same kernels and returns
the same rows. `_segment_candidates` decodes base postings for the
streaming base+delta scorer (quickb_spark.streaming.incremental).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quickb_spark.config import BM25_B, BM25_K1
from quickb_spark.index.encode import block_meta, decode_posting_list
from quickb_spark.index.segments import load_stats
from quickb_spark.query.bm25 import topk_window

__all__ = ["bm25_topk_segments"]


def _bm25_vec(tf, dl, idf, k1, b, avgdl):
    tf = tf.astype(np.float64)
    norm = tf + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl)
    return idf * tf * (k1 + 1.0) / norm


def _exact_topk(terms, k):
    """Vectorized exhaustive DAAT (verification / no-prune path)."""
    if not terms:
        return [], []
    docs = np.concatenate([t["docs"] for t in terms])
    scores = np.concatenate([t["scores"] for t in terms])
    uniq, inv = np.unique(docs, return_inverse=True)
    acc = np.zeros(len(uniq))
    np.add.at(acc, inv, scores)
    order = np.lexsort((uniq, -acc))[:k]
    return uniq[order].tolist(), acc[order].tolist()


def _blockmax_masks(terms, k, k1, b, avgdl):
    """Vectorized block-max pruning: per-term boolean keep-masks over
    postings (None entry = keep whole term). Returns None when fewer than
    k candidate docs exist (no valid θ, nothing prunable).

      1. θ seed — per term, take its top-k posting scores' docs as
         candidates; exact-sum those candidate docs across all terms
         (searchsorted lookups, O(nt·k·log n)); the kth-largest candidate
         sum is a valid LOWER bound on the true kth-best score (candidate
         sums are exact scores of a subset of docs).
      2. Segment sweep — the union of all terms' block boundaries cuts the
         docID axis into segments, each covered by exactly one block per
         term; the per-segment upper bound is the sum of covering-block
         bounds idf·S(block_max_tf, block_min_dl).

    NumPy end to end: the asymptotic win of block-max WAND without a
    per-document Python loop (a DAAT pointer-chasing loop measured >10x
    slower than exhaustive NumPy scoring on multi-million-posting tasks).
    Pruning is block-granular: a segment survives whenever any of its
    covering blocks could reach θ.

    A mask drops a doc only when the summed covering-block upper bounds of
    its docID segment fall strictly below θ; a doc is dropped from EVERY
    term or from none (segments are shared across terms), so the surviving
    docs' scores keep their full, order-identical contribution sums."""
    nt = len(terms)
    if nt == 0:
        return None

    # 1. θ seed from a strong candidate pool
    cands = []
    for t in terms:
        s = t["scores"]
        if len(s) > k:
            idx = np.argpartition(s, -k)[-k:]
        else:
            idx = np.arange(len(s))
        cands.append(t["docs"][idx])
    cand = np.unique(np.concatenate(cands))
    if len(cand) < k:
        return None
    tot = np.zeros(len(cand))
    for t in terms:
        d = t["docs"]
        pos = np.searchsorted(d, cand)
        pos_c = np.minimum(pos, len(d) - 1)
        hit = d[pos_c] == cand
        np.add.at(tot, np.nonzero(hit)[0], t["scores"][pos_c[hit]])
    theta = float(np.partition(tot, -k)[-k])
    for _ in range(4):  # back off a few ulps: prune-less is always safe
        theta = float(np.nextafter(theta, -np.inf))

    # 2. segment sweep over the union of block boundaries
    bounds = np.unique(np.concatenate([t["block_last_doc"] for t in terms]))
    seg_ub = np.zeros(len(bounds))
    for t in terms:
        bld = t["block_last_doc"]
        mtf = t["block_max_tf"].astype(np.float64)
        mdl = t["block_min_dl"].astype(np.float64)
        bub = t["idf"] * mtf * (k1 + 1.0) / (
            mtf + k1 * (1.0 - b + b * mdl / avgdl)
        )
        # bounds is a superset of bld, so no segment straddles a block
        # boundary of t: all of t's docs in segment j live in block
        # searchsorted(bld, bounds[j], "left") (or past the list's end)
        ix = np.searchsorted(bld, bounds, "left")
        valid = ix < len(bld)
        seg_ub[valid] += bub[np.minimum(ix, len(bld) - 1)][valid]
    keep_seg = seg_ub >= theta

    masks = []
    for t in terms:
        m = keep_seg[np.searchsorted(bounds, t["docs"], "left")]
        masks.append(None if m.all() else m)
    return masks


def _dense_topk(terms, k, domain, acc, prune, k1, b, avgdl):
    """Shared-domain dense accumulation: the batch scorer's fast path.

    `terms` carry a `dense` column — each posting's index into `domain`,
    the range's shared sorted docID array (built once per range);
    `acc` is a reusable float64 buffer of len(domain), zero between
    calls. Scoring is then linear passes with NO per-query sort of
    posting-sized arrays and NO per-query copies of shared posting
    arrays: `acc[t.dense] += t.scores` per term (posting lists are
    doc-unique within a term, so the buffered fancy-index add is exact),
    candidate collection, a kth-threshold cut, and a tiny survivor sort.
    This is what makes a 50-query batch cheap when every query shares
    the same Zipf-hot terms: the round-2/3 per-query
    `concatenate`+`unique(return_inverse)`+`np.add.at`+`lexsort` path
    re-materialized a hot term's slice once PER QUERY.

    With `prune` (big candidate sets), the block-max segment sweep
    (`_blockmax_masks`) drops can't-reach-θ docID segments before the
    adds — the same lossless block-max pruning, composed with the dense
    path.

    Bit-identical to `_exact_topk`: for any doc the adds happen in the
    same order (term-major here == concatenation order there — all of
    term 0's contributions land before term 1's), fp addition is
    deterministic given order, and ties at the kth score are resolved by
    the same (score desc, doc asc) order over the exact candidate set
    (`dense` indices into a sorted domain order exactly like docIDs).
    Fuzz + tie-heavy + ∀R tests cover this."""
    if not terms:
        return [], []
    masks = _blockmax_masks(terms, k, k1, b, avgdl) if prune else None
    touched = []
    for i, t in enumerate(terms):
        m = masks[i] if masks is not None else None
        if m is None:
            idx = t["dense"]
            acc[idx] += t["scores"]
        else:
            idx = t["dense"][m]
            acc[idx] += t["scores"][m]
        touched.append(idx)
    total = sum(len(ix) for ix in touched)
    if 8 * total < len(domain):
        # sparse query in a big shared domain: sort its own indices
        cand = np.unique(np.concatenate(touched)) if total else np.empty(
            0, np.int64
        )
    else:
        # dense query: one linear scan beats sorting per-query indices,
        # and emerges already in docID order
        mark = np.zeros(len(domain), dtype=bool)
        for ix in touched:
            mark[ix] = True
        cand = np.nonzero(mark)[0]
    vals = acc[cand]  # fancy index -> copy, safe across the reset below
    for ix in touched:
        acc[ix] = 0.0
    if len(cand) == 0:
        return [], []
    if len(cand) > k:
        kth = np.partition(vals, -k)[-k]
        sel = vals >= kth
        cand, vals = cand[sel], vals[sel]
    order = np.lexsort((cand, -vals))[:k]
    return domain[cand[order]].tolist(), vals[order].tolist()


#: below this many candidate postings per (query, range) task, plain
#: accumulation wins (the θ-seed + segment sweep of `_blockmax_masks`
#: costs a few extra passes that only pay for themselves once the posting
#: volume is large enough for pruning to bite). Each task decodes only its
#: block-aligned slice, so decode cost is already bounded by the range
#: split; above the threshold, block-max pruning skips the accumulation
#: work for postings that can't reach the top k.
AUTO_EXACT_MAX_POSTINGS = 2_000_000

#: auto range split: one docID range per this many candidate postings.
RANGE_TARGET_POSTINGS = 2_000_000
MAX_RANGES = 32


def _range_bounds(r_count: int) -> list[tuple[int, int, int]]:
    """R closed [lo, hi] intervals covering the full signed-int64 space.
    docIDs are xxhash64 outputs — uniform over int64 — so equal intervals
    split posting lists ~evenly with zero statistics."""
    out = []
    for r in range(r_count):
        lo = -(2**63) + (2**64 * r) // r_count
        hi = -(2**63) + (2**64 * (r + 1)) // r_count - 1
        out.append((r, lo, hi))
    return out


def _build_struct(parts, idf, k1, b, avgdl):
    """Merge a term's range-trimmed slice parts (salt sub-lists + partial
    segment rows) into one scoring struct: stable argsort re-merge (keys
    are doc-disjoint across parts, so part order cannot affect results),
    block-max metadata rebuilt on the merged arrays. Shared by the channel
    scorer and the direct serving tasks — one code path, one bit pattern."""
    docs = np.concatenate([p[0] for p in parts])
    tfs = np.concatenate([p[1] for p in parts])
    dls = np.concatenate([p[2] for p in parts])
    order = np.argsort(docs, kind="stable")  # salt re-merge
    docs, tfs, dls = docs[order], tfs[order], dls[order]
    last_doc, max_tf, min_dl = block_meta(docs, tfs, dls, 128)
    return {
        "docs": docs,
        "tfs": tfs,
        "dls": dls,
        "idf": idf,
        "scores": _bm25_vec(tfs, dls, idf, k1, b, avgdl),
        "block_last_doc": last_doc,
        "block_max_tf": max_tf,
        "block_min_dl": min_dl,
        "perm": order,
    }


def _idf_of(term, dfs, n_docs):
    df_total = int(dfs[term])
    return float(np.log(1.0 + (n_docs - df_total + 0.5) / (df_total + 0.5)))


def _conj_topk(structs, terms, k):
    """Conjunctive (all-terms) top-k within one range: docs containing
    EVERY query term, scored with the same BM25 sum as any-mode queries,
    ranked (score desc, doc asc). The candidate set is the sorted-array
    intersection of the terms' doc lists (smallest-first); ranges
    partition the doc space, so per-range lists merge exactly. Lives here
    (not serve_direct) because the direct range tasks and the channel
    fallback share it — one code path, one bit pattern."""
    uniq = list(dict.fromkeys(terms))
    if not uniq or any(t not in structs for t in uniq):
        return [], []
    base = min(uniq, key=lambda t: len(structs[t]["docs"]))
    cand = structs[base]["docs"]
    for t in uniq:
        d = structs[t]["docs"]
        if not len(d):
            return [], []
        pos = np.minimum(np.searchsorted(d, cand), len(d) - 1)
        cand = cand[d[pos] == cand]
        if not len(cand):
            return [], []
    score = np.zeros(len(cand))
    for t in uniq:  # insertion order == channel concat order (fp-identical)
        score += structs[t]["scores"][np.searchsorted(structs[t]["docs"], cand)]
    order = np.lexsort((cand, -score))[:k]
    return cand[order].tolist(), score[order].tolist()


def _score_query_set(
    structs, terms_by_query, k, strategy, k1, b, avgdl, emit_rank
):
    """Score every query of a batch against one range's term structs.
    -> (query_ids, doc_ids, scores, ranks) column lists. `auto` scores
    with `_dense_topk` (shared dense doc domain built once per call),
    `exact` with `_exact_topk`; the two are bit-identical including
    tie-breaks (fuzz-tested). Shared by the direct serving tasks and the
    channel scorer."""
    domain = None  # shared dense doc domain, built on first auto query
    acc = None
    out_q: list[str] = []
    out_d: list[int] = []
    out_s: list[float] = []
    out_r: list[int] = []
    for qid in sorted(terms_by_query):
        terms = [structs[t] for t in terms_by_query[qid] if t in structs]
        if not terms:
            continue
        total = sum(len(t["docs"]) for t in terms)
        if strategy == "auto":
            if domain is None:
                # once per range: union doc domain + per-term dense
                # indices into it; every query then scores via buffered
                # adds into one reused accumulator (see _dense_topk)
                domain = np.unique(
                    np.concatenate([s["docs"] for s in structs.values()])
                )
                for s in structs.values():
                    s["dense"] = np.searchsorted(domain, s["docs"])
                acc = np.zeros(len(domain))
            doc_ids, scores = _dense_topk(
                terms, k, domain, acc,
                total > AUTO_EXACT_MAX_POSTINGS, k1, b, avgdl,
            )
        else:
            doc_ids, scores = _exact_topk(terms, k)
        out_q.extend([qid] * len(doc_ids))
        out_d.extend(doc_ids)
        out_s.extend(scores)
        if emit_rank:
            # single-range mode: each query's top-k IS the final answer
            # (scorer output is already (score desc, doc_id asc) ordered),
            # so rank is assigned here and the merge is skipped entirely
            out_r.extend(range(1, len(doc_ids) + 1))
    return out_q, out_d, out_s, out_r


def _make_batch_scorer(
    qt_pairs, dfs, n_docs, avgdl, k, k1, b, strategy, block_size,
    emit_rank=False, conj_seqs=None,
):
    """Per-RANGE scorer for a whole query batch.

    The group holds each candidate term's stream slices ONCE (not once per
    query): a hot term shared by many queries crosses the Arrow channel a
    single time per range, and its salt re-merge + block-meta rebuild run
    once. The (query -> term hashes) map and global dfs ride in the closure
    — they are tiny, driver-known, and identical for every range. Term
    identity everywhere in here is the v4 int64 term_h."""
    terms_by_query: dict[str, list[int]] = {}
    for qid, t in qt_pairs:
        terms_by_query.setdefault(qid, []).append(t)

    def scorer(key, pdf: pd.DataFrame) -> pd.DataFrame:
        lo = int(pdf["lo"].iat[0])
        hi = int(pdf["hi"].iat[0])
        structs: dict[int, dict] = {}
        for term, g in pdf.groupby("term_h", sort=True):
            parts = []
            for r in g.itertuples():
                d, t, dl = decode_posting_list(
                    r.doc_stream, r.tf_stream, int(r.n_sub), r.dl_stream,
                    block_size=block_size,
                )
                # slices are block-aligned supersets of [lo, hi]: trim so
                # every doc is scored in exactly one range
                a = int(np.searchsorted(d, lo, "left"))
                z = int(np.searchsorted(d, hi, "right"))
                if a or z < len(d):
                    d, t, dl = d[a:z], t[a:z], dl[a:z]
                if len(d):
                    parts.append((d, t, dl))
            if parts:
                structs[term] = _build_struct(
                    parts, _idf_of(term, dfs, n_docs), k1, b, avgdl
                )
        if conj_seqs is not None:
            # conjunctive (all-terms) mode: same structs, same BM25 sums,
            # result set restricted by the shared _conj_topk kernel — the
            # identical code path the direct range tasks run
            out_q, out_d, out_s, out_r = [], [], [], []
            for qid in sorted(conj_seqs):
                doc_ids, scores = _conj_topk(structs, conj_seqs[qid], k)
                out_q.extend([qid] * len(doc_ids))
                out_d.extend(doc_ids)
                out_s.extend(scores)
                if emit_rank:
                    out_r.extend(range(1, len(doc_ids) + 1))
        else:
            out_q, out_d, out_s, out_r = _score_query_set(
                structs, terms_by_query, k, strategy, k1, b, avgdl,
                emit_rank,
            )
        out = {"query_id": out_q, "doc_id": out_d, "score": out_s}
        if emit_rank:
            out["rank"] = out_r
        return pd.DataFrame(out)

    return scorer


def _slice_to_ranges(
    spark: SparkSession, joined: DataFrame, r_count: int, block_size: int
) -> DataFrame:
    """Fan each matched segment row out to the docID ranges it overlaps,
    slicing streams + block metadata JVM-side (substring on the per-block
    byte offsets). Shuffled bytes ≈ each stream byte once, not once per
    range (and not once per query — the scorer groups by range only)."""
    if r_count <= 1:
        return joined.select(
            "term_h",
            F.lit(0).alias("range_id"),
            F.lit(-(2**63)).alias("lo"),
            F.lit(2**63 - 1).alias("hi"),
            F.col("df_part").alias("n_sub"),
            "doc_stream",
            "tf_stream",
            "dl_stream",
        )
    # Per-range block bounds are computed ONCE per (row, range) inside one
    # array expression and materialized through explode() — a generator is
    # an optimizer barrier, so the O(#blocks) filters can't be re-inlined
    # into every downstream column (projection collapse would otherwise
    # re-evaluate them ~10x per row).
    nb = F.size("block_last_doc")
    range_lits = F.array(
        *[
            F.struct(
                F.lit(r).alias("range_id"),
                F.lit(lo).alias("lo"),
                F.lit(hi).alias("hi"),
            )
            for r, lo, hi in _range_bounds(r_count)
        ]
    )
    slices = F.filter(
        F.transform(
            range_lits,
            lambda rb: F.struct(
                rb["range_id"].alias("range_id"),
                rb["lo"].alias("lo"),
                rb["hi"].alias("hi"),
                F.size(
                    F.filter("block_last_doc", lambda v: v < rb["lo"])
                ).alias("b_lo"),
                F.least(
                    nb,
                    F.size(F.filter("block_last_doc", lambda v: v <= rb["hi"]))
                    + F.lit(1),
                ).alias("b_hi"),
            ),
        ),
        lambda s: s["b_lo"] < s["b_hi"],
    )
    x = joined.select(
        "term_h",
        "df_part",
        "doc_stream",
        "tf_stream",
        "dl_stream",
        "block_doc_off",
        "block_tf_off",
        "block_dl_off",
        F.explode(slices).alias("rs"),
    )

    def sub(stream: str, off: str):
        start = F.element_at(off, F.col("rs.b_lo") + 1)
        end = F.when(
            F.col("rs.b_hi") < F.size(off), F.element_at(off, F.col("rs.b_hi") + 1)
        ).otherwise(F.length(stream).cast("long"))
        return F.col(stream).substr(
            (start + 1).cast("int"), (end - start).cast("int")
        )

    n_sub = (
        F.least(F.col("df_part"), F.col("rs.b_hi").cast("long") * block_size)
        - F.col("rs.b_lo").cast("long") * block_size
    )
    return x.select(
        "term_h",
        F.col("rs.range_id").alias("range_id"),
        F.col("rs.lo").alias("lo"),
        F.col("rs.hi").alias("hi"),
        n_sub.alias("n_sub"),
        sub("doc_stream", "block_doc_off").alias("doc_stream"),
        sub("tf_stream", "block_tf_off").alias("tf_stream"),
        sub("dl_stream", "block_dl_off").alias("dl_stream"),
    )


def _segment_candidates(
    spark: SparkSession, index_dir: str, qt: DataFrame
) -> DataFrame:
    """Decode base-segment postings for query terms back to flat rows:
    (query_id, term, doc_id, tf, doc_len, df_base). Used by the streaming
    base+delta scorer, where base and delta tiers must share one stats view."""
    stats = load_stats(index_dir)
    block_size = int(stats.get("block_size", 128))
    terms = [r["term"] for r in qt.select("term").distinct().collect()]
    if not terms:
        return spark.createDataFrame(
            [], "query_id string, term string, doc_id long, tf long, doc_len long, df_base long"
        )
    from quickb_spark.functions.hashing import bucket_of, xxhash64

    # (term, term_h) relation: segments are keyed by the v4 int64 hash;
    # downstream (delta-tier joins) still speak term strings, so the tiny
    # broadcast relation restores them after decode
    th = {t: xxhash64(t) for t in terms}
    tdf = spark.createDataFrame(
        [(t, h) for t, h in th.items()], "term string, term_h long"
    )
    buckets = sorted({bucket_of(t, stats["term_buckets"]) for t in terms})
    seg = (
        spark.read.parquet(f"{index_dir}/segments")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term_h").isin(list(th.values())))
    )

    decode_schema = "term_h long, doc_id long, tf long, doc_len long"

    def explode_rows(batches):
        for pdf in batches:
            out_term, out_doc, out_tf, out_dl = [], [], [], []
            for r in pdf.itertuples():
                docs, tfs, dls = decode_posting_list(
                    r.doc_stream, r.tf_stream, int(r.df_part), r.dl_stream,
                    block_size=block_size,
                )
                out_term.extend([r.term_h] * len(docs))
                out_doc.extend(docs.tolist())
                out_tf.extend(tfs.tolist())
                out_dl.extend(dls.tolist())
            if out_term:
                yield pd.DataFrame(
                    {
                        "term_h": out_term,
                        "doc_id": out_doc,
                        "tf": out_tf,
                        "doc_len": out_dl,
                    }
                )

    flat = seg.select(
        "term_h", "df_part", "doc_stream", "tf_stream", "dl_stream"
    ).mapInPandas(explode_rows, decode_schema)
    df_base = seg.groupBy("term_h").agg(F.sum("df_part").alias("df_base"))
    return (
        flat.join(F.broadcast(tdf), "term_h")
        .join(F.broadcast(qt), "term")
        .join(F.broadcast(df_base), "term_h")
        .select("query_id", "term", "doc_id", "tf", "doc_len", "df_base")
    )


def _score_segments(
    spark: SparkSession,
    seg: DataFrame,
    qt_pairs: list[tuple[str, str]],
    dfs: dict[str, int],
    stats: dict,
    k: int,
    k1: float,
    b: float,
    strategy: str,
    r_count: int,
    conj_seqs: dict[str, list[int]] | None = None,
) -> DataFrame:
    """Channel scorer: pruned segment rows → JVM-side range slicing (per
    TERM, deduplicated across queries) → per-range batch scorer → top-k.
    The Searcher runs this only when pyarrow cannot reach the index's
    storage (its direct range tasks need to open the segment files). The
    (query, term) map and global dfs are driver-side values carried in the
    scorer closure — no join fans segment streams out per query, so a hot
    term shared by the whole batch ships once per range. `conj_seqs` (qid
    -> term_h list) switches the scorer to conjunctive (all-terms) mode —
    AND retrieval needs no positions, so unlike phrase it works here
    (storage reachable only through Hadoop keeps the feature)."""
    block_size = int(stats.get("block_size", 128))
    sliced = _slice_to_ranges(spark, seg, r_count, block_size)
    scorer = _make_batch_scorer(
        qt_pairs, dfs, stats["n_docs"], stats["avgdl"], k, k1, b, strategy,
        block_size, emit_rank=(r_count == 1), conj_seqs=conj_seqs,
    )
    if r_count == 1:
        # one range covers the full doc space: each query's top-k is final,
        # rank comes from the scorer, no window merge needed
        return sliced.groupBy("range_id").applyInPandas(
            scorer, "query_id string, doc_id long, score double, rank int"
        ).select("query_id", "rank", "doc_id", "score")
    scored = sliced.groupBy("range_id").applyInPandas(
        scorer, "query_id string, doc_id long, score double"
    )
    # exact merge: ranges partition docIDs, so the union of per-range
    # partials contains every candidate doc exactly once
    return topk_window(scored, k)


def _auto_ranges(total_postings: int, parallelism: int | None = None) -> int:
    """Range fan-out for a batch: enough ranges to bound per-task decode
    memory, but not more than the cluster can use.

    Every extra range re-decodes its boundary blocks and re-runs the batch
    scorer once, so fan-out beyond available task slots is pure overhead:
    measured on a 4M-doc index at 8 cores, 16 ranges served the 50-query
    batch in 15.5s vs 19.8s at 32 and 32.5s at 128 (A/B recorded in the
    message of commit bcd2123). The fan-out is therefore capped at 2x the
    cluster's core count unless the per-task memory bound (~4x
    RANGE_TARGET_POSTINGS postings per task) forces more. On a large cluster the parallelism cap is not
    binding and the work-granule term decides, exactly as before. All
    values of r return identical results (tested ∀R)."""
    ideal = -(-total_postings // RANGE_TARGET_POSTINGS)
    if parallelism:
        memory_floor = -(-total_postings // (4 * RANGE_TARGET_POSTINGS))
        ideal = min(ideal, max(2 * parallelism, memory_floor))
        # ... but never leave task slots idle: a single small query is one
        # work granule by the target above, yet splitting its decode across
        # the cluster's free slots cuts latency near-linearly (measured at
        # 2 cores on the 4M index: 1.34s at 1 range vs 0.19s at 16). Floor
        # at one range per ~64k postings so trivial lists don't fan out.
        slot_floor = min(parallelism, -(-total_postings // 65536))
        ideal = max(ideal, slot_floor)
        if ideal > parallelism:
            # full scheduling waves: a count that isn't a multiple of the
            # task slots leaves the last wave partly idle (21 ranges on 8
            # slots = waves of 8/8/5 — the batch waits on 5 tasks while 3
            # slots sit empty). Round UP to the next multiple — smaller
            # tasks, same total work, no idle tail (measured on the 4M
            # index at 8 cores: 21 -> 24 ranges cut the warm 50-query
            # batch ~10%). If the cap makes a multiple unreachable, round
            # DOWN only when that respects the memory floor.
            up = -(-ideal // parallelism) * parallelism
            if up <= MAX_RANGES:
                ideal = up
            else:
                down = (MAX_RANGES // parallelism) * parallelism
                ideal = down if down >= ideal else MAX_RANGES
    return int(max(1, min(MAX_RANGES, ideal)))


def bm25_topk_segments(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    strategy: str = "auto",
    ranges: int | str = "auto",
) -> DataFrame:
    """(query_id, rank, doc_id, score) from the compressed segment index.

    One-shot form of `quickb_spark.query.searcher.Searcher`: opens a
    Searcher on `index_dir` and serves one batch, so it returns exactly
    what `Searcher.topk` returns. For repeated batches against one index
    keep a Searcher (cached listings, lexicon and decoded segments).

    strategy: "auto" (default — dense accumulation, block-max pruned on
    large candidate sets) or "exact" (exhaustive oracle); identical
    results, they differ only in speed. ranges: docID-range fan-out —
    "auto" sizes it from the candidate-posting count and the cluster's
    parallelism (see _auto_ranges), an int forces it; every value returns
    identical results (ranges partition the doc space; tested)."""
    from quickb_spark.query.searcher import Searcher

    return Searcher(spark, index_dir, k1, b).topk(
        queries, k=k, strategy=strategy, ranges=ranges
    )
