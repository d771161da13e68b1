"""Expected top-k from the test suite's brute-force BM25 oracle.

`engine_chunks` runs the engine's chunker on the driver and mints doc ids
with the pure-Python xxhash64 reference of Spark's
`xxhash64(repo, path, commit, chunk_idx)` -- the same (doc_id, text) rows
`chunking.udf.chunk_documents` returns, without a Spark job. Those rows
feed `tests/oracle_bm25.OracleIndex`, the oracle the test suite trusts
(tokenizer spec, Lucene BM25, phrase and AND predicates). `expect` keeps
the k best scores and every document tied with the k-th; `check` accepts
any order among documents whose scores tie within the tolerance.
"""

from __future__ import annotations

import os
import sys

sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
from oracle_bm25 import OracleIndex  # noqa: E402

#: relative score tolerance, as in the test suite's oracle comparisons
TOL = 1e-6
_MASK = (1 << 64) - 1


def engine_chunks(docs: list[tuple], cfg) -> list[tuple[int, str]]:
    """(doc_id, text) of every chunk of (repo, path, commit, lang, content)
    documents, as the engine's chunker emits them."""
    from quickb_spark.chunking.splitter import split_document
    from quickb_spark.functions.hashing import xxhash64

    out = []
    for repo, path, commit, lang, content in docs:
        h = xxhash64(commit, xxhash64(path, xxhash64(repo) & _MASK) & _MASK) & _MASK
        for i, text in enumerate(split_document(content, lang, cfg.chunker)):
            out.append((xxhash64(i.to_bytes(4, "little", signed=True), h), text))
    return out


def expect(o: OracleIndex, text: str, k: int, mode: str) -> dict:
    """Expected top-k for one query: the k scores in rank order plus every
    doc whose score reaches the k-th (any of them may fill a tied last
    rank) -> {"scores": [...], "eligible": {doc_id: score}}."""
    scores = o.score(text)
    if mode == "phrase":
        keep = o.phrase_docs(text)
        scores = {d: v for d, v in scores.items() if d in keep}
    elif mode == "and":
        keep = o.conj_docs(text)
        scores = {d: v for d, v in scores.items() if d in keep}
    if not scores:
        return {"scores": [], "eligible": {}}
    top = sorted(scores.values(), reverse=True)[:k]
    floor = top[-1] - TOL * max(1.0, abs(top[-1]))
    return {"scores": top, "eligible": {d: v for d, v in scores.items() if v >= floor}}


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= TOL * max(1.0, abs(b))


def check(rows, expected: dict[str, dict]) -> list[str]:
    """Compare engine rows (query_id, rank, doc_id, score) with the
    expectations of every query in the batch; -> list of mismatch notes."""
    got: dict[str, list] = {q: [] for q in expected}
    for r in rows:
        got.setdefault(r[0], []).append((int(r[1]), int(r[2]), float(r[3])))
    bad = []
    for qid, exp in expected.items():
        res = sorted(got.get(qid, []))
        want = exp["scores"]
        if len(res) != len(want):
            bad.append(f"{qid}: {len(res)} rows, expected {len(want)}")
            continue
        if [r[0] for r in res] != list(range(1, len(want) + 1)):
            bad.append(f"{qid}: ranks {[r[0] for r in res]}")
            continue
        if len({r[1] for r in res}) != len(res):
            bad.append(f"{qid}: duplicate doc ids")
            continue
        for (rank, doc, score), w in zip(res, want):
            ref = exp["eligible"].get(doc)
            if not _close(score, w) or ref is None or not _close(score, ref):
                bad.append(f"{qid}: rank {rank} doc {doc} score {score}, expected {w}")
                break
    return bad
