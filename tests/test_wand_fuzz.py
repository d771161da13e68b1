"""Pure-Python fuzz: the engine's dense kernel, with and without block-max
pruning, must be bit-identical to the exhaustive scorer on random posting
sets (lossless pruning — SURVEY.md §7 hard part b)."""

from __future__ import annotations

import numpy as np

from quickb_spark.index.encode import block_meta
from quickb_spark.query.wand import _dense_topk, _exact_topk


def _mk_term(rng, n_corpus, df, big_ids=False):
    if big_ids:
        # 63-bit ids: regression for the float64-rounded skip target that
        # turned the block skip into a no-op (infinite loop)
        docs = np.unique(
            rng.randint(0, 2**63 - 1, size=df, dtype=np.int64)
            | (np.int64(1) << 62)
        )
        df = len(docs)
    else:
        docs = np.sort(rng.permutation(n_corpus)[:df]).astype(np.int64)
    tfs = rng.randint(1, 6, size=df).astype(np.int64)
    dls = rng.randint(10, 500, size=df).astype(np.int64)
    idf = float(np.log(1 + (n_corpus - df + 0.5) / (df + 0.5)))
    last, mtf, mdl = block_meta(docs, tfs, dls, 32)
    scores = idf * tfs * 2.2 / (tfs + 1.2 * (0.25 + 0.75 * dls / 100.0))
    return {
        "docs": docs, "tfs": tfs, "dls": dls, "idf": idf, "scores": scores,
        "block_last_doc": last, "block_max_tf": mtf, "block_min_dl": mdl,
    }


def _tie_heavy(t):
    """Constant tf/dl makes every posting of a term score identically —
    maximal kth-score ties, the adversarial case for strict-< pruning."""
    t["tfs"][:] = 3
    t["dls"][:] = 100
    t["block_last_doc"], t["block_max_tf"], t["block_min_dl"] = block_meta(
        t["docs"], t["tfs"], t["dls"], 32
    )
    t["scores"] = (
        t["idf"] * t["tfs"] * 2.2
        / (t["tfs"] + 1.2 * (0.25 + 0.75 * t["dls"] / 100.0))
    )
    return t


def _check_dense(rng, pool, ks, n_queries, tag):
    """Score several "queries" over term subsets of one "range", exactly as
    _score_query_set wires it: one shared domain + dense indices + one
    REUSED accumulator (stale residue from a previous query would corrupt
    the next), with and without block-max pruning."""
    domain = np.unique(np.concatenate([t["docs"] for t in pool]))
    for t in pool:
        t["dense"] = np.searchsorted(domain, t["docs"])
    acc = np.zeros(len(domain))
    for q in range(n_queries):
        nt = rng.randint(1, len(pool) + 1)
        terms = [pool[i] for i in rng.permutation(len(pool))[:nt]]
        for k in ks:
            ie, se = _exact_topk(terms, k)
            for prune in (False, True):
                idn, sdn = _dense_topk(
                    terms, k, domain, acc, prune, 1.2, 0.75, 100.0
                )
                assert idn == ie, (tag, q, k, prune)
                assert sdn == se, (tag, q, k, prune)  # bit-identical


def test_dense_equals_exact_fuzz():
    """The shared-domain dense batch kernel must be bit-identical to the
    exhaustive scorer — across a reused accumulator, with and without
    block-max pruning, including kth-ties, 63-bit ids, all-tied terms and
    empty/tiny inputs."""
    for trial in range(40):
        rng = np.random.RandomState(3000 + trial)
        n = int(rng.choice([50, 500, 3000]))
        big = trial % 2 == 1
        pool = [
            _mk_term(rng, n, rng.randint(1, n + 1), big_ids=big)
            for _ in range(rng.randint(2, 7))
        ]
        if trial % 3 == 0:
            pool = [_tie_heavy(t) for t in pool]
        _check_dense(rng, pool, (1, 3, 10), 4, ("fuzz", trial))
    for trial in range(20):
        rng = np.random.RandomState(7000 + trial)
        pool = [
            _tie_heavy(_mk_term(rng, 400, rng.randint(5, 401)))
            for _ in range(rng.randint(1, 5))
        ]
        _check_dense(rng, pool, (1, 5, 10), 2, ("ties", trial))
    assert _dense_topk([], 10, np.empty(0, np.int64), np.empty(0), True,
                       1.2, 0.75, 100.0) == ([], [])
    # fewer docs than k: nothing to prune, every doc returned
    t = _mk_term(np.random.RandomState(0), 100, 1)
    t["dense"] = np.zeros(1, dtype=np.int64)
    for prune in (False, True):
        ids, _ = _dense_topk([t], 10, t["docs"], np.zeros(1), prune,
                             1.2, 0.75, 100.0)
        assert ids == t["docs"].tolist()


def test_auto_ranges_policy():
    """Fan-out policy: work-granule target, parallelism cap, memory floor,
    and the idle-slot floor for small single queries — each regime pinned
    so a future tweak that silently reroutes task sizes (the cause of the
    2026-08-18 p50 cliff) fails here first."""
    from quickb_spark.query.wand import (
        MAX_RANGES,
        RANGE_TARGET_POSTINGS,
        _auto_ranges,
    )

    t = RANGE_TARGET_POSTINGS
    # no parallelism hint: pure work-granule split, capped at MAX_RANGES
    assert _auto_ranges(1) == 1
    assert _auto_ranges(3 * t) == 3
    assert _auto_ranges(10_000 * t) == MAX_RANGES
    # parallelism cap: 2x slots unless the ~4x-target memory floor wins
    assert _auto_ranges(30 * t, parallelism=2) == 8  # floor(30t/4t)=8 > 4
    assert _auto_ranges(12 * t, parallelism=2) == 4  # cap 2*2 > floor 3
    # big cluster with idle slots: the slot floor spreads even a
    # granule-sized query over the free slots, up to MAX_RANGES
    assert _auto_ranges(12 * t, parallelism=64) == MAX_RANGES
    # idle-slot floor: a small query still spreads over free slots...
    assert _auto_ranges(t // 2, parallelism=8) == 8
    # ...but a trivial list does not fan out to the whole cluster
    assert _auto_ranges(70_000, parallelism=64) == 2
    assert _auto_ranges(10, parallelism=64) == 1
    # full scheduling waves: a memory-floor-driven count above the slot
    # count rounds UP to the next multiple of the slots (21 ranges on 8
    # slots would run waves of 8/8/5 with an idle tail)
    assert _auto_ranges(84 * t, parallelism=8) == 24  # floor 21 -> 24
    assert _auto_ranges(30 * t, parallelism=2) == 8  # already a multiple
    # cap interplay: rounding up past MAX_RANGES only rounds down when
    # the memory floor allows it; otherwise the cap wins as before
    assert _auto_ranges(120 * t, parallelism=12) == MAX_RANGES  # floor 30
    assert _auto_ranges(72 * t, parallelism=12) == 24  # floor 18 -> 24
