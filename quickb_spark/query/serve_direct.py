"""Direct-pyarrow BM25 serving: range tasks read segment files themselves.

This is the scoring job of every Searcher batch (query/searcher.py):

  driver plans R docID ranges (ranges partition the doc space, so per-range
  top-k lists merge exactly) -> one Spark task per range reads the
  CANDIDATE segment rows itself with pyarrow (bucket-pruned file list from
  the Searcher's cached listing), slices each row's streams to its range
  via the per-block byte offsets (the per-block absolute delta reset makes
  any block-aligned slice independently decodable), and scores the whole
  query batch with the kernels in query/wand.py (`_build_struct`,
  `_score_query_set`, `_conj_topk`) or phrase-verifies it here. Only
  per-range top-k rows (<= R*Q*k) ever cross the Python<->JVM boundary;
  the driver merges them exactly and builds the result DataFrame locally —
  no shuffle, no window job, no stream bytes on the Arrow channel (the
  channel was the measured reason round-3 query batches scaled at ~half
  the build's rate: median q-eff 0.493 vs build 0.802, BENCH/BASELINE.md).

Candidate rows are consumed as zero-copy NumPy/buffer VIEWS over the Arrow
table (offsets+values of the binary and list columns) — never `to_pylist`
(materializing block-metadata lists as Python objects measured ~5x the
parquet decode cost, 2026-08-18 probe on the 4M index) — and each file's
DECODED table is kept in a per-worker-process LRU cache (Spark reuses
Python workers): the R range tasks of a batch, and every later batch a
serving process handles, re-read a candidate file zero times instead of
once per range. Entries are fingerprinted by (size, mtime) so a rebuilt
index invalidates, and the budget is QKB_SERVE_CACHE_MB per worker process
(default 6144 — size it ABOVE the hot working set: a budget just under it
turns the LRU into sequential-scan thrash; 0 disables). Measured on the
4M index at 8 cores: warm 50-query batch 29.3s uncached -> 15.4s cached
(see BENCH/query_decompose_r4.json). Behind it sits a host-shared tier of
decoded tables (`_shm_dir`), and `Searcher.preload()` fills both at index
open, so even the FIRST batch skips the cold segment read.

Scale notes:
- each range task re-reads the candidate rows (R-fold read amplification of
  candidate bytes). Reads are bucket-pruned, page-cached parquet, so the
  amplified cost is decode — CPU that scales with cores; total read work
  is fixed per batch (R is postings-driven, not cluster-driven). At
  object-store scale the knob is the range count
  (query/wand.RANGE_TARGET_POSTINGS): fewer, bigger ranges trade task
  memory for read amplification.
- phrase verification is vectorized end to end: candidate docs come from
  posting-list intersection, their positions from a per-part BULK decode of
  the range's position slice (format v5 block_pos_off), and adjacency from
  sorted-set intersection on (candidate, position) composite keys — no
  per-document Python loop exists on the phrase path.
- conjunctive (all-terms) mode reuses the same sorted-array candidate
  intersection WITHOUT the position verify (`_conj_topk`); works on
  positionless indexes.

Reference parity: this serves the same capability as the reference's
ChromaDB top-k query (examples/chromadb_integration.ipynb cell 8); phrase
mode is the exact-match retrieval companion the reference demonstrates
beside ANN in the same notebook.
"""

from __future__ import annotations

from collections import OrderedDict, defaultdict

import numpy as np

from quickb_spark.index.encode import decode_posting_list, varbyte_decode

__all__ = ["serve_topk_direct", "preload_files"]

#: Segment-row columns every serving read needs; position columns join in
#: phrase mode only.
_BASE_COLS = [
    "term_h", "df_part", "doc_stream", "tf_stream", "dl_stream",
    "block_last_doc", "block_doc_off", "block_tf_off", "block_dl_off",
]
_POS_COLS = ["pos_stream", "block_pos_off"]


#: Per-worker-process decoded-table cache: (path, want_pos) ->
#: (fingerprint, table). LRU by access order, bounded by
#: QKB_SERVE_CACHE_MB of Arrow buffer bytes per process.
_TBL_CACHE: "OrderedDict[tuple[str, bool], tuple]" = OrderedDict()
_TBL_CACHE_BYTES = [0]


def _cache_budget() -> int:
    import os

    # default sized ABOVE the 4M-doc fixture index's decoded candidate set
    # (~2.1 GB): a budget just under the working set turns the LRU into a
    # sequential-scan thrash (each new file evicts the next task's first
    # file) — measured as warm batches running at cold speed
    return int(os.environ.get("QKB_SERVE_CACHE_MB", "6144")) << 20


def _shm_dir() -> str | None:
    """Shared decoded-table cache directory (None = disabled).

    The per-PROCESS LRU above makes every Python worker decode every
    candidate file once — a fresh-open cost that grows with executor
    count (round-4 pools: cold-warm gap 1.6s @N vs 12.3s @4N, VERDICT r4
    #4). The standard fix is sharing the decoded form across workers on a
    host: the first worker to need a file decodes it ONCE and writes it
    as an Arrow IPC file here; every other worker memory-maps that file —
    zero-copy, page-cache-shared, milliseconds. On a multi-node cluster
    /dev/shm is per-host, so this is the per-host segment cache every
    serving engine keeps (Lucene's mmap directory); workers on other
    hosts decode their own host's copy on first touch. Entries are keyed
    by (path, size, mtime) so a rebuilt index never matches a stale
    entry. QKB_SERVE_SHM_DIR overrides ('' disables)."""
    import os

    d = os.environ.get("QKB_SERVE_SHM_DIR")
    if d is not None:
        return d or None
    return "/dev/shm/qkb_serve_cache" if os.path.isdir("/dev/shm") else None


def _shm_evict(shm: str, budget: int) -> None:
    """Bound the shared cache dir to `budget` bytes, oldest-mtime first
    (best-effort; concurrent removals are fine)."""
    import os

    try:
        entries = []
        for name in os.listdir(shm):
            if not name.endswith(".arrow"):
                continue
            p = os.path.join(shm, name)
            try:
                st = os.stat(p)
            except OSError:
                continue
            entries.append((st.st_mtime_ns, st.st_size, p))
        total = sum(sz for _, sz, _ in entries)
        if total <= budget:
            return
        for _, sz, p in sorted(entries):
            try:
                os.remove(p)
            except OSError:
                continue
            total -= sz
            if total <= budget:
                return
    except OSError:
        return


def _shm_path(shm: str, path: str, fp: tuple, want_pos: bool) -> str:
    import hashlib
    import os

    key = hashlib.sha1(
        f"{path}|{fp[0]}|{fp[1]}|{int(want_pos)}".encode()
    ).hexdigest()
    return os.path.join(shm, f"{key}.arrow")


def preload_files(spark, files: list[str], want_pos: bool = False,
                  rounds: int = 2, pretouch_mb: int = 0) -> int:
    """Best-effort warm of every executor worker's decoded-table cache —
    the index-open step of a serving process (Lucene-style: segments load
    at reader open, not on the first query). One task per task slot, each
    loading every candidate file; `rounds` repeats catch workers the
    scheduler skipped in an earlier round (worker reuse makes repeats
    near-free). Returns the per-worker decoded byte count of the last
    round's first task.

    pretouch_mb (default 0 = off): additionally grow
    each worker's malloc arena by this many MB of touched-then-freed 32MB
    blocks — the Python-worker analog of the JVM's AlwaysPreTouch. With
    the arena-reuse env from quickb_spark.session applied, the first
    query batch then allocates its temporaries from already-faulted pages
    instead of paying DRAM-bound page zeroing inside the batch (measured:
    the first post-preload batch's tasks fault ~1M pages each without
    this). Without that env the blocks are munmapped on free and the
    pretouch is wasted work, so it defaults off.

    With the shared decoded-table cache enabled (_shm_dir), the open is
    two-phase: first a DISTRIBUTED decode — one task per segment file, so
    4x the executors decode the index ~4x faster — publishing each
    file's decoded Arrow form to the host's shared cache; then the
    per-slot rounds below, which memory-map the published entries
    instead of each worker re-decoding every file (the round-4
    fresh-open cost that GREW with cluster size: cold-warm gap 1.6s @N
    vs 12.3s @4N, VERDICT r4 #4)."""
    sc = spark.sparkContext
    par = max(1, sc.defaultParallelism)

    if _shm_dir() is not None and len(files) > 1:
        # phase A: decode once per file, spread over every task slot
        def _decode_one(f):
            try:
                return _cached_table(f, want_pos).nbytes
            except OSError:
                return 0

        sc.parallelize(files, len(files)).map(_decode_one).collect()

    def _load(_i):
        total = 0
        for f in files:
            try:
                total += _cached_table(f, want_pos).nbytes
            except OSError:
                return 0  # non-local FS: nothing to preload
        if pretouch_mb:
            # 32MB blocks stay under any configured mmap threshold, so
            # freeing them leaves the pages arena-resident for the first
            # batch's temps; hold all before freeing so the arena peak
            # covers the full pretouch size at once
            chunk_words = (32 << 20) // 8
            held = []
            for _ in range(max(0, (pretouch_mb << 20) // (32 << 20))):
                a = np.empty(chunk_words, dtype=np.int64)
                a[::512] = 1  # touch each 4KB page
                held.append(a)
            del held
        return total

    out = 0
    for _ in range(max(1, rounds)):
        res = sc.parallelize(range(par), par).map(_load).collect()
        out = res[0] if res else 0
    return out


def _cached_table(path: str, want_pos: bool):
    """Decoded candidate table for one segment file, worker-cached.

    The cache key includes want_pos (phrase batches read the position
    columns too); the fingerprint is (size, mtime_ns) so replacing the
    file — rebuild, re-fold — invalidates the entry."""
    import os

    import pyarrow.parquet as pq

    import pyarrow as pa

    budget = _cache_budget()
    cols = _BASE_COLS + (_POS_COLS if want_pos else [])
    st = os.stat(path)
    fp = (st.st_size, st.st_mtime_ns)
    key = (path, want_pos)
    hit = _TBL_CACHE.get(key)
    if hit is not None and hit[0] == fp:
        _TBL_CACHE.move_to_end(key)  # refresh LRU position
        return hit[1]
    tbl = None
    shm = _shm_dir()
    if shm:
        sp = _shm_path(shm, path, fp, want_pos)
        try:
            tbl = pa.ipc.open_file(pa.memory_map(sp)).read_all()
        except (OSError, pa.ArrowInvalid):
            tbl = None
    if tbl is None:
        tbl = pq.read_table(path, columns=cols).combine_chunks()
        if shm:
            # publish the decoded form for the host's other workers
            # (atomic rename; racing writers converge on identical bytes
            # modulo writer, last rename wins)
            try:
                os.makedirs(shm, exist_ok=True)
                tmp = f"{sp}.tmp.{os.getpid()}"
                with pa.OSFile(tmp, "wb") as sink:
                    with pa.ipc.new_file(sink, tbl.schema) as writer:
                        writer.write_table(tbl)
                os.replace(tmp, sp)
                _shm_evict(
                    shm,
                    int(os.environ.get("QKB_SERVE_SHM_MB", "16384")) << 20,
                )
            except OSError:
                pass
    if budget <= 0:
        return tbl
    if hit is not None:
        _TBL_CACHE_BYTES[0] -= hit[1].nbytes
        del _TBL_CACHE[key]
    while _TBL_CACHE and _TBL_CACHE_BYTES[0] + tbl.nbytes > budget:
        _, old = _TBL_CACHE.popitem(last=False)
        _TBL_CACHE_BYTES[0] -= old[1].nbytes
    if tbl.nbytes <= budget:
        _TBL_CACHE[key] = (fp, tbl)
        _TBL_CACHE_BYTES[0] += tbl.nbytes
    return tbl


def _bin_views(tbl, name):
    """(offsets int64[n+1], values memoryview) over a binary column —
    zero-copy row slicing without per-row Python bytes objects."""
    import pyarrow as pa

    arr = tbl.column(name).combine_chunks().cast(pa.large_binary())
    if arr.offset != 0:
        arr = pa.concat_arrays([arr])
    n = len(arr)
    off = np.frombuffer(arr.buffers()[1], dtype=np.int64)[: n + 1]
    buf = memoryview(arr.buffers()[2] or b"")[: off[-1]] if n else memoryview(b"")
    return off, buf


def _list_views(tbl, name):
    """(offsets int64[n+1], values int64 ndarray) over a list<int64> column."""
    import pyarrow as pa

    arr = tbl.column(name).combine_chunks()
    if arr.offset != 0:
        arr = pa.concat_arrays([arr])
    off = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    vals = arr.values.to_numpy(zero_copy_only=False)
    return off, vals


class _RowView:
    """Vectorized accessors over one candidate table's rows."""

    def __init__(self, tbl, want_pos: bool):
        self.n = tbl.num_rows
        self.term_h = tbl.column("term_h").to_numpy(zero_copy_only=False)
        self.df_part = tbl.column("df_part").to_numpy(zero_copy_only=False)
        self.streams = {
            c: _bin_views(tbl, c)
            for c in (
                ("doc_stream", "tf_stream", "dl_stream", "pos_stream")
                if want_pos
                else ("doc_stream", "tf_stream", "dl_stream")
            )
        }
        self.lists = {
            c: _list_views(tbl, c)
            for c in (
                ("block_last_doc", "block_doc_off", "block_tf_off",
                 "block_dl_off", "block_pos_off")
                if want_pos
                else ("block_last_doc", "block_doc_off", "block_tf_off",
                      "block_dl_off")
            )
        }

    def blocks(self, name, i):
        off, vals = self.lists[name]
        return vals[off[i]: off[i + 1]]

    def stream_slice(self, name, i, b0, b1):
        """Bytes of row i's `name` stream covering blocks [b0, b1) given
        that row's block byte-offset array for the stream."""
        soff, buf = self.streams[name]
        boff = self.blocks("block_" + name.split("_")[0] + "_off", i)
        start = int(soff[i]) + int(boff[b0])
        end = int(soff[i]) + (
            int(boff[b1]) if b1 < len(boff) else int(soff[i + 1] - soff[i])
        )
        return buf[start:end]


def _slice_row(rv: _RowView, i: int, lo: int, hi: int, block_size: int,
               want_pos: bool):
    """Row i -> range-trimmed part, or None when it has no postings in
    [lo, hi]. Mirrors the JVM slicing expressions of the channel fallback
    (wand._slice_to_ranges) exactly: b_lo = #blocks entirely below lo,
    b_hi = min(nb, #blocks starting <= hi + 1); the decoded slice is then
    trimmed to [lo, hi] so every doc is scored in exactly one range."""
    bld = rv.blocks("block_last_doc", i)
    nb = len(bld)
    b_lo = int(np.searchsorted(bld, lo, "left"))
    b_hi = min(nb, int(np.searchsorted(bld, hi, "right")) + 1)
    if b_lo >= b_hi:
        return None
    n_sub = min(int(rv.df_part[i]), b_hi * block_size) - b_lo * block_size
    d, t, dl = decode_posting_list(
        rv.stream_slice("doc_stream", i, b_lo, b_hi),
        rv.stream_slice("tf_stream", i, b_lo, b_hi),
        n_sub,
        rv.stream_slice("dl_stream", i, b_lo, b_hi),
        block_size=block_size,
    )
    a = int(np.searchsorted(d, lo, "left"))
    z = int(np.searchsorted(d, hi, "right"))
    pos_part = None
    if want_pos:
        pos_part = {
            "tfs_slice": t,  # pre-trim slice tfs (position counts/posting)
            "trim_a": a,
            "n_sub": n_sub,
            "pos_bytes": rv.stream_slice("pos_stream", i, b_lo, b_hi),
        }
    if a or z < len(d):
        d, t, dl = d[a:z], t[a:z], dl[a:z]
    if not len(d):
        return None
    return d, t, dl, pos_part


def _part_positions(p) -> tuple[np.ndarray, np.ndarray]:
    """Bulk-decode one part's position slice -> (flat ABSOLUTE positions,
    per-slice-posting offsets int64[n_sub+1]). Cached on the part dict.
    One vectorized pass over the whole slice: per-posting deltas with an
    absolute first value become absolute positions via a segmented cumsum
    (cumsum minus the carry at each posting start)."""
    hit = p.get("_pos")
    if hit is not None:
        return hit
    tfs = np.asarray(p["tfs_slice"], dtype=np.int64)
    n_vals = int(tfs.sum())
    offs = np.zeros(len(tfs) + 1, dtype=np.int64)
    np.cumsum(tfs, out=offs[1:])
    deltas = varbyte_decode(p["pos_bytes"], n_vals).view(np.int64)
    c = np.cumsum(deltas)
    starts = offs[:-1][tfs > 0]
    if len(starts) > 1:
        reps = np.diff(np.append(starts, n_vals))
        carry = np.repeat(
            np.concatenate(([np.int64(0)], c[starts[1:] - 1])), reps
        )
        flat = c - carry
    else:
        flat = c
    p["_pos"] = (flat, offs)
    return p["_pos"]


def _candidate_pos_keys(struct, cand_idx: np.ndarray) -> np.ndarray:
    """Sorted composite keys (slot << 32 | position) for the candidate
    postings' token positions, where slot = index into the candidate doc
    array. Fully vectorized: per part, a bulk pos decode + one ragged
    gather (np.repeat/arange trick). Token positions are chunk-local
    (< 2^31), slots < 2^31 — the composite never overflows."""
    perm = struct["perm"]
    part_starts = struct["part_starts"]
    flat_idx = perm[cand_idx]
    part_i = np.searchsorted(part_starts, flat_idx, "right") - 1
    out = []
    for pi in np.unique(part_i):
        p = struct["pos_parts"][pi]
        sel = part_i == pi
        slots = np.flatnonzero(sel)
        sidx = flat_idx[sel] - int(part_starts[pi]) + p["trim_a"]
        flat, offs = _part_positions(p)
        lens = offs[sidx + 1] - offs[sidx]
        total = int(lens.sum())
        if not total:
            continue
        dst_off = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=dst_off[1:])
        take = (
            np.arange(total, dtype=np.int64)
            - np.repeat(dst_off[:-1], lens)
            + np.repeat(offs[sidx], lens)
        )
        pos_vals = flat[take]
        key = (np.repeat(slots.astype(np.int64), lens) << np.int64(32)) | pos_vals
        out.append(key)
    if not out:
        return np.empty(0, dtype=np.int64)
    keys = np.concatenate(out)
    keys.sort()
    return keys


def _phrase_topk(structs, seq, k, block_size, slop: int = 0):
    """Phrase top-k within one range: docs containing the query's terms in
    order with successive-term position gaps in [1, slop + 1] (slop=0 =
    exact adjacency: positions p, p+1, ...), scored with the same BM25 sum
    as non-phrase queries, ranked (score desc, doc asc). Candidates from
    posting-list intersection; the in-order chain via sorted intersection
    of (candidate, position) composite keys — the key set after step i is
    exactly the positions of term i that can END a valid chain, so the
    sloppy generalization is the union of `keys + d` for d in
    [1, slop + 1] (token positions are < 2^31, so +d never crosses the
    slot boundary of the composite). No per-document loop."""
    uniq = list(dict.fromkeys(seq))
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
    idx_of = {t: np.searchsorted(structs[t]["docs"], cand) for t in uniq}
    keys = _candidate_pos_keys(structs[seq[0]], idx_of[seq[0]])
    for t in seq[1:]:
        if not len(keys):
            return [], []
        nxt = _candidate_pos_keys(structs[t], idx_of[t])
        if slop == 0:
            keys = np.intersect1d(keys + 1, nxt, assume_unique=True)
        else:
            keys = np.unique(
                np.concatenate(
                    [
                        np.intersect1d(keys + d, nxt, assume_unique=True)
                        for d in range(1, slop + 2)
                    ]
                )
            )
    if not len(keys):
        return [], []
    slots = np.unique(keys >> np.int64(32))
    docs_v = cand[slots]
    score = np.zeros(len(slots))
    for t in uniq:  # insertion order == channel concat order (fp-identical)
        score += structs[t]["scores"][idx_of[t][slots]]
    order = np.lexsort((docs_v, -score))[:k]
    return docs_v[order].tolist(), score[order].tolist()


def _serve_range_task(payload):
    """One range's serving work: read candidate rows, slice via zero-copy
    views, build structs with the SHARED kernels, score the batch (or
    phrase-verify), return top-k tuples. Pure pyarrow/NumPy — nothing but
    these rows crosses the Python<->JVM boundary."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quickb_spark.query.wand import (
        _build_struct,
        _conj_topk,
        _idf_of,
        _score_query_set,
    )

    (range_id, lo, hi, files, th_list, dfs, n_docs, avgdl, block_size,
     terms_by_query, k, strategy, k1, b, phrase_seqs, conj_seqs,
     slop) = payload
    pa.set_cpu_count(1)  # one core slot per task (see p1_direct._p1_task)
    want_pos = phrase_seqs is not None
    cols = _BASE_COLS + (_POS_COLS if want_pos else [])
    th_set = list(map(int, th_list))
    th_arr = np.array(th_set, dtype=np.int64)
    parts: dict[int, list] = defaultdict(list)
    pos_parts: dict[int, list] = defaultdict(list)
    for path in files:
        try:
            full = _cached_table(path, want_pos)
        except OSError:
            # non-local FS path (no os.stat): uncached, filter-pushed read
            full = pq.read_table(
                path, columns=cols, filters=[("term_h", "in", th_set)]
            )
        if not full.num_rows:
            continue
        th_col = full.column("term_h").to_numpy(zero_copy_only=False)
        mask = np.isin(th_col, th_arr)
        if not mask.any():
            continue
        tbl = full if mask.all() else full.filter(pa.array(mask))
        rv = _RowView(tbl, want_pos)
        for i in range(rv.n):
            sl = _slice_row(rv, i, lo, hi, block_size, want_pos)
            if sl is None:
                continue
            d, t, dl, pp = sl
            parts[int(rv.term_h[i])].append((d, t, dl))
            if want_pos:
                pos_parts[int(rv.term_h[i])].append(pp)
    structs = {}
    for term in sorted(parts):
        s = _build_struct(
            parts[term], _idf_of(term, dfs, n_docs), k1, b, avgdl
        )
        if want_pos:
            lens = np.array([len(p[0]) for p in parts[term]], dtype=np.int64)
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            s["part_starts"] = starts
            s["pos_parts"] = pos_parts[term]
        structs[term] = s
    if want_pos:
        out = []
        for qid in sorted(phrase_seqs):
            doc_ids, scores = _phrase_topk(
                structs, phrase_seqs[qid], k, block_size, slop=slop
            )
            out.extend(
                (qid, int(d), float(s)) for d, s in zip(doc_ids, scores)
            )
        return out
    if conj_seqs is not None:
        out = []
        for qid in sorted(conj_seqs):
            doc_ids, scores = _conj_topk(structs, conj_seqs[qid], k)
            out.extend(
                (qid, int(d), float(s)) for d, s in zip(doc_ids, scores)
            )
        return out
    out_q, out_d, out_s, _ = _score_query_set(
        structs, terms_by_query, k, strategy, k1, b, avgdl, emit_rank=False
    )
    return list(zip(out_q, (int(d) for d in out_d), map(float, out_s)))


def serve_topk_direct(
    spark,
    files: list[str],
    qt_pairs_h: list[tuple[str, int]],
    dfs_h: dict[int, int],
    stats: dict,
    k: int,
    k1: float,
    b: float,
    strategy: str,
    r_count: int,
    phrase_seqs: dict[str, list[int]] | None = None,
    conj_seqs: dict[str, list[int]] | None = None,
    slop: int = 0,
):
    """(query_id, rank, doc_id, score) DataFrame via direct range tasks.

    `files`: candidate segment files (bucket-pruned, from the Searcher's
    cached listing). `phrase_seqs`: qid -> ordered term_h sequence turns
    the batch into phrase retrieval (same BM25 scores, result set
    restricted to docs containing the terms in order with successive gaps
    <= slop + 1; slop=0 = exact phrase). `conj_seqs`: qid -> term_h
    list turns it into conjunctive (all-terms) retrieval — same scores,
    result set restricted to docs containing every term."""
    from quickb_spark.query.wand import _range_bounds

    terms_by_query: dict[str, list[int]] = {}
    for qid, t in qt_pairs_h:
        terms_by_query.setdefault(qid, []).append(t)
    block_size = int(stats.get("block_size", 128))
    payloads = [
        (r, lo, hi, files, sorted(dfs_h), dfs_h, stats["n_docs"],
         stats["avgdl"], block_size, terms_by_query, k, strategy, k1, b,
         phrase_seqs, conj_seqs, slop)
        for r, lo, hi in _range_bounds(r_count)
    ]
    sc = spark.sparkContext
    chunks = sc.parallelize(payloads, len(payloads)).map(
        _serve_range_task
    ).collect()
    # exact driver-side merge: ranges partition the doc space, so each doc
    # appears in exactly one range's partial top-k; per query keep the k
    # best by (score desc, doc asc) and rank them
    per_q: dict[str, list[tuple[float, int]]] = defaultdict(list)
    for chunk in chunks:
        for qid, doc, score in chunk:
            per_q[qid].append((score, doc))
    rows = []
    for qid in sorted(per_q):
        cands = sorted(per_q[qid], key=lambda t: (-t[0], t[1]))[:k]
        rows.extend(
            (qid, rank, doc, score)
            for rank, (score, doc) in enumerate(cands, start=1)
        )
    return spark.createDataFrame(
        rows, "query_id string, rank int, doc_id long, score double"
    )
