"""Per-layer metrics of a traced run: from its spans, the Spark status
tracker counts, the event log, the index files on disk, and four
single-core kernel rates measured on the workload's own data.

Each metric is named after the engine layer it describes; which
end-to-end metric it should move, on which workload, is written down in
perfbench/workloads.json ("layer_to_end_to_end")."""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from host import dir_bytes
from spans import task_times


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _skew(durs: list[float]) -> float:
    return max(durs) / statistics.median(durs) if durs and statistics.median(durs) > 0 else 1.0


def _kernels(s: dict, cfg, idx: str) -> dict:
    """Single-core rates on this workload's data: the chunker over the
    corpus, the tokenizer over the chunks, the build's vectorized posting
    encoder over every posting list, and the serving decoder over the
    built segment rows."""
    import pyarrow.parquet as pq

    from quickb_spark.chunking.splitter import split_document
    from quickb_spark.functions.tokenize import tokenize_py
    from quickb_spark.index.encode import decode_posting_list, to_u64
    from quickb_spark.index.p2_direct import encode_sorted_groups

    docs = s["corpus"][:2000]
    t0 = time.perf_counter()
    for d in docs:
        split_document(d[4], d[3], cfg.chunker)
    split_rate = sum(len(d[4].encode()) for d in docs) / 1e6 / (time.perf_counter() - t0)

    texts = [r[1] for r in s["chunks"][:6000]]
    t0 = time.perf_counter()
    n_tok = sum(len(tokenize_py(t)) for t in texts)
    tok_rate = n_tok / 1e6 / (time.perf_counter() - t0)

    o = s["oracle"]
    post = [(t, d, len(p), o.doc_len[d]) for t, (_w, pl) in enumerate(o.postings.items()) for d, p in pl.items()]
    term, doc_id, tf, dl = (np.array(c, dtype=np.int64) for c in zip(*post))
    order = np.lexsort((to_u64(doc_id), term))
    n = len(order)
    t0 = time.perf_counter()
    encode_sorted_groups(
        term[order], np.zeros(n, np.int32), doc_id[order], tf[order], dl[order],
        np.zeros(n + 1, np.int64), b"", cfg.index.block_size, False, "perfbench",
    )
    enc_rate = n / 1e6 / (time.perf_counter() - t0)

    cols = ["df_part", "doc_stream", "tf_stream", "dl_stream"]
    seg = os.path.join(idx, "segments")
    rows = [
        r for root, _d, fs in os.walk(seg) for f in fs if f.endswith(".parquet")
        for r in pq.read_table(os.path.join(root, f), columns=cols).to_pylist()
    ][:20000]
    t0 = time.perf_counter()
    for r in rows:
        decode_posting_list(r["doc_stream"], r["tf_stream"], r["df_part"], r["dl_stream"],
                            block_size=cfg.index.block_size)
    dec_rate = sum(r["df_part"] for r in rows) / 1e6 / (time.perf_counter() - t0)
    return {"split": split_rate, "tok": tok_rate, "enc": enc_rate, "dec": dec_rate}


def _files_with_terms(files: list[str], terms: list[int], cache: dict) -> int:
    import pyarrow.parquet as pq

    want = set(terms)
    n = 0
    for f in files:
        if f not in cache:
            cache[f] = set(pq.read_table(f, columns=["term_h"]).column("term_h").to_pylist())
        n += bool(cache[f] & want)
    return n


def compute(bench, s: dict, idx: str, counts: dict) -> dict:
    tr = bench.tracer
    cfg = bench.cfg
    tasks = task_times(os.path.join(bench.work, "events"))
    self_t = tr.self_times()
    by_op: dict[str, list] = {}
    for sp in tr.spans:
        if sp.op:
            by_op.setdefault(sp.op, []).append(sp)

    def ops(kind):
        return [v for k, v in by_op.items() if k.split("#")[0] == kind]

    def one(kind, name):
        found = [sp for spans in ops(kind) for sp in spans if sp.name == name]
        if not found:
            raise RuntimeError(f"no {name} span in a {kind} op")
        return found[0]

    def jobs(sp):
        return counts[sp.group]["jobs"]

    def ntasks(sp):
        return counts[sp.group]["tasks"]

    build = one("build", "segments.build_index")
    pre, runs, merge = one("build", "p1.presample"), one("build", "p1.runs"), one("build", "p2.merge")
    o = s["oracle"]
    thresh = max(cfg.index.hot_term_min_df, o.n_docs * cfg.index.hot_term_doc_fraction)
    hot = pre.info["hot_terms"]
    precision = sum(o.df(t) > thresh for t in hot) / len(hot) if hot else 1.0

    seg_dir = os.path.join(idx, "segments")
    bucket_bytes = [dir_bytes(os.path.join(seg_dir, b)) for b in os.listdir(seg_dir) if b.startswith("bucket=")]
    import pyarrow.parquet as pq

    seg_rows = 0
    for root, _d, files in os.walk(seg_dir):
        for f in files:
            if f.endswith(".parquet"):
                seg_rows += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows

    fold_op = ops("fold")[0]
    fold = one("fold", "incremental.fold")
    fold_builds = [sp for sp in fold_op if sp.name == "segments.build_index"]

    any_ops = ops("any")
    plan, handback, job, jobs_b, tasks_b, ranges, files_n, useful, busy, skew, share = ([] for _ in range(11))
    tcache: dict = {}
    for spans in any_ops:
        wall = next(sp.dur for sp in spans if sp.name == "op.any")
        for sp in spans:
            if sp.name == "searcher.topk":
                plan.append(self_t[sp.sid])
            elif sp.name == "searcher.handback":
                handback.append(sp.dur)
            elif sp.name == "serve.job":
                job.append(sp.dur)
                ranges.append(sp.info["ranges"])
                files_n.append(len(sp.info["files"]))
                useful.append(_files_with_terms(sp.info["files"], sp.info["terms"], tcache) / max(1, len(sp.info["files"])))
                durs = tasks.get(sp.group, [])
                busy.append(sum(durs))
                skew.append(_skew(durs))
                share.append(max(durs, default=0.0) / wall)
        jobs_b.append(sum(jobs(sp) for sp in spans))
        tasks_b.append(sum(ntasks(sp) for sp in spans))

    preload = one("open", "serve.preload")
    lex = one("open", "searcher.lexicon_load")
    shm_n, shm_b = bench.info["shm_after_open"]

    k = _kernels(s, cfg, idx)
    p1_durs, p2_durs = tasks.get(runs.group, []), tasks.get(merge.group, [])
    return {
        "p1.presample_s": (pre.dur, "s"),
        "p1.presample_tasks": (ntasks(pre), "count"),
        "p1.hot_terms": (len(hot), "count"),
        "p1.hot_precision": (precision, "ratio"),
        "p1.runs_s": (runs.dur, "s"),
        "p1.runs_tasks": (ntasks(runs), "count"),
        "p1.task_busy_s": (sum(p1_durs), "s"),
        "p1.task_max_over_median": (_skew(p1_durs), "ratio"),
        "p1.run_bytes": (dir_bytes(os.path.join(idx, "flat")), "bytes"),
        "chunking.split_mb_per_s": (k["split"], "MB/s"),
        "tokenize.mtokens_per_s": (k["tok"], "Mtokens/s"),
        "p2.merge_s": (merge.dur, "s"),
        "p2.tasks": (ntasks(merge), "count"),
        "p2.task_busy_s": (sum(p2_durs), "s"),
        "p2.task_max_over_median": (_skew(p2_durs), "ratio"),
        "p2.segment_bytes": (dir_bytes(seg_dir), "bytes"),
        "p2.segment_rows": (seg_rows, "count"),
        "p2.bucket_bytes_max_over_median": (_skew(bucket_bytes), "ratio"),
        "encode.mpostings_per_s": (k["enc"], "Mpostings/s"),
        "decode.mpostings_per_s": (k["dec"], "Mpostings/s"),
        "segments.self_s": (self_t[build.sid], "s"),
        "segments.spark_jobs": (jobs(build), "count"),
        "segments.lexicon_bytes": (dir_bytes(os.path.join(idx, "lexicon")), "bytes"),
        "incremental.ingest_s": (one("ingest", "incremental.ingest").dur, "s"),
        "incremental.fold_s": (fold.dur, "s"),
        "incremental.fold_buckets": (fold.info["buckets"], "count"),
        "incremental.fold_build_s": (sum(sp.dur for sp in fold_builds), "s"),
        "searcher.plan_s": (_med(plan), "s"),
        "searcher.lexicon_load_s": (lex.dur, "s"),
        "searcher.handback_s": (_med(handback), "s"),
        "serve.job_s": (_med(job), "s"),
        "serve.spark_jobs_per_batch": (_med(jobs_b), "count"),
        "serve.tasks_per_batch": (_med(tasks_b), "count"),
        "serve.ranges_per_batch": (_med(ranges), "count"),
        "serve.files_per_batch": (_med(files_n), "count"),
        "serve.useful_file_ratio": (_med(useful), "ratio"),
        "serve.task_busy_s": (_med(busy), "s"),
        "serve.task_max_over_median": (_med(skew), "ratio"),
        "serve.task_share": (_med(share), "ratio"),
        "serve.preload_s": (preload.dur, "s"),
        "serve.decoded_bytes": (preload.info["decoded_bytes"], "bytes"),
        "serve.shm_entries": (shm_n, "count"),
        "serve.shm_bytes": (shm_b, "bytes"),
        "trace.bookkeeping_s": (tr.bookkeeping_s, "s"),
    }
