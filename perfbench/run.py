"""quickb_spark benchmark: index build, cold open and BM25 serving, end to
end and layer by layer, on one host-sized Spark session.

    python3 perfbench/run.py --workload sf01-mixed --seed 1 --seconds 25 --trace 0

Run it from the root of a checkout. One driver-side client runs a closed
loop (each call returns before the next starts) on local[nproc]:

  setup    session start and Python worker start; then input generation,
           parquet write, chunking and the oracle index, repeated: setup_s
           is their median, and every repeat must give the same input
           bytes; then the oracle top-k of every query, once.
  measure  one full build_index(corpus_uri=) of the corpus, the first
           build of the session (as a build job runs it); a cold open
           (Searcher + preload with an empty shm dir); WARM_ROUNDS untimed
           rounds of batches; then timed rounds of warm any-mode, phrase and
           AND batches plus single queries until --seconds have passed
           since the build began, and at least MIN_ROUNDS rounds.
  check    every result against a brute-force BM25 oracle over the
           engine's chunk output. A mismatch or an exception is a failed
           op and makes the exit code non-zero.

--trace 1 is a separate run. It wraps the public entry points of each
layer in spans (perfbench/spans.py), turns on the Spark event log, also
streams a delta into a small channel-built index and folds it, and reports
the per-layer metrics (perfbench/layers.py). The spans go to
.perfbench_out/. A traced run prints its end-to-end numbers too; their
difference to an untraced run of the same seed is the tracing overhead.

The last stdout line is one JSON object: correct, attempted, failed and
the metrics BENCHMARK.json names. The lines before it are a readable
report with the host record. Workload sizes and the index config are in
perfbench/workloads.json.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAMES = ["repo", "path", "commit", "lang", "content"]
MODES = (("any", {}), ("phrase", {"phrase": True}), ("and", {"match_all": True}))
#: serving rounds: WARM_ROUNDS untimed rounds of one batch per mode come
#: first (the batches right after an open read slower). Then at least
#: MIN_ROUNDS timed rounds of one batch per mode plus SINGLES_PER_ROUND
#: single queries run, so every batch median has 4 samples and
#: query_p50_s 8.
WARM_ROUNDS = 1
MIN_ROUNDS = 4
SINGLES_PER_ROUND = 2


def write_parquet(rows: list[tuple], out: str, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cols = list(zip(*rows))
    t = pa.table({n: pa.array(c, pa.string()) for n, c in zip(NAMES, cols)})
    per = -(-len(rows) // n_files)
    for i in range(n_files):
        pq.write_table(t.slice(i * per, per), os.path.join(out, f"part-{i:05d}.parquet"))


def _import_engine(_i):
    # runs in every Python worker; this file runs as __main__, so the
    # function is shipped by value and needs no import of perfbench there
    import quickb_spark.index.p1_direct  # noqa: F401
    import quickb_spark.index.p2_direct  # noqa: F401
    import quickb_spark.query.serve_direct  # noqa: F401
    import quickb_spark.query.wand  # noqa: F401

    return _i


class Bench:
    def __init__(self, workload: str, spec: dict, icfg: dict, seed: int, seconds: int, traced: bool) -> None:
        from quickb_spark.config import EngineConfig, IndexConfig
        from spans import Tracer

        self.workload, self.spec, self.seed = workload, spec, seed
        self.seconds, self.traced = seconds, traced
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.shm = self.path("shm")
        self.cfg = EngineConfig(index=IndexConfig(**icfg))
        self.spark = None
        self.tracer = Tracer()
        self.meters: list = []
        self.attempted = 0
        self.checks: list = []
        self.failures: list[str] = []
        self.info: dict = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    # ---- setup ----------------------------------------------------------

    def make_inputs(self):
        import gen

        c, q = self.spec["corpus"], self.spec["queries"]
        n, nd = c["files"], self.spec["delta_files"]
        if c["generator"] == "sf01_corpus":
            rows = gen.sf01_corpus(self.seed, n + nd)
            queries = gen.sf01_queries(self.seed, rows[:n], q)
        else:
            rows = gen.zipf_corpus(self.seed, n + nd, c["vocab"], c["s"])
            queries = gen.zipf_queries(self.seed, rows[:n], c["vocab"], q)
        # the delta for the traced run's ingest is the generator's next files
        return rows[:n], rows[n:], queries

    def setup_once(self) -> dict:
        """Inputs, their parquet files and the oracle index over the
        engine's chunks: the part of setup that is repeated and timed."""
        import gen
        from oracle import OracleIndex, engine_chunks

        corpus, delta, queries = self.make_inputs()
        write_parquet(corpus, self.path("corpus"), self.spec["corpus"]["parquet_files"])
        chunks = engine_chunks(corpus, self.cfg)
        out = {
            "digest": gen.digest(corpus, delta, queries),
            "corpus": corpus, "delta": delta, "queries": queries,
            "oracle": OracleIndex(chunks), "chunks": chunks,
        }
        if self.traced:
            base = corpus[: self.spec["fold_base_files"]]
            write_parquet(delta, self.path("delta"), 2)
            write_parquet(base, self.path("fold_base_docs"), 2)
        return out

    def expectations(self, s: dict) -> None:
        """Oracle top-k of every query, computed once after the repeats:
        the brute-force scoring is the slowest part of setup and the same
        on every repeat."""
        from oracle import OracleIndex, engine_chunks, expect

        k, queries = self.spec["queries"]["k"], s["queries"]
        s["expect"] = {
            mode: {qid: expect(s["oracle"], text, k, "any" if mode == "single" else mode) for qid, text in qs}
            for mode, qs in queries.items()
        }
        if self.traced:
            base = s["corpus"][: self.spec["fold_base_files"]]
            fold = OracleIndex(engine_chunks(base + s["delta"], self.cfg))
            s["fold_expect"] = {
                m: {qid: expect(fold, t, k, m) for qid, t in queries[m]} for m in ("any", "and")
            }

    # ---- ops ------------------------------------------------------------

    def op(self, name: str, fn, expect: dict | None = None):
        """One timed op, in its own trace op; its rows are checked against
        `expect` after the run. An exception stops the run.
        -> (seconds, result)."""
        self.attempted += 1
        self.tracer.op = f"{name}#{self.attempted}"
        with self.tracer.span(f"op.{name}"):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        self.tracer.op = None
        if expect is not None:
            self.checks.append((name, out, expect))
        return dt, out

    def batch(self, searcher, queries, **kw):
        def run():
            df = searcher.topk(queries, k=self.spec["queries"]["k"], **kw)
            with self.tracer.span("searcher.handback"):
                return df.collect()

        return run

    def run(self) -> dict:
        import gen
        import host

        sys.path.append(os.path.join(ROOT, "bench"))
        from _hostload import LoadMeter

        from quickb_spark.index.segments import build_index
        from quickb_spark.query.searcher import Searcher

        t0 = time.perf_counter()
        self.spark = spark = host.start_session(self.work, event_log=self.traced)
        self.info["session_start_s"] = time.perf_counter() - t0
        self.tracer.sc = spark.sparkContext
        load = LoadMeter()
        load.start()
        self.meters.append(load)
        peak = host.PeakMem(self.shm)
        peak.start()
        self.meters.append(peak)

        # start every Python worker and import the engine's build and
        # serving modules in each: the timed build is then the first build
        # of a fresh session, as in a build job, minus the worker start
        t0 = time.perf_counter()
        n = 4 * host.nproc()
        spark.sparkContext.parallelize(range(n), n).map(_import_engine).collect()
        self.info["workers_start_s"] = time.perf_counter() - t0

        gen.self_test(self.seed)
        setup_s, s = [], None
        for _ in range(3):
            # the oracle is ~10^5-10^6 small objects: move what exists to
            # the permanent GC generation, so that no repeat and no timed
            # op pays for rescanning it
            gc.collect()
            gc.freeze()
            t0 = time.perf_counter()
            rep = self.setup_once()
            setup_s.append(time.perf_counter() - t0)
            if s is None:
                s = rep
            elif rep["digest"] != s["digest"]:
                raise RuntimeError("the same seed gave different inputs")
        del rep
        t0 = time.perf_counter()
        self.expectations(s)
        self.info["expect_s"] = time.perf_counter() - t0
        gc.collect()
        gc.freeze()
        self.info["setup_repeats_s"] = setup_s
        content_bytes = sum(len(r[4].encode()) for r in s["corpus"])

        if self.traced:
            import spans

            self.tracer.enabled = True
            spans.install(self.tracer)
            # the wrappers replaced module attributes: re-resolve them
            from quickb_spark.index.segments import build_index

        q, exp = s["queries"], s["expect"]
        t_measure = time.perf_counter()
        deadline = t_measure + self.seconds
        idx = self.path("index")
        build_s, _ = self.op("build", lambda: build_index(
            spark, index_dir=idx, cfg=self.cfg, corpus_uri=self.path("corpus")))
        index_bytes = host.dir_bytes(idx)

        shutil.rmtree(self.shm)
        os.makedirs(self.shm)

        def open_index():
            sr = Searcher(spark, idx)
            sr.preload()
            return sr

        open_s, sr = self.op("open", open_index)
        self.info["shm_after_open"] = (len(os.listdir(self.shm)), host.dir_bytes(self.shm))

        # untimed, but checked; a single query is an any-mode batch of one
        for _ in range(WARM_ROUNDS):
            for mode, kw in MODES:
                self.op("warm_" + mode, self.batch(sr, q[mode], **kw), exp[mode])
        times: dict[str, list[float]] = {"any": [], "phrase": [], "and": [], "single": []}
        singles, rounds = q["single"], 0
        while rounds < MIN_ROUNDS or time.perf_counter() < deadline:
            for mode, kw in MODES:
                times[mode].append(self.op(mode, self.batch(sr, q[mode], **kw), exp[mode])[0])
            for _ in range(SINGLES_PER_ROUND):
                qid, text = singles[len(times["single"]) % len(singles)]
                times["single"].append(
                    self.op("single", self.batch(sr, [(qid, text)]), {qid: exp["single"][qid]})[0]
                )
            rounds += 1
        self.info["measure_s"] = time.perf_counter() - t_measure
        self.info["samples"] = {m: len(v) for m, v in times.items()}
        self.info["times_s"] = {m: [round(t, 3) for t in v] for m, v in times.items()}
        peak.stop()

        singles_sorted = sorted(times["single"])
        self.info["query_p90_s"] = singles_sorted[int(0.9 * (len(singles_sorted) - 1))]
        e2e = {
            "setup_s": (statistics.median(setup_s), "s"),
            "build_files_per_s": (len(s["corpus"]) / build_s, "1/s"),
            "index_bytes_per_input_byte": (index_bytes / content_bytes, "ratio"),
            "open_s": (open_s, "s"),
            "batch_s": (statistics.median(times["any"]), "s"),
            "phrase_batch_s": (statistics.median(times["phrase"]), "s"),
            "and_batch_s": (statistics.median(times["and"]), "s"),
            "query_p50_s": (statistics.median(times["single"]), "s"),
            "peak_mem_gb": (peak.peak_gb(), "GB"),
        }
        if self.traced:
            e2e.update(self.ingest_and_fold(s))

        from oracle import check

        for name, rows, expect in self.checks:
            bad = check(rows, expect)
            if bad:
                self.failures.append(f"{name}: {'; '.join(bad[:3])}")

        hl = load.stop()
        self.meters.remove(load)
        self.info["load"] = hl
        self.info["host"] = host.host_record()
        # outside load: CPU that neither this process tree nor the kernel
        # used (steal included), averaged over the run; an idle box reads
        # ~0.1 core here
        self.info["polluted"] = hl["ext_cores"] > 0.3
        result = {"e2e": e2e}
        if self.traced:
            result["layers"] = self.layer_metrics(s, idx)
        return result

    def ingest_and_fold(self, s: dict) -> dict:
        """Traced runs only: build a small base over the corpus's first
        files through the channel path (the engine cannot fold into a
        corpus_uri= build), stream the delta into it, fold it, and check
        the folded index against the oracle of base + delta. The base
        build and the fold take too long for every run."""
        from quickb_spark.corpus import DOCUMENTS_SCHEMA
        from quickb_spark.index.segments import build_index
        from quickb_spark.query.searcher import Searcher
        from quickb_spark.streaming.incremental import fold_deltas_into_index, start_incremental_ingest

        spark = self.spark
        fold_idx = self.path("fold_index")
        build_index(spark, index_dir=fold_idx, cfg=self.cfg,
                    documents=spark.read.parquet(self.path("fold_base_docs")))

        def ingest():
            with self.tracer.span("incremental.ingest"):
                stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(self.path("delta"))
                start_incremental_ingest(spark, stream, fold_idx, cfg=self.cfg).awaitTermination()

        ingest_s, _ = self.op("ingest", ingest)
        fold_s, _ = self.op("fold", lambda: fold_deltas_into_index(spark, fold_idx, cfg=self.cfg))
        fs = Searcher(spark, fold_idx)
        q = s["queries"]
        self.op("fold_check_any", self.batch(fs, q["any"]), s["fold_expect"]["any"])
        self.op("fold_check_and", self.batch(fs, q["and"], match_all=True), s["fold_expect"]["and"])
        return {"ingest_s": (ingest_s, "s"), "fold_s": (fold_s, "s")}

    def layer_metrics(self, s: dict, idx: str) -> dict:
        import layers

        counts = self.tracer.spark_counts()
        self.spark.stop()  # completes the event log
        self.spark = None
        out = layers.compute(self, s, idx, counts)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        self.tracer.dump(
            os.path.join(out_dir, f"trace-{self.workload}-{self.seed}.json"),
            {"workload": self.workload, "seed": self.seed, "info": self.info, "spark_counts": counts},
        )
        return out

    def close(self) -> None:
        import host

        # a second signal must not cut the shutdown of the JVM and workers short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        for m in self.meters:
            m.stop()
        try:
            if self.spark is not None:
                self.spark.stop()
        except Exception as e:  # a signal that broke the gateway makes stop() raise
            print(f"perfbench: spark.stop() raised {e!r}", file=sys.stderr)
        finally:
            self.spark = None
            killed = host.stop_processes()
            if killed:
                print(f"perfbench: killed {len(killed)} process(es) left at exit", file=sys.stderr)
            shutil.rmtree(self.work, ignore_errors=True)


def report(b: Bench, res) -> None:
    print(f"workload {b.workload} seed {b.seed} seconds {b.seconds} trace {int(b.traced)}")
    for k, v in b.info.items():
        print(f"  {k}: {v}")
    if res is not None:
        for k, (v, u) in res["e2e"].items():
            print(f"  {k:<28} {v:12.4f} {u}")
        print(f"  {'query_p90_s':<28} {b.info['query_p90_s']:12.4f} s "
              f"(of {b.info['samples']['single']} single queries, fewer than 10 beyond it)")
        print(f"  {'failed_ops_ratio':<28} {len(b.failures) / max(1, b.attempted):12.4f} ratio")
        for k, (v, u) in res.get("layers", {}).items():
            print(f"  {k:<36} {v:14.4f} {u}")
    for f in b.failures:
        print(f"  FAILED {f}")
    sys.stdout.flush()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its session and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(1, ROOT)
    try:
        import pyspark  # noqa: F401

        import quickb_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as f:
        conf = json.load(f)
    if args.workload not in conf["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    b = Bench(args.workload, conf["workloads"][args.workload], conf["index_config"],
              args.seed, args.seconds, bool(args.trace))
    try:
        res = b.run()
    except Exception as e:  # an op raised: report it and exit non-zero
        import traceback

        traceback.print_exc()
        b.failures.append(f"exception: {e!r}")
        res = None
    finally:
        b.close()
    report(b, res)
    if res is None:
        return 1
    metrics = res["layers"] if args.trace else res["e2e"]
    print(json.dumps({
        "correct": not b.failures,
        "attempted": b.attempted,
        "failed": len(b.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not b.failures else 1


if __name__ == "__main__":
    sys.exit(main())
