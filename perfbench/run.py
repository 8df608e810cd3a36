"""Benchmark driver for the spark-bm25 engine.

    python3 perfbench/run.py --workload uniform --seed 1 --seconds 10 --trace 0

Run from the repository root. One run of a workload:

1. set-up: start Spark at local[4]; generate the workload's corpus (written to
   parquet), queries and ingest batch from --seed; build the persisted store
   and the segment store; warm every timed call;
2. timed: BUILDS warm ``build_and_save_index`` calls; rounds of ``bm25_topk`` and
   ``wand_topk`` over the query batch for half of --seconds (at least
   QUERY_ROUNDS); then one ingest batch (generation build, ``merge_stores``,
   tombstones); ``minhash_dedup`` of that batch runs in the traced run only;
3. checks: cross-engine ranks, planted near-duplicates, merged doc count;
4. Spark and its JVM are stopped and ``SegmentReader`` is timed in a fresh
   process (perfbench/serve.py) on the merged, tombstoned store.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (end-to-end with --trace 0, per-layer with --trace 1). The exit code
is 0 only when every check passed, and 2 when the engine sources are missing.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from contextlib import contextmanager, nullcontext  # noqa: E402

from statistics import median  # noqa: E402

from measure import (  # noqa: E402
    Tracer, check_metric_name, dir_bytes, percentile, self_times, steal_s, tail_percentile,
    tree_cpu_s,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("uniform", "skewed")

N_DOCS = 3000  # corpus docs
N_QUERIES = 200  # batch size of bm25_topk / wand_topk
BATCH_DOCS = 200  # ingest batch, 10% of it planted near-duplicates
N_CHECK = 12  # queries in the cross-engine check sample
SERVE_REQUESTS = 200  # timed SegmentReader.topk requests; p95 needs >= 200
SERVE_PASSES = 3  # passes over them; a request's time is its least over the passes
QUERY_ROUNDS = 3  # at least this many timed bm25_topk + wand_topk batches
BUILDS = 3  # timed build_and_save_index calls, in the first rounds
CPUS = 4
# Sized to the corpus: the default 64 term buckets make every segment merge
# 64 one-bucket tasks, which at 3k docs is all scheduling overhead.
TERM_BUCKETS = 8
DEDUP = dict(threshold=0.8, n_perms=16, bands=8, text_col="text", id_col="doc_id")
assert (tail_percentile(SERVE_REQUESTS) or 0) >= 95, "too few requests for a p95"
INGEST_STEPS = ("index_build.build", "segments.build", "segments.save",
                "segments.merge_stores", "deletes.write")


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, traced: bool, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced, self.work = traced, work
        self.tracer = Tracer(traced, workload, seed)
        self.times: dict[str, list[float]] = {}  # every timed call, traced or not
        self.layer: dict[str, float] = {}  # per-layer probe results
        self.attempted = 0
        self.failures: list[str] = []
        self.serving: subprocess.Popen | None = None
        self.spark = None

    # -- measurement ---------------------------------------------------
    @contextmanager
    def timed(self, name: str):
        """Time a call into a layer; in a traced run also record its span."""
        with self.tracer.span(name):
            t0 = time.perf_counter()
            yield
            self.times.setdefault(name, []).append(time.perf_counter() - t0)

    def attempt(self, name: str, fn):
        """One timed operation: counted, and a raise counts as a failure."""
        self.attempted += 1
        try:
            with self.timed(name):
                return fn()
        except Exception as exc:  # noqa: BLE001 - recorded, the run goes on
            self.failures.append(f"{name}: {type(exc).__name__}: {exc}")
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"check {name} failed: {detail}")

    def jobs(self, fn):
        """(result of fn, number of Spark jobs it launched)."""
        sc = self.spark.sparkContext
        group = f"perfbench-{time.perf_counter_ns()}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    # -- set-up --------------------------------------------------------
    def setup(self) -> None:
        import gen
        from flagembedding_spark.config import BM25Config
        from flagembedding_spark.operators.segments import (
            build_segments, load_segments, merge_segments, save_segments,
        )
        from flagembedding_spark.session import get_spark
        from flagembedding_spark.sources.index_store import build_and_save_index

        with self.timed("session.start"):
            self.spark = get_spark(
                "perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
                extra_conf={
                    "spark.sql.warehouse.dir": f"{self.work}/warehouse",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions":
                        f"-XX:+UseParallelGC -Djava.io.tmpdir={self.work}/tmp",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.cfg = BM25Config(term_buckets=TERM_BUCKETS)
        with self.timed("gen.queries"):
            make = gen.uniform_queries if self.workload == "uniform" else gen.skewed_queries
            self.queries = make(self.seed, N_QUERIES)
            self.queries_df = self.spark.createDataFrame(self.queries, ["query_id", "query"])
            self.check_qids = {q for q, _ in gen.sample(self.seed, self.queries, N_CHECK)}
            self.batch, self.planted = gen.ingest_batch(self.seed, BATCH_DOCS, N_DOCS)

        with self.timed("gen.corpus"):
            self.corpus, self.content_bytes = self._corpus()
        # the first build writes the store the queries read, and warms the
        # build; the timed builds write other roots
        with self.timed("setup.build"):
            idx = build_and_save_index(self.corpus, f"{self.work}/store0", self.cfg)
        self.idx = dataclasses.replace(idx, config=self.cfg)
        self.seg_root = f"{self.work}/seg_base"

        with self.timed("setup.segments"):
            save_segments(merge_segments(build_segments(self.idx)), self.seg_root)
        self.seg = load_segments(self.spark, self.seg_root)
        # The second bm25_topk call is still slower than later ones, and the
        # ingest path's first call is slower too: warm the ingest on a batch
        # of its own in a second thread, beside the query warm-ups, which are
        # mostly Spark stage latency.
        warm, _ = gen.ingest_batch(self.seed + 1, BATCH_DOCS, N_DOCS + BATCH_DOCS)
        errors: list[BaseException] = []

        def warm_ingest():
            try:
                self.write_generation(warm, [warm[0][0]], [warm[1][0]], f"{self.work}/gen0",
                                      f"{self.work}/merged0", lambda _name: nullcontext())
            except BaseException as exc:  # noqa: BLE001 - re-raised after the join
                errors.append(exc)

        worker = threading.Thread(target=warm_ingest, name="warm-ingest")
        with self.timed("setup.warm"):
            worker.start()
            try:
                for _ in range(2):
                    self._bm25(self.queries_df).collect()
                self._wand(self.queries_df).collect()
            finally:
                worker.join()
        if errors:
            raise errors[0]

    def _corpus(self):
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        from pyspark.sql import functions as F

        import gen
        from flagembedding_spark.schemas import distributed_synth_corpus

        df = distributed_synth_corpus(self.spark, N_DOCS, CPUS, seed=self.seed)
        if self.workload == "skewed":
            salt = F.lit(self.seed)
            needle = F.concat(
                F.lit(" needle_"),
                (F.abs(F.xxhash64("path", salt)) % gen.N_NEEDLES).cast("string"),
            )
            plant = F.abs(F.xxhash64("path", F.lit("plant"), salt)) % gen.NEEDLE_EVERY == 0
            df = df.withColumn(
                "content",
                F.when(plant, F.concat("content", needle)).otherwise(F.col("content")),
            )
        path = f"{self.work}/corpus"
        df.write.mode("overwrite").parquet(path)
        content = ds.dataset(path, format="parquet").to_table(columns=["content"])["content"]
        return self.spark.read.parquet(path), pc.sum(pc.binary_length(content)).as_py()

    def _bm25(self, queries, **kw):
        from flagembedding_spark.operators.query import bm25_topk

        return bm25_topk(self.idx, queries, k=10, **kw)

    def _wand(self, queries, **kw):
        from flagembedding_spark.operators.wand import wand_topk

        return wand_topk(self.seg, queries, k=10, **kw)

    # -- timed phase ---------------------------------------------------
    def run_timed(self) -> None:
        from flagembedding_spark.sources.index_store import build_and_save_index

        self.build_timings: list[dict] = []
        self.query_jobs: list[int] = []
        self.wand_jobs: list[int] = []
        deadline = time.perf_counter() + self.seconds / 2.0
        rnd = 0
        while rnd < QUERY_ROUNDS or time.perf_counter() < deadline:
            phase: dict = {}
            if rnd < BUILDS and self.attempt("step.build", lambda: build_and_save_index(
                    self.corpus, f"{self.work}/store{1 + rnd}", self.cfg, timings=phase)):
                self.build_timings.append(phase)
            res = self.attempt("step.bm25", lambda: self.jobs(
                lambda: self._bm25(self.queries_df).collect()))
            if res is not None:
                self.bm25_rows, n = res
                self.query_jobs.append(n)
            res = self.attempt("step.wand", lambda: self.jobs(
                lambda: self._wand(self.queries_df).collect()))
            if res is not None:
                self.wand_rows, n = res
                self.wand_jobs.append(n)
            rnd += 1
        self.ingest()

    def ingest(self) -> None:
        """The timed ingest batch: the batch minus its planted duplicates
        (what minhash_dedup keeps; checked in the traced run)."""
        import gen

        drop = {dup for _src, dup in self.planted}
        survivors = [r for r in self.batch if r[0] not in drop]
        self.accepted = len(survivors)
        self.gen_root, self.merged_root = f"{self.work}/gen1", f"{self.work}/merged1"
        dead_gen = gen.delete_set(self.seed, [r[0] for r in survivors])
        live = list(range(N_DOCS)) + sorted(set(r[0] for r in survivors) - set(dead_gen))
        self.dead = sorted(set(dead_gen) | set(gen.delete_set(self.seed + 1, live)))

        def write_path():
            self.merged, self.resurrected, self.tombstones = self.write_generation(
                survivors, dead_gen, self.dead, self.gen_root, self.merged_root, self.timed)
            return True

        self.attempt("step.ingest", write_path)

    def write_generation(self, docs, dead_gen, dead, gen_root, merged_root, timed):
        """Build ``docs`` as a generation, delete ``dead_gen`` from it, merge it
        into the base store and apply ``dead`` to the merged store.
        Returns (merged store, deleted docids live again, tombstones)."""
        from flagembedding_spark.operators.deletes import load_tombstones, write_tombstones
        from flagembedding_spark.operators.index_build import build_index
        from flagembedding_spark.operators.segments import (
            build_segments, merge_segments, merge_stores, save_segments,
        )

        docs_df = self.spark.createDataFrame(docs, "doc_id long, text string")
        with timed("index_build.build"):
            gidx = build_index(docs_df, self.cfg, content_col="text", docid_long="doc_id")
        with timed("segments.build"):
            gseg = merge_segments(build_segments(gidx))
        with timed("segments.save"):
            save_segments(gseg, gen_root)
        with timed("deletes.write"):
            write_tombstones(gen_root, dead_gen)
        with timed("segments.merge_stores"):
            merged = merge_stores(
                self.spark, [self.seg_root, gen_root], out_root=merged_root,
                check_disjoint=True,
            )
        # merge_stores drops its inputs' tombstones: count the deleted docids
        # that came back live, then re-apply the cumulative set
        with timed("deletes.audit"):
            resurrected = len(
                live_docids(merged_root, dead_gen) - set(load_tombstones(merged_root).tolist()))
        with timed("deletes.write"):
            tombstones = write_tombstones(merged_root, dead).size
        return merged, resurrected, tombstones

    # -- checks --------------------------------------------------------
    def spark_checks(self) -> None:
        rows = getattr(self, "bm25_rows", [])
        hit = {r["qid"] for r in rows}
        self.check("queries_hit", len(hit) >= 0.5 * len(self.queries),
                   f"{len(hit)} of {len(self.queries)} queries return hits")
        self.expected = _ranked(r for r in rows if r["qid"] in self.check_qids)
        sample_df = self.spark.createDataFrame(
            [q for q in self.queries if q[0] in self.check_qids], ["query_id", "query"])
        engines = {
            "wand_auto": (r for r in getattr(self, "wand_rows", [])
                          if r["qid"] in self.check_qids),
            "wand_exact": self._wand(sample_df, use_wand="exact").collect(),
        }
        for name, got in engines.items():
            got = _ranked(got)
            self.check(f"{name}_equals_bm25", got == self.expected, _diff(got, self.expected))
        if hasattr(self, "merged"):
            n = self.merged.stats.n_docs
            self.check("merged_n_docs", n == N_DOCS + self.accepted,
                       f"{n} != {N_DOCS} + {self.accepted}")

    # -- per-layer probes (traced run only) ----------------------------
    def probes(self) -> None:
        import pyarrow.dataset as ds

        from flagembedding_spark.operators.arrow_postings import tokenize_count_stream
        from flagembedding_spark.operators.dedup import (
            lsh_candidate_pairs, minhash_dedup, minhash_signatures,
        )
        from flagembedding_spark.operators.query import bm25_partial_scores, query_terms
        from flagembedding_spark.operators.wand import candidate_block_plan
        from flagembedding_spark.sources.index_store import load_index

        L, t = self.layer, self.times
        stream = tokenize_count_stream(
            self.corpus, self.cfg, with_term_hash=True, emit_partial_dictionary=True)
        cpu0 = tree_cpu_s()
        with self.timed("arrow_postings.tokenize"):
            stream.write.format("noop").mode("overwrite").save()
        L["arrow_postings.cpu_s"] = tree_cpu_s() - cpu0
        L["arrow_postings.tokenize_s"] = t["arrow_postings.tokenize"][-1]
        store = f"{self.work}/store0/stream"
        L["arrow_postings.postings_rows"] = ds.dataset(
            f"{store}/rowclass=0", format="parquet").count_rows()
        for rc in range(3):
            L[f"index_store.bytes_rowclass{rc}"] = dir_bytes(f"{store}/rowclass={rc}")
        with self.timed("index_store.load"):
            load_index(self.spark, f"{self.work}/store0")
        L["index_store.load_s"] = t["index_store.load"][-1]

        with self.timed("query.terms"):
            qt = query_terms(self.queries_df)
            qt.count()
        L["query.terms_s"] = t["query.terms"][-1]
        L["query.partial_rows"] = bm25_partial_scores(self.idx, qt).count()
        L["query.rows_per_result"] = L["query.partial_rows"] / max(1, len(self.bm25_rows))
        for key, two_phase in (("wand.plan_blocks", False), ("wand.plan_blocks_two_phase", True)):
            L[key] = candidate_block_plan(
                self.seg, self.queries_df, k=10, two_phase=two_phase)[0].count()
        for mode in ("exact", "pruned"):
            with self.timed(f"wand.{mode}"):
                self._wand(self.queries_df, use_wand=mode).collect()
            L[f"wand.{mode}_s"] = t[f"wand.{mode}"][-1]

        batch_df = self.spark.createDataFrame(self.batch, "doc_id long, text string")
        for _ in range(2):  # warm-up, then timed
            with self.timed("dedup.minhash_dedup"):
                pairs = minhash_dedup(batch_df, **DEDUP).collect()
        L["dedup.docs_per_s"] = BATCH_DOCS / t["dedup.minhash_dedup"][-1]
        verified = {(int(r["id_a"]), int(r["id_b"])) for r in pairs}
        missed = set(self.planted) - verified
        self.check("planted_pairs_found", not missed, f"missed {sorted(missed)[:5]}")
        with self.timed("dedup.signatures"):
            sig = minhash_signatures(batch_df, DEDUP["n_perms"], text_col="text",
                                     id_col="doc_id").cache()
            sig.count()
        L["dedup.signatures_s"] = t["dedup.signatures"][-1]
        L["dedup.candidate_pairs"] = lsh_candidate_pairs(
            sig, DEDUP["n_perms"], DEDUP["bands"]).count()
        sig.unpersist()
        L["dedup.verified_pairs"] = len(verified)
        L["dedup.verify_yield"] = len(verified) / max(1, L["dedup.candidate_pairs"])

        blocks = ds.dataset(f"{self.merged_root}/blocks", format="parquet", partitioning="hive")
        L["segments.blocks"] = blocks.count_rows()
        L["segments.bytes"] = dir_bytes(self.merged_root)
        L["segments.write_amp"] = L["segments.bytes"] / max(1, dir_bytes(self.gen_root))

    # -- serving, in a process without a JVM ---------------------------
    def start_serving(self) -> None:
        """Start the serving process; it checks, opens and warms up while
        Spark finishes, then waits for finish_serving."""
        import gen

        distinct = sorted({q for _qid, q in self.queries})
        job = {
            "check_root": self.seg_root,
            "check_queries": [q for q in self.queries if q[0] in self.check_qids],
            "root": self.merged_root,
            "dead": self.dead,
            "warm": distinct,
            "requests": gen.serve_order(self.seed, distinct, SERVE_REQUESTS),
            "passes": SERVE_PASSES,
            "trace": self.traced,
        }
        self.serve_out = f"{self.work}/serve_out.json"
        with open(f"{self.work}/serve_job.json", "w") as f:
            json.dump(job, f)
        self.serving = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "serve.py"),
             f"{self.work}/serve_job.json", self.serve_out],
            stdin=subprocess.PIPE, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
            text=True,
        )

    def finish_serving(self) -> dict:
        """Release the timed requests (the JVM is gone) and check the results."""
        self.attempted += SERVE_REQUESTS * SERVE_PASSES
        time.sleep(1.0)  # let the exiting JVM's Python workers finish exiting
        try:
            _, err = self.serving.communicate("go\n", timeout=150)
        except subprocess.TimeoutExpired:
            self.serving.kill()
            _, err = self.serving.communicate()
        if self.serving.returncode != 0:
            self.failures.append(f"serve: exit {self.serving.returncode}: {err[-2000:]}")
            return {}
        with open(self.serve_out) as f:
            out = json.load(f)
        got = _ranked({"qid": qid, "docid": d, "score": s}
                      for qid, rows in out["check"].items() for d, s, _r in rows)
        self.check("serving_equals_bm25", got == self.expected, _diff(got, self.expected))
        self.check("no_tombstone_served", out["served_dead"] == 0,
                   f"{out['served_dead']} tombstoned docids served")
        return out


def live_docids(root: str, docids) -> set:
    """Those of ``docids`` that a segment store's blocks still hold (what a
    query can return unless they are tombstoned)."""
    import pyarrow.dataset as ds

    from flagembedding_spark.operators.segments import decode_blocks_batch

    lo, hi = min(docids), max(docids)
    tbl = ds.dataset(f"{root}/blocks", format="parquet", partitioning="hive").to_table(
        columns=["docid_first", "docs", "tfs", "dls"],
        filter=(ds.field("docid_last") >= lo) & (ds.field("docid_first") <= hi),
    )
    held, _tfs, _dls = decode_blocks_batch(
        *(tbl.column(c).to_pylist() for c in ("docid_first", "docs", "tfs", "dls")))
    return set(docids) & set(held.tolist())


def _ranked(rows) -> dict:
    """qid -> [(docid, score rounded to 6 places)] by score desc, docid."""
    out: dict = {}
    for r in rows:
        out.setdefault(r["qid"], []).append((int(r["docid"]), round(float(r["score"]), 6)))
    return {q: sorted(v, key=lambda x: (-x[1], x[0])) for q, v in out.items()}


def _diff(got: dict, want: dict) -> str:
    bad = sorted(q for q in set(got) | set(want) if got.get(q) != want.get(q))
    return f"{len(bad)} queries differ, e.g. {bad[:3]}"


def stop_jvm(spark, graceful: bool = True) -> None:
    """Stop Spark and wait for its JVM to exit, so that serving runs without
    one and the JVM's peak RSS reaches this process's child accounting."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if graceful:
            spark.stop()
        gateway.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def end_to_end(b: Bench, served: dict, setup_s: float) -> dict:
    t = b.times
    samples = served["wall_ms"]
    rss_kb = max(resource.getrusage(who).ru_maxrss
                 for who in (resource.RUSAGE_SELF, resource.RUSAGE_CHILDREN))
    store_bytes = dir_bytes(f"{b.work}/store0/stream") + dir_bytes(b.seg_root)
    ingest_s = sum(sum(t[k]) for k in INGEST_STEPS)
    return {
        "setup_s": setup_s,
        "peak_rss_mb": rss_kb / 1024.0,
        "build_docs_per_s": N_DOCS / median(t["step.build"]),
        "store_bytes_per_corpus_byte": store_bytes / b.content_bytes,
        "bm25_batch_qps": N_QUERIES / median(t["step.bm25"]),
        "wand_batch_qps": N_QUERIES / median(t["step.wand"]),
        "serve_p50_ms": percentile(samples, 50),
        "serve_p95_ms": percentile(samples, 95),
        "ingest_docs_per_s": b.accepted / ingest_s,
    }


def per_layer(b: Bench, served: dict, steal0: float) -> dict:
    t = b.times
    spans = b.tracer.spans
    own = self_times(spans)
    parents = {s["parent"] for s in spans if s["parent"] is not None}
    L = dict(b.layer)
    L.update({
        "session.start_s": t["session.start"][0],
        "gen.corpus_s": t["gen.corpus"][0],
        "gen.queries_s": t["gen.queries"][0],
        "index_store.corpus_pass_s": median([p["corpus_pass_sec"] for p in b.build_timings]),
        "index_store.finalize_s": median([p["finalize_sec"] for p in b.build_timings]),
        "index_build.build_s": t["index_build.build"][0],
        "segments.build_s": t["segments.build"][0],
        "segments.save_s": t["segments.save"][0],
        "segments.merge_stores_s": t["segments.merge_stores"][0],
        "deletes.write_ms": sum(t["deletes.write"]) * 1e3,
        "deletes.tombstones": b.tombstones,
        "deletes.resurrected_after_merge": b.resurrected,
        "query.jobs": median(b.query_jobs),
        "wand.auto_s": median(t["step.wand"]),
        "wand.jobs": median(b.wand_jobs),
        "serving.open_ms": served["open_ms"],
        "serving.cpu_p50_ms": percentile(served["cpu_ms"], 50),
        "serving.cpu_p95_ms": percentile(served["cpu_ms"], 95),
        "serving.lookup_ms": percentile(served["lookup_ms"], 50),
        "serving.rest_ms": percentile(served["rest_ms"], 50),
        **run_counters(steal0),
        "trace.overhead_ms": b.tracer.overhead_s * 1e3,
        "trace.unaccounted_share": max(
            own[i] / (spans[i]["end"] - spans[i]["start"]) for i in parents),
    })
    L["index_store.write_s"] = L["index_store.corpus_pass_s"] - L["arrow_postings.tokenize_s"]
    return L


def run_counters(steal0: float) -> dict:
    """Host steal time over the run, and CPU time of this process and of the
    children it waited for (the JVM and the serving process)."""
    cpu = sum(r.ru_utime + r.ru_stime for r in (
        resource.getrusage(resource.RUSAGE_SELF), resource.getrusage(resource.RUSAGE_CHILDREN)))
    return {"run.steal_s": steal_s() - steal0, "run.cpu_s": cpu}


def declared_units(traced: bool) -> dict:
    """name -> unit of the metrics BENCHMARK.json declares for this kind of run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}



def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "flagembedding_spark", "__init__.py")):
        print("perfbench: the engine sources (flagembedding_spark/) are not next to "
              "perfbench/; run from a checkout of the repository", file=sys.stderr)
        return 2
    # a kill from outside still runs the finally below: the JVM exits with
    # this process's stdin pipe, and the work directory is removed
    def on_term(*_):
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sys.exit(143)

    signal.signal(signal.SIGTERM, on_term)
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    # Python workers import the engine; temp files stay in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"

    steal0 = steal_s()
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        b.setup()
        setup_s = time.perf_counter() - _T0
        b.run_timed()
        b.start_serving()
        b.spark_checks()
        if args.trace:
            b.probes()
        stop_jvm(b.spark)
        b.spark = None
        served = b.finish_serving()
        if b.failures:
            metrics = {}
        elif args.trace:
            metrics = per_layer(b, served, steal0)
            spans_dir = os.path.join(ROOT, ".perfbench_work", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            with open(os.path.join(spans_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(b.tracer.spans, f)
        else:
            metrics = end_to_end(b, served, setup_s)
    finally:
        try:
            if b.spark is not None:
                stop_jvm(b.spark, graceful=False)
        finally:
            if b.serving is not None and b.serving.poll() is None:
                b.serving.kill()
                b.serving.wait()
            shutil.rmtree(work, ignore_errors=True)
    # raw call times and the noise counters of every run, for auditing
    print(json.dumps({**{k: [round(x, 3) for x in v] for k, v in b.times.items()},
                      **run_counters(steal0)}), file=sys.stderr)
    for msg in b.failures:
        print(f"perfbench: {msg}", file=sys.stderr)
    units = declared_units(bool(args.trace))
    if metrics and set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    print(json.dumps({
        "correct": not b.failures,
        "attempted": b.attempted,
        "failed": len(b.failures),
        "metrics": {check_metric_name(k): {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if not b.failures else 1


if __name__ == "__main__":
    sys.exit(main())
