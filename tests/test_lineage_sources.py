"""Resumable build + lineage; TREC/JSONL/manifest sources; multimodal stubs."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from flagembedding_spark.config import BM25Config
from flagembedding_spark.operators.index_build import build_index
from flagembedding_spark.plans.lineage import (
    build_resumable,
    completed_chunks,
    finalize_resumable,
    read_lineage,
)


@pytest.fixture()
def tmproot():
    d = tempfile.mkdtemp(prefix="fes_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _canon_index(idx):
    id2s = {r["docid"]: r["docid_str"] for r in idx.doc_stats.collect()}
    return sorted(
        (r["term"], id2s[r["docid"]], r["tf"], r["dl"])
        for r in idx.postings.collect()
    )


def test_resumable_build_with_crash_and_resume(spark, tiny_corpus, tmproot):
    cfg = BM25Config()
    # run 1: crash after 3 chunks
    with pytest.raises(RuntimeError, match="injected failure"):
        build_resumable(tiny_corpus, tmproot, cfg, n_chunks=6, fail_after_chunks=3)
    done_before = completed_chunks(spark, tmproot, "postings")
    assert len(done_before) == 3

    # run 2: resumes — must skip exactly the completed chunks
    results = build_resumable(tiny_corpus, tmproot, cfg, n_chunks=6)
    skipped = {r.chunk for r in results if r.skipped}
    assert skipped == done_before
    rebuilt = [r for r in results if not r.skipped]
    assert len(rebuilt) == 3
    for r in rebuilt:
        assert r.rows_out > 0 and r.bytes_out > 0 and r.wall_ms >= 0

    idx = finalize_resumable(spark, tmproot, cfg)
    # identical logical index vs a single-shot build
    single = build_index(tiny_corpus, cfg)
    assert _canon_index(idx) == _canon_index(single)
    assert idx.stats.n_docs == single.stats.n_docs
    assert abs(idx.stats.avgdl - single.stats.avgdl) < 1e-9

    # lineage records per-partition metrics for every chunk + finalize
    lin = read_lineage(spark, tmproot)
    rows = lin.collect()
    stages = {(r["stage"], r["chunk"]) for r in rows}
    assert ("finalize", -1) in stages
    assert {c for s, c in stages if s == "postings"} == set(range(6))
    assert all(r["status"] == "done" for r in rows)


def test_resumable_rerun_skips_everything(spark, tiny_corpus, tmproot):
    cfg = BM25Config()
    build_resumable(tiny_corpus, tmproot, cfg, n_chunks=4)
    again = build_resumable(tiny_corpus, tmproot, cfg, n_chunks=4)
    assert all(r.skipped for r in again)


def test_trec_roundtrip(spark, tmproot):
    from flagembedding_spark.sources.trec import read_trec_run, write_trec_run

    rows = [("q1", 7, 3.25, 1), ("q1", 9, 1.5, 2), ("q2", 3, 0.125, 1)]
    res = spark.createDataFrame(rows, "qid string, docid long, score double, rank int")
    path = f"{tmproot}/run"
    write_trec_run(res, path)
    back = read_trec_run(spark, path)
    got = sorted((r["qid"], int(r["docid"]), r["score"], r["rank"]) for r in back.collect())
    assert got == sorted(rows)
    trunc = read_trec_run(spark, path, top_k=1)
    assert trunc.count() == 2


def test_jsonl_sources(spark, tmproot):
    from flagembedding_spark.sources.trec import (
        read_jsonl_corpus,
        read_jsonl_queries,
        write_sharded_collection,
    )

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "foo bar")], ["docid", "text"]
    )
    write_sharded_collection(docs, f"{tmproot}/coll", max_docs_per_file=1)
    back = read_jsonl_corpus(spark, f"{tmproot}/coll")
    assert sorted((r["docid"], r["text"]) for r in back.collect()) == [
        ("1", "hello world"), ("2", "foo bar"),
    ]

    # title+text concat convention
    import json as js
    with open(f"{tmproot}/tq.jsonl", "w") as f:
        f.write(js.dumps({"id": 5, "title": "T", "text": "body"}) + "\n")
    got = read_jsonl_corpus(spark, f"{tmproot}/tq.jsonl").first()
    assert got["text"] == "T body"

    with open(f"{tmproot}/q.jsonl", "w") as f:
        f.write(js.dumps({"query_id": "q1", "query": "hello"}) + "\n")
    q = read_jsonl_queries(spark, f"{tmproot}/q.jsonl").first()
    assert (q["query_id"], q["query"]) == ("q1", "hello")


def test_manifest_consistency_check(spark, tmproot):
    from flagembedding_spark.sources.manifest import (
        ManifestMismatch,
        ResultEnvelope,
        load_results,
        save_results,
    )

    res = spark.createDataFrame([("q1", 1, 2.0, 1)], "qid string, docid long, score double, rank int")
    env = ResultEnvelope("msmarco", "bm25", None, "dev", "msmarco-dev")
    save_results(res, f"{tmproot}/res", env)
    back, got_env = load_results(spark, f"{tmproot}/res", expect=env)
    assert back.count() == 1 and got_env == env
    with pytest.raises(ManifestMismatch):
        load_results(
            spark, f"{tmproot}/res",
            expect=ResultEnvelope("msmarco", "bm25", "bge-reranker", "dev", "msmarco-dev"),
        )


def test_multimodal_plumbing(spark):
    from flagembedding_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
        frame_sample_plan,
        synth_media,
    )

    media = synth_media(spark, 30)
    feats = extract_features(media).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r["feature"]) == FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in r["feature"])
        assert r["n_bytes"] > 0 and len(r["sha256"]) == 64
    # determinism
    again = extract_features(media).collect()
    assert {r["media_id"]: r["feature"] for r in feats} == {
        r["media_id"]: r["feature"] for r in again
    }
    # real decoder is an explicit stub
    import pytest as pt

    with pt.raises(Exception):
        extract_features(media, use_real_decoder=True).collect()

    frames = frame_sample_plan(media, every_ms=250)
    vid_ids = {r["media_id"] for r in frames.collect()}
    assert vid_ids and all(
        r["frame_ts_ms"] % 250 == 0 for r in frames.collect()
    )


def test_msmarco_roundtrip(spark, tmproot):
    from flagembedding_spark.sources.trec import read_msmarco_run, write_msmarco_run

    rows = [("q1", 7, 3.25, 1), ("q1", 9, 1.5, 2), ("q2", 3, 0.125, 1)]
    res = spark.createDataFrame(rows, "qid string, docid long, score double, rank int")
    write_msmarco_run(res, f"{tmproot}/ms")
    back = read_msmarco_run(spark, f"{tmproot}/ms")
    got = sorted((r["qid"], int(r["docid"]), r["rank"]) for r in back.collect())
    assert got == sorted((q, d, rk) for q, d, _, rk in rows)


def test_resumed_docid_values_match_single_shot(spark, tiny_corpus, tmproot):
    """Chunk-dense docid assignment: a crashed-then-resumed build assigns the
    SAME docid VALUES as a single-shot resumable build (not just the same
    docid_str mapping) — chunk-local ids are independent of wave composition."""
    import shutil

    cfg = BM25Config()
    with pytest.raises(RuntimeError, match="injected failure"):
        build_resumable(tiny_corpus, tmproot, cfg, n_chunks=6,
                        fail_after_chunks=2)
    build_resumable(tiny_corpus, tmproot, cfg, n_chunks=6)
    idx_resumed = finalize_resumable(spark, tmproot, cfg)
    resumed = {r["docid_str"]: r["docid"]
               for r in idx_resumed.doc_stats.collect()}

    other = tmproot + "_single"
    try:
        build_resumable(tiny_corpus, other, cfg, n_chunks=6)
        idx_single = finalize_resumable(spark, other, cfg)
        single = {r["docid_str"]: r["docid"]
                  for r in idx_single.doc_stats.collect()}
    finally:
        shutil.rmtree(other, ignore_errors=True)

    assert resumed == single
    # and the chunk-local id space is dense from 0 within each chunk
    from collections import defaultdict
    by_chunk = defaultdict(list)
    for d in resumed.values():
        by_chunk[d >> 40].append(d & ((1 << 40) - 1))
    for chunk, locals_ in by_chunk.items():
        assert sorted(locals_) == list(range(len(locals_))), chunk


def test_one_index_contract_across_builders(spark, tmproot):
    """Every builder derives stats and dictionary through one finalize step:
    the one-pass store (at a plain path and at a file:// URI), a crashed
    then resumed resumable build at a file:// URI (two chunks per wave, so
    a kernel batch spans several chunks), a one-batch streaming ingest and
    the in-memory build give the same (term, df, idf), n_docs, avgdl and
    postings, and load_index opens every persisted root."""
    import json

    from flagembedding_spark.schemas import CORPUS_SCHEMA, synth_corpus_rows
    from flagembedding_spark.sources.index_store import (
        build_and_save_index,
        load_index,
    )
    from flagembedding_spark.streaming.ingest import (
        load_incremental_index,
        start_incremental_ingest,
    )

    cfg = BM25Config()
    rows = synth_corpus_rows(90, seed=5)
    corpus = spark.createDataFrame(rows, CORPUS_SCHEMA)
    uri = "file://" + tmproot

    built = {
        "store": build_and_save_index(corpus, f"{tmproot}/store", cfg),
        "store_uri": build_and_save_index(corpus, f"{uri}/store_uri", cfg),
    }
    with pytest.raises(RuntimeError, match="injected failure"):
        build_resumable(corpus, f"{uri}/lin", cfg, n_chunks=4, wave_size=2,
                        fail_after_chunks=2)
    assert completed_chunks(spark, f"{uri}/lin", "postings") == {0, 1}
    resumed = build_resumable(corpus, f"{uri}/lin", cfg, n_chunks=4,
                              wave_size=2)
    assert [r.skipped for r in resumed] == [True, True, False, False]
    assert all(r.bytes_out > 0 for r in resumed if not r.skipped)
    built["lineage"] = finalize_resumable(spark, f"{uri}/lin", cfg)

    os.makedirs(f"{tmproot}/in")
    with open(f"{tmproot}/in/wave.json", "w") as f:
        for repo, path, commit, lang, content in rows:
            f.write(json.dumps({"repo": repo, "path": path, "commit": commit,
                                "lang": lang, "content": content}) + "\n")
    start_incremental_ingest(
        spark, f"{tmproot}/in", f"{tmproot}/ingest", cfg
    ).awaitTermination(120)
    built["ingest"] = load_incremental_index(spark, f"{tmproot}/ingest", cfg)
    built["memory"] = build_index(corpus, cfg, cache=False)
    for name in ("store_uri", "lineage", "ingest"):
        root = {"store_uri": f"{uri}/store_uri", "lineage": f"{uri}/lin",
                "ingest": f"{tmproot}/ingest"}[name]
        built[f"{name}_loaded"] = load_index(spark, root)

    def contract(idx):
        return (
            sorted((r["term"], r["df"], round(r["idf"], 10))
                   for r in idx.dictionary.collect()),
            idx.stats.n_docs,
            round(idx.stats.avgdl, 10),
            _canon_index(idx),
        )

    want = contract(built.pop("memory"))
    assert want[1] == 90
    for name, idx in built.items():
        assert contract(idx) == want, name
