"""Resumable index builds with per-partition lineage + metrics.

The reference's resumability is file-cache-and-skip: it probes for completed
stage outputs and skips them (abc/evaluation/evaluator.py:150-157 result
cache; searcher.py:121-140 embedding cache; args.py load_collection /
load_index flags). This module is the distributed generalization the north
rule requires: the corpus is split into deterministic CHUNKS (hash of the
doc key — stable across runs and cluster sizes); each chunk's postings
stream is persisted independently and recorded in a lineage table with
row/byte/wall-time metrics; a re-run skips every chunk already marked done,
rebuilds only the missing ones, then finalizes dictionary + stats over all
chunk outputs.

Layout (the one persisted stream layout — sources/index_store.py):
    <root>/stream/_chunk=<i>/rowclass=<r>/   per-chunk postings / doc-stats /
                                             dictionary-partial rows
    <root>/lineage/...parquet                (build stage metrics, appended)
    <root>/dictionary/, stats.json           finalize artifacts
A finalized root opens with ``load_index``.

DocIDs must be stable under resume, so they are chunk-scoped:
    docid = (chunk_id << 40) | row_within_chunk
— deterministic regardless of which chunks rebuild, dense within a chunk
(delta-gap compression still sees small gaps inside each chunk's runs).

On Iceberg the stream directory maps to a partitioned table and the lineage
table to a snapshot-tagged audit table; the skip probe is then a metadata
read instead of a directory listing.
"""

from __future__ import annotations

import dataclasses
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flagembedding_spark.config import BM25Config
from flagembedding_spark.operators.index_build import InvertedIndex, docid_expr
from flagembedding_spark.sources.index_store import (
    dir_bytes,
    finalize_store,
    load_index,
    path_exists,
    read_stream,
)

LINEAGE_SCHEMA = (
    "build_id string, stage string, chunk int, status string, "
    "rows_out long, bytes_out long, wall_ms long, attempt int"
)

CHUNK_ID_BITS = 40  # docid = chunk << 40 | local


@dataclass
class ChunkResult:
    chunk: int
    rows_out: int
    bytes_out: int
    wall_ms: int
    skipped: bool


def _lineage_path(root: str) -> str:
    return f"{root}/lineage"


def read_lineage(spark: SparkSession, root: str) -> DataFrame | None:
    p = _lineage_path(root)
    if not path_exists(spark, p):
        return None
    return spark.read.parquet(p)


def _append_lineage(spark: SparkSession, root: str, rows: list[tuple]) -> None:
    spark.createDataFrame(rows, LINEAGE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(_lineage_path(root))


def completed_chunks(spark: SparkSession, root: str, stage: str) -> set[int]:
    lin = read_lineage(spark, root)
    if lin is None:
        return set()
    return {
        r["chunk"]
        for r in lin.filter(
            (F.col("stage") == stage) & (F.col("status") == "done")
        ).select("chunk").distinct().collect()
    }


def build_resumable(
    corpus: DataFrame,
    root: str,
    config: BM25Config | None = None,
    n_chunks: int = 8,
    build_id: str = "build-0",
    content_col: str = "content",
    docid_str: F.Column | None = None,
    fail_after_chunks: int | None = None,
    wave_size: int = 1,
) -> list[ChunkResult]:
    """Stage 1: per-chunk postings streams. Skips chunks whose lineage says
    done. ``fail_after_chunks`` injects a crash for resume tests.

    Chunk assignment is pmod(xxhash64(doc key), n_chunks) — deterministic and
    independent of input partitioning, so a resumed run (even at a different
    parallelism) rebuilds exactly the missing chunks with the same content.

    ``wave_size`` chunks are built per corpus pass (a wave writes
    partitionBy(_chunk, rowclass) with dynamic partition overwrite, so a
    crashed wave re-runs cleanly). Resume granularity = wave; scan count =
    ceil(missing / wave_size) — at 10^12 files use large waves so the source
    is read O(1) times, with n_chunks large only to bound per-task state.
    """
    from flagembedding_spark.operators.arrow_postings import tokenize_count_stream

    config = config or BM25Config()
    spark = corpus.sparkSession
    did = docid_str if docid_str is not None else docid_expr()

    done = completed_chunks(spark, root, "postings")
    results: list[ChunkResult] = [
        ChunkResult(c, 0, 0, 0, skipped=True) for c in sorted(done)
    ]
    missing = [c for c in range(n_chunks) if c not in done]
    built = 0

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    for w in range(0, len(missing), max(wave_size, 1)):
        wave = missing[w : w + max(wave_size, 1)]
        if fail_after_chunks is not None and built >= fail_after_chunks:
            raise RuntimeError(f"injected failure before chunk {wave[0]}")
        t0 = time.perf_counter()
        part = corpus.filter(
            F.pmod(F.xxhash64(did), F.lit(n_chunks)).cast("int").isin(wave)
        )
        # grouped assignment: each chunk's local ids are DENSE from 0 in
        # source order, independent of wave composition — a resumed build
        # assigns the same docid VALUES as a single-shot build (given the
        # same source layout). The kernel composes chunk << CHUNK_ID_BITS |
        # local, asserts local < 2^CHUNK_ID_BITS so chunk bits never
        # collide, and labels every row with its chunk.
        stream = tokenize_count_stream(
            part, config, content_col, did,
            group_expr=F.pmod(F.xxhash64("docid_str"), F.lit(n_chunks)).cast("int"),
            max_local=1 << CHUNK_ID_BITS,
            with_term_hash=True, emit_partial_dictionary=True,
        ).withColumnRenamed("_grp", "_chunk")
        stream.write.mode("overwrite").partitionBy("_chunk", "rowclass").parquet(
            f"{root}/stream"
        )
        wall = int((time.perf_counter() - t0) * 1000)

        rows_by_chunk = {
            r["_chunk"]: r["cnt"]
            for r in read_stream(spark, root)
            .filter(F.col("_chunk").isin(wave))
            .groupBy("_chunk").agg(F.count("*").alias("cnt")).collect()
        }
        lineage_rows = []
        for c in wave:
            n_rows = int(rows_by_chunk.get(c, 0))
            nbytes = dir_bytes(spark, f"{root}/stream/_chunk={c}")
            lineage_rows.append(
                (build_id, "postings", c, "done", n_rows, nbytes,
                 wall // max(len(wave), 1), 1)
            )
            results.append(ChunkResult(c, n_rows, nbytes, wall, skipped=False))
            built += 1
        _append_lineage(spark, root, lineage_rows)
    results.sort(key=lambda r: r.chunk)
    return results


def finalize_resumable(
    spark: SparkSession, root: str, config: BM25Config | None = None,
    build_id: str = "build-0",
) -> InvertedIndex:
    """Stage 2: dictionary + corpus stats over every chunk stream; idempotent."""
    config = config or BM25Config()
    t0 = time.perf_counter()
    stats = finalize_store(spark, root, config)
    _append_lineage(
        spark, root,
        [(build_id, "finalize", -1, "done", stats.n_docs, 0,
          int((time.perf_counter() - t0) * 1000), 1)],
    )
    return dataclasses.replace(load_index(spark, root), config=config)
