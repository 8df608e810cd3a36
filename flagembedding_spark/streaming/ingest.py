"""Structured-Streaming incremental index ingestion.

The reference is batch-only (SURVEY §1.1 — no streaming operators exist in
FlagEmbedding); this module is the engine's forward-looking ingest path: new
corpus files land in a directory, each micro-batch is tokenized through the
same mapInArrow kernel as the batch build and APPENDED to the persisted
stream — the LSM design (operators/segments.py merge job) is exactly what
makes appended runs cheap to fold into the queryable index.

Layout (the one persisted stream layout — sources/index_store.py):
    <index_root>/stream/_batch=<id>/rowclass=<r>/   per-micro-batch postings /
                                                    doc-stats / partial rows
    <index_root>/dictionary/, stats.json            written by
                                                    load_incremental_index
    <index_root>/_checkpoint/                       the streaming checkpoint

foreachBatch alone is at-least-once (a crash between the parquet commit and
the checkpoint offset commit replays the batch), so each batch writes to its
own ``_batch=<id>`` partitions with dynamic partition overwrite — a replayed
batch OVERWRITES its own partitions instead of appending duplicates, making
the sink idempotent and the end-to-end pipeline effectively exactly-once.
Docids are (batch_id << 40 | local) so they never collide across
micro-batches — the same chunk-scoped scheme as the resumable batch build.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flagembedding_spark.config import BM25Config
from flagembedding_spark.operators.index_build import InvertedIndex
from flagembedding_spark.sources.index_store import finalize_store, load_index

BATCH_ID_BITS = 40


def start_incremental_ingest(
    spark: SparkSession,
    input_path: str,
    index_root: str,
    config: BM25Config | None = None,
    schema: str = "repo string, path string, commit string, lang string, content string",
    content_col: str = "content",
    available_now: bool = True,
):
    """readStream(json dir) → tokenize+count → append parquet stream.
    Returns the StreamingQuery; with available_now it drains pending files
    then stops (test/batch-catchup mode); without, it runs continuously."""
    from flagembedding_spark.operators.arrow_postings import tokenize_count_stream

    config = config or BM25Config()
    src = spark.readStream.schema(schema).json(input_path)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # the whole micro-batch is one group: ids are dense within the
        # batch and the kernel composes batch_id << BATCH_ID_BITS | local
        stream = tokenize_count_stream(
            batch_df, config, content_col,
            group_expr=F.lit(int(batch_id)), max_local=1 << BATCH_ID_BITS,
            with_term_hash=True, emit_partial_dictionary=True,
        ).withColumnRenamed("_grp", "_batch")
        # idempotent under foreachBatch replay: overwrite only this batch's
        # partitions (dynamic mode leaves every other _batch=* untouched)
        (
            stream.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch", "rowclass")
            .parquet(f"{index_root}/stream")
        )

    writer = (
        src.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", f"{index_root}/_checkpoint")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def load_incremental_index(
    spark: SparkSession, index_root: str, config: BM25Config | None = None
) -> InvertedIndex:
    """Finalize everything ingested so far (dictionary + stats.json, the
    same finalize_store as the batch builders) and open it with
    ``load_index``. Run it between ingest drains, not concurrently with
    one."""
    config = config or BM25Config()
    finalize_store(spark, index_root, config)
    return dataclasses.replace(load_index(spark, index_root), config=config)
