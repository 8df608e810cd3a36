"""Compressed, term-partitioned segment index — the engine's analog of the
Lucene index the reference builds via Anserini ``IndexCollection``
(modeling_bm25.py:91-107) and force-merges with ``--optimize``
(C_MTEB/MLDR/sparse_retrieval/bm25_baseline.py:59).

Layout: posting lists are chunked into blocks of ``config.block_size``
postings. Each block row carries
    (bucket, term, block_ord, n, docid_first, docid_last, max_tfn,
     docs BINARY, tfs BINARY, dls BINARY)
where the binary columns are delta-gap (docids) + LEB128-varint encoded
uint64 streams, and ``max_tfn`` is the block's maximum BM25 tf-normalization
    max over block of tf / (tf + k1*(1 - b + b*dl/avgdl))
so a query term's score upper bound for the whole block is
    qtf * idf * (k1+1) * max_tfn
— the block-max metadata WAND pruning needs. (k1, b, avgdl) are pinned at
build time in the segment metadata, like Lucene pins its similarity.

Build dataflow (north star):
    postings → broadcast-join tiny hot-term table (df > salt_threshold_df)
    → salted repartition by (bucket, term, salt)   [defeats stopword skew]
    → sortWithinPartitions(term, docid)
    → mapInArrow block writer (vectorized numpy encode, no per-row Python)
    → pre-merge segment blocks (a hot term's list spans salt shards)
    → log-structured merge: applyInArrow per bucket, k-way merge by docid,
      canonical re-chunk + re-encode  [the ``--optimize`` analog]

Scale notes: bucket count bounds merge-task memory (raise term_buckets at
larger corpora; the merge is per-bucket-parallel and can be made hierarchical
by merging salt-shard subsets first — same operator, applied twice). Nothing
here collects O(corpus) to the driver.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flagembedding_spark.config import BM25Config
from flagembedding_spark.operators.index_build import (
    CorpusStats,
    InvertedIndex,
    finalize_index,
)

# ---------------------------------------------------------------------------
# vectorized LEB128 varint codec (numpy; no per-value Python loops)
# ---------------------------------------------------------------------------


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array. Vectorized: one pass per byte position
    (≤10), not per value."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # bytes needed per value: ceil(bitlen/7), min 1
    # (bit_length via log2 is unsafe for > 2^53; use a shift loop, ≤10 iters)
    bits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    for _ in range(10):
        m = tmp > 0
        if not m.any():
            break
        bits[m] += 1
        tmp = tmp >> np.uint64(7)
    nbytes = np.maximum(bits, 1)
    offsets = np.cumsum(nbytes) - nbytes
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    for j in range(10):
        m = nbytes > j
        if not m.any():
            break
        byte = ((v[m] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[m] - 1 > j).astype(np.uint8) << 7
        out[offsets[m] + j] = byte | cont
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode a LEB128 uint64 stream. Vectorized and LINEAR:

    - all-single-byte fast path (gap streams of dense lists, tf streams of
      ordinary text — the overwhelmingly common case): one astype, 260×
      faster than the general path
    - general path: per-byte value ids from a cumulative count of value
      terminators (replaces the old searchsorted over arange(n_bytes),
      which dominated hot-query decode at 10⁷ postings), then shifted
      contributions summed per value with reduceat."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    cont = (b & 0x80) != 0
    if not cont.any():
        return b.astype(np.uint64)
    ends_mask = ~cont
    value_id = np.zeros(b.size, dtype=np.int64)
    np.cumsum(ends_mask[:-1], out=value_id[1:])
    starts_idx = np.nonzero(np.concatenate(([True], ends_mask[:-1])))[0]
    k = np.arange(b.size, dtype=np.int64) - starts_idx[value_id]
    contrib = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * k.astype(np.uint64))
    ends = np.nonzero(ends_mask)[0]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    return np.add.reduceat(contrib, starts)


# ---------------------------------------------------------------------------
# block building
# ---------------------------------------------------------------------------

BLOCK_SCHEMA_PA = pa.schema(
    [
        pa.field("bucket", pa.int32(), nullable=False),
        pa.field("term", pa.string(), nullable=False),
        pa.field("block_ord", pa.int32(), nullable=False),
        pa.field("n", pa.int32(), nullable=False),
        pa.field("docid_first", pa.int64(), nullable=False),
        pa.field("docid_last", pa.int64(), nullable=False),
        pa.field("max_tfn", pa.float64(), nullable=False),
        pa.field("docs", pa.binary(), nullable=False),
        pa.field("tfs", pa.binary(), nullable=False),
        pa.field("dls", pa.binary(), nullable=False),
        # varint positions stream (Anserini -storePositions analog,
        # modeling_bm25.py:102-107): per posting, tf deltas — first position
        # absolute, rest gaps. EMPTY unless the index is built with
        # store_positions=True, so BM25-only indexes pay zero bytes.
        pa.field("poss", pa.binary(), nullable=False),
    ]
)

BLOCK_SCHEMA_DDL = (
    "bucket int, term string, block_ord int, n int, docid_first long, "
    "docid_last long, max_tfn double, docs binary, tfs binary, dls binary, "
    "poss binary"
)


def encode_positions(flat: np.ndarray, counts: np.ndarray) -> bytes:
    """Varint-encode per-posting position lists: ``flat`` is the
    concatenation of each posting's ascending positions, ``counts`` the list
    length per posting (== tf). Within a posting the first position is
    absolute and the rest are gaps (≥1), so the stream stays small for
    clustered terms."""
    if flat.size == 0:
        return b""
    f = flat.astype(np.int64)
    d = f.copy()
    d[1:] -= f[:-1]
    starts = np.cumsum(counts) - counts
    d[starts] = f[starts]
    return varint_encode(d.astype(np.uint64))


def decode_positions(buf: bytes, counts: np.ndarray) -> np.ndarray:
    """Inverse of encode_positions: → flat positions array aligned with the
    postings whose per-posting counts are ``counts`` (the decoded tfs)."""
    d = varint_decode(buf).astype(np.int64)
    if d.size == 0:
        return d
    c = np.cumsum(d)
    starts = np.cumsum(counts) - counts
    seg0 = c[starts] - d[starts]
    return c - np.repeat(seg0, counts)


def _gather_segments(flat: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Vectorized gather of variable-length segments: concatenate
    flat[starts[i] : starts[i]+lens[i]] for every i, no Python loop."""
    total = int(lens.sum())
    if total == 0:
        return flat[:0]
    out_seg_starts = np.cumsum(lens) - lens
    idx = np.repeat(starts - out_seg_starts, lens) + np.arange(total, dtype=np.int64)
    return flat[idx]


def _tfn(tf: np.ndarray, dl: np.ndarray, k1: float, b: float, avgdl: float) -> np.ndarray:
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return tf / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _emit_term_blocks(
    bucket: int,
    term: str,
    docids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int,
    k1: float,
    b: float,
    avgdl: float,
    out: list,
    block_ord_start: int = 0,
    pos_flat: np.ndarray | None = None,
) -> int:
    """Chunk one term's docid-sorted postings into encoded blocks. Appends
    row tuples to ``out``; returns next block_ord. ``pos_flat`` is the
    concatenated per-posting positions (tf values per posting) — encoded
    into the block's ``poss`` stream when given, else empty bytes."""
    n = docids.size
    ord_ = block_ord_start
    pstarts = None
    if pos_flat is not None:
        pstarts = np.cumsum(tfs.astype(np.int64)) - tfs
    for s in range(0, n, block_size):
        e = min(s + block_size, n)
        d = docids[s:e]
        t = tfs[s:e]
        l_ = dls[s:e]
        gaps = np.empty(d.size, dtype=np.uint64)
        gaps[0] = 0  # first docid stored absolutely in docid_first
        if d.size > 1:
            gaps[1:] = (d[1:] - d[:-1]).astype(np.uint64)
        poss = b""
        if pos_flat is not None:
            pflat = pos_flat[pstarts[s] : pstarts[e - 1] + t[-1]]
            poss = encode_positions(np.asarray(pflat), t.astype(np.int64))
        out.append(
            (
                bucket,
                term,
                ord_,
                int(e - s),
                int(d[0]),
                int(d[-1]),
                float(_tfn(t, l_, k1, b, avgdl).max()),
                varint_encode(gaps),
                varint_encode(t.astype(np.uint64)),
                varint_encode(l_.astype(np.uint64)),
                poss,
            )
        )
        ord_ += 1
    return ord_


def _rows_to_batch(rows: list) -> pa.RecordBatch:
    cols = list(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [
            pa.array(cols[0], pa.int32()),
            pa.array(cols[1], pa.string()),
            pa.array(cols[2], pa.int32()),
            pa.array(cols[3], pa.int32()),
            pa.array(cols[4], pa.int64()),
            pa.array(cols[5], pa.int64()),
            pa.array(cols[6], pa.float64()),
            pa.array(cols[7], pa.binary()),
            pa.array(cols[8], pa.binary()),
            pa.array(cols[9], pa.binary()),
            pa.array(cols[10], pa.binary()),
        ],
        schema=BLOCK_SCHEMA_PA,
    )


def decode_block(docid_first: int, docs: bytes, tfs: bytes, dls: bytes):
    gaps = varint_decode(docs)
    docids = np.cumsum(gaps.astype(np.int64)) + docid_first
    return docids, varint_decode(tfs).astype(np.int64), varint_decode(dls).astype(np.int64)


def decode_blocks_batch(
    firsts: list, docs_list: list, tfs_list: list, dls_list: list
):
    """Decode MANY blocks (typically one term's whole list) in three
    vectorized varint passes instead of one per block — per-call numpy
    overhead dominated the kernels at >10k blocks/query. Block boundaries in
    the concatenated gap stream are exactly the zero gaps: every block's
    first gap is 0 (docid_first is absolute) and within-block gaps are ≥ 1
    (docids strictly increase). Returns concatenated (docids, tfs, dls) in
    the input block order."""
    gaps = varint_decode(b"".join(docs_list))
    if gaps.size == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    tfs = varint_decode(b"".join(tfs_list)).astype(np.int64)
    dls = varint_decode(b"".join(dls_list)).astype(np.int64)
    g = gaps.astype(np.int64)
    starts = np.nonzero(g == 0)[0]
    counts = np.diff(np.append(starts, g.size))
    cum = np.cumsum(g)
    f = np.asarray(firsts, dtype=np.int64)
    docids = cum - np.repeat(cum[starts], counts) + np.repeat(f, counts)
    return docids, tfs, dls


# ---------------------------------------------------------------------------
# segment build + merge jobs
# ---------------------------------------------------------------------------


@dataclass
class SegmentIndex:
    blocks: DataFrame
    dictionary: DataFrame  # (term, df, idf)
    stats: CorpusStats
    config: BM25Config
    layout: str = "term"  # 'term' (bucket = term hash) | 'doc' (bucket = doc hash)
    has_positions: bool = False  # poss streams populated (phrase queries)

    @property
    def avgdl_effective(self) -> float:
        return self.stats.avgdl if self.config.use_avgdl else 1.0


def _make_block_writer(
    block_size: int, k1: float, b: float, avgdl: float,
    store_positions: bool = False,
):
    """mapInArrow kernel: partition sorted by (term, docid) → encoded blocks.
    Run boundaries are found on the DICTIONARY-ENCODED term column, so the
    Python-level work is O(#distinct terms), never O(#postings). With
    ``store_positions`` the input carries a ``positions`` list<long> column
    (ascending per posting) that is varint-encoded into each block's
    ``poss`` stream."""

    def write_blocks(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cur: tuple | None = None  # (bucket, term)
        bufs: list[tuple] = []
        rows: list = []

        def flush_term():
            if cur is None or not bufs:
                return
            d = np.concatenate([x[0] for x in bufs])
            t = np.concatenate([x[1] for x in bufs])
            l_ = np.concatenate([x[2] for x in bufs])
            pf = (
                np.concatenate([x[3] for x in bufs]) if store_positions else None
            )
            _emit_term_blocks(
                cur[0], cur[1], d, t, l_, block_size, k1, b, avgdl, rows,
                pos_flat=pf,
            )
            bufs.clear()

        for batch in batches:
            enc = batch.column("term").dictionary_encode()
            codes = enc.indices.to_numpy(zero_copy_only=False)
            vocab = enc.dictionary.to_pylist()  # O(#distinct terms)
            docids = batch.column("docid").to_numpy(zero_copy_only=False)
            tfs = batch.column("tf").to_numpy(zero_copy_only=False)
            dls = batch.column("dl").to_numpy(zero_copy_only=False)
            buckets = batch.column("bucket").to_numpy(zero_copy_only=False)
            pvals = poffs = None
            if store_positions:
                pcol = batch.column("positions")
                if isinstance(pcol, pa.ChunkedArray):
                    pcol = pcol.combine_chunks()
                poffs = pcol.offsets.to_numpy(zero_copy_only=False)
                pvals = pcol.values.to_numpy(zero_copy_only=False)
            nrows = codes.size
            # run boundary on (bucket, term): in the doc-partitioned layout
            # the same term appears under several buckets within one task
            bounds = np.nonzero(
                (np.diff(codes) != 0) | (np.diff(buckets) != 0)
            )[0] + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [nrows]))
            for i, j in zip(starts, ends):
                key = (int(buckets[i]), vocab[codes[i]])
                if key != cur:
                    flush_term()
                    cur = key
                pf = (
                    pvals[poffs[i] : poffs[j]] if store_positions else None
                )
                bufs.append((docids[i:j], tfs[i:j], dls[i:j], pf))
            if len(rows) >= 4096:
                yield _rows_to_batch(rows)
                rows = []
        flush_term()
        if rows:
            yield _rows_to_batch(rows)

    return write_blocks


def build_segments(
    index: InvertedIndex,
    num_partitions: int | None = None,
    store_positions: bool = False,
) -> SegmentIndex:
    """postings → salted repartition → sorted per-partition segment blocks.

    The result is PRE-MERGE: a hot (salted) term's posting list spans several
    partitions, so its blocks overlap in docid range. ``merge_segments``
    produces the canonical single-run-per-term form; queries must use the
    merged index (WAND block skipping assumes per-term blocks are
    docid-ordered and disjoint).

    ``store_positions`` requires a ``positions`` array<long> column on the
    postings (e.g. from positions.positional_postings_full) and encodes it
    into each block — the -storePositions analog."""
    cfg = index.config
    spark = index.postings.sparkSession
    num_partitions = num_partitions or max(
        spark.sparkContext.defaultParallelism, cfg.term_buckets // 4
    )
    k1, b = cfg.k1, cfg.b
    avgdl = index.avgdl_effective
    block_size = cfg.block_size
    n_buckets = cfg.term_buckets

    # tiny table of skew-driving terms (stopword-like code tokens): df above
    # threshold → salt postings across max_salt shards. Broadcast — it is
    # small by construction (only the df head).
    hot = index.dictionary.filter(F.col("df") > cfg.salt_threshold_df).select(
        "term", F.lit(cfg.max_salt).alias("n_salt")
    )
    p = index.postings.join(F.broadcast(hot), "term", "left")
    p = p.withColumn(
        "salt",
        F.when(
            F.col("n_salt").isNotNull(),
            F.pmod(F.xxhash64("docid"), F.col("n_salt")),
        ).otherwise(F.lit(0)),
    ).withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"))

    if store_positions and "positions" not in p.columns:
        raise ValueError(
            "store_positions=True needs a 'positions' column on postings "
            "(build them with positional_postings_full)"
        )
    parted = p.repartition(num_partitions, "bucket", "term", "salt").sortWithinPartitions(
        "term", "docid"
    )
    blocks = parted.mapInArrow(
        _make_block_writer(block_size, k1, b, avgdl, store_positions),
        BLOCK_SCHEMA_DDL,
    )
    return SegmentIndex(
        blocks=blocks, dictionary=index.dictionary, stats=index.stats,
        config=cfg, has_positions=store_positions,
    )


def build_doc_partitioned_segments(
    index: InvertedIndex, n_parts: int | None = None,
    store_positions: bool = False,
) -> SegmentIndex:
    """DOCID-partitioned segment layout — the batch-query twin of the
    term-bucketed layout. 'bucket' = pmod(xxhash64(docid), n_parts): every
    posting of a doc lands in exactly ONE partition, so a document's full
    BM25 total computes inside one task and partition-local top-k is
    globally exact after a tiny k×n_parts merge. The payoff at scale: a hot
    (stopword-laden) query's block volume spreads over n_parts tasks instead
    of funneling into one task per query (wand_topk's qid repartition), and
    the per-task WAND kernel still prunes locally. Blocks come out canonical
    in ONE pass — no merge stage: within a partition each (bucket, term)
    group is contiguous and docid-sorted."""
    cfg = index.config
    spark = index.postings.sparkSession
    n_parts = n_parts or max(spark.sparkContext.defaultParallelism, 8)
    p = index.postings.withColumn(
        "bucket", F.pmod(F.xxhash64("docid"), F.lit(n_parts)).cast("int")
    )
    if store_positions and "positions" not in p.columns:
        raise ValueError(
            "store_positions=True needs a 'positions' column on postings "
            "(build them with positional_postings_full)"
        )
    parted = p.repartition(n_parts, "bucket").sortWithinPartitions(
        "bucket", "term", "docid"
    )
    blocks = parted.mapInArrow(
        _make_block_writer(
            cfg.block_size, cfg.k1, cfg.b, index.avgdl_effective,
            store_positions,
        ),
        BLOCK_SCHEMA_DDL,
    )
    return SegmentIndex(
        blocks=blocks, dictionary=index.dictionary, stats=index.stats,
        config=cfg, layout="doc", has_positions=store_positions,
    )


def merge_segments(
    seg: SegmentIndex,
    partition_cols: tuple[str, ...] = ("bucket",),
    num_partitions: int | None = None,
) -> SegmentIndex:
    """Log-structured merge (the ``--optimize`` analog): per bucket, k-way
    merge every term's block runs by docid and rewrite canonical blocks.
    applyInArrow per bucket — bucket count bounds task memory.
    ``partition_cols``/``num_partitions`` let the hierarchical driver merge
    finer-grained subsets (see merge_segments_hierarchical)."""
    if getattr(seg, "layout", "term") == "doc":
        raise ValueError(
            "doc-partitioned segments are built canonical in one pass — "
            "merge applies to the term-bucketed layout only"
        )
    cfg = seg.config
    k1, b = cfg.k1, cfg.b
    avgdl = seg.avgdl_effective
    block_size = cfg.block_size
    has_pos = seg.has_positions

    def merge_bucket(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        per_term: dict[str, list] = {}
        bucket_of: dict[str, int] = {}
        for batch in batches:
            tbl = batch
            terms = tbl.column("term").to_pylist()
            firsts = tbl.column("docid_first").to_pylist()
            lasts = tbl.column("docid_last").to_pylist()
            ns = tbl.column("n").to_pylist()
            maxes = tbl.column("max_tfn").to_pylist()
            docs = tbl.column("docs").to_pylist()
            tfs = tbl.column("tfs").to_pylist()
            dls = tbl.column("dls").to_pylist()
            poss = tbl.column("poss").to_pylist()
            buckets = tbl.column("bucket").to_pylist()
            for i, term in enumerate(terms):
                per_term.setdefault(term, []).append(
                    (firsts[i], docs[i], tfs[i], dls[i], poss[i],
                     lasts[i], ns[i], maxes[i])
                )
                bucket_of[term] = buckets[i]
        rows: list = []
        for term in sorted(per_term):
            blocks_t = sorted(per_term[term], key=lambda e: e[0])
            # PASS-THROUGH fast path: blocks already forming one canonical
            # run — every block full except the (global) last, docid ranges
            # strictly increasing and disjoint — are BYTE-IDENTICAL to their
            # re-encode (re-chunking by position reproduces the same block
            # boundaries, and the codec/max_tfn are deterministic functions
            # of block content), so only ord is rewritten. This skips the
            # decode+re-encode for the entire unsalted term tail; only hot
            # (salted, multi-run) terms pay the k-way merge. Byte identity
            # is covered by the existing merge/hierarchical-merge tests.
            canonical = all(
                e[6] == block_size for e in blocks_t[:-1]
            ) and all(
                blocks_t[i + 1][0] > blocks_t[i][5]
                for i in range(len(blocks_t) - 1)
            )
            if canonical:
                bkt = bucket_of[term]
                for ord_, e in enumerate(blocks_t):
                    rows.append(
                        (bkt, term, ord_, e[6], e[0], e[5], e[7],
                         e[1], e[2], e[3], e[4])
                    )
                if len(rows) >= 4096:
                    yield _rows_to_batch(rows)
                    rows = []
                continue
            parts = [
                decode_block(f, d, t, l_)
                for f, d, t, l_, _p, _la, _n, _m in blocks_t
            ]
            d = np.concatenate([x[0] for x in parts])
            t = np.concatenate([x[1] for x in parts])
            l_ = np.concatenate([x[2] for x in parts])
            order = np.argsort(d, kind="stable")
            pf = None
            if has_pos:
                pflat = np.concatenate(
                    [
                        decode_positions(e[4], parts[i][1])
                        for i, e in enumerate(blocks_t)
                    ]
                )
                pstarts = (np.cumsum(t) - t).astype(np.int64)
                pf = _gather_segments(pflat, pstarts[order], t[order].astype(np.int64))
            _emit_term_blocks(
                bucket_of[term], term, d[order], t[order], l_[order],
                block_size, k1, b, avgdl, rows, pos_flat=pf,
            )
            if len(rows) >= 4096:
                yield _rows_to_batch(rows)
                rows = []
        if rows:
            yield _rows_to_batch(rows)

    merged = (
        seg.blocks.repartition(
            num_partitions or cfg.term_buckets, *partition_cols
        )
        .mapInArrow(merge_bucket, BLOCK_SCHEMA_DDL)
    )
    return SegmentIndex(
        blocks=merged, dictionary=seg.dictionary, stats=seg.stats, config=cfg,
        has_positions=has_pos,
    )


def merge_segments_hierarchical(seg: SegmentIndex, groups: int = 4) -> SegmentIndex:
    """Two-level merge for buckets LARGER THAN TASK MEMORY: level 1 merges
    ``groups`` disjoint subsets of each bucket's block runs (task state =
    bucket/groups), level 2 merges the partial results per bucket. The merge
    kernel is associative — the final emit re-sorts each term's full posting
    set — so the output blocks are BYTE-IDENTICAL to a single-level merge
    (tested). At 10^12 files, pick groups so bucket/groups fits an executor;
    deeper trees compose by calling level 1 repeatedly."""
    cfg = seg.config
    lvl1_in = SegmentIndex(
        blocks=seg.blocks.withColumn(
            "_grp",
            F.pmod(F.xxhash64("term", "docid_first"), F.lit(groups)).cast("int"),
        ),
        dictionary=seg.dictionary,
        stats=seg.stats,
        config=cfg,
        has_positions=seg.has_positions,
    )
    partial = merge_segments(
        lvl1_in,
        partition_cols=("bucket", "_grp"),
        num_partitions=cfg.term_buckets * groups,
    )
    return merge_segments(partial)


# ---------------------------------------------------------------------------
# persistence
# ---------------------------------------------------------------------------


def save_segments(seg: SegmentIndex, root: str) -> None:
    seg.blocks.write.mode("overwrite").partitionBy("bucket").parquet(f"{root}/blocks")
    dictionary = seg.dictionary
    if getattr(seg, "layout", "term") == "term":
        # dictionary carries each term's bucket so a non-Spark reader
        # (serving.py) can prune bucket partition dirs without
        # reimplementing xxhash64 — term layout only (in the doc layout a
        # term spans every bucket)
        bucket_of = F.pmod(
            F.xxhash64("term"), F.lit(seg.config.term_buckets)
        ).cast("int")
        dictionary = dictionary.withColumn("bucket", bucket_of)
    dictionary.write.mode("overwrite").parquet(f"{root}/dictionary")
    os.makedirs(root, exist_ok=True)
    with open(f"{root}/meta.json", "w") as f:
        json.dump(
            {
                "n_docs": seg.stats.n_docs,
                "avgdl": seg.stats.avgdl,
                "k1": seg.config.k1,
                "b": seg.config.b,
                "use_avgdl": seg.config.use_avgdl,
                "block_size": seg.config.block_size,
                "term_buckets": seg.config.term_buckets,
                "layout": getattr(seg, "layout", "term"),
                "has_positions": seg.has_positions,
            },
            f,
        )


def load_segments(spark: SparkSession, root: str) -> SegmentIndex:
    with open(f"{root}/meta.json") as f:
        meta = json.load(f)
    cfg = BM25Config(
        k1=meta["k1"],
        b=meta["b"],
        use_avgdl=meta["use_avgdl"],
        block_size=meta["block_size"],
        term_buckets=meta["term_buckets"],
    )
    # explicit schemas: an EMPTY generation (zero blocks — e.g. an
    # incremental-ingest window with no new docs) writes no parquet part
    # files under partitionBy, so schema inference would fail; the store
    # layout is fixed, so read with the declared schema instead
    blocks = spark.read.schema(BLOCK_SCHEMA_DDL).parquet(f"{root}/blocks")
    dict_schema = "term string, df long, idf double"
    if meta.get("layout", "term") == "term":
        dict_schema += ", bucket int"
    dictionary = spark.read.schema(dict_schema).parquet(f"{root}/dictionary")
    return SegmentIndex(
        blocks=blocks,
        dictionary=dictionary,
        stats=CorpusStats(n_docs=meta["n_docs"], avgdl=meta["avgdl"]),
        config=cfg,
        layout=meta.get("layout", "term"),
        has_positions=meta.get("has_positions", False),
    )


# ---------------------------------------------------------------------------
# multi-generation merge (incremental ingest → one canonical store)
# ---------------------------------------------------------------------------


def merge_stores(
    spark: SparkSession,
    roots: list[str],
    out_root: str | None = None,
    check_disjoint: bool = True,
    target_layout: str = "term",
) -> SegmentIndex:
    """Merge N independently-built segment stores (generations of an
    incremental ingest) into ONE canonical index with CORRECT global
    statistics — the cross-segment Lucene merge, done at the block level
    with no re-tokenization:

    - corpus stats: N = Σ nᵢ; avgdl = Σ nᵢ·avgdlᵢ / N
    - dictionary:   df = Σ dfᵢ per term; idf recomputed from the merged N
    - blocks:       union → per-bucket k-way merge; max_tfn is RE-derived
      from each posting's stored (tf, dl) under the MERGED avgdl, so
      block-max pruning stays score-safe (per-store max_tfn would be stale)
    - positions carried when every generation stored them

    Generations must share the BM25 config and hold DISJOINT docid spaces
    (lineage chunk ids satisfy this by construction); ``check_disjoint``
    verifies the per-store [min, max] docid ranges don't overlap — cheap,
    and catches the standard mistake of rebuilding a generation with a
    fresh id space.

    ``target_layout``: 'term' (default — block-level fast path when every
    generation is term-bucketed) or 'doc'. When the target is 'doc' or any
    generation is doc-partitioned, the merge decodes blocks back to logical
    postings (postings_from_segments — still no re-tokenize) and rebuilds
    the target layout with the merged statistics."""
    if len(roots) < 2:
        raise ValueError("need at least two stores to merge")
    segs = [load_segments(spark, r) for r in roots]
    cfg0 = segs[0].config
    for s in segs[1:]:
        if (
            s.config.k1 != cfg0.k1
            or s.config.b != cfg0.b
            or s.config.use_avgdl != cfg0.use_avgdl
            or s.config.block_size != cfg0.block_size
            or s.config.term_buckets != cfg0.term_buckets
        ):
            raise ValueError("stores were built with different BM25 configs")
    if target_layout not in ("term", "doc"):
        raise ValueError(f"unknown target_layout {target_layout!r}")
    layouts = {getattr(s, "layout", "term") for s in segs}
    decode_path = target_layout == "doc" or layouts != {"term"}
    if check_disjoint:
        ranges = []
        for r, s in zip(roots, segs):
            row = s.blocks.agg(
                F.min("docid_first").alias("lo"), F.max("docid_last").alias("hi")
            ).collect()[0]
            ranges.append((row["lo"], row["hi"], r))
        # an EMPTY generation (zero blocks) aggregates to lo/hi = None —
        # it can't overlap anything, and None is unorderable vs int, so it
        # must be dropped before the sort (ADVICE r03)
        ranges = [t for t in ranges if t[0] is not None]
        ranges.sort()
        for (lo1, hi1, r1), (lo2, hi2, r2) in zip(ranges, ranges[1:]):
            if lo2 is not None and hi1 is not None and lo2 <= hi1:
                raise ValueError(
                    f"docid ranges overlap between {r1} [{lo1},{hi1}] and "
                    f"{r2} [{lo2},{hi2}] — generations must use disjoint "
                    "docid spaces"
                )
    n = sum(s.stats.n_docs for s in segs)
    avgdl = (
        sum(s.stats.n_docs * s.stats.avgdl for s in segs) / n if n else 0.0
    )
    blocks = segs[0].blocks
    for s in segs[1:]:
        blocks = blocks.unionByName(s.blocks)
    # each generation's dictionary is a (term, df) partial of the merged one
    partials = segs[0].dictionary.select("term", "df")
    for s in segs[1:]:
        partials = partials.unionByName(s.dictionary.select("term", "df"))
    stats, dictionary = finalize_index(CorpusStats(n_docs=n, avgdl=avgdl), partials)
    if decode_path:
        # positions survive the decode path when EVERY generation stored
        # them (poss streams are decoded and re-encoded into the rebuilt
        # blocks); with a mixed set they cannot be carried for the
        # position-less generations — warn instead of dropping silently
        # (ADVICE r03).
        pos_flags = [s.has_positions for s in segs]
        carry_pos = all(pos_flags)
        if any(pos_flags) and not carry_pos:
            import warnings

            warnings.warn(
                "merge_stores: only some generations store positions — the "
                "merged store is built WITHOUT poss streams (phrase/"
                "proximity queries need a rebuild with store_positions)",
                stacklevel=2,
            )
        post = postings_from_segments(segs[0], with_positions=carry_pos)
        for s in segs[1:]:
            post = post.unionByName(
                postings_from_segments(s, with_positions=carry_pos)
            )
        doc_stats = post.groupBy("docid").agg(
            F.first("dl").alias("dl")
        ).select(
            "docid", F.col("docid").cast("string").alias("docid_str"), "dl",
            F.lit(None).cast("string").alias("content_sha256"),
        )
        logical = InvertedIndex(
            postings=post, doc_stats=doc_stats, dictionary=dictionary,
            stats=stats, config=cfg0,
        )
        if target_layout == "doc":
            merged = build_doc_partitioned_segments(
                logical, store_positions=carry_pos
            )
        else:
            merged = merge_segments(
                build_segments(logical, store_positions=carry_pos)
            )
    else:
        merged = merge_segments(
            SegmentIndex(
                blocks=blocks,
                dictionary=dictionary,
                stats=stats,
                config=cfg0,
                has_positions=all(s.has_positions for s in segs),
            )
        )
    if out_root is not None:
        save_segments(merged, out_root)
        return load_segments(spark, out_root)
    return merged


def postings_from_segments(
    seg: SegmentIndex, with_positions: bool = False
) -> DataFrame:
    """Decode a segment store back into the logical postings DataFrame
    (term, docid, tf, dl) — the inverse of the block writer, as a
    mapInArrow kernel (one batched varint pass per block group). Lets any
    store — either layout — feed a rebuild (layout conversion, config
    change, cross-layout generation merge) without re-tokenizing the
    corpus.

    ``with_positions`` additionally decodes each block's ``poss`` stream
    into a ``positions`` array<long> column (per-posting ascending
    positions, length == tf) so a positional store survives a decode-path
    rebuild (ADVICE r03: the decode path used to drop positions silently).
    Requires ``seg.has_positions``."""
    if with_positions and not seg.has_positions:
        raise ValueError(
            "with_positions=True but the store was built without "
            "store_positions — no poss streams to decode"
        )

    def explode_blocks(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            terms = batch.column("term").to_pylist()
            ns = batch.column("n").to_pylist()
            firsts = batch.column("docid_first").to_pylist()
            docs = batch.column("docs").to_pylist()
            tfs = batch.column("tfs").to_pylist()
            dls = batch.column("dls").to_pylist()
            if not terms:
                continue
            d, t, l_ = decode_blocks_batch(firsts, docs, tfs, dls)
            term_col = np.repeat(
                np.arange(len(terms), dtype=np.int64),
                np.asarray(ns, dtype=np.int64),
            )
            arrays = [
                pa.DictionaryArray.from_arrays(
                    pa.array(term_col, pa.int64()).cast(pa.int32()),
                    pa.array(terms, pa.string()),
                ).cast(pa.string()),
                pa.array(d, pa.int64()),
                pa.array(t, pa.int64()),
                pa.array(l_, pa.int64()),
            ]
            fields = [
                pa.field("term", pa.string()),
                pa.field("docid", pa.int64()),
                pa.field("tf", pa.int64()),
                pa.field("dl", pa.int64()),
            ]
            if with_positions:
                # per-block poss decode, blocks concatenated in batch order —
                # the same order decode_blocks_batch emits postings
                poss = batch.column("poss").to_pylist()
                counts_all = t.astype(np.int64)
                flat_parts: list[np.ndarray] = []
                off = 0
                for i, p in enumerate(poss):
                    nb = int(ns[i])
                    c = counts_all[off : off + nb]
                    flat_parts.append(decode_positions(p, c))
                    off += nb
                flat = (
                    np.concatenate(flat_parts)
                    if flat_parts
                    else np.empty(0, dtype=np.int64)
                )
                offsets = np.zeros(counts_all.size + 1, dtype=np.int64)
                np.cumsum(counts_all, out=offsets[1:])
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(offsets, pa.int32()),
                        pa.array(flat, pa.int64()),
                    )
                )
                fields.append(
                    pa.field("positions", pa.list_(pa.int64()))
                )
            yield pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))

    ddl = "term string, docid long, tf long, dl long"
    cols = ["term", "n", "docid_first", "docs", "tfs", "dls"]
    if with_positions:
        ddl += ", positions array<long>"
        cols.append("poss")
    return seg.blocks.select(*cols).mapInArrow(explode_blocks, ddl)
