"""Vectorized (Arrow-batched) tokenize-and-count postings builder.

This is the north-star build path: ``mapInArrow`` code-aware tokenization
directly into (term, docID, tf) postings — the per-doc term counting happens
inside the Arrow batch, so the cluster never materializes the 10^12 × avgdl
exploded token stream, and postings need NO shuffle at all (they are already
exact per-doc aggregates when they leave the map stage).

Compared to the pure-JVM explode → groupBy(term, docid) alternative
(index_build.build_index_sql), this cuts the big shuffle entirely: only the
term dictionary (df per term) still aggregates, and its map-side partial
combine reduces the exchange to ~|vocab| rows per partition.

Doc IDs are assigned Lucene-style by insertion order: a first pass counts
rows per input partition (tiny collect — one long per partition), the map
stage then adds the broadcast partition offset to the local row number. This
matches the reference's enumeration-order docids
(modeling_bm25.py:163 ``for i, doc in enumerate(corpus)``) and requires no
shuffle — but does require the input's partition layout to be deterministic
between the two passes (true for file scans and spark.range; both jobs plan
identical splits). The map stage VERIFIES this: each partition re-counts its
rows against the offsets job's count and raises on any drift (and on rows in
a partition the counting pass never saw), so a non-deterministic source or
an AQE replan fails loudly instead of silently mis-assigning docids.

Tokenization is ``pyarrow.compute.split_pattern(content, " ")`` — verified
identical to Python's ``str.split(" ")`` (the reference oracle's tokenizer,
T1) on every edge case incl. empty strings and repeated separators; per-doc
term counting is an Arrow native hash aggregation over (row, token), so the
kernel never loops over rows or tokens in Python (guide §4.2). Stop tokens
are removed from tf/df but doc length counts unfiltered tokens
(modeling_bm25.py:180).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from flagembedding_spark.config import BM25Config

# distinct terms whose term_hash one task memoizes; the cache is cleared when
# full, so a heavy-tailed vocabulary cannot grow it without bound
HASH_CACHE_MAX = 1 << 20

STREAM_SCHEMA = StructType(
    [
        StructField("docid", LongType(), False),
        # docid_str is carried on DOC-STATS rows only (every consumer reads
        # it from there); postings and partial rows store NULL — at ~40
        # bytes × ~100 postings/doc the repeated string was the single
        # largest column crossing the Python→JVM boundary and landing in
        # the stream parquet
        StructField("docid_str", StringType(), True),
        StructField("term", StringType(), True),  # NULL → doc-stats row
        StructField("tf", LongType(), False),
        StructField("dl", LongType(), False),
        StructField("content_sha256", StringType(), True),  # doc-stats rows only
    ]
)

_ARROW_SCHEMA = pa.schema(
    [
        pa.field("docid", pa.int64(), nullable=False),
        pa.field("docid_str", pa.string(), nullable=True),
        pa.field("term", pa.string(), nullable=True),
        pa.field("tf", pa.int64(), nullable=False),
        pa.field("dl", pa.int64(), nullable=False),
        pa.field("content_sha256", pa.string(), nullable=True),
    ]
)


def sha256_hex_col(arr: pa.Array) -> pa.Array:
    """content sha256 straight off the Arrow utf8 buffer — the bytes are
    already UTF-8, so hashing offset slices skips the str materialization
    AND the re-encode of the to_pylist() form (~1.9x on the sha column,
    identical output — test_sha256_hex_col_identity). A null slot hashes
    to null, never to sha256("")."""
    import numpy as np

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    bufs = arr.buffers()
    dt = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    off = np.frombuffer(bufs[1], dtype=dt)[
        arr.offset:arr.offset + len(arr) + 1
    ]
    mv = memoryview(bufs[2]) if bufs[2] is not None else memoryview(b"")
    sha = hashlib.sha256
    digests = [sha(mv[off[j]:off[j + 1]]).hexdigest() for j in range(len(arr))]
    if arr.null_count:
        digests = [
            d if v else None for d, v in zip(digests, arr.is_valid().to_pylist())
        ]
    return pa.array(digests, pa.string())


def partition_offsets(df: DataFrame) -> tuple[dict[int, int], dict[int, int]]:
    """Rows-per-partition → (cumulative offsets, per-partition counts).
    One tiny collect (O(#parts)). The counts are re-verified inside the map
    stage so any layout drift between the two jobs fails loudly instead of
    silently mis-assigning docids."""
    rows = (
        df.select(F.spark_partition_id().alias("_pid"))
        .groupBy("_pid")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    counts = {r["_pid"]: r["cnt"] for r in rows}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    return offsets, counts


def grouped_partition_offsets(
    df: DataFrame, group_col: str
) -> tuple[dict[tuple[int, int], int], dict[tuple[int, int], int]]:
    """Per-(partition, group) → (offset within the GROUP's own dense id
    space, count). Each group's ids run 0..n_group−1 cumulatively over
    partition ids, so (group << B) | local never collides and is dense per
    group. One collect of O(#parts × #groups) tiny rows."""
    rows = (
        df.select(
            F.spark_partition_id().alias("_pid"), F.col(group_col).alias("_g")
        )
        .groupBy("_pid", "_g")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    counts = {(r["_pid"], r["_g"]): r["cnt"] for r in rows}
    offsets: dict[tuple[int, int], int] = {}
    acc: dict[int, int] = {}
    for pid, g in sorted(counts):
        offsets[(pid, g)] = acc.get(g, 0)
        acc[g] = acc.get(g, 0) + counts[(pid, g)]
    return offsets, counts


def tokenize_count_stream(
    corpus: DataFrame,
    config: BM25Config,
    content_col: str = "content",
    docid_str: F.Column | None = None,
    group_expr: F.Column | None = None,
    max_local: int | None = None,
    docid_long: str | None = None,
    with_term_hash: bool = False,
    emit_partial_dictionary: bool = False,
) -> DataFrame:
    """corpus → unified stream of postings rows (term NOT NULL) and doc-stats
    rows (term NULL, carrying docid_str and content_sha256). Zero shuffles.
    A null in ``content_col`` raises a ValueError naming the column.

    ``with_term_hash`` (persisted-store builds only): append a
    ``term_hash`` column (int32, xxhash64 low bits) so query-time term
    lookups probe on a numeric key (operators/query.py). Computed per
    batch over the
    DICTIONARY-ENCODED term column — one scalar hash per DISTINCT term in
    the batch (cached per task, at most HASH_CACHE_MAX entries), then a
    take — instead of a per-row JVM
    projection over the full stream (which measured ~1 s of the corpus
    pass at 44M postings). Doc-stats rows carry the xxhash64 seed (42),
    matching F.xxhash64(NULL); bit-parity with the JVM projection is
    pytest-pinned.

    ``emit_partial_dictionary`` (persisted-store builds only): label every
    row with ``rowclass`` (0 postings / 1 doc-stats / 2 dictionary
    partials) and emit one extra row per DISTINCT term per batch (per
    batch and group in grouped mode) carrying its batch-local df in
    ``tf`` — classic map-side partial aggregation
    riding the same single pass. The store writer partitions the output by
    rowclass, so deriving the dictionary needs only the tiny partial files
    instead of re-scanning the full posting stream, and postings readers
    skip the interleaved stats rows (and their NULL filter) entirely.
    Exact: a doc never spans two batches, so summing batch-local dfs is
    the global df.

    ``group_expr`` (evaluated over the slim (docid_str, content) frame, e.g.
    a hash-chunk of docid_str): docids become DENSE PER GROUP — each group's
    ids run 0..n_group−1 in insertion order — so they are independent of
    which other groups were built in the same pass (resumable-build
    stability). Every row carries its group in a ``_grp`` column (long),
    so a writer partitions by it without re-deriving the group. With
    ``max_local`` the emitted docid is ``group * max_local + local`` and a
    local id past ``max_local`` raises (overflow into the group bits).

    ``docid_long``: name of a pre-existing integer docid column — ids pass
    through verbatim, so the offsets/counting machinery (and its pre-job)
    is skipped entirely."""
    from flagembedding_spark.operators.index_build import docid_expr

    if docid_long is not None and docid_str is None:
        docid_str = F.col(docid_long).cast("string")
    did = docid_str if docid_str is not None else docid_expr()
    sel = [did.alias("docid_str"), F.col(content_col).alias("content")]
    if docid_long is not None:
        if group_expr is not None:
            raise ValueError(
                "docid_long and group_expr are mutually exclusive"
            )
        sel.insert(0, F.col(docid_long).cast("long").alias("_docid"))
    slim = corpus.select(*sel)
    grouped = group_expr is not None
    declared = getattr(corpus, "_fes_partition_counts", None)
    if docid_long is not None:
        offsets, expected_counts = {}, {}
    elif grouped:
        slim = slim.withColumn("_grp", group_expr)
        offsets, expected_counts = grouped_partition_offsets(slim, "_grp")
    elif declared is not None:
        # source with statically-known per-partition row counts (e.g. a
        # spark.range-derived generator) — skip the counting job; the map
        # stage below still VERIFIES actual rows against these counts, so a
        # wrong declaration fails loudly instead of mis-assigning docids
        # drop empty partitions: the verifier compares against rows SEEN,
        # and an empty partition's map task never records a key
        expected_counts = {
            int(k): int(v) for k, v in declared.items() if int(v) > 0
        }
        offsets, acc = {}, 0
        for pid in sorted(expected_counts):
            offsets[pid] = acc
            acc += expected_counts[pid]
    else:
        offsets, expected_counts = partition_offsets(slim)
    stop = set(config.stop_tokens)

    max_out_rows = 262_144  # bound per-batch memory (an input batch of 10k
    # docs would otherwise emit one ~1M-row output batch)
    cache_cap = HASH_CACHE_MAX  # read at plan time: the tasks run elsewhere

    stop_arr = pa.array(sorted(stop), pa.string()) if stop else None

    from pyspark.sql.types import IntegerType

    extra_fields = []
    extra_pa = []
    if with_term_hash:
        # int32 (xxhash64 low bits, two's complement): halves the extra
        # column's boundary/storage bytes; collisions are already removed
        # by the probe's residual exact-string check, so width only trades
        # a few more string compares, never correctness
        extra_fields.append(StructField("term_hash", IntegerType(), False))
        extra_pa.append(pa.field("term_hash", pa.int32(), nullable=False))
    if emit_partial_dictionary:
        extra_fields.append(StructField("rowclass", IntegerType(), False))
        extra_pa.append(pa.field("rowclass", pa.int32(), nullable=False))
    if grouped:
        extra_fields.append(StructField("_grp", LongType(), False))
        extra_pa.append(pa.field("_grp", pa.int64(), nullable=False))
    out_schema = StructType(STREAM_SCHEMA.fields + extra_fields)
    arrow_schema = _ARROW_SCHEMA
    for f in extra_pa:
        arrow_schema = arrow_schema.append(f)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np
        import pyarrow.compute as pc
        from pyspark import TaskContext

        from flagembedding_spark.functions.hashing import xxhash64_py

        hash_cache: dict[str, int] = {}

        pid = TaskContext.get().partitionId()
        pass_ids = docid_long is not None
        seen: dict = {}  # offsets key → rows emitted so far in this task

        def next_ids(okey, c: int) -> np.ndarray:
            """The next ``c`` insertion-order ids of offsets key ``okey``
            (a partition, or a (partition, group) pair)."""
            base = offsets.get(okey)
            if base is None:
                # rows in a partition/group the counting pass never saw: the
                # two jobs planned different splits — docids would collide
                # with another range. Fail loudly.
                raise RuntimeError(
                    f"docid assignment: partition key {okey} has rows but "
                    "no offset from the counting pass — input partition "
                    "layout drifted between the offsets job and the map "
                    "job (non-deterministic source / AQE replan / "
                    "concurrent write?)"
                )
            local = seen.get(okey, 0)
            seen[okey] = local + c
            top = base + local + c - 1
            if max_local is not None and top >= max_local:
                raise RuntimeError(
                    f"docid assignment: group-local id {top} overflows the "
                    f"{max_local} id space for key {okey} — raise the "
                    "group-id bit budget or use more groups"
                )
            return base + local + np.arange(c, dtype=np.int64)

        def out_batch(cols, rowclass, hashes, groups) -> pa.RecordBatch:
            """Append the optional columns (term_hash, rowclass, _grp)."""
            if with_term_hash:
                cols.append(pa.array(hashes.astype(np.int32, copy=False)))
            if emit_partial_dictionary:
                cols.append(pa.array(np.full(len(cols[0]), rowclass, dtype=np.int32)))
            if grouped:
                cols.append(pa.array(groups.astype(np.int64, copy=False)))
            return pa.RecordBatch.from_arrays(cols, schema=arrow_schema)

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column("docid_str")
            texts = batch.column("content")
            if texts.null_count:
                raise ValueError(
                    f"content column {content_col!r} has {texts.null_count} "
                    "null value(s): a null document cannot be tokenized — "
                    "filter or fill it before indexing"
                )

            # ---- docid assignment (insertion order, offsets-verified;
            # or verbatim passthrough when the source carries docids) ----
            grps_np = None
            if pass_ids:
                docids = batch.column("_docid").to_numpy(
                    zero_copy_only=False
                ).astype(np.int64, copy=False)
            elif grouped:
                docids = np.empty(n, dtype=np.int64)
                grps_np = np.asarray(batch.column("_grp").to_numpy(
                    zero_copy_only=False)).astype(np.int64, copy=False)
                ugrps, ginv = np.unique(grps_np, return_inverse=True)
                for gi, g in enumerate(ugrps):
                    mask = ginv == gi
                    gbase = int(g) * max_local if max_local is not None else 0
                    docids[mask] = gbase + next_ids((pid, int(g)), int(mask.sum()))
            else:
                docids = next_ids(pid, n)

            # ---- vectorized tokenize + per-doc term count (T1/A1) ----
            # split_pattern(" ") is identical to Python's str.split(" ")
            # (empties kept — verified on edge cases incl. "", "a  b");
            # dl counts UNFILTERED tokens, the stop filter applies to tf/df
            # only (reference modeling_bm25.py:180).
            split = pc.split_pattern(texts, " ")
            dl_np = pc.list_value_length(split).cast(pa.int64()).to_numpy()
            flat = pc.list_flatten(split)
            parent = pc.list_parent_indices(split)
            if stop_arr is not None:
                keep = pc.invert(pc.is_in(flat, value_set=stop_arr))
                flat = flat.filter(keep)
                parent = parent.filter(keep)
            # per-doc term counting: dictionary-encode the token stream and
            # count packed (doc, token-id) int64 keys with np.unique —
            # measured 2.3x faster than Arrow's (int, string) hash
            # aggregation on the same batches (the string hashing/equality
            # dominates it), and the batch dictionary doubles as the input
            # for the per-distinct-term hash column below. Same exact
            # counts; row order within a batch is np.unique's sorted
            # (doc, id) instead of hash order — no consumer observes it.
            enc = pc.dictionary_encode(flat)
            idx64 = enc.indices.to_numpy().astype(np.int64, copy=False)
            par64 = parent.to_numpy().astype(np.int64, copy=False)
            uk, cnt = np.unique((par64 << 32) | idx64, return_counts=True)
            p_np = uk >> 32
            t_idx = uk & 0xFFFFFFFF
            term_col = enc.dictionary.take(pa.array(t_idx))
            tf_col = pa.array(cnt.astype(np.int64))

            # ---- doc-stats batch (one row per doc, carries docid_str+sha) --
            # F.xxhash64(NULL) returns the seed — stats rows carry 42
            yield out_batch(
                [
                    pa.array(docids),
                    ids.combine_chunks() if isinstance(ids, pa.ChunkedArray)
                    else ids,
                    pa.nulls(n, pa.string()),
                    pa.array(np.zeros(n, dtype=np.int64)),
                    pa.array(dl_np),
                    sha256_hex_col(texts),
                ],
                1, np.full(n, 42, dtype=np.int32), grps_np,
            )

            # ---- postings batch(es): docid_str and sha are NULL
            m = len(p_np)
            if m == 0:
                continue
            hv = None
            if with_term_hash:
                # one scalar hash per DISTINCT term in the batch, then take
                dvals = enc.dictionary.to_pylist()
                hv = np.empty(len(dvals), dtype=np.int64)
                for j, t in enumerate(dvals):
                    h = hash_cache.get(t)
                    if h is None:
                        h = xxhash64_py(t)
                        if len(hash_cache) >= cache_cap:
                            hash_cache.clear()
                        hash_cache[t] = h
                    hv[j] = h
            post = out_batch(
                [
                    pa.array(docids[p_np]),
                    pa.nulls(m, pa.string()),
                    term_col,
                    tf_col,
                    pa.array(dl_np[p_np]),
                    pa.nulls(m, pa.string()),
                ],
                0, hv[t_idx] if hv is not None else None,
                grps_np[p_np] if grouped else None,
            )
            for s in range(0, m, max_out_rows):
                yield post.slice(s, max_out_rows)

            if emit_partial_dictionary:
                # one row per DISTINCT term in the batch (per group in the
                # batch when grouped): tf = batch-local df (docs never span
                # batches → sums to the exact global df)
                if grouped:
                    pk, pdf = np.unique(
                        (ginv[p_np] << 32) | t_idx, return_counts=True
                    )
                    pt, pg = pk & 0xFFFFFFFF, ugrps[pk >> 32]
                    pterms = enc.dictionary.take(pa.array(pt))
                else:
                    pt, pg = slice(None), None
                    pdf = np.bincount(t_idx, minlength=len(enc.dictionary))
                    pterms = enc.dictionary
                kd = len(pdf)
                yield out_batch(
                    [
                        pa.array(np.full(kd, -1, dtype=np.int64)),
                        pa.nulls(kd, pa.string()),
                        pterms,
                        pa.array(pdf.astype(np.int64)),
                        pa.array(np.zeros(kd, dtype=np.int64)),
                        pa.nulls(kd, pa.string()),
                    ],
                    2, hv[pt] if hv is not None else None, pg,
                )

        my_expected = {
            k: c for k, c in expected_counts.items()
            if (k[0] if grouped else k) == pid
        }
        if seen != my_expected:
            raise RuntimeError(
                f"docid assignment: partition {pid} saw {seen} rows in the "
                f"map stage but the counting pass recorded {my_expected} — "
                "layout drift between the two jobs would mis-assign docids"
            )

    return slim.mapInArrow(gen, out_schema)
