"""Inverted-index build — the distributed analog of the reference's
``NaiveBM25Retriever.index`` (modeling_bm25.py:148-186) and of the Anserini
``IndexCollection`` job it shells out to (modeling_bm25.py:91-107).

Reference artifacts → Spark artifacts:

    dfs: {term: df}                    → dictionary DF (term, df, idf)
    tfs: [{term: tf}] (row-major)      → postings DF (term, docid, tf, dl)
    inverted_lists: {term: [docid]}    → postings sorted (term, docid) in the
                                         segment layout (segments.py)
    doc_length: float32[N]             → doc_stats DF (docid, dl, content_sha256)
    N                                  → corpus_stats (N, avgdl), broadcast

Scale notes (10^12 files):
- ``dl`` is denormalized into postings at build time (Lucene stores the same
  as a per-doc norm) so query-time scoring never joins postings⋈doc_stats —
  that join would shuffle the biggest table in the system.
- tf aggregation is a single hash aggregate with map-side partial combine;
  no driver-side state, no collect of anything O(corpus).
- ``assign_doc_ids`` produces dense integer docIDs via repartitionByRange +
  per-partition offsets (two small jobs), never a single-partition window.
- per-row invariant (BASELINE.json.input_hint): content_sha256 is computed at
  ingest and carried into doc_stats so index↔source equality is checkable row
  by row.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flagembedding_spark.config import BM25Config
from flagembedding_spark.functions.tokenize import stop_filter, whitespace_tokens


POSTING_COLS = ["term", "docid", "tf", "dl"]


@dataclass
class CorpusStats:
    n_docs: int
    avgdl: float


@dataclass
class InvertedIndex:
    """Logical index: three DataFrames + tiny broadcast-able stats."""

    postings: DataFrame  # (term, docid long, tf long, dl long)
    doc_stats: DataFrame  # (docid long, docid_str, dl long, content_sha256)
    dictionary: DataFrame  # (term, df long, idf double)
    stats: CorpusStats
    config: BM25Config = field(default_factory=BM25Config)

    @property
    def avgdl_effective(self) -> float:
        return self.stats.avgdl if self.config.use_avgdl else 1.0


def bm25_idf(df: F.Column, n_docs: int) -> F.Column:
    """The one BM25 idf: ln((N - df + 0.5)/(df + 0.5) + 1),
    modeling_bm25.py:225."""
    return F.log((F.lit(float(n_docs)) - df + 0.5) / (df + 0.5) + 1.0)


def finalize_index(
    doc_stats: DataFrame | CorpusStats, partials: DataFrame
) -> tuple[CorpusStats, DataFrame]:
    """The one finalize step of every builder: corpus stats from the
    doc-stats rows (one row per doc, carrying ``dl``) and the
    (term, df, idf) dictionary from ``(term, df)`` partial rows — each
    term's partials sum to its df. A partial is whatever the builder already
    has: one row per posting (df 1), the kernel's batch-local dfs, or a whole
    generation's dictionary. Exact (never approx_count_distinct — that would
    break score parity) as long as no doc is counted in two partials.

    ``doc_stats`` may be stats already combined elsewhere (``merge_stores``
    weights each generation's avgdl by its n_docs)."""
    if isinstance(doc_stats, CorpusStats):
        stats = doc_stats
    else:
        row = doc_stats.agg(
            F.count("*").alias("n"), F.avg("dl").alias("avgdl")
        ).collect()[0]
        stats = CorpusStats(n_docs=int(row["n"]), avgdl=float(row["avgdl"] or 0.0))
    dictionary = (
        partials.groupBy("term")
        .agg(F.sum("df").alias("df"))
        .withColumn("idf", bm25_idf(F.col("df"), stats.n_docs))
    )
    return stats, dictionary


def docid_expr() -> F.Column:
    """String docid per SURVEY §1.1: repo:path@commit."""
    return F.concat_ws("", F.col("repo"), F.lit(":"), F.col("path"), F.lit("@"), F.col("commit"))


def assign_doc_ids(df: DataFrame, key_col: str = "docid_str") -> DataFrame:
    """Dense, deterministic integer docIDs ordered by ``key_col``.

    Scale-safe two-phase assignment, computed on a SLIM key-only projection
    (checkpointing the full rows — token arrays included — was measured 6x
    slower at high parallelism):

      1. keys → repartitionByRange(key) → sortWithinPartitions → pin with
         localCheckpoint (cheap: keys only) → per-partition counts (tiny
         collect, one row per partition) → broadcast offsets + row_number
         within partition = dense global id ordered by key.
      2. join the id map back to the original rows on the key. AQE broadcasts
         the map when small; at 10^12 rows it is one shuffle of the corpus —
         the same exchange the old approach paid in repartitionByRange, minus
         the heavyweight checkpoint.

    Never funnels data through one partition the way Window.orderBy(key)
    would, and never collects anything O(corpus) to the driver.
    """
    n_part = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    slim = (
        df.select(key_col)
        .repartitionByRange(n_part, F.col(key_col))
        .sortWithinPartitions(key_col)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin partitioning for both jobs below
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in slim.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offset_map = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_pid").orderBy(key_col)
    id_map = slim.select(
        key_col,
        (offset_map[F.col("_pid")] + F.row_number().over(w) - 1).alias("docid"),
    )
    return df.join(id_map, key_col)


def tokenize_corpus(
    corpus: DataFrame,
    config: BM25Config,
    content_col: str = "content",
    docid_str: F.Column | None = None,
) -> DataFrame:
    """corpus → (docid_str, content_sha256, tokens, dl).

    dl counts *unfiltered* tokens (reference: modeling_bm25.py:180 measures
    len(doc) before the stop filter drops tokens from tf/df).
    """
    did = docid_str if docid_str is not None else docid_expr()
    toks = whitespace_tokens(content_col)
    out = corpus.select(
        did.alias("docid_str"),
        F.sha2(F.col(content_col), 256).alias("content_sha256"),
        toks.alias("tokens"),
        F.size(toks).cast("long").alias("dl"),
    )
    if config.stop_tokens:
        out = out.withColumn("tokens", stop_filter(F.col("tokens"), config.stop_tokens))
    return out


def build_index(
    corpus: DataFrame,
    config: BM25Config | None = None,
    content_col: str = "content",
    docid_str: F.Column | None = None,
    docid_long: str | None = None,
    cache: bool = True,
    method: str = "arrow",
) -> InvertedIndex:
    """Full logical index build.

    ``method='arrow'`` (default, the north-star path): mapInArrow tokenize-
    and-count emits exact per-doc postings with insertion-order docids —
    ZERO shuffles for postings/doc_stats; only the term dictionary aggregates
    (map-side combine reduces that exchange to ~|vocab| rows per partition).

    ``method='sql'``: pure-JVM explode → hash-agg path (no Python anywhere),
    the test reference — both paths must produce an identical index.

    Both paths derive stats and dictionary with ``finalize_index``.

    ``docid_long``: name of a pre-existing integer docid column (e.g. a table
    that already carries a surrogate key). When given, the dense-id assignment
    pass is skipped entirely (implies the sql path's aggregation shape).
    """
    config = config or BM25Config()

    if method == "arrow":
        # docid_long passes through the kernel verbatim (no offsets pre-job);
        # without it the kernel assigns dense insertion-order ids
        return _build_index_arrow(
            corpus, config, content_col, docid_str, cache, docid_long
        )

    if docid_long is not None and docid_str is None:
        docid_str = F.col(docid_long).cast("string")
    tokenized = tokenize_corpus(corpus, config, content_col, docid_str)
    if docid_long is not None:
        # docid_str IS the stringified integer key — recover it directly; no
        # dense-id assignment pass needed.
        with_ids = tokenized.withColumn("docid", F.col("docid_str").cast("long"))
    else:
        with_ids = assign_doc_ids(tokenized)

    doc_stats = with_ids.select("docid", "docid_str", "dl", "content_sha256")
    if cache:
        doc_stats = doc_stats.cache()

    # A1 term frequency: explode → hash agg. dl rides along (functionally
    # dependent on docid, so the extra grouping key costs nothing).
    postings = (
        with_ids.select("docid", "dl", F.explode("tokens").alias("term"))
        .groupBy("term", "docid", "dl")
        .agg(F.count("*").alias("tf"))
        .select("term", "docid", "tf", "dl")
    )
    if cache:
        postings = postings.cache()

    # A2 document frequency + idf: each posting is a df partial of 1
    stats, dictionary = finalize_index(doc_stats, posting_partials(postings))
    if cache:
        dictionary = dictionary.cache()

    return InvertedIndex(
        postings=postings,
        doc_stats=doc_stats,
        dictionary=dictionary,
        stats=stats,
        config=config,
    )


def posting_partials(postings: DataFrame) -> DataFrame:
    """(term, df) partials of a postings frame: one df-1 row per posting."""
    return postings.select("term", F.lit(1).alias("df"))


def split_stream(stream: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """A rowclass stream (tokenize_count_stream with
    ``emit_partial_dictionary``) → (posting rows, doc_stats, (term, df)
    partials). Posting rows keep every stream column; the caller picks
    the ones its postings carry."""
    rc = F.col("rowclass")
    return (
        stream.filter(rc == 0),
        stream.filter(rc == 1).select("docid", "docid_str", "dl", "content_sha256"),
        stream.filter(rc == 2).select("term", F.col("tf").alias("df")),
    )


def _build_index_arrow(
    corpus: DataFrame,
    config: BM25Config,
    content_col: str,
    docid_str: F.Column | None,
    cache: bool,
    docid_long: str | None = None,
) -> InvertedIndex:
    from flagembedding_spark.operators.arrow_postings import tokenize_count_stream

    stream = tokenize_count_stream(
        corpus, config, content_col, docid_str, docid_long=docid_long,
        emit_partial_dictionary=True,
    )
    if cache:
        stream = stream.cache()

    posting_rows, doc_stats, partials = split_stream(stream)
    postings = posting_rows.select(*POSTING_COLS)
    stats, dictionary = finalize_index(doc_stats, partials)
    if cache:
        dictionary = dictionary.cache()

    return InvertedIndex(
        postings=postings,
        doc_stats=doc_stats,
        dictionary=dictionary,
        stats=stats,
        config=config,
    )


def index_from_postings(
    postings: DataFrame, config: BM25Config | None = None, cache: bool = True
) -> InvertedIndex:
    """Construct the logical index from PREBUILT postings
    (term, docid, tf, dl[, positions]) — e.g. positional postings headed
    for a -storePositions segment build. doc_stats carries only (docid, dl)
    (no source row to hash)."""
    config = config or BM25Config()
    if cache:
        postings = postings.cache()
    doc_stats = (
        postings.groupBy("docid")
        .agg(F.first("dl").alias("dl"))
        .select(
            "docid", F.col("docid").cast("string").alias("docid_str"), "dl",
            F.lit(None).cast("string").alias("content_sha256"),
        )
    )
    stats, dictionary = finalize_index(doc_stats, posting_partials(postings))
    return InvertedIndex(
        postings=postings, doc_stats=doc_stats, dictionary=dictionary,
        stats=stats, config=config,
    )


def impact_postings(
    index: InvertedIndex, quantize: int = 100
) -> DataFrame:
    """S11/T9: learned-sparse "impact" index shape — postings carry an
    integer impact weight instead of raw tf. The reference quantizes learned
    weights as int(ceil(w*100)) for Lucene's impact index
    (step0-encode_query-and-corpus.py:131-133); here the weight is the BM25
    tf-normalization (the same generalization: tf → weight), so an impact
    index built from BM25 weights reproduces BM25 ranking.
    → (term, docid, impact int, dl)."""
    cfg = index.config
    avgdl = index.avgdl_effective
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    tfn = tf / (tf + cfg.k1 * (1.0 - cfg.b + cfg.b * dl / F.lit(avgdl)))
    return index.postings.select(
        "term",
        "docid",
        F.ceil(tfn * quantize).cast("int").alias("impact"),
        "dl",
    )


def expand_impact_queries(
    qweights: DataFrame,
    qids: DataFrame | None = None,
    quantize: int = 100,
) -> DataFrame:
    """Query-side impact expansion: each token is REPEATED ceil(w·quantize)
    times in the query string, so downstream whitespace tokenization recovers
    qtf == quantized weight; queries whose expansion is empty become the
    literal '0' (step0-encode_query-and-corpus.py:143-166). Input
    (qid, term, weight) → (qid, query)."""
    # round to 6dp before ceil: IEEE doubles make w*quantize overshoot exact
    # integers (0.56*100 = 56.000000000000007 → ceil 57 vs the oracle's exact
    # 56); 6dp absorbs the ulp without changing any genuine fractional case
    # (ADVICE r02)
    qtf = F.ceil(F.round(F.col("weight") * quantize, 6)).cast("int")
    per_term = qweights.select(
        "qid",
        F.struct(F.col("term"), qtf.alias("qtf")).alias("tw"),
    ).filter(F.col("tw.qtf") > 0)
    expanded = per_term.groupBy("qid").agg(
        F.array_join(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list("tw")),
                    lambda s: F.array_repeat(s["term"], s["qtf"]),
                )
            ),
            " ",
        ).alias("query")
    )
    base = qids if qids is not None else qweights.select("qid").distinct()
    return base.select("qid").distinct().join(expanded, "qid", "left").select(
        "qid", F.coalesce("query", F.lit("0")).alias("query")
    )


def impact_topk(
    impacts: DataFrame,
    queries: DataFrame,
    k: int = 10,
    qid_col: str = "qid",
    query_col: str = "query",
) -> DataFrame:
    """Impact search over an impact-quantized index: tokenize the expanded
    query (qtf = repetition count), score = Σ qtf·impact — Anserini's
    ``--impact --pretokenized`` quantized dot product
    (step1-search_results.py / modeling_bm25.py impact path). Integer
    arithmetic end-to-end: no cross-engine float drift. → (qid, docid,
    score long, rank)."""
    from pyspark.sql.window import Window

    from flagembedding_spark.operators.query import query_terms

    qt = query_terms(queries, qid_col, query_col)
    scored = (
        impacts.join(F.broadcast(qt), "term")
        .groupBy("qid", "docid")
        .agg(F.sum(F.col("qtf") * F.col("impact")).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "docid", F.col("score").cast("long").alias("score"), "rank")
    )


def length_sorted(df: DataFrame, content_col: str = "content") -> DataFrame:
    """W6: length-sorted batching (m3.py:391-393 sorts by text length so
    fixed-size batches waste less padding). Perf-only: partition-local sort,
    no shuffle."""
    return df.sortWithinPartitions(F.length(F.col(content_col)))


def verify_content_sha(index: InvertedIndex, corpus: DataFrame,
                       content_col: str = "content",
                       docid_str: F.Column | None = None) -> int:
    """Per-row invariant (input_hint): sha256(content) equality index↔source.
    Returns the number of mismatching rows (0 == pass)."""
    did = docid_str if docid_str is not None else docid_expr()
    src = corpus.select(
        did.alias("docid_str"), F.sha2(F.col(content_col), 256).alias("src_sha")
    )
    joined = index.doc_stats.join(src, "docid_str", "full_outer")
    return joined.filter(
        (F.col("content_sha256").isNull())
        | (F.col("src_sha").isNull())
        | (F.col("content_sha256") != F.col("src_sha"))
    ).count()
