"""BM25F — weighted multi-field BM25 (title/body-style scoring).

The simplified BM25F of Robertson/Zaragoza ("Simple BM25 extension to
multiple weighted fields", CIKM 2004), the form Lucene/Elasticsearch users
approximate with field boosts: per-field term frequencies combine BEFORE
saturation,

    tf'(t, d) = Σ_f  w_f · tf_f(t, d)
    dl'(d)    = Σ_f  w_f · dl_f(d)        (weighted length; avgdl' = avg dl')
    score     = Σ_t qtf · idf(t) · (k1+1)·tf' / (tf' + k1·(1 − b + b·dl'/avgdl'))

with df/idf computed over the combined document. With INTEGER field
weights every tf'/dl' stays integral, so the arithmetic is exactly the
single-field kernel's shape — cross-engine parity needs no new rounding
rules.

Scale shape: one explode+agg per field unioned before the (docid, term)
aggregation — same single-shuffle build as the flagship index — then the
standard broadcast-join query plan (bm25_partial_scores reused verbatim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flagembedding_spark.config import BM25Config
from flagembedding_spark.functions.tokenize import whitespace_tokens
from flagembedding_spark.operators.index_build import (
    InvertedIndex,
    finalize_index,
    posting_partials,
)


def build_bm25f_index(
    docs: DataFrame,
    fields: list[tuple[str, int]],
    id_col: str = "doc_id",
    config: BM25Config | None = None,
) -> InvertedIndex:
    """Weighted-field inverted index: ``fields`` is [(text_col, int_weight),
    ...]. Returns a standard InvertedIndex whose postings carry the
    combined tf' and weighted dl' — every downstream operator (DataFrame
    top-k, segments, WAND) works unchanged on it."""
    config = config or BM25Config()
    if not fields:
        raise ValueError("need at least one (column, weight) field")
    dtypes = dict(docs.dtypes)
    per_field = None
    for col, w in fields:
        # array<string> columns are used as-is (pre-tokenized fields — the
        # safe way to derive fields by token ranges without reintroducing
        # empty-token artifacts via string round-trips); strings tokenize
        # under the global single-space contract
        toks = (
            F.col(col)
            if dtypes.get(col, "").startswith("array")
            else whitespace_tokens(col)
        )
        f = docs.select(
            F.col(id_col).alias("docid"),
            F.explode(toks).alias("term"),
            F.lit(int(w)).alias("w"),
        )
        per_field = f if per_field is None else per_field.unionByName(f)
    postings = (
        per_field.groupBy("docid", "term")
        .agg(F.sum("w").alias("tf"))
    )
    # weighted doc length: Σ_f w_f · |field_f| — computed from the SAME
    # token stream so empty-token conventions stay consistent. N and
    # doc_stats come from the INPUT docs (count over documents, the main
    # index builder's / oracle's convention): a doc whose pre-tokenized
    # array fields are all empty explodes to zero rows but must still
    # count in N and carry dl=0 — silently dropping it shifts idf for
    # every term (ADVICE r04).
    dl_raw = per_field.groupBy("docid").agg(F.sum("w").alias("dl"))
    all_docs = docs.select(F.col(id_col).alias("docid")).distinct()
    dl = all_docs.join(dl_raw, "docid", "left").select(
        "docid", F.coalesce(F.col("dl"), F.lit(0)).cast("long").alias("dl")
    )
    postings = postings.join(dl, "docid").select("term", "docid", "tf", "dl")
    doc_stats = dl.select(
        "docid", F.col("docid").cast("string").alias("docid_str"), "dl",
        F.lit(None).cast("string").alias("content_sha256"),
    )
    stats, dictionary = finalize_index(doc_stats, posting_partials(postings))
    return InvertedIndex(
        postings=postings, doc_stats=doc_stats, dictionary=dictionary,
        stats=stats, config=config,
    )


def bm25f_topk(
    docs: DataFrame,
    queries: DataFrame,
    fields: list[tuple[str, int]],
    k: int = 10,
    config: BM25Config | None = None,
    id_col: str = "doc_id",
    round_scores: int | None = None,
) -> DataFrame:
    """Convenience: build the weighted-field index and run top-k."""
    from flagembedding_spark.operators.query import bm25_topk

    idx = build_bm25f_index(docs, fields, id_col, config)
    return bm25_topk(idx, queries, k=k, round_scores=round_scores)
