"""Seeded input generators for the benchmark (driver side, no Spark).

Every generator is a pure function of its arguments: the same seed gives the
same queries, planted near-duplicate pairs and delete sets. The engine only
ever sees what these return.
"""

from __future__ import annotations

import random

from flagembedding_spark.schemas import HOT_TOKENS, synth_corpus_rows, synth_queries_rows

N_NEEDLES = 8
# One doc in NEEDLE_EVERY carries a needle. The engine's skewed fixture plants
# 1 in 1000, which leaves most needles absent at benchmark corpus sizes; 1 in
# 100 keeps every needle present while staying rare (idf ~ ln 100).
NEEDLE_EVERY = 100
DUP_SHARE = 0.1  # of an ingest batch: planted near-duplicates
DELETE_SHARE = 0.02  # of the live docs: deleted by a delete set

# independent streams drawn from one --seed
_QUERIES, _BATCH, _DELETES, _SAMPLE, _SERVE = range(5)


def _rng(seed: int, stream: int) -> random.Random:
    return random.Random(seed * 1_000_003 + stream)


def uniform_queries(seed: int, n: int) -> list[tuple[str, str]]:
    """In-vocab identifiers, hot code tokens, qtf > 1 and OOV terms."""
    return synth_queries_rows(n, seed=_rng(seed, _QUERIES).randrange(1 << 30))


def skewed_queries(seed: int, n: int) -> list[tuple[str, str]]:
    """One needle plus a random 3-11 token subset of the stopword head; one
    query in ten is an all-hot control and one in ten an all-rare control."""
    rng = _rng(seed, _QUERIES)
    rows = []
    for i in range(n):
        if i % 10 == 8:
            q = " ".join(rng.sample(HOT_TOKENS, 3))
        elif i % 10 == 9:
            a, b = rng.sample(range(N_NEEDLES), 2)
            q = f"needle_{a} needle_{b}"
        else:
            stop = rng.sample(HOT_TOKENS, rng.randint(3, 11))
            q = " ".join([f"needle_{rng.randrange(N_NEEDLES)}"] + stop)
        rows.append((f"q{i}", q))
    return rows


def ingest_batch(
    seed: int, n_docs: int, first_id: int
) -> tuple[list[tuple[int, str]], list[tuple[int, int]]]:
    """A batch of ``n_docs`` docs with docids from ``first_id``; a
    DUP_SHARE of them are planted near-duplicates of distinct earlier
    docs of the batch (one token in each hundred replaced, Jaccard of 3-token
    shingles >= 0.9). Returns (rows of (doc_id, text), planted (src, dup))."""
    rng = _rng(seed, _BATCH)
    n_dups = int(n_docs * DUP_SHARE)
    base = [r[4] for r in synth_corpus_rows(n_docs - n_dups, seed=rng.randrange(1 << 30))]
    rows = [(first_id + i, text) for i, text in enumerate(base)]
    sources = [i for i, text in enumerate(base) if len(text.split(" ")) >= 60]
    pairs = []
    for k, src in enumerate(rng.sample(sources, n_dups)):
        toks = base[src].split(" ")
        for j in rng.sample(range(len(toks)), max(1, len(toks) // 100)):
            toks[j] = f"zz_dup_{k}_{j}"
        dup_id = first_id + len(rows)
        rows.append((dup_id, " ".join(toks)))
        pairs.append((first_id + src, dup_id))
    return rows, pairs


def delete_set(seed: int, live: list[int]) -> list[int]:
    """A seeded DELETE_SHARE of the live docids, sorted."""
    rng = _rng(seed, _DELETES)
    return sorted(rng.sample(live, max(1, int(len(live) * DELETE_SHARE))))


def sample(seed: int, items: list, k: int) -> list:
    """A seeded sample of ``k`` items, in their original order."""
    keep = set(_rng(seed, _SAMPLE).sample(range(len(items)), min(k, len(items))))
    return [x for i, x in enumerate(items) if i in keep]


def serve_order(seed: int, queries: list[str], n: int) -> list[str]:
    """``n`` serving requests drawn from ``queries`` in a seeded order."""
    rng = _rng(seed, _SERVE)
    return [queries[rng.randrange(len(queries))] for _ in range(n)]
