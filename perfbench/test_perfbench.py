"""Tests of the benchmark's own helpers (no Spark session is started).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
from measure import (  # noqa: E402
    Tracer, check_metric_name, percentile, self_times, tail_percentile,
)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(200) == 95.0
    assert tail_percentile(199) == 90.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9
    assert tail_percentile(20) == 50.0
    assert tail_percentile(19) is None


def test_percentile_is_nearest_rank():
    xs = list(range(1, 201))[::-1]
    assert percentile(xs, 50) == 100
    assert percentile(xs, 95) == 190
    assert percentile([7.0], 95) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def _span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        _span("step", 0.0, 10.0),
        _span("a", 1.0, 3.0, 0),
        _span("b", 2.0, 5.0, 0),  # overlaps a: [1, 5] is covered once
        _span("c", 8.0, 12.0, 0),  # runs past the parent: only [8, 10] counts
        _span("a.inner", 1.5, 2.5, 1),  # a grandchild is a's business, not step's
    ]
    assert self_times(spans) == pytest.approx([4.0, 1.0, 3.0, 4.0, 1.0])


def test_tracer_links_parents_and_is_free_when_off():
    tr = Tracer(True, "uniform", 1)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("outer", None), ("inner", 0)]
    assert all(s["workload"] == "uniform" and s["seed"] == 1 for s in tr.spans)
    own = self_times(tr.spans)
    outer = tr.spans[0]["end"] - tr.spans[0]["start"]
    assert 0.0 <= own[0] <= outer
    off = Tracer(False, "uniform", 1)
    with off.span("outer"):
        pass
    assert off.spans == [] and off.overhead_s == 0.0


def _shingles(text: str, n: int = 3) -> set:
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def test_generators_are_deterministic_per_seed():
    for make in (gen.uniform_queries, gen.skewed_queries):
        assert make(5, 50) == make(5, 50)
        assert make(5, 50) != make(6, 50)
    assert gen.ingest_batch(5, 100, 1000) == gen.ingest_batch(5, 100, 1000)
    assert gen.ingest_batch(5, 100, 1000) != gen.ingest_batch(6, 100, 1000)
    live = list(range(500))
    assert gen.delete_set(5, live) == gen.delete_set(5, live)
    assert gen.serve_order(5, ["a", "b", "c"], 20) == gen.serve_order(5, ["a", "b", "c"], 20)
    assert gen.sample(5, live, 12) == gen.sample(5, live, 12)


def test_planted_pairs_are_near_duplicates_with_disjoint_ids():
    rows, pairs = gen.ingest_batch(3, 200, 5000)
    ids = [r[0] for r in rows]
    assert ids == list(range(5000, 5200))
    assert len(pairs) == 20 and len({s for s, _ in pairs}) == 20
    text = dict(rows)
    for src, dup in pairs:
        a, b = _shingles(text[src]), _shingles(text[dup])
        assert src < dup and len(a & b) / len(a | b) >= 0.8


def test_delete_set_is_a_sorted_sample_of_live_docs():
    live = list(range(100, 600))
    dead = gen.delete_set(9, live)
    assert dead == sorted(dead) and set(dead) <= set(live) and len(dead) == 10


def test_skewed_queries_mix_needles_with_stopwords_and_controls():
    qs = [q for _qid, q in gen.skewed_queries(2, 100)]
    assert all("needle_" in q or set(q.split(" ")) <= set(gen.HOT_TOKENS) for q in qs)
    all_rare = [q for q in qs if all(t.startswith("needle_") for t in q.split(" "))]
    assert len(all_rare) == 10


def test_metric_names_use_the_allowed_charset():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert check_metric_name(name) == name
    for m in metrics:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    for bad in ("", "_lead", "has space", "slash/name", "x" * 65, "ünï"):
        with pytest.raises(ValueError):
            check_metric_name(bad)
