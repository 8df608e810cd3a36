"""Serving half of a benchmark run, in its own process.

    python3 perfbench/serve.py JOB.json OUT.json

JOB names a store whose results are checked against the Spark engines, the
store to serve (with the docids tombstoned in it), the warm-up requests, the
timed requests and the number of passes over them. The process checks, opens
the served store and makes the warm pass, then waits for a line on stdin:
run.py sends it once its Spark JVM has exited, so that the timed requests run
without one. OUT receives, per request, the least of its times over the
passes, and the results of the check queries.

Each request is timed by wall clock, and also by the CPU time the process
(all its threads) spent on it. Taking each request's least time over several
passes drops the moments the host takes the CPU away (VM steal, other
tenants' processes), which on a shared host move wall-time percentiles by
more than any code change worth detecting.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flagembedding_spark.serving import SegmentReader  # noqa: E402


def serve(job: dict, go) -> dict:
    out: dict = {"served_dead": 0}
    check = SegmentReader(job["check_root"])
    out["check"] = {qid: [[int(d), float(s), int(r)] for d, s, r in check.topk(q, k=10)]
                    for qid, q in job["check_queries"]}
    reader = SegmentReader(job["root"])
    for q in job["warm"]:
        reader.topk(q, k=10)
    go()
    t0 = time.perf_counter()
    SegmentReader(job["root"])
    out["open_ms"] = (time.perf_counter() - t0) * 1e3
    dead = set(job["dead"])
    keys = ("wall_ms", "cpu_ms") + (("lookup_ms", "rest_ms") if job["trace"] else ())
    least = {key: [float("inf")] * len(job["requests"]) for key in keys}
    for _ in range(job["passes"]):
        for i, q in enumerate(job["requests"]):
            if job["trace"]:
                t0 = time.perf_counter()
                reader.lookup_terms(list(Counter(q.split(" "))))
                lookup = time.perf_counter() - t0
            c0, t0 = time.process_time(), time.perf_counter()
            rows = reader.topk(q, k=10)
            took = time.perf_counter() - t0
            cpu = time.process_time() - c0
            got = {"wall_ms": took, "cpu_ms": cpu}
            if job["trace"]:
                got.update(lookup_ms=lookup, rest_ms=took - lookup)
            for key, s in got.items():
                least[key][i] = min(least[key][i], s * 1e3)
            out["served_dead"] += sum(1 for d, _s, _r in rows if d in dead)
    out.update(least)
    return out


def main(argv: list[str]) -> int:
    with open(argv[1]) as f:
        job = json.load(f)
    out = serve(job, sys.stdin.readline)
    with open(argv[2], "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
