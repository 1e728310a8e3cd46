"""Self-test of the benchmark's correctness checks (no Spark needed).

    python3 perfbench/check_selftest.py

Feeds perfbench/checks.py answers built from the oracle itself (each must
pass) and the same answers with one defect planted (each must be counted
wrong). Exits non-zero when a right answer is rejected or a wrong one
slips through.
"""

from __future__ import annotations

import copy
import os
import sys

sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from perfbench import checks  # noqa: E402
from perfbench.inputs import Request  # noqa: E402

DOCS = [
    ("u0", "alpha beta gamma delta", "en"),
    ("u1", "alpha alpha beta", "cy"),
    ("u2", "gamma delta epsilon alpha", "en"),
    ("u3", "beta gamma", "cy"),
    ("u4", "alphabet soup alpha", "en"),
]
K = 3


def _resp(hits, total=None, buckets=None) -> dict:
    r = {"hits": {"total": {"value": total if total is not None else len(hits),
                            "relation": "eq"},
                  "hits": [{"_id": u, "_score": s} for u, s in hits]}}
    if buckets is not None:
        r["aggregations"] = {"langs": {"buckets": buckets}}
    return r


def main() -> int:
    judge = checks.Judge(DOCS, {u: i for i, (u, _, _) in enumerate(DOCS)})
    cases = []

    req = Request("match_or", {}, ["alpha", "gamma"])
    good = _resp(judge.topk(req.terms, K))
    swapped = copy.deepcopy(good)
    swapped["hits"]["hits"][:2] = swapped["hits"]["hits"][1::-1]
    nudged = copy.deepcopy(good)
    nudged["hits"]["hits"][0]["_score"] += 1e-4
    cases += [(req, good, True), (req, swapped, False), (req, nudged, False)]

    req = Request("match_and", {}, ["alpha", "beta"])
    good = _resp(judge.topk(req.terms, K, "and"))
    cases += [(req, good, True), (req, _resp(judge.topk(req.terms, K, "or")), False)]

    req = Request("prefix", {}, ["alphabet"], prefix="alp")
    good = _resp(judge.topk(judge.expand_prefix("alp"), K))
    cases += [(req, good, True), (req, _resp(judge.topk(["alpha"], K)), False)]

    req = Request("phrase", {}, ["gamma", "delta"], phrase=["gamma", "delta"])
    cases += [(req, _resp([("u0", 1.0), ("u2", 0.9)]), True),
              (req, _resp([("u0", 1.0), ("u3", 0.9)]), False),
              (req, _resp([]), False)]

    req = Request("filter", {}, ["alpha"], lang="en")
    ranked = [h for h in judge.topk(["alpha"], 99) if judge.lang[h[0]] == "en"][:K]
    cases += [(req, _resp(ranked), True),
              (req, _resp(judge.topk(["alpha"], K)), False)]

    req = Request("agg", {}, ["beta"])
    n = judge.matched(["beta"])
    cases += [(req, _resp([], n, [{"key": "cy", "doc_count": 2},
                                  {"key": "en", "doc_count": n - 2}]), True),
              (req, _resp([], n, [{"key": "cy", "doc_count": 2}]), False)]

    bad = 0
    for req, resp, ok in cases:
        why = checks.check_search(judge, req, resp, K)
        if (why is None) != ok:
            bad += 1
            print(f"FAIL {req.kind}: expected {'pass' if ok else 'failure'}, got {why!r}")

    queries = {0: ["alpha"], 1: ["gamma", "epsilon"]}
    rows = [{"query_id": q, "url": u, "score": s, "rank": r + 1}
            for q, ts in queries.items() for r, (u, s) in enumerate(judge.topk(ts, K))]
    if checks.check_batch(judge, queries, rows, K):
        bad += 1
        print("FAIL batch: right rows rejected")
    rows[0]["url"] = "u9"
    if len(checks.check_batch(judge, queries, rows, K)) != 1:
        bad += 1
        print("FAIL batch: wrong row not counted once")

    masked = checks.Judge(DOCS, {u: i for i, (u, _, _) in enumerate(DOCS)}, exclude={"u1"})
    if any(u == "u1" for u, _ in masked.topk(["alpha"], K)):
        bad += 1
        print("FAIL tombstones: excluded url returned by the judge")

    print(f"{len(cases) + 3 - bad}/{len(cases) + 3} check cases behave as expected")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
