"""Correctness checks, run outside the timed regions.

Every check compares an engine answer with ``engine.oracle.Bm25Oracle``
(the repo's brute-force BM25 judge) built over the same seeded documents,
keyed by the doc ids the index under test assigned, so score ties order
the same way. A check returns None when the answer is right and a short
reason when it is wrong; each wrong answer counts as one failed op.
"""

from __future__ import annotations

import pyarrow.dataset as ds

from engine.oracle import Bm25Oracle
from engine.textnorm import standard_tokenize_py

SCORE_TOL = 1e-6


def read_docmap(index_dir: str) -> dict[str, int]:
    """url -> doc_id as the index under test assigned them."""
    tbl = ds.dataset(f"{index_dir}/docmap", format="parquet", partitioning="hive").to_table(
        columns=["url", "doc_id"]
    )
    return dict(zip(tbl.column("url").to_pylist(), tbl.column("doc_id").to_pylist()))


class Judge:
    """Oracle over the documents of one index, plus url -> text/lang."""

    def __init__(self, docs: list[tuple[str, str, str]], url_to_id: dict[str, int],
                 exclude: set[str] = frozenset()):
        """docs: (url, text, lang) for every valid (non-null, non-empty)
        document of the index; exclude: urls masked from results (the
        tombstoned docs, which keep counting in the index statistics)."""
        self.text = {u: t for u, t, _ in docs}
        self.lang = {u: lang for u, _, lang in docs}
        self.id_to_url = {url_to_id[u]: u for u, _, _ in docs}
        self.exclude = set(exclude)
        self.oracle = Bm25Oracle([(url_to_id[u], t) for u, t, _ in docs])
        self._memo: dict[tuple, list[tuple[str, float]]] = {}

    def topk(self, terms: list[str], k: int, mode: str = "or") -> list[tuple[str, float]]:
        key = (tuple(terms), k, mode)
        if key not in self._memo:
            want = k + len(self.exclude)
            hits = [(self.id_to_url[d], s) for d, s in self.oracle.topk(terms, want, mode)]
            self._memo[key] = [h for h in hits if h[0] not in self.exclude][:k]
        return self._memo[key]

    def matched(self, terms: list[str]) -> int:
        return len(self.topk(terms, self.oracle.n_docs))

    def expand_prefix(self, prefix: str) -> list[str]:
        return self.oracle.expand_prefix(prefix)


def same_hits(got: list[tuple[str, float]], want: list[tuple[str, float]]) -> str | None:
    if [u for u, _ in got] != [u for u, _ in want]:
        return f"urls differ: got {[u for u, _ in got][:3]}... want {[u for u, _ in want][:3]}..."
    for (u, s), (_, w) in zip(got, want):
        if abs(s - w) > SCORE_TOL:
            return f"score of {u}: got {s!r}, want {w!r}"
    return None


def _hits(resp: dict) -> list[tuple[str, float]]:
    return [(h["_id"], float(h["_score"])) for h in resp["hits"]["hits"]]


def _has_phrase(text: str, phrase: list[str]) -> bool:
    toks = standard_tokenize_py(text.lower())
    n = len(phrase)
    return any(toks[i : i + n] == phrase for i in range(len(toks) - n + 1))


def check_search(judge: Judge, req, resp: dict, k: int) -> str | None:
    """One serve request: match/prefix hits equal the oracle (urls in order,
    scores within SCORE_TOL); phrase hits contain the phrase; filter hits
    carry the filtered lang and equal the oracle ranking restricted to it;
    agg buckets sum to the matched total, which equals the oracle's."""
    if req.kind == "match_or":
        return same_hits(_hits(resp), judge.topk(req.terms, k, "or"))
    if req.kind == "match_and":
        return same_hits(_hits(resp), judge.topk(req.terms, k, "and"))
    if req.kind == "prefix":
        terms = judge.expand_prefix(req.prefix)
        return same_hits(_hits(resp), judge.topk(terms, k, "or") if terms else [])
    if req.kind == "phrase":
        hits = _hits(resp)
        if not hits:
            return f"no hit for phrase {req.phrase} drawn from the corpus"
        bad = [u for u, _ in hits if not _has_phrase(judge.text.get(u, ""), req.phrase)]
        return f"phrase {req.phrase} missing from {bad[:3]}" if bad else None
    if req.kind == "filter":
        hits = _hits(resp)
        bad = [u for u, _ in hits if judge.lang.get(u) != req.lang]
        if bad:
            return f"filter lang={req.lang!r} violated by {bad[:3]}"
        ranked = judge.topk(req.terms, judge.oracle.n_docs, "or")
        return same_hits(hits, [h for h in ranked if judge.lang[h[0]] == req.lang][:k])
    if req.kind == "agg":
        total = resp["hits"]["total"]
        buckets = resp["aggregations"]["langs"]["buckets"]
        got = sum(b["doc_count"] for b in buckets)
        want = judge.matched(req.terms)
        if total.get("relation") != "eq" or total["value"] != got or got != want:
            return f"agg buckets sum {got}, total {total}, oracle matched {want}"
        return None
    return f"unknown request kind {req.kind!r}"


def check_batch(judge: Judge, queries: dict[int, list[str]], rows: list, k: int) -> list[str]:
    """bm25_topk_batch rows (query_id, url, doc_id, score, rank) -> one
    reason per query whose ranking differs from the oracle."""
    by_q: dict[int, list[tuple[int, str, float]]] = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append((int(r["rank"]), r["url"], float(r["score"])))
    bad = []
    for qid, terms in queries.items():
        got = [(u, s) for _, u, s in sorted(by_q.get(qid, []))]
        why = same_hits(got, judge.topk(terms, k, "or"))
        if why:
            bad.append(f"batch query {qid} {terms}: {why}")
    return bad


def check_build(manifest: dict, rejects: list[tuple[str, str]], corpus) -> str | None:
    """docs_indexed + docs_rejected == corpus rows, and the rejects are
    exactly synth's null-text (missing_text) and empty-text rows."""
    want = {}
    for u, t in zip(corpus.column("url").to_pylist(), corpus.column("text").to_pylist()):
        if t is None:
            want[u] = "missing_text"
        elif t == "":
            want[u] = "empty_text"
    got = dict(rejects)
    if manifest["n_docs"] + len(rejects) != corpus.num_rows:
        return f"indexed {manifest['n_docs']} + rejected {len(rejects)} != {corpus.num_rows} rows"
    if got != want:
        return f"reject log differs from synth's null/empty rows ({len(got)} vs {len(want)})"
    return None
