"""Seeded inputs for the benchmark: corpus, serve requests, batch queries
and churn micro-batches.

Everything is drawn from ``engine.synth`` (the corpus generator and its
Zipf vocabulary) and a numpy generator seeded from ``--seed`` and the
workload name, so the same seed always yields the same inputs. The program
under test only ever sees the generated parquet files, ES request bodies
and term lists; the metadata kept beside them (kind, terms, lang, phrase)
is for the correctness checks.
"""

from __future__ import annotations

import zlib
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from engine import synth
from engine.textnorm import standard_tokenize_py

# corpus and stream sizes: small enough that a whole run (cold JVM, build,
# serve loop, batch, churn, checks) stays near a minute on 4 cores
N_DOCS = 2000
STREAM_BATCHES = 3
STREAM_DOCS = 80
# shards and buckets sized to a corpus this small; the built index and the
# streamed one share them, so both serve the same layout
SHARDS = 2
BUCKETS = 4
# the short timed operations run in ROUNDS rounds (see run.py, measure):
# each round opens a reader, deletes a doc and sends its share of ranking
# requests; every other round sends an agg, and every
# ROUNDS // BATCH_CALLS-th round makes a batch call
ROUNDS = 12
AGGS = ROUNDS // 2  # timed
# untimed warm-up before the rounds (run.py, warm_up): the first calls of
# each path run at up to half speed while the JVM compiles it. Warm-up aggs,
# deletes and a batch call come first in their streams.
WARMUP_REQUESTS = 20
WARMUP_AGGS = 2
WARMUP_DELETES = 2
WARMUP_BATCH_QUERIES = 10
N_DELETES = WARMUP_DELETES + ROUNDS
BATCH_CALLS = 4  # timed
BATCH_QUERIES = 40  # per timed call
SERVE_POOL = 600
AGG_REQUESTS = WARMUP_AGGS + AGGS
CHURN_PROBES = 8
K = 10

# ranking kinds of the serve loop; the size:0 + terms-agg requests run a
# Spark job each (~10x a ranking request) and are timed as their own stream
SERVE_KINDS = ("match_or", "match_and", "phrase", "filter", "prefix")
HEAD_RANKS = 100  # "top-100 Zipf term" for the input-property report

# a workload names its term distribution:
# - zipf: terms drawn by Zipf rank over the synth vocabulary, so head terms
#   with long postings and exact repeats (batch signature memo hits);
# - tail: terms drawn uniformly from TAIL_RANKS, every query distinct, so
#   short postings and per-request fixed costs dominate.
WORKLOADS = ("zipf", "tail")
TAIL_RANKS = (150, 3000)


@dataclass
class Request:
    kind: str
    body: dict
    terms: list[str]
    lang: str | None = None
    phrase: list[str] | None = None
    prefix: str | None = None


@dataclass
class Inputs:
    corpus_path: str
    corpus: pa.Table
    stream_paths: list[str]
    stream_tables: list[pa.Table]
    requests: list[Request]
    aggs: list[Request]
    batches: list[dict[int, list[str]]]  # one query set per batch call
    delete_picks: list[int]  # row indexes into the corpus (non-empty docs)
    churn_probes: list[list[str]]
    props: dict  # input properties recorded with every result


def _rng(seed: int, workload: str, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(workload.encode()), zlib.crc32(stream.encode())])


class _TermDraw:
    """Term sampler over the synth vocabulary for one workload.

    Draws are stratified: each run of STRATA draws takes one uniform from
    every 1/STRATA slice of [0, 1), in seeded order, before inverting the
    rank distribution. A short stream (ten agg requests) then holds the
    same mix of head and tail terms under every seed, so run-to-run
    differences come from the program, not from a lucky draw."""

    STRATA = 10

    def __init__(self, rng: np.random.Generator, draw: str, vocab: list[str]):
        self.rng = rng
        self.vocab = vocab
        self.draw = draw
        cdf = synth._zipf_probs(len(self.vocab)).cumsum()
        self.cdf = cdf / cdf[-1]
        self._u: list[float] = []
        self._queries = 0

    def rank(self) -> int:
        if not self._u:
            n = self.STRATA
            self._u = list((self.rng.permutation(n) + self.rng.random(n)) / n)
        u = self._u.pop()
        if self.draw == "zipf":
            return int(self.cdf.searchsorted(u, side="right"))
        lo, hi = TAIL_RANKS
        return lo + int(u * (hi - lo))

    def query_terms(self) -> list[str]:
        """Terms of one OR query; query lengths cycle 1, 2, 3."""
        self._queries += 1
        return self.terms(1 + self._queries % 3)

    def terms(self, n: int) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            t = self.vocab[self.rank()]
            if t not in out:
                out.append(t)
        return out


def _doc_tokens(corpus: pa.Table) -> list[list[str] | None]:
    return [
        standard_tokenize_py(t.lower()) if t else None
        for t in corpus.column("text").to_pylist()
    ]


def _serve_requests(rng, draws: dict, corpus_toks, rank_of) -> list[Request]:
    """SERVE_POOL ranking requests; each block of five is a seeded
    permutation of the five kinds, so any prefix of the stream has the same
    kind mix (+-1)."""
    docs = [i for i, t in enumerate(corpus_toks) if t and len(t) >= 4]
    distinct = draws["match_or"].draw == "tail"
    seen: set[tuple] = set()
    out: list[Request] = []

    def pick_doc_terms(n: int) -> list[str]:
        # n distinct terms of one document; tail prefers its rarest terms
        toks = corpus_toks[docs[int(rng.integers(len(docs)))]]
        uniq = list(dict.fromkeys(toks))
        if distinct:
            uniq.sort(key=lambda t: -rank_of.get(t, 0))
            uniq = uniq[: max(n, 6)]
        idx = rng.choice(len(uniq), size=min(n, len(uniq)), replace=False)
        return [uniq[int(i)] for i in idx]

    def pick_phrase() -> list[str]:
        toks = corpus_toks[docs[int(rng.integers(len(docs)))]]
        if distinct:
            # the rarest adjacent pair of the document
            j = max(range(len(toks) - 1),
                    key=lambda i: min(rank_of.get(toks[i], 0), rank_of.get(toks[i + 1], 0)))
        else:
            j = int(rng.integers(len(toks) - 1))
        return toks[j : j + 2]

    while len(out) < SERVE_POOL:
        for kind in rng.permutation(SERVE_KINDS):
            for _attempt in range(50):
                req = _one_request(str(kind), rng, draws[str(kind)], pick_doc_terms, pick_phrase)
                key = (req.kind, tuple(req.terms), req.lang, req.prefix)
                if not distinct or key not in seen:
                    seen.add(key)
                    break
            out.append(req)
    return out[:SERVE_POOL]


def _one_request(kind, rng, draw: _TermDraw, pick_doc_terms, pick_phrase) -> Request:
    if kind == "match_or":
        terms = draw.query_terms()
        return Request(kind, {"query": {"match": {"text": " ".join(terms)}}, "size": K}, terms)
    if kind == "match_and":
        terms = pick_doc_terms(2)
        body = {"query": {"match": {"text": {"query": " ".join(terms), "operator": "and"}}},
                "size": K}
        return Request(kind, body, terms)
    if kind == "phrase":
        ph = pick_phrase()
        return Request(kind, {"query": {"match_phrase": {"text": " ".join(ph)}}, "size": K},
                       ph, phrase=ph)
    if kind == "filter":
        terms = draw.terms(1)
        lang = "cy" if rng.random() < 0.5 else "en"
        body = {"query": {"bool": {"must": [{"match": {"text": terms[0]}}],
                                   "filter": [{"term": {"lang": lang}}]}},
                "size": K}
        return Request(kind, body, terms, lang=lang)
    if kind == "prefix":
        while True:
            t = draw.terms(1)[0]
            if len(t) >= 5:
                break
        p = t[:3]
        return Request(kind, {"query": {"prefix": {"text": p}}, "size": K}, [t], prefix=p)
    terms = draw.terms(1)
    body = {"size": 0, "query": {"match": {"text": terms[0]}},
            "aggs": {"langs": {"terms": {"field": "lang"}}}}
    return Request("agg", body, terms)


def _batch_queries(draw: _TermDraw) -> list[dict[int, list[str]]]:
    """A warm-up set of WARMUP_BATCH_QUERIES, then BATCH_CALLS sets of
    BATCH_QUERIES; under `tail` no query repeats within or across the sets."""
    out: list[dict[int, list[str]]] = []
    seen: set[tuple] = set()
    for size in [WARMUP_BATCH_QUERIES] + [BATCH_QUERIES] * BATCH_CALLS:
        qs: dict[int, list[str]] = {}
        while len(qs) < size:
            terms = draw.query_terms()
            if draw.draw == "tail":
                key = tuple(sorted(terms))
                if key in seen:
                    continue
                seen.add(key)
            qs[len(qs)] = terms
        out.append(qs)
    return out


def _with_url_prefix(tbl: pa.Table, prefix: str) -> pa.Table:
    urls = pa.array([f"{prefix}{u}" for u in tbl.column("url").to_pylist()], pa.string())
    return tbl.set_column(tbl.schema.get_field_index("url"), "url", urls)


def make_inputs(workload: str, seed: int, work_dir: str, vocab: list[str]) -> Inputs:
    corpus = synth.generate_pages(N_DOCS, seed)
    corpus_path = f"{work_dir}/corpus.parquet"
    pq.write_table(corpus, corpus_path, row_group_size=512)

    stream_paths, stream_tables = [], []
    for b in range(STREAM_BATCHES):
        tbl = _with_url_prefix(
            synth.generate_pages(STREAM_DOCS, seed * 1000 + b + 1), f"seg{b}-"
        ).select(["url", "text", "lang"])
        p = f"{work_dir}/stream-{b}.parquet"
        pq.write_table(tbl, p)
        stream_paths.append(p)
        stream_tables.append(tbl)

    rank_of = {t: i for i, t in enumerate(vocab)}
    corpus_toks = _doc_tokens(corpus)
    srng = _rng(seed, workload, "serve")
    draws = {k: _TermDraw(_rng(seed, workload, f"terms-{k}"), workload, vocab)
             for k in SERVE_KINDS + ("agg",)}
    requests = _serve_requests(srng, draws, corpus_toks, rank_of)
    aggs = [_one_request("agg", srng, draws["agg"], None, None) for _ in range(AGG_REQUESTS)]
    batches = _batch_queries(_TermDraw(_rng(seed, workload, "batch"), workload, vocab))

    crng = _rng(seed, workload, "churn")
    stream_texts = [t for tbl in stream_tables for t in tbl.column("text").to_pylist()]
    live = [i for i, t in enumerate(corpus.column("text").to_pylist()) if t]
    delete_picks = [live[int(i)] for i in crng.choice(len(live), size=N_DELETES, replace=False)]
    cdraw = _TermDraw(crng, workload, vocab)
    churn_probes = [cdraw.query_terms() for _ in range(CHURN_PROBES)]

    text_bytes = sum(len(t.encode()) for t in corpus.column("text").to_pylist() if t)
    stream_bytes = sum(len(t.encode()) for t in stream_texts if t)
    props = {
        "corpus_docs": N_DOCS,
        "corpus_text_bytes": text_bytes,
        "stream_docs": STREAM_BATCHES * STREAM_DOCS,
        "stream_text_bytes": stream_bytes,
        "batch_queries": sum(len(qs) for qs in batches[1:]),
        "serve_pool": len(requests),
    }
    return Inputs(corpus_path, corpus, stream_paths, stream_tables,
                  requests, aggs, batches, delete_picks, churn_probes, props)


def stream_props(reqs: list[Request], head: set[str], df: Counter) -> dict:
    """Input properties of a query stream: share of requests with a top-100
    Zipf term, exact-repeat share and mean postings (sum of term dfs)."""
    n = max(len(reqs), 1)
    keys = [(r.kind, tuple(r.terms), r.lang, r.prefix) for r in reqs]
    return {
        "requests": len(reqs),
        "head_term_share": sum(any(t in head for t in r.terms) for r in reqs) / n,
        "exact_repeat_share": 1.0 - len(set(keys)) / n,
        "mean_postings_per_query": sum(sum(df.get(t, 0) for t in r.terms) for r in reqs) / n,
        "kind_mix": {k: v / n for k, v in sorted(Counter(r.kind for r in reqs).items())},
    }
