"""Span recorder for the traced run, kept entirely in the benchmark.

``Tracer.install`` wraps the program's public entry points at the module or
class attributes where callers look them up (``engine.dsl`` resolves
``engine.query.bm25_topk`` at call time, ``query.py`` calls
``engine.postings.decode_*`` through the module, and so on), so no engine
file changes. Spans (name, start, end, parent, request, count) stay in
memory and are written when the run ends. A span's self time is its
duration minus the time its child spans cover; the driver is one thread,
so children nest and never overlap. Only driver-side calls are seen:
Spark's Python workers import the modules afresh, unwrapped.

Spark counts come from one job group per phase (and per request in the
traced serve pass), read back through ``SparkContext.statusTracker()``.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict


def _postings_bytes(by_shard) -> int:
    if not by_shard:
        return 0
    n = 0
    for rows in by_shard.values():
        for r in rows:
            n += len(r.docs_bin) + len(r.tfs_bin) + len(r.dls_bin)
            n += len(getattr(r, "pos_bin", b"") or b"")
    return n


def _targets():
    """(owner, attribute, span name, counter) for every wrapped entry point."""
    from pyspark.sql import SparkSession

    try:  # Spark 4: the classic (non-Connect) class overrides collect/toPandas
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    from engine import aggs, deletes, dsl, index_build, postings, query, streaming

    return [
        (dsl, "search", "dsl.search", None),
        (query, "bm25_topk", "query.bm25_topk", None),
        (query, "match_phrase_topk", "query.match_phrase_topk", None),
        (aggs, "search_aggs", "query.search_aggs", None),
        (query, "bm25_topk_batch", "query.batch_plan", None),
        (query.IndexReader, "term_stats", "reader.term_stats", None),
        (query.IndexReader, "postings_local", "reader.postings_read", _postings_bytes),
        (query.IndexReader, "postings_pos_local", "reader.postings_read", _postings_bytes),
        (query.IndexReader, "docmap_lookup_local", "reader.docmap_lookup", None),
        (postings, "decode_term_postings", "postings.decode", None),
        (postings, "decode_term_positions", "postings.decode", None),
        (postings, "decode_block", "postings.decode", None),
        (SparkSession, "createDataFrame", "spark.create_df", None),
        (DataFrame, "collect", "spark.collect", None),
        (DataFrame, "toPandas", "spark.collect", None),
        (index_build, "build_index", "index_build.build", None),
        (streaming, "ingest_batch", "streaming.ingest", None),
        (streaming, "merge_segments", "streaming.merge", None),
        (deletes, "delete_docs", "deletes.delete", None),
    ]


_INHERITED = object()


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.request: int | None = None
        self._stack: list[dict] = []
        self._patched: list[tuple] = []

    def install(self) -> None:
        for owner, attr, name, counter in _targets():
            # an inherited method (DataFrame.toPandas comes from a mixin) is
            # shadowed on the class and the shadow deleted on uninstall
            own = owner.__dict__.get(attr, _INHERITED)
            setattr(owner, attr, self._wrap(getattr(owner, attr), name, counter))
            self._patched.append((owner, attr, own))

    def uninstall(self) -> None:
        for owner, attr, own in reversed(self._patched):
            if own is _INHERITED:
                delattr(owner, attr)
            else:
                setattr(owner, attr, own)
        self._patched.clear()

    def _wrap(self, fn, name: str, counter):
        stack, spans = self._stack, self.spans

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = {"id": len(spans) + len(stack), "name": name,
                    "parent": stack[-1]["id"] if stack else None,
                    "request": self.request, "start": time.perf_counter()}
            stack.append(span)
            try:
                out = fn(*args, **kwargs)
                if counter is not None:
                    span["count"] = counter(out)
                return out
            finally:
                span["end"] = time.perf_counter()
                stack.pop()
                spans.append(span)

        return wrapper

    def self_ms(self) -> dict[int, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: 1000 * (s["end"] - s["start"] - child[s["id"]]) for s in self.spans}

    def outermost(self, name: str) -> list[dict]:
        """Spans of `name` with no ancestor of the same name (a collect
        inside toPandas is not counted twice)."""
        by_id = {s["id"]: s for s in self.spans}
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            p = s["parent"]
            while p is not None and by_id[p]["name"] != name:
                p = by_id[p]["parent"]
            if p is None:
                out.append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class SparkCounter:
    """Spark jobs/stages/tasks per job group, via the status tracker.
    Groups nest: a request's group inside its phase's group; each job is
    counted once, under the innermost group open when it ran."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.totals = defaultdict(int)
        self._groups: list[str] = []

    def begin(self, group: str) -> None:
        self._groups.append(group)
        self.sc.setJobGroup(group, group)

    def end(self) -> dict[str, int]:
        tr = self.sc.statusTracker()
        got = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for jid in tr.getJobIdsForGroup(self._groups.pop()):
            got["jobs"] += 1
            info = tr.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = tr.getStageInfo(sid)
                if st is None:
                    continue
                got["stages"] += 1
                got["tasks"] += st.numTasks
                got["failed_tasks"] += st.numFailedTasks
        for k, v in got.items():
            self.totals[k] += v
        if self._groups:
            self.sc.setJobGroup(self._groups[-1], self._groups[-1])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return got

    def abandon(self) -> None:
        """Close every open group (a phase raised before its end())."""
        while self._groups:
            self.end()
