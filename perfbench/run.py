"""spark-fulltext benchmark: one seeded run of build, churn, batch and serve.

Run from the repository root:

    python3 perfbench/run.py --workload zipf --seed 1 --seconds 3 --trace 0

One driver process starts Spark on local[<nproc>] and, in order:

1. build   -- ``build_index`` of a seeded synth corpus (positions + ``lang``
   docvalues), the first build of a fresh Spark application;
2. warm_up -- opens the serving ``IndexReader`` and makes untimed calls of
   every short path (requests, aggs, a batch call, deletes);
3. measure -- the timed operations after the build, in rounds. Each round
   opens a new reader (set-up), deletes a doc from a copy of the built
   index (followed by a reopen and a verifying query), and runs a
   closed-loop client (one caller, waits for each reply) that sends ES
   ``_search`` bodies through ``dsl.search``: its share of ``--seconds``
   of ranking requests, and in every other round an agg. Every third round
   makes a ``bm25_topk_batch`` call; the stream's ``ingest_batch``
   micro-batches and then ``merge_segments`` run before rounds 1, 4, 7, 10.

Every answer is checked against ``engine.oracle.Bm25Oracle`` outside the
timed regions (perfbench/checks.py). The last stdout line is the result
object; the line before it records the inputs' properties, the host and
provenance. ``--trace 1`` reports per-layer metrics instead: spans from
perfbench/tracing.py, Spark job counts, codec and memcpy microbenchmarks.
See perfbench/README.md for the rationale and the metric map.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NPROC = len(os.sched_getaffinity(0))
# Spark settings the figures depend on, pinned whatever the environment
# says (see perfbench/README.md, "Spark settings")
DRIVER_MEM = "2g"
SHUFFLE_PARTITIONS = 32  # the engine's own default
SETUP_REPS = 12  # split evenly over the rounds
MIN_REQUESTS = 120  # 10 a round; >= 10 samples beyond the reported p90

END_TO_END = {
    "setup_s": "s",
    "driver_peak_rss_mb": "MB",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_text_byte": "ratio",
    "search_p50_ms": "ms",
    "search_qps": "1/s",
    "batch_qps": "1/s",
    "ingest_docs_per_s": "docs/s",
    "merge_docs_per_s": "docs/s",
    "delete_p50_ms": "ms",
    "churn_bytes_written_per_text_byte": "ratio",
}
PER_LAYER = {
    "index_build.docmap_ms": "ms",
    "index_build.tokens": "count",
    "index_build.postings_ms": "ms",
    "index_build.postings_rows": "count",
    "index_build.finish_ms": "ms",
    "bytes.postings": "bytes",
    "bytes.docmap": "bytes",
    "bytes.term_stats": "bytes",
    "bytes.other": "bytes",
    "postings.encode_mpostings_per_s": "Mpostings/s",
    "postings.decode_mpostings_per_s": "Mpostings/s",
    "host.memcpy_mb_per_s": "MB/s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.jvm_peak_rss_mb": "MB",
    "spark.jobs_per_search": "count",
    "spark.jobs_per_agg": "count",
    "dsl.self_ms": "ms",
    "query.self_ms": "ms",
    "reader.term_stats_ms": "ms",
    "reader.postings_read_ms": "ms",
    "reader.postings_bytes": "bytes",
    "reader.docmap_lookup_ms": "ms",
    "postings.decode_ms": "ms",
    "postings.decode_calls": "count",
    "spark.create_df_ms": "ms",
    "spark.collect_ms": "ms",
    "dsl.search_p90_ms": "ms",
    "dsl.match_or_p50_ms": "ms",
    "dsl.match_and_p50_ms": "ms",
    "dsl.phrase_p50_ms": "ms",
    "dsl.filter_p50_ms": "ms",
    "dsl.prefix_p50_ms": "ms",
    "dsl.agg_p50_ms": "ms",
    "query.batch_plan_ms": "ms",
    "query.batch_exec_ms": "ms",
    "batch.postings_scored": "count",
    "batch.distinct_signatures": "count",
    "streaming.ingest_ms": "ms",
    "streaming.merge_ms": "ms",
    "deletes.delete_ms": "ms",
    "query.reopen_ms": "ms",
    "tracing.overhead_pct": "%",
}


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    run's work directory, and make ``engine`` importable by the workers.
    Must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp


def _start_spark(work: str):
    from engine.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{NPROC}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        },
    )


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least q% of the
    samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def _host(spark, seed: int, workload: str) -> dict:
    import pyspark

    mem = ""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = line.split(":", 1)[1].strip()
    commit = None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.split()
    except (OSError, subprocess.TimeoutExpired):
        out = []
    # only this checkout's own commit, not that of a repository around it
    if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT):
        commit = out[1]
    conf = spark.sparkContext.getConf()
    return {
        "workload": workload,
        "seed": seed,
        "nproc": NPROC,
        "mem_total": mem,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "git_commit": commit,
    }


def _cpu_ticks() -> list[int]:
    """The machine-wide CPU tick counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_pct(ticks0: list[int]) -> float:
    """Share of CPU time since `ticks0` that the hypervisor gave to other
    guests: a stretch with a high share was slowed by the host, not by the
    program."""
    d = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    return 100 * d[7] / max(sum(d), 1)


def _status_kb(field: str) -> int:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


class PeakMem:
    """Peak RSS of this Python process as the program alone would need it.

    The process also holds the benchmark's own data (the inputs, the
    oracle judges), which the program never sees. So the peak is counted
    as the RSS after the program's modules are imported (`base_kb`) plus
    the largest growth inside any `track()` region, which wraps only calls
    into the program. The kernel's high-water mark is reset at the start
    of each region (/proc/self/clear_refs)."""

    def __init__(self):
        self.base_kb = _status_kb("VmRSS")
        self.growth_kb = 0

    @contextlib.contextmanager
    def track(self):
        rss0 = _status_kb("VmRSS")
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        try:
            yield
        finally:
            self.growth_kb = max(self.growth_kb, _status_kb("VmHWM") - rss0)


def _attempt(fn, *args, **kwargs):
    """fn's result, or the exception it raised: one failed request must be
    counted, not end the run."""
    try:
        return fn(*args, **kwargs)
    except Exception as e:  # noqa: BLE001
        return e


class Ops:
    """attempted / failed op counts; a wrong answer counts as failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, why: str | None) -> None:
        self.attempted += 1
        if why:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(why)


class Run:
    def __init__(self, args, work: str):
        import engine.aggs, engine.deletes, engine.dsl, engine.index_build  # noqa: E401,F401
        import engine.query, engine.streaming  # noqa: E401,F401
        from engine import synth
        from perfbench import inputs

        self.args = args
        self.work = work
        self.mem = PeakMem()
        t = time.perf_counter()
        self.vocab = synth.make_vocab()
        self.inp = inputs.make_inputs(args.workload, args.seed, work, self.vocab)
        self.info: dict = {"inputs": dict(self.inp.props),
                           "phase_s": {"inputs": time.perf_counter() - t},
                           "samples_s": {}}  # wall time of each timed long call
        self.ops = Ops()
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.tracer = None
        self.spark = None
        self.batch_times: list[tuple] = []  # (queries, start, plan end, collect end)
        self.deleted: list[tuple] = []  # (url, docs deleted, verifying response)
        self.delete_lat: list[float] = []
        self.reopen: list[float] = []

    # ---- phases -----------------------------------------------------------

    def build(self) -> None:
        import pyarrow.dataset as ds

        from engine import index_build
        from perfbench import checks, inputs

        self.idx = os.path.join(self.work, "index")
        self.counter.begin("build")
        with self.mem.track():
            t = time.perf_counter()
            self.manifest = index_build.build_index(
                self.spark, self.inp.corpus_path, self.idx,
                n_shards=inputs.SHARDS, n_buckets=inputs.BUCKETS,
                index_options="positions", docvalue_cols=["lang"],
            )
            build_s = time.perf_counter() - t
        self.counter.end()
        self.info["samples_s"]["build"] = build_s
        rej = ds.dataset(f"{self.idx}/reject_log", format="parquet").to_table(
            columns=["url", "reason"]
        )
        self.ops.record(checks.check_build(
            self.manifest,
            list(zip(rej.column("url").to_pylist(), rej.column("reason").to_pylist())),
            self.inp.corpus,
        ))
        text_bytes = self.inp.props["corpus_text_bytes"]
        self.e2e["build_docs_per_s"] = self.inp.corpus.num_rows / build_s
        self.e2e["index_bytes_per_text_byte"] = _du(self.idx) / text_bytes
        c = self.inp.corpus
        self.corpus_rows = list(zip(c.column("url").to_pylist(), c.column("text").to_pylist(),
                                    c.column("lang").to_pylist()))
        self.judge = checks.Judge([d for d in self.corpus_rows if d[1]],
                                  checks.read_docmap(self.idx))
        # the deletes tombstone a copy, so the serving index stays whole and
        # they need not wait for the stream's merge
        self.del_idx = os.path.join(self.work, "deletes")
        shutil.copytree(self.idx, self.del_idx)
        if self.tracer is not None:
            self._build_layers(build_s)

    def _build_layers(self, build_s: float) -> None:
        import pyarrow.dataset as ds

        tbl = ds.dataset(f"{self.idx}/metrics", format="parquet").to_table()
        rows = list(zip(tbl.column("metric").to_pylist(), tbl.column("value").to_pylist()))

        def total(prefix: str, suffix: str) -> float:
            return float(sum(v for m, v in rows if m.startswith(prefix) and m.endswith(suffix)))

        L = self.layer
        L["index_build.docmap_ms"] = total("stage:docmap:", ":elapsed_ms")
        L["index_build.tokens"] = total("stage:docmap:", ":tokens")
        L["index_build.postings_ms"] = total("stage:postings", ":elapsed_ms")
        L["index_build.postings_rows"] = total("stage:postings", ":postings_in")
        L["index_build.finish_ms"] = (
            1000 * build_s - L["index_build.docmap_ms"] - L["index_build.postings_ms"]
        )
        total_b = _du(self.idx)
        parts = {s: _du(os.path.join(self.idx, s)) for s in ("postings", "docmap", "term_stats")}
        for s, b in parts.items():
            L[f"bytes.{s}"] = b
        L["bytes.other"] = total_b - sum(parts.values())

    def warm_up(self) -> None:
        """Untimed: the first calls of each serving path (requests, aggs, the
        batch call, deletes) run at up to half speed while the JVM's JIT
        compiles it. The warm-up calls are checked like the timed ones."""
        from engine import dsl
        from engine.query import IndexReader
        from perfbench import inputs

        inp = self.inp
        warm = inp.requests[:inputs.WARMUP_REQUESTS] + inp.aggs[:inputs.WARMUP_AGGS]
        self.counter.begin("warm_up")
        with self.mem.track():
            self.reader = IndexReader(self.spark, self.idx)
            resps = [_attempt(dsl.search, self.reader, r.body) for r in warm]
        self.counter.end()
        for req, resp in zip(warm, resps):
            self.ops.record(self._check(req, resp))
        self._batch_call(inp.batches[0])
        self._delete_round(inp.delete_picks[:inputs.WARMUP_DELETES])
        self.batch_times.clear()
        self.delete_lat.clear()
        self.reopen.clear()

    def measure(self) -> None:
        """The timed operations after the build, in ROUNDS rounds. Each round
        opens a new reader (set-up), deletes a doc, and sends its share of
        the ranking requests; every other round sends an agg, and every
        ROUNDS // BATCH_CALLS-th round makes a batch call. The stream's
        steps (each ingest, then the merge) run before rounds 1, 4, 7, 10.
        So every metric's samples spread over the whole measuring window:
        the host's speed changes within a minute (see perfbench/README.md,
        "Bounds"), and a metric timed in one short stretch inherits that
        stretch's speed."""
        from perfbench import inputs

        inp, n = self.inp, inputs.ROUNDS
        self.sd = os.path.join(self.work, "stream")
        self.ingest_s: list[float] = []
        reqs = inp.requests[inputs.WARMUP_REQUESTS:]
        aggs = inp.aggs[inputs.WARMUP_AGGS:]
        picks = inp.delete_picks[inputs.WARMUP_DELETES:]
        setup_t: list[float] = []
        # per stream: latencies, requests sent, (requests, wall time) of
        # each pass, Spark jobs of the traced requests, and which requests
        # were traced
        p = {"lat": [], "n": 0, "passes": [], "jobs": 0, "traced": []}
        a = {"lat": [], "n": 0, "passes": [], "jobs": 0, "traced": []}
        rounds = []  # per round: start, host steal and each stream's samples
        every = n // inputs.BATCH_CALLS
        t_measure = time.perf_counter()
        for r in range(n):
            ticks0, n0 = _cpu_ticks(), (len(setup_t), len(p["lat"]), len(a["lat"]),
                                        len(self.delete_lat), len(self.batch_times))
            t_round = time.perf_counter() - t_measure
            if r % every == 1:
                step = r // every
                if step < len(inp.stream_tables):
                    self._ingest(step)
                elif step == len(inp.stream_tables):
                    self._merge()
            setup_t += self._setup_round(SETUP_REPS // n)
            if r % every == 0:
                self._batch_call(inp.batches[1 + r // every])
            self._delete_round(picks[r::n])
            if self.tracer is not None:
                self.tracer.uninstall()
            self.counter.begin("serve")
            self.serve_pass(p, reqs[p["n"]:], "search", self.args.seconds / n,
                            MIN_REQUESTS // n)
            self.serve_pass(a, aggs[r * len(aggs) // n:(r + 1) * len(aggs) // n], "agg",
                            None, 0)
            self.counter.end()
            if self.tracer is not None:
                self.tracer.install()
            batch_qps = [q / (t2 - t0) for q, t0, _, t2 in self.batch_times]
            rounds.append({"t_s": t_round, "steal_pct": _steal_pct(ticks0)} | {
                k: v[i:] for k, v, i in zip(
                    ("setup_ms", "search_ms", "agg_ms", "delete_ms", "batch_qps"),
                    ([1000 * x for x in setup_t], [1000 * x for x in p["lat"]],
                     [1000 * x for x in a["lat"]], [1000 * x for x in self.delete_lat],
                     batch_qps), n0)})
        self.info["rounds"] = rounds
        if setup_t:
            self.e2e["setup_s"] = statistics.median(setup_t)
        self._batch_done()
        self._serve_done(p, a, aggs)
        self._deletes_done()

    def _setup_round(self, reps: int) -> list[float]:
        """`reps` x (a new IndexReader + the first request): the serving
        set-up a user pays per index open."""
        from engine import dsl
        from engine.query import IndexReader

        first = next(r for r in self.inp.requests if r.kind == "match_or")
        times, resps = [], []
        self.counter.begin("setup")
        with self.mem.track():
            for _ in range(reps):
                t = time.perf_counter()
                reader = _attempt(IndexReader, self.spark, self.idx)
                if not isinstance(reader, Exception):
                    reader = _attempt(dsl.search, reader, first.body)
                resps.append(reader)
                times.append(time.perf_counter() - t)
        self.counter.end()
        for resp in resps:
            self.ops.record(self._check(first, resp))
        return [t for t, resp in zip(times, resps) if not isinstance(resp, Exception)]

    def serve_pass(self, acc: dict, reqs: list, stream: str, seconds: float | None,
                   min_n: int) -> None:
        """Closed loop over `reqs`: for `seconds` (and at least `min_n`
        requests) when given, else every request. Adds to the stream's
        figures in `acc`, which also number its requests across passes.
        Answers are checked afterwards.

        In a traced run every other request is traced: the wrappers are
        installed around odd requests only, so traced and untraced requests
        share the same warm-up and host conditions."""
        from engine import dsl

        alternate = self.tracer is not None
        if alternate:
            min_n *= 2
        resps = []
        with self.mem.track():
            t0 = time.perf_counter()
            t_end = t0 + (seconds or 0)
            i = 0
            while i < len(reqs) and (
                seconds is None or time.perf_counter() < t_end or i < min_n
            ):
                req_id = acc["n"] + i
                on = alternate and req_id % 2 == 1
                if on:
                    self.tracer.install()
                    self.tracer.request = (stream, req_id)
                    self.counter.begin(f"{stream}-{req_id}")
                t = time.perf_counter()
                resp = _attempt(dsl.search, self.reader, reqs[i].body)
                acc["lat"].append(time.perf_counter() - t)
                if on:
                    self.tracer.request = None
                    self.tracer.uninstall()
                    acc["jobs"] += self.counter.end()["jobs"]
                resps.append(resp)
                acc["traced"].append(on)
                i += 1
            acc["passes"].append((i, time.perf_counter() - t0))
        acc["n"] += i
        for req, resp in zip(reqs, resps):
            self.ops.record(self._check(req, resp))

    def _serve_done(self, p: dict, a: dict, aggs: list) -> None:
        from perfbench import inputs

        reqs = self.inp.requests[inputs.WARMUP_REQUESTS:][: p["n"]]
        if self.tracer is None:
            self.e2e["search_p50_ms"] = 1000 * statistics.median(p["lat"])
            # median over the rounds, like the latencies: a round the host
            # slowed moves it no more than any other single round
            self.e2e["search_qps"] = statistics.median(n / s for n, s in p["passes"])
        else:
            self._serve_layers(p, reqs, a, aggs)
        head = set(self.vocab[: inputs.HEAD_RANKS])
        self.info["inputs"]["serve"] = inputs.stream_props(
            reqs + aggs, head, self.judge.oracle.df
        )

    def _check(self, req, resp) -> str | None:
        from perfbench import checks, inputs

        if isinstance(resp, Exception):
            return f"{req.kind} raised {resp!r}"
        return checks.check_search(self.judge, req, resp, inputs.K)

    def _serve_layers(self, p: dict, reqs: list, a: dict, aggs: list) -> None:
        """Per-request layer costs of the traced ranking requests; per-kind
        latency and the tracing baseline from the untraced ones."""
        from perfbench import inputs

        def split(pass_: dict, reqs: list) -> tuple[list, list]:
            on = [(r, dt) for r, dt, t in zip(reqs, pass_["lat"], pass_["traced"]) if t]
            off = [(r, dt) for r, dt, t in zip(reqs, pass_["lat"], pass_["traced"]) if not t]
            return on, off

        L, tr = self.layer, self.tracer
        on, off = split(p, reqs)
        n = len(on)
        L["dsl.search_p90_ms"] = 1000 * _pct([dt for _, dt in off], 90)
        for kind in inputs.SERVE_KINDS:
            L[f"dsl.{kind}_p50_ms"] = 1000 * statistics.median(
                dt for r, dt in off if r.kind == kind)
        a_on, a_off = split(a, aggs)
        L["dsl.agg_p50_ms"] = 1000 * statistics.median(dt for _, dt in a_off)
        L["tracing.overhead_pct"] = 100 * (
            statistics.median(dt for _, dt in on) / statistics.median(dt for _, dt in off) - 1
        )
        self_ms = tr.self_ms()
        spans = [s for s in tr.spans if s["request"] and s["request"][0] == "search"]

        def per_req(names: tuple, value) -> float:
            return sum(value(s) for s in spans if s["name"] in names) / n

        def dur(s: dict) -> float:
            return 1000 * (s["end"] - s["start"])

        L["dsl.self_ms"] = per_req(("dsl.search",), lambda s: self_ms[s["id"]])
        L["query.self_ms"] = per_req(
            ("query.bm25_topk", "query.match_phrase_topk", "query.search_aggs"),
            lambda s: self_ms[s["id"]],
        )
        L["reader.term_stats_ms"] = per_req(("reader.term_stats",), dur)
        L["reader.postings_read_ms"] = per_req(("reader.postings_read",), dur)
        L["reader.postings_bytes"] = per_req(("reader.postings_read",), lambda s: s.get("count", 0))
        L["reader.docmap_lookup_ms"] = per_req(("reader.docmap_lookup",), dur)
        L["postings.decode_calls"] = per_req(("postings.decode",), lambda s: 1)
        for name in ("postings.decode", "spark.create_df", "spark.collect"):
            outer = [s for s in tr.outermost(name)
                     if s["request"] and s["request"][0] == "search"]
            L[f"{name}_ms"] = sum(dur(s) for s in outer) / n
        L["spark.jobs_per_search"] = p["jobs"] / n
        L["spark.jobs_per_agg"] = a["jobs"] / len(a_on)
        self.info["serve_traced_requests"] = n

    def _batch_call(self, qs: dict) -> None:
        """One `bm25_topk_batch` call over its own query set, plus its
        collect; checked against the oracle afterwards."""
        from engine import query
        from perfbench import checks, inputs

        self.counter.begin("batch")
        with self.mem.track():
            try:
                t0 = time.perf_counter()
                df = query.bm25_topk_batch(self.reader, qs, k=inputs.K)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001
                rows = e
        self.counter.end()
        if isinstance(rows, Exception):
            self.ops.record(f"bm25_topk_batch raised {rows!r}")
            return
        self.batch_times.append((len(qs), t0, t1, t2))
        bad = checks.check_batch(self.judge, qs, rows, inputs.K)
        for why in [None] * (len(qs) - len(bad)) + bad:
            self.ops.record(why)

    def _batch_done(self) -> None:
        """batch_qps: the median over the calls of queries / call time."""
        from perfbench import inputs

        times = self.batch_times
        self.info["samples_s"]["batch"] = [t2 - t0 for _, t0, _, t2 in times]
        if times:
            self.e2e["batch_qps"] = statistics.median(n / (t2 - t0) for n, t0, _, t2 in times)
        timed = self.inp.batches[1:]
        all_qs = [ts for qs in timed for ts in qs.values()]
        reqs = [inputs.Request("batch", {}, ts) for ts in all_qs]
        head = set(self.vocab[: inputs.HEAD_RANKS])
        self.info["inputs"]["batch"] = inputs.stream_props(reqs, head, self.judge.oracle.df)
        if self.tracer is not None and times:
            stats = self.reader.term_stats(sorted({t for ts in all_qs for t in ts}))
            sigs = {(tuple(t for t in dict.fromkeys(ts) if t in stats), len(set(ts)))
                    for ts in all_qs}
            n = len(timed)
            L = self.layer
            L["query.batch_plan_ms"] = 1000 * statistics.median(t1 - t0 for _, t0, t1, _ in times)
            L["query.batch_exec_ms"] = 1000 * statistics.median(t2 - t1 for _, _, t1, t2 in times)
            L["batch.postings_scored"] = sum(stats.get(t, 0) for ts in all_qs for t in ts) / n
            L["batch.distinct_signatures"] = len(sigs) / n

    def _ingest(self, b: int) -> None:
        """Churn, write side: micro-batch `b` through `ingest_batch`."""
        from engine import streaming
        from perfbench import inputs

        spark = self.spark
        self.counter.begin("stream")
        with self.mem.track():
            try:
                t = time.perf_counter()
                streaming.ingest_batch(spark, spark.read.parquet(self.inp.stream_paths[b]),
                                       self.sd, b, n_shards=inputs.SHARDS,
                                       n_buckets=inputs.BUCKETS,
                                       index_options="positions", docvalue_cols=["lang"])
                self.ingest_s.append(time.perf_counter() - t)
                why = None
            except Exception as e:  # noqa: BLE001
                why = f"ingest_batch {b} raised {e!r}"
        self.counter.end()
        self.ops.record(why)

    def _merge(self) -> None:
        """Churn, write side: `merge_segments` over the ingested batches,
        checked against the oracle over the streamed docs."""
        from engine import query, streaming
        from perfbench import checks, inputs

        spark, inp, sd = self.spark, self.inp, self.sd
        self.counter.begin("stream")
        with self.mem.track():
            try:
                t = time.perf_counter()
                merged = streaming.merge_segments(spark, sd, n_shards=inputs.SHARDS,
                                                  n_buckets=inputs.BUCKETS)
                merge_s = time.perf_counter() - t
            except Exception as e:  # noqa: BLE001
                merged = e
        self.counter.end()
        if isinstance(merged, Exception):
            self.ops.record(f"merge_segments raised {merged!r}")
            return
        self.info["samples_s"].update(ingest=self.ingest_s, merge=merge_s)
        valid = [
            (u, tx, lg) for tbl in inp.stream_tables for u, tx, lg in zip(
                tbl.column("url").to_pylist(), tbl.column("text").to_pylist(),
                tbl.column("lang").to_pylist(),
            ) if tx
        ]
        self.ops.record(None if merged["n_docs"] == len(valid) else
                        f"merged {merged['n_docs']} docs, want {len(valid)}")
        judge = checks.Judge(valid, checks.read_docmap(sd))
        self._probe(query.IndexReader(spark, sd), judge, "merged")
        if len(self.ingest_s) == len(inp.stream_tables):
            self.e2e["ingest_docs_per_s"] = statistics.median(
                tbl.num_rows / s for tbl, s in zip(inp.stream_tables, self.ingest_s))
        self.e2e["merge_docs_per_s"] = merged["n_docs"] / merge_s
        self.e2e["churn_bytes_written_per_text_byte"] = (
            _du(sd) / inp.props["stream_text_bytes"])
        if self.tracer is not None:
            self.layer["streaming.ingest_ms"] = self._median_span_ms("streaming.ingest")
            self.layer["streaming.merge_ms"] = self._median_span_ms("streaming.merge")

    def _delete_round(self, picks: list[int]) -> None:
        """Churn, delete side, on the copy of the built index: each delete
        is timed from the `delete_docs` call until a new reader's query on
        the doc's rarest terms has answered; whether the url stayed gone is
        checked in _deletes_done."""
        from engine import deletes, dsl, query
        from engine.textnorm import standard_tokenize_py
        from perfbench import inputs

        spark, sd, df = self.spark, self.del_idx, self.judge.oracle.df
        todo = []
        for pick in picks:
            url, text, _ = self.corpus_rows[pick]
            toks = list(dict.fromkeys(standard_tokenize_py(text.lower())))
            todo.append((url, sorted(toks, key=lambda t: (df.get(t, 0), t))[:3]))
        self.counter.begin("deletes")
        with self.mem.track():
            for url, probe in todo:
                try:
                    t = time.perf_counter()
                    n = deletes.delete_docs(spark, sd, [url])
                    t_r = time.perf_counter()
                    reader = query.IndexReader(spark, sd)
                    self.reopen.append(time.perf_counter() - t_r)
                    resp = dsl.search(reader, {"query": {"match": {"text": " ".join(probe)}},
                                               "size": inputs.K})
                    self.delete_lat.append(time.perf_counter() - t)
                except Exception as e:  # noqa: BLE001
                    n, resp = None, e
                self.deleted.append((url, n, resp))
        self.counter.end()

    def _deletes_done(self) -> None:
        from engine import query
        from perfbench import checks

        urls = [u for u, _, _ in self.deleted]
        for j, (url, n, resp) in enumerate(self.deleted):
            if isinstance(resp, Exception):
                self.ops.record(f"delete of {url} raised {resp!r}")
                continue
            back = [h["_id"] for h in resp["hits"]["hits"] if h["_id"] in urls[: j + 1]]
            self.ops.record(f"deleted {back} came back, {n} deleted" if back or n != 1 else None)
        masked = checks.Judge([d for d in self.corpus_rows if d[1]],
                              checks.read_docmap(self.del_idx), exclude=set(urls))
        self._probe(query.IndexReader(self.spark, self.del_idx), masked, "tombstoned")
        if self.delete_lat:
            self.e2e["delete_p50_ms"] = 1000 * statistics.median(self.delete_lat)
        if self.tracer is not None and self.delete_lat:
            self.layer["deletes.delete_ms"] = self._median_span_ms("deletes.delete")
            self.layer["query.reopen_ms"] = 1000 * statistics.median(self.reopen)

    def _median_span_ms(self, name: str) -> float:
        return statistics.median(1000 * (s["end"] - s["start"])
                                 for s in self.tracer.spans if s["name"] == name)

    def _probe(self, reader, judge, what: str) -> None:
        from engine import query
        from perfbench import checks, inputs

        for terms in self.inp.churn_probes:
            got = [(u, s) for u, _, s in query.bm25_topk_rows(reader, terms, k=inputs.K)]
            why = checks.same_hits(got, judge.topk(terms, inputs.K))
            self.ops.record(f"{what} index, probe {terms}: {why}" if why else None)

    def micro(self) -> None:
        from perfbench import micro

        rates = micro.codec_rates(self.idx, self.manifest["avgdl"], self.args.seed)
        self.info["codec_sample"] = rates.pop("sample")
        self.layer.update(rates)
        self.layer["host.memcpy_mb_per_s"] = micro.memcpy_mb_per_s()

    # ---- orchestration ----------------------------------------------------

    def execute(self) -> dict:
        from perfbench.tracing import SparkCounter, Tracer

        ticks0 = _cpu_ticks()
        t = time.perf_counter()
        with self.mem.track():
            self.spark = _start_spark(self.work)
        self.info["phase_s"]["spark_start"] = time.perf_counter() - t
        try:
            self.counter = SparkCounter(self.spark)
            self.info["host"] = _host(self.spark, self.args.seed, self.args.workload)
            if self.args.trace:
                self.tracer = Tracer()
                self.tracer.install()
            # the short, JIT-sensitive operations (requests, deletes) run
            # after the long Spark phases have warmed the JVM
            for phase in (self.build, self.warm_up, self.measure):
                self._run_phase(phase)
            if self.tracer is not None:
                self.tracer.uninstall()
                self._run_phase(self.micro)
                for k, v in self.counter.totals.items():
                    self.layer[f"spark.{k}"] = float(v)
        finally:
            if self.tracer is not None:
                self.tracer.uninstall()
            t = time.perf_counter()
            _stop_spark(self.spark)
            self.info["phase_s"]["spark_stop"] = time.perf_counter() - t
        self.info["host"]["steal_pct"] = _steal_pct(ticks0)
        # the JVM (Spark driver and local executors) has exited and been
        # waited for, so its peak RSS is in RUSAGE_CHILDREN
        jvm_kb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
        py_kb = self.mem.base_kb + self.mem.growth_kb
        self.info["peak_rss_kb"] = {"python_base": self.mem.base_kb,
                                    "python_growth": self.mem.growth_kb, "jvm": jvm_kb}
        self.e2e["driver_peak_rss_mb"] = py_kb / 1024
        self.layer["spark.jvm_peak_rss_mb"] = jvm_kb / 1024
        return self.result()

    def _run_phase(self, phase) -> None:
        """Run one phase; an exception is counted as a failed op and the run
        goes on (a later phase that needs this one's output fails too)."""
        t = time.perf_counter()
        try:
            phase()
        except Exception as e:  # noqa: BLE001
            traceback.print_exc()
            self.ops.record(f"phase {phase.__name__} raised {e!r}")
            self.counter.abandon()
        self.info["phase_s"][phase.__name__] = time.perf_counter() - t

    def result(self) -> dict:
        """The result object. A metric whose phase failed is left out; the
        failure is in `failed`."""
        got, names = (self.layer, PER_LAYER) if self.args.trace else (self.e2e, END_TO_END)
        metrics = {k: {"value": float(got[k]), "unit": u} for k, u in names.items() if k in got}
        return {
            "correct": self.ops.failed == 0,
            "attempted": self.ops.attempted,
            "failed": self.ops.failed,
            "metrics": metrics,
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "engine", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    # the script's own directory is sys.path[0]; import the benchmark as the
    # `perfbench` package from the root instead
    sys.path[0] = ROOT
    from perfbench import inputs

    if args.workload not in inputs.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {sorted(inputs.WORKLOADS)})", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    _prepare_env(work)
    try:
        run = Run(args, work)
        result = run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    run.info["failures"] = run.ops.reasons
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({"info": run.info, "result": result}, f, indent=1, sort_keys=True)
    if run.tracer is not None:
        run.tracer.dump(os.path.join(out_dir, f"{tag}-spans.json"))
    print(json.dumps({"perfbench": run.info}, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
