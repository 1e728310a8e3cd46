"""Codec and host-ceiling microbenchmarks for the traced run.

Posting groups are sampled from the index the run just built, decoded with
``engine.postings.decode_term_postings`` and re-encoded with
``engine.postings.encode_groups_columnar`` on the driver, one core. The
numpy memcpy rate is the ceiling both codec rates sit under.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow.dataset as ds

from engine import postings as P

REPS = 5


def _sample_rows(index_dir: str, max_rows: int, seed: int) -> list[tuple]:
    """Posting rows holding at least one full block: the head terms whose
    decode dominates query time (tail rows measure per-call overhead)."""
    tbl = ds.dataset(f"{index_dir}/postings", format="parquet", partitioning="hive").to_table(
        columns=["docs_bin", "tfs_bin", "dls_bin", "blocks"],
        filter=ds.field("df_local") >= P.BLOCK,
    )
    pick = np.random.default_rng(seed).permutation(tbl.num_rows)[:max_rows]
    rows = tbl.take(pick).to_pylist()
    keys = ("first_doc", "last_doc", "n", "doc_off", "tf_off", "dl_off", "max_impact")
    return [
        (r["docs_bin"], r["tfs_bin"], r["dls_bin"], [tuple(b[k] for k in keys) for b in r["blocks"]])
        for r in rows
    ]


def codec_rates(index_dir: str, avgdl: float, seed: int, max_rows: int = 1000) -> dict:
    rows = _sample_rows(index_dir, max_rows, seed)
    decoded = [P.decode_term_postings(*r) for r in rows]
    n_post = sum(d.size for d, _, _ in decoded)

    dec = []
    for _ in range(REPS):
        t = time.perf_counter()
        for r in rows:
            P.decode_term_postings(*r)
        dec.append(time.perf_counter() - t)

    ids = np.concatenate([d for d, _, _ in decoded])
    tfs = np.concatenate([t for _, t, _ in decoded]).astype(np.int64)
    dls = np.concatenate([l for _, _, l in decoded]).astype(np.int64)
    starts = np.cumsum([0] + [d.size for d, _, _ in decoded[:-1]]).astype(np.int64)
    enc = []
    for _ in range(REPS):
        t = time.perf_counter()
        P.encode_groups_columnar(ids, tfs, dls, starts, avgdl)
        enc.append(time.perf_counter() - t)
    return {
        "sample": {"rows": len(rows), "postings": int(n_post)},
        "postings.decode_mpostings_per_s": n_post / statistics.median(dec) / 1e6,
        "postings.encode_mpostings_per_s": n_post / statistics.median(enc) / 1e6,
    }


def memcpy_mb_per_s(mb: int = 64) -> float:
    src = np.ones(mb << 20, dtype=np.uint8)
    dst = np.empty_like(src)
    np.copyto(dst, src)  # fault the pages in before timing
    times = []
    for _ in range(REPS):
        t = time.perf_counter()
        np.copyto(dst, src)
        times.append(time.perf_counter() - t)
    return mb / statistics.median(times)
