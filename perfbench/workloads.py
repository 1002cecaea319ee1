"""The three benchmark workloads, driven through the package's public API.

Each ``*_rep`` function runs one timed repetition in a fresh directory and
returns its wall time, per-batch latencies and what the correctness checks
need. ``check_*`` functions then read the written output back (untimed) and
compute the result digest and the recall of the planted truth pairs.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time

import pyarrow.parquet as pq

# recall floor on planted pairs; every planted pair sits far above the 0.7
# threshold, where the 32x4 band layout misses a pair with p < 1e-3
RECALL_FLOOR = 0.97


class CheckFailed(Exception):
    pass


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(json.dumps(r).encode())
    return h.hexdigest()[:16]


def _fresh_manifests(root: str, t_start: float, expect: set[str]) -> dict:
    """Every StageStore manifest under ``root`` must have been written by
    this repetition, and every expected stage must have one: a stage that
    resumed from an earlier run would time nothing."""
    found = {}
    for path in glob.glob(os.path.join(root, "*", "*.manifest.json")):
        if os.path.getmtime(path) < t_start:
            raise CheckFailed(f"stale stage manifest {path}")
        with open(path) as f:
            m = json.load(f)
        found[m["stage"].split("-g")[0]] = m
    missing = expect - set(found)
    if missing:
        raise CheckFailed(f"stages without a manifest: {sorted(missing)}")
    return found


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _clusters_of(rows) -> dict:
    return {r["url"]: r["cluster_id"] for r in rows}


def _recall(truth, same_group) -> float:
    if not truth:
        return 1.0
    return sum(1 for a, b in truth if same_group(a, b)) / len(truth)


def _truth(path: str) -> list[tuple[str, str]]:
    t = pq.read_table(path)
    return list(zip(t["url_a"].to_pylist(), t["url_b"].to_pylist()))


# -- bulk_unique -------------------------------------------------------------

def bulk_rep(spark, cfg, inputs: dict, rep_dir: str, tracer=None) -> dict:
    from minhashsketch_spark.pipeline import run_pipeline
    from minhashsketch_spark.sources import io

    ckpt, out = os.path.join(rep_dir, "ckpt"), os.path.join(rep_dir, "clusters")
    t_start = time.time()
    t0 = time.perf_counter()
    docs = io.read_table(spark, inputs["paths"]["docs"])
    res = run_pipeline(spark, docs, cfg, checkpoint_root=ckpt)
    if tracer:
        tracer.mark("output")
    io.write_table(res["clusters"], out)
    wall = time.perf_counter() - t0
    if tracer:
        tracer.close()
    manifests = _fresh_manifests(
        ckpt, t_start, {"signatures", "candidates", "verified", "clusters"})
    return {"wall_s": wall, "batches": [wall], "out": out,
            "manifests": manifests, "stage_bytes": _du(ckpt)}


def bulk_check(spark, inputs: dict, rep: dict) -> dict:
    rows = spark.read.parquet(rep["out"]).collect()
    cl = _clusters_of(rows)
    recall = _recall(_truth(inputs["paths"]["truth"]),
                     lambda a, b: a in cl and cl.get(a) == cl.get(b))
    return {"digest": _digest([[r["url"], r["cluster_id"]] for r in rows]),
            "recall": recall}


# -- dense_curate ------------------------------------------------------------

def dense_rep(spark, cfg, inputs: dict, rep_dir: str, tracer=None) -> dict:
    from minhashsketch_spark.curate import curate
    from minhashsketch_spark.sources import io

    ckpt, out = os.path.join(rep_dir, "ckpt"), os.path.join(rep_dir, "curated")
    t_start = time.time()
    t0 = time.perf_counter()
    docs = io.read_table(spark, inputs["paths"]["docs"])
    res = curate(spark, docs, cfg, checkpoint_root=ckpt,
                 with_accounting=True, keeper="min")
    if tracer:
        tracer.mark("curate.filter")
    io.write_table(res["curated"], out)
    wall = time.perf_counter() - t0
    if tracer:
        tracer.close()
    manifests = _fresh_manifests(
        ckpt, t_start,
        {"exact_dedup", "signatures", "candidates", "verified", "clusters"})
    return {"wall_s": wall, "batches": [wall], "out": out,
            "clusters": res["clusters"], "accounting": res["accounting"],
            "manifests": manifests, "stage_bytes": _du(ckpt)}


def dense_check(spark, inputs: dict, rep: dict) -> dict:
    if rep["accounting"]["after_quality_lang"] == 0:
        raise CheckFailed("curate emitted 0 rows")
    urls = [r["url"] for r in spark.read.parquet(rep["out"]).select("url").collect()]
    cl = _clusters_of(rep["clusters"].collect())
    # exact copies are removed before clustering: map each doc to the
    # min-url doc with the same text, as exact dedup keeps it
    docs = pq.read_table(inputs["paths"]["docs"], columns=["url", "text"])
    keeper: dict[str, str] = {}
    for u, t in zip(docs["url"].to_pylist(), docs["text"].to_pylist()):
        keeper[t] = min(u, keeper.get(t, u))
    canon = {u: keeper[t]
             for u, t in zip(docs["url"].to_pylist(), docs["text"].to_pylist())}

    def same(a, b):
        a, b = canon[a], canon[b]
        return a == b or (a in cl and cl.get(a) == cl.get(b))

    return {"digest": _digest(urls + [json.dumps(rep["accounting"], sort_keys=True)]),
            "recall": _recall(_truth(inputs["paths"]["truth"]), same),
            "accounting": rep["accounting"]}


# -- incremental_drops ---------------------------------------------------------

N_BUCKETS = 8  # index buckets: a few per core at this index size


def incremental_rep(spark, cfg, inputs: dict, rep_dir: str, tracer=None) -> dict:
    from contextlib import nullcontext

    from minhashsketch_spark.operators.cross_dedup import build_band_index
    from minhashsketch_spark.sources import io
    from minhashsketch_spark.streaming.incremental_dedup import (
        compact_band_index, streaming_incremental_dedup)

    span = tracer.span if tracer else (lambda _: nullcontext())
    paths = inputs["paths"]
    # a new catalog table per repetition: nothing is read from an earlier one
    table = "pbidx_" + os.path.basename(rep_dir)
    idx_root = os.path.join(rep_dir, "index")
    t0 = time.perf_counter()
    with span("index.build"):
        build_band_index(spark, io.read_table(spark, paths["seed"]), cfg, table,
                         n_buckets=N_BUCKETS, path_root=idx_root)
    build_s = time.perf_counter() - t0
    index_bytes = _du(idx_root)
    in_dir = os.path.join(rep_dir, "in")
    os.makedirs(in_dir)
    now = time.time()
    for k, f in enumerate(sorted(glob.glob(os.path.join(paths["drops"], "*.parquet")))):
        shutil.copy(f, in_dir)
        # distinct mtimes: the file source takes the oldest file first
        ts = now - 60 + k
        os.utime(os.path.join(in_dir, os.path.basename(f)), (ts, ts))
    delta, pairs = os.path.join(rep_dir, "delta"), os.path.join(rep_dir, "pairs")
    ckpt = os.path.join(rep_dir, "stream_ckpt")
    t0 = time.perf_counter()
    if tracer:
        tracer.mark("stream")
    q = streaming_incremental_dedup(spark, in_dir, table, delta, pairs, ckpt,
                                    cfg, available_now=True,
                                    max_files_per_trigger=1)
    q.awaitTermination()
    with span("compact"):
        folded = compact_band_index(spark, table, delta, cfg,
                                    n_buckets=N_BUCKETS, path_root=idx_root)
    wall = time.perf_counter() - t0
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    n_drops = len(glob.glob(os.path.join(paths["drops"], "*.parquet")))
    if [p["batchId"] for p in progress] != list(range(n_drops)):
        raise CheckFailed("stream did not start fresh with one batch per drop: "
                          f"{[p['batchId'] for p in progress]}")
    return {"wall_s": wall, "out": pairs, "folded": folded,
            "batches": [p["durationMs"]["triggerExecution"] / 1000.0
                        for p in progress],
            "build_s": build_s, "index_bytes": index_bytes, "delta": delta}


def incremental_check(spark, inputs: dict, rep: dict) -> dict:
    df = spark.read.parquet(rep["out"])
    rows = df.select("url_new", "url_idx", "is_dup").collect()
    found = {(r["url_new"], r["url_idx"]) for r in rows if r["is_dup"]}
    found |= {(b, a) for a, b in found}
    n_drop_docs = sum(pq.read_metadata(f).num_rows for f in
                      glob.glob(os.path.join(inputs["paths"]["drops"], "*.parquet")))
    if rep["folded"] != n_drop_docs:
        raise CheckFailed(f"compaction folded {rep['folded']} of {n_drop_docs} docs")
    return {"digest": _digest([[a, b] for a, b in found]),
            "recall": _recall(_truth(inputs["paths"]["truth"]),
                              lambda a, b: (a, b) in found),
            "gate_kept": len(rows), "dup_pairs": sum(1 for r in rows if r["is_dup"])}


WORKLOADS = {
    "bulk_unique": (bulk_rep, bulk_check),
    "dense_curate": (dense_rep, dense_check),
    "incremental_drops": (incremental_rep, incremental_check),
}
