"""Near-dup benchmark: seeded inputs, timed workloads, correctness checks.

    python3 perfbench/run.py --workload dense_curate --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the repository root. One run generates the workload's inputs from
``--seed``, starts Spark ``local[nproc]`` in this process SETUPS times (the
median start is ``setup_s``), then repeats the workload on fresh state until
``--seconds`` have passed and reports medians over the repetitions.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
repetitions with layer spans and the Spark event log on, adds the L0/L1
microbench, and prints the per-layer metrics instead. ``all`` runs every
workload untraced and traced and prints the tracing overhead.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
A failed correctness check (recall floor, digest or accounting differing
between repetitions or from an earlier run on the same inputs and package
source, a stage resumed from stale state) marks its repetition failed and
the exit code non-zero.

Everything the run writes stays under ``.perfbench_work/`` in the working
directory. See README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing as T  # noqa: E402
import workloads as W  # noqa: E402

NAMES = list(W.WORKLOADS)
SETUPS = 3
DRIVER_MEMORY = "2g"

END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "docs_per_s": "1/s",
    "batch_p50_s": "s", "peak_rss_mb": "MB",
}


# -- environment -------------------------------------------------------------

def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tree_hash(root: str, suffix: str = "") -> str:
    """Hash of the files under ``root`` (names and bytes)."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(suffix):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


class RssSampler(threading.Thread):
    """Peak summed RSS of the driver, the JVM and the Python workers the JVM
    forks, sampled from /proc every 0.1 s. Other children of the JVM are
    skipped: a helper it spawns shares the JVM's memory until it execs, and
    counting it would add the JVM's RSS a second time."""

    def __init__(self, jvm_pid: int):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.peak = 0
        self._stop_ev = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        out, todo = [os.getpid(), self.jvm_pid], list(children.get(self.jvm_pid, []))
        while todo:
            p = todo.pop()
            try:
                exe = os.path.basename(os.readlink(f"/proc/{p}/exe"))
            except OSError:
                continue
            if exe.startswith("python"):
                out.append(p)
                todo += children.get(p, [])
        return out

    def sample(self) -> int:
        total = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def run(self) -> None:
        while not self._stop_ev.wait(0.1):
            self.peak = max(self.peak, self.sample())

    def stop(self) -> float:
        self._stop_ev.set()
        self.join(timeout=5)
        return self.peak / 2**20


# -- Spark ---------------------------------------------------------------------

def start_session(work: str, event_dir: str | None):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{nproc()}]")
         .appName("perfbench")
         .config("spark.driver.memory", DRIVER_MEMORY)
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         # the heap is committed and touched at start (-Xms = -Xmx), so its
         # share of peak_rss_mb is fixed instead of following GC timing
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
                 f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"))
    if event_dir:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def native_kernel() -> int:
    import numpy as np

    from minhashsketch_spark.core._native import native_minhash

    one = np.ones(1, dtype=np.uint64)
    return int(native_minhash(one, one, one, 3) is not None)


# -- L0 / L1 microbench --------------------------------------------------------

def microbench(spark, cfg, work: str, tracer) -> dict:
    """Kernel alone (distinct_shingles + minhash_matrix, in this process) on
    a fixed seeded batch of bulk_unique docs, then the same batch through
    compute_signatures to a noop sink; the gap is the UDF boundary."""
    import numpy as np

    from minhashsketch_spark.core.shingles import (
        distinct_shingles, get_family, minhash_matrix)
    from minhashsketch_spark.operators.signatures import compute_signatures

    table = gen.micro_batch()
    path = os.path.join(work, "micro")
    gen.write_parts(table, path, nproc())
    texts = [np.frombuffer(t.encode(), np.uint8) for t in table["text"].to_pylist()]
    a, b = get_family(cfg.t, cfg.seed)
    trials = []
    for _ in range(3):
        t_sh = t_mh = 0.0
        n_sh = 0
        for x in texts:
            t0 = time.perf_counter()
            xs = distinct_shingles(x, cfg.k)
            t1 = time.perf_counter()
            minhash_matrix(xs, a, b)
            t_mh += time.perf_counter() - t1
            t_sh += t1 - t0
            n_sh += xs.shape[0]
        trials.append((t_sh, t_mh, n_sh))
    t_sh, t_mh, n_sh = sorted(trials, key=lambda r: r[0] + r[1])[1]
    windows = []
    for _ in range(3):
        tracer.mark("micro.signatures")
        t0 = time.time()
        compute_signatures(spark.read.parquet(path), cfg) \
            .write.format("noop").mode("overwrite").save()
        windows.append((t0, time.time()))
    tracer.close()
    return {"kernel_s": t_sh + t_mh, "windows": windows,
            "core.ns_per_shingle": t_mh / n_sh * 1e9,
            "core.shingle_ns": t_sh / n_sh * 1e9}


# -- per-layer metrics (traced runs) --------------------------------------------

# name -> (unit, better); every traced run reports all of them, 0 for a layer
# the workload does not run
PER_LAYER = {
    "core.ns_per_shingle": ("ns", "lower"),
    "core.shingle_ns": ("ns", "lower"),
    "core.native": ("count", "higher"),
    "signatures.s": ("s", "lower"),
    "signatures.task_s": ("s", "lower"),
    "signatures.boundary_s": ("s", "lower"),
    "signatures.task_skew": ("ratio", "lower"),
    "signatures.jobs": ("count", "lower"),
    "signatures.tasks": ("count", "lower"),
    "lsh.s": ("s", "lower"),
    "lsh.band_rows": ("count", "lower"),
    "lsh.candidates": ("count", "lower"),
    "lsh.max_bucket": ("count", "lower"),
    "lsh.buckets_over_cap": ("count", "lower"),
    "lsh.shuffle_bytes": ("bytes", "lower"),
    "lsh.jobs": ("count", "lower"),
    "lsh.tasks": ("count", "lower"),
    "lsh.task_s": ("s", "lower"),
    "verify.s": ("s", "lower"),
    "verify.pairs_in": ("count", "lower"),
    "verify.gate_kept": ("count", "lower"),
    "verify.dup_pairs": ("count", "higher"),
    "verify.useful_ratio": ("ratio", "higher"),
    "verify.shuffle_bytes": ("bytes", "lower"),
    "verify.spill_bytes": ("bytes", "lower"),
    "verify.jobs": ("count", "lower"),
    "verify.tasks": ("count", "lower"),
    "verify.task_s": ("s", "lower"),
    "cc.s": ("s", "lower"),
    "cc.edges": ("count", "lower"),
    "cc.distributed": ("count", "lower"),
    "cc.jobs": ("count", "lower"),
    "cc.tasks": ("count", "lower"),
    "cc.task_s": ("s", "lower"),
    "exact_dedup.s": ("s", "lower"),
    "exact_dedup.rows_out": ("count", "lower"),
    "exact_dedup.jobs": ("count", "lower"),
    "exact_dedup.task_s": ("s", "lower"),
    "near_dedup.s": ("s", "lower"),
    "curate.filter_s": ("s", "lower"),
    "curate.accounting_s": ("s", "lower"),
    "curate.accounting_jobs": ("count", "lower"),
    "stagestore.write_s": ("s", "lower"),
    "stagestore.bytes": ("bytes", "lower"),
    "index.build_s": ("s", "lower"),
    "index.bytes": ("bytes", "lower"),
    "index.probe_s": ("s", "lower"),
    "index.candidates": ("count", "lower"),
    "index.jobs": ("count", "lower"),
    "index.task_s": ("s", "lower"),
    "batch.jobs": ("count", "lower"),
    "batch.stages": ("count", "lower"),
    "batch.delta_write_s": ("s", "lower"),
    "batch.max_s": ("s", "lower"),
    "compact.s": ("s", "lower"),
    "compact.jobs": ("count", "lower"),
    "trace.wall_s": ("s", "lower"),
    "trace.unattributed_s": ("s", "lower"),
    "trace.coverage": ("ratio", "higher"),
    "recall": ("ratio", "higher"),
    "failed_frac": ("ratio", "lower"),
}

LAYERS = ("signatures", "lsh", "verify", "cc", "exact_dedup", "near_dedup",
          "curate.accounting", "curate.filter", "index.build", "index.probe",
          "stream", "compact", "output")
COVERAGE_FLOOR = 0.9


def rep_layer_metrics(wl: str, k: int, rep: dict, chk: dict, spans: list,
                      extra: dict, log: dict, cfg, work_docs: int) -> dict:
    import inspect

    from minhashsketch_spark.operators.connected_components import (
        connected_components)

    root = next(s for s in spans if s["parent"] is None and s["trace"] == k)
    t0, t1 = root["start"], root["end"]

    def seg(*names):
        return T.segment_seconds(spans, set(names), k)

    def stats(*groups):
        return T.layer_stats(log, set(groups), t0, t1)

    m = {name: 0.0 for name in PER_LAYER}
    for layer in ("signatures", "lsh", "verify", "cc", "exact_dedup"):
        st = stats(layer)
        m[f"{layer}.s"] = seg(layer)
        for key in ("jobs", "tasks", "task_s", "shuffle_bytes", "spill_bytes"):
            if f"{layer}.{key}" in m:
                m[f"{layer}.{key}"] = st[key]
    m["signatures.task_skew"] = stats("signatures")["task_skew"]
    m["near_dedup.s"] = seg("near_dedup")
    m["curate.filter_s"] = seg("curate.filter")
    m["curate.accounting_s"] = seg("curate.accounting")
    m["curate.accounting_jobs"] = stats("curate.accounting")["jobs"]
    m["stagestore.write_s"] = sum(extra.get("stagestore.write_s", []))
    m["stagestore.bytes"] = rep.get("stage_bytes", 0)
    man = rep.get("manifests")
    if man:
        n_dup = man["verified"]["metrics"]["n_dup_pairs"]
        small = inspect.signature(connected_components) \
            .parameters["small_graph_threshold"].default
        m.update({
            "lsh.band_rows": man["signatures"]["rows"] * cfg.bands,
            "lsh.candidates": man["candidates"]["rows"],
            "lsh.max_bucket": man["candidates"]["metrics"]["max_bucket"],
            "lsh.buckets_over_cap": man["candidates"]["metrics"]["buckets_over_cap"],
            "verify.pairs_in": man["candidates"]["rows"],
            "verify.gate_kept": man["verified"]["rows"],
            "verify.dup_pairs": n_dup,
            "cc.edges": n_dup,
            "cc.distributed": int(n_dup > small),
        })
        if "exact_dedup" in man:
            m["exact_dedup.rows_out"] = man["exact_dedup"]["rows"]
    if wl == "incremental_drops":
        st = stats("index.build", "index.probe")
        batches = {}
        for job in log["jobs"].values():
            if job["batch"] is not None and t0 <= job["submit"] <= t1:
                b = batches.setdefault(job["batch"], [0, 0])
                b[0] += 1
                b[1] += sum(1 for s in job["stages"] if log["tasks"].get(s))
        writes = [e["end"] - e["start"] for e in log["sql"].values()
                  if e["end"] and t0 <= e["start"] <= t1
                  and "InsertIntoHadoopFsRelationCommand" in e["plan"]
                  and rep["delta"] in e["plan"]]
        m.update({
            "lsh.band_rows": work_docs * cfg.bands,
            "verify.pairs_in": sum(extra.get("verify.pairs_in", [])),
            "verify.gate_kept": chk["gate_kept"],
            "verify.dup_pairs": chk["dup_pairs"],
            "index.build_s": rep["build_s"],
            "index.bytes": rep["index_bytes"],
            "index.probe_s": seg("index.probe"),
            "index.candidates": sum(extra.get("verify.pairs_in", [])),
            "index.jobs": st["jobs"],
            "index.task_s": st["task_s"],
            "batch.jobs": statistics.median(b[0] for b in batches.values()) if batches else 0,
            "batch.stages": statistics.median(b[1] for b in batches.values()) if batches else 0,
            "batch.delta_write_s": statistics.median(writes) if writes else 0.0,
            "batch.max_s": max(rep["batches"]),
            "compact.s": seg("compact"),
            "compact.jobs": stats("compact")["jobs"],
        })
    if m["verify.pairs_in"]:
        m["verify.useful_ratio"] = m["verify.dup_pairs"] / m["verify.pairs_in"]
    covered = seg(*(n for n in LAYERS if n != "index.build"))
    m["trace.wall_s"] = rep["wall_s"]
    m["trace.unattributed_s"] = max(0.0, rep["wall_s"] - covered)
    m["trace.coverage"] = covered / rep["wall_s"]
    m["recall"] = chk["recall"]
    return m


def micro_metrics(micro: dict, log: dict) -> dict:
    task_s = statistics.median(
        T.layer_stats(log, {"micro.signatures"}, a, b)["task_s"]
        for a, b in micro["windows"])
    return {"core.ns_per_shingle": micro["core.ns_per_shingle"],
            "core.shingle_ns": micro["core.shingle_ns"],
            "signatures.boundary_s": task_s - micro["kernel_s"]}


# -- one workload run ------------------------------------------------------------

def _digest_store_check(work_root: str, key: str, digest: str) -> str | None:
    """Result digests persist per (workload, input files, package source): a
    later run of the same key that produces another digest fails."""
    path = os.path.join(work_root, "digests.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    if key in seen and seen[key] != digest:
        return f"digest {digest} differs from an earlier run's {seen[key]}"
    seen[key] = digest
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(seen, f, indent=1)
    os.replace(tmp, path)
    return None


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and with it the Python
    workers) has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(wl: str, seed: int, seconds: float, trace: bool, root: str) -> dict:
    work_root = os.path.join(root, ".perfbench_work")
    work = os.path.join(work_root, f"{wl}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, d))
    os.environ.update({
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # the launcher JVM of spark-submit: no /tmp/hsperfdata files
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # the native kernel compiles once per checkout into this cache
        "XDG_CACHE_HOME": os.path.join(work_root, "cache"),
    })
    sys.path.insert(0, root)
    import tempfile
    tempfile.tempdir = None
    try:
        return _measure(wl, seed, seconds, trace, root, work_root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(wl, seed, seconds, trace, root, work_root, work) -> dict:
    rep_fn, check_fn = W.WORKLOADS[wl]
    phases = {"start": time.perf_counter()}
    inputs = gen.write_inputs(wl, seed, os.path.join(work, "inputs"))
    phases["inputs"] = time.perf_counter()
    work_docs = inputs["work_docs"]
    event_dir = os.path.join(work, "events") if trace else None

    # set-up = session start plus one JVM-side job, SETUPS times (the first
    # also launches the JVM; later ones restart the context in it). Python
    # workers, the native kernel load and code generation are left to the
    # first timed repetition, as a fresh CLI run pays them.
    setup = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work, event_dir)
        spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        setup.append(time.perf_counter() - t0)
    from minhashsketch_spark.config import PipelineConfig

    cfg = PipelineConfig.from_threshold(threshold=0.7, seed=42,
                                        bucket_cap=gen.BUCKET_CAP)
    native = native_kernel()
    if not native:
        print("WARNING: core.native=0 — the C MinHash kernel did not load; "
              "every signature number below measures the NumPy fallback",
              file=sys.stderr)
    env = {"nproc": nproc(), "spark.driver.memory": DRIVER_MEMORY,
           "spark": spark.version, "python": platform.python_version(),
           "core.native": native,
           "package": tree_hash(os.path.join(root, "minhashsketch_spark"), ".py"),
           "inputs": tree_hash(os.path.join(work, "inputs")),
           "dna": "not benchmarked: the reference FASTA inputs are absent "
                  "(ROADMAP C1)"}
    tracer = T.Tracer(spark)
    if trace:
        tracer.install()
    from pyspark import SparkContext

    sampler = RssSampler(SparkContext._gateway.proc.pid)
    sampler.start()
    reps, errors, loads = [], [], []
    attempted = failed = 0
    first = None
    t_begin = phases["setup"] = time.perf_counter()
    k = 0
    try:
        while True:
            rep_dir = os.path.join(work, "reps", str(k))
            loads.append(loadavg())
            n_batches = gen.INC_DROPS if wl == "incremental_drops" else 1
            attempted += n_batches
            try:
                with tracer.root(wl, k) if trace else nullcontext():
                    rep = rep_fn(spark, cfg, inputs, rep_dir, tracer if trace else None)
                chk = check_fn(spark, inputs, rep)
                if chk["recall"] < W.RECALL_FLOOR:
                    raise W.CheckFailed(f"recall {chk['recall']:.4f} < {W.RECALL_FLOOR}")
                if first is None:
                    first = chk
                elif chk["digest"] != first["digest"]:
                    raise W.CheckFailed("result digest differs between repetitions")
                elif chk.get("accounting") != first.get("accounting"):
                    raise W.CheckFailed("curate accounting differs between repetitions")
            except Exception as e:  # a failed repetition ends the run
                failed += n_batches
                errors.append(f"rep {k}: {type(e).__name__}: {e}")
                break
            reps.append({"rep": rep, "chk": chk, "extra": tracer.extra})
            tracer.extra = {}
            shutil.rmtree(rep_dir, ignore_errors=True)
            k += 1
            if time.perf_counter() - t_begin >= seconds:
                break
        if first is not None and not errors:
            msg = _digest_store_check(
                work_root, f"{wl}:{env['inputs']}:{env['package']}", first["digest"])
            if msg:
                errors.append(msg)
                failed += attempted
        phases["reps"] = time.perf_counter()
        peak_mb = sampler.stop()
        micro = microbench(spark, cfg, work, tracer) if trace and reps else None
        app_id = spark.sparkContext.applicationId
    finally:
        sampler.stop()
        if trace:
            tracer.uninstall()
        stop_spark(spark)
        phases["stop"] = time.perf_counter()

    result = {"workload": wl, "seed": seed, "env": env, "loadavg": loads,
              "setup": setup,
              "phases_s": {k: round(v - phases["start"], 2) for k, v in phases.items()},
              "errors": errors, "attempted": attempted,
              "failed": failed, "reps": len(reps)}
    if not reps:
        return result
    walls = [r["rep"]["wall_s"] for r in reps]
    batches = [b for r in reps for b in r["rep"]["batches"]]
    wall = statistics.median(walls)
    result.update({
        "walls": walls, "batches": batches,
        "recall": statistics.median(r["chk"]["recall"] for r in reps),
        "digest": first["digest"], "accounting": first.get("accounting"),
        "end_to_end": {
            "setup_s": statistics.median(setup),
            "wall_s": wall,
            "docs_per_s": work_docs / wall,
            "batch_p50_s": statistics.median(batches),
            "peak_rss_mb": peak_mb,
        },
        "samples": {"setup_s": len(setup), "wall_s": len(walls),
                    "docs_per_s": len(walls), "batch_p50_s": len(batches),
                    "peak_rss_mb": 1},
        "input": {"docs": inputs["docs"], "bytes": inputs["bytes"],
                  "truth_pairs": inputs["truth_pairs"]},
    })
    if trace:
        log = T.read_event_log(T.find_event_log(event_dir, app_id))
        per = [rep_layer_metrics(wl, i, r["rep"], r["chk"], tracer.spans,
                                 r["extra"], log, cfg, work_docs)
               for i, r in enumerate(reps)]
        layer = {name: statistics.median(p[name] for p in per) for name in PER_LAYER}
        layer.update(micro_metrics(micro, log))
        layer["core.native"] = native
        layer["failed_frac"] = failed / attempted
        if layer["trace.coverage"] < COVERAGE_FLOOR:
            result["errors"].append(
                f"layer spans cover {layer['trace.coverage']:.1%} of the traced "
                f"wall time, below {COVERAGE_FLOOR:.0%}")
        result["per_layer"] = layer
        spans_path = os.path.join(work_root, "records", f"{wl}-s{seed}-spans.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        tracer.dump(spans_path)
    return result


# -- output ---------------------------------------------------------------------

def report(result: dict, trace: bool) -> dict:
    """Print the run's record by name and return the contract JSON."""
    wl = result["workload"]
    env = result["env"]
    print(f"# {wl} seed={result['seed']} nproc={env['nproc']} "
          f"driver.memory={env['spark.driver.memory']} spark={env['spark']} "
          f"python={env['python']} core.native={env['core.native']}")
    print(f"# loadavg before each repetition: {result['loadavg']}")
    print(f"# {env['dna']}")
    for e in result["errors"]:
        print(f"# FAILED {e}")
    correct = not result["errors"] and result.get("reps", 0) > 0
    out = {"correct": correct, "attempted": result["attempted"],
           "failed": result["failed"], "metrics": {}}
    if not result.get("reps"):
        return out
    inp = result["input"]
    print(f"# input: {inp['docs']} docs, {inp['bytes']} text bytes, "
          f"{inp['truth_pairs']} planted pairs; {result['reps']} repetitions")
    n = len(result["batches"])
    print(f"recall {result['recall']:.4f} (floor {W.RECALL_FLOOR})")
    print(f"failed_frac {result['failed'] / result['attempted']:.4f} "
          f"({result['failed']}/{result['attempted']})")
    print(f"batch_max_s {max(result['batches']):.4f} s (p100 of {n}; a "
          f"percentile with 10 batches beyond it needs 11+, have {n})")
    if result.get("accounting"):
        print(f"accounting {json.dumps(result['accounting'], sort_keys=True)}")
    if trace:
        for name, (unit, _) in PER_LAYER.items():
            v = result["per_layer"][name]
            print(f"{name} {v:.6g} {unit}")
            out["metrics"][name] = {"value": v, "unit": unit}
    else:
        for name, unit in END_TO_END.items():
            v = result["end_to_end"][name]
            print(f"{name} {v:.6g} {unit} (median of n={result['samples'][name]})")
            out["metrics"][name] = {"value": v, "unit": unit}
    return out


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced, then traced, each in its own process."""
    rows, ok = {}, True
    for wl in NAMES:
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", str(trace)],
                capture_output=True, text=True, timeout=600)
            sys.stdout.write(p.stdout.rsplit("\n", 2)[0] + "\n")
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(last) if last.startswith("{") else {}
            ok = ok and p.returncode == 0 and res.get("correct", False)
            rows[(wl, trace)] = res.get("metrics", {})
    print("\nworkload           untraced wall_s  traced wall_s  tracing overhead")
    summary = {}
    for wl in NAMES:
        u = rows[(wl, 0)].get("wall_s", {}).get("value")
        t = rows[(wl, 1)].get("trace.wall_s", {}).get("value")
        if u is not None and t is not None:
            print(f"{wl:18s} {u:15.3f}  {t:13.3f}  {t - u:+.3f} s")
            summary[wl] = {"untraced_wall_s": u, "traced_wall_s": t,
                           "overhead_s": t - u}
    print(json.dumps({"correct": ok, "workloads": summary}))
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=NAMES + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "minhashsketch_spark")):
        print("perfbench: no minhashsketch_spark/ package in the working "
              "directory; run from the repository root", file=sys.stderr)
        return 2
    if a.workload == "all":
        return run_all(a.seed, a.seconds)
    result = run_one(a.workload, a.seed, a.seconds, bool(a.trace), root)
    rec = os.path.join(root, ".perfbench_work", "records",
                       f"{a.workload}-s{a.seed}-t{a.trace}.json")
    os.makedirs(os.path.dirname(rec), exist_ok=True)
    with open(rec, "w") as f:
        json.dump(result, f, indent=1, default=str)
    out = report(result, bool(a.trace))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
