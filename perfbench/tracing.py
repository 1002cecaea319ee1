"""Layer spans and their reduction to per-layer metrics (traced runs only).

Spans are recorded by the benchmark around calls into the package, never
inside it. ``Tracer.install`` wraps the package functions that open a layer
(each module attribute the package itself calls, e.g.
``pipeline.compute_signatures``); a wrapper closes the current segment,
opens the layer's segment and tags every Spark job that follows with the
layer as its job group. A segment lasts until the next layer opens, because
the package builds most frames lazily and runs their jobs later (a signature
frame is computed by the stage write that follows it). Each segment's parent
is the root span of its repetition; spans stay in memory and are written
out when the run ends.

The Spark event log of the traced session then gives, per job group, the
jobs, stages, tasks, task time, shuffle and spill bytes of each layer.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.extra: dict[str, list[float]] = {}
        self._open: dict | None = None
        self._root: dict | None = None
        self._restore: list = []

    # -- spans -------------------------------------------------------------
    def mark(self, layer: str) -> None:
        now = time.time()
        if self._open is not None:
            self._open["end"] = now
        self._open = {"name": layer, "start": now, "end": None,
                      "parent": self._root["name"] if self._root else None,
                      "trace": self._root["trace"] if self._root else None}
        self.spans.append(self._open)
        self.sc.setJobGroup(layer, layer)

    def close(self) -> None:
        if self._open is not None:
            self._open["end"] = time.time()
            self._open = None
        self.sc.setJobGroup("bench", "bench")

    @contextmanager
    def root(self, name: str, trace: int):
        self._root = {"name": name, "start": time.time(), "end": None,
                      "parent": None, "trace": trace}
        self.spans.append(self._root)
        try:
            yield
        finally:
            self.close()
            self._root["end"] = time.time()
            self._root = None

    @contextmanager
    def span(self, layer: str):
        """A layer call made by the benchmark itself."""
        self.mark(layer)
        try:
            yield
        finally:
            self.close()

    def note(self, key: str, value: float) -> None:
        self.extra.setdefault(key, []).append(value)

    # -- wrapping ----------------------------------------------------------
    def wrap(self, module, attr: str, layer: str, before=None) -> None:
        fn = getattr(module, attr)

        def wrapped(*args, **kwargs):
            if before is not None:
                before(*args, **kwargs)
            self.mark(layer)
            return fn(*args, **kwargs)

        setattr(module, attr, wrapped)
        self._restore.append((module, attr, fn))

    def install(self) -> None:
        import minhashsketch_spark.curate as curate
        import minhashsketch_spark.pipeline as pipeline
        import minhashsketch_spark.sources.io as io
        import minhashsketch_spark.streaming.incremental_dedup as inc

        self.wrap(pipeline, "compute_signatures", "signatures")
        self.wrap(pipeline, "bucket_stats", "lsh")
        self.wrap(pipeline, "candidate_pairs", "lsh")
        self.wrap(pipeline, "verified_pairs", "verify")
        self.wrap(pipeline, "connected_components", "cc")
        # curate(): the first call it makes opens its input row count
        self.wrap(curate, "input_fingerprint", "curate.accounting")
        self.wrap(curate, "exact_dedup_corpus", "exact_dedup")
        self.wrap(curate, "near_dedup_corpus", "near_dedup")
        # the language filter is built right before the accounting counts
        self.wrap(curate, "detected_lang_expr", "curate.accounting")
        self.wrap(inc, "compute_signatures", "signatures")
        self.wrap(inc, "cross_candidate_pairs_indexed", "index.probe")
        self.wrap(inc, "cross_candidate_pairs", "index.probe")
        self.wrap(inc, "verified_pairs", "verify", before=self._count_pairs)
        self._wrap_stage_store(io)

    def _count_pairs(self, pairs, *args, **kwargs) -> None:
        # the candidate frame is already materialized by the package, so
        # this count reads it back; its job is tagged trace.count and
        # excluded from every layer
        self.mark("trace.count")
        self.note("verify.pairs_in", pairs.count())

    def _wrap_stage_store(self, io) -> None:
        """stagestore.write_s: time a StageStore.write spends after its data
        write (read-back, lineage counts, manifest)."""
        write_table, store_write = io.write_table, io.StageStore.write
        last = {}

        def timed_write_table(*args, **kwargs):
            write_table(*args, **kwargs)
            last["end"] = time.time()

        def timed_store_write(store, *args, **kwargs):
            out = store_write(store, *args, **kwargs)
            self.note("stagestore.write_s", time.time() - last["end"])
            return out

        io.write_table = timed_write_table
        io.StageStore.write = timed_store_write
        self._restore += [(io, "write_table", write_table),
                          (io.StageStore, "write", store_write)]

    def uninstall(self) -> None:
        for module, attr, fn in reversed(self._restore):
            setattr(module, attr, fn)
        self._restore = []

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "extra": self.extra}, f)


# -- event log ---------------------------------------------------------------

def read_event_log(path: str) -> dict:
    """Jobs (with group, times, stage ids, streaming batch id), per-stage task
    lists and SQL executions from one uncompressed Spark event log."""
    jobs, tasks, sql = {}, {}, {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id") or "",
                    "batch": props.get("streaming.sql.batchId"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None, "stages": list(ev["Stage IDs"])}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "spill": m.get("Disk Bytes Spilled", 0)})
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql[ev["executionId"]] = {"start": ev["time"] / 1000.0,
                                          "plan": ev.get("physicalPlanDescription", ""),
                                          "end": None}
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                if ev["executionId"] in sql:
                    sql[ev["executionId"]]["end"] = ev["time"] / 1000.0
    return {"jobs": jobs, "tasks": tasks, "sql": sql}


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in (app_id, app_id + ".inprogress"):
        p = os.path.join(log_dir, name)
        if os.path.exists(p):
            return p
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def layer_stats(log: dict, groups: set[str], t0: float, t1: float) -> dict:
    """jobs / stages / tasks / task time / shuffle / spill / task skew of the
    jobs in ``groups`` submitted within [t0, t1]."""
    out = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
           "shuffle_bytes": 0, "spill_bytes": 0, "task_skew": 0.0}
    widest = []
    for job in log["jobs"].values():
        if job["group"] not in groups or not t0 <= job["submit"] <= t1:
            continue
        out["jobs"] += 1
        for sid in job["stages"]:
            ts = log["tasks"].get(sid)
            if not ts:  # skipped stage (shuffle output reused)
                continue
            out["stages"] += 1
            out["tasks"] += len(ts)
            out["task_s"] += sum(t["run_s"] for t in ts)
            out["shuffle_bytes"] += sum(t["shuffle_write"] for t in ts)
            out["spill_bytes"] += sum(t["spill"] for t in ts)
            if sum(t["run_s"] for t in ts) > sum(t["run_s"] for t in widest):
                widest = ts
    if widest:
        durs = [t["dur_s"] for t in widest]
        med = statistics.median(durs)
        out["task_skew"] = max(durs) / med if med > 0 else 1.0
    return out


def segment_seconds(spans: list[dict], names: set[str], trace: int) -> float:
    return sum(s["end"] - s["start"] for s in spans
               if s["trace"] == trace and s["parent"] is not None
               and s["name"] in names and s["end"] is not None)
