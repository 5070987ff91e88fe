"""Measurement helpers for the CDC ingest benchmark.

Everything here observes the engine from outside: wall-clock spans around
calls into the engine's public entry points, Spark's own status store for
job / stage / task / shuffle counts, the optimized plan of returned
DataFrames, and the lake table's committed metadata and files.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager


# ------------------------------------------------------------ statistics
def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> tuple[float, int]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples beyond it; the maximum when there are fewer than
    eleven samples (reported as percentile 100)."""
    n = len(xs)
    if n == 0:
        return float("nan"), 0
    if n <= 10:
        return max(xs), 100
    pct = math.floor(100 * (n - 10) / n)
    ordered = sorted(xs)
    return ordered[max(0, math.ceil(pct / 100 * n) - 1)], pct


# ------------------------------------------------------------------ spans
class Tracer:
    """In-memory spans: name, start, end, parent span id, batch id.

    Spans nest by call order (a span opened inside another is its child);
    `dump` writes them as JSON when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, batch=None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "batch": batch,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._open.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "self_s": self.self_times()}, f, indent=1)


# ------------------------------------------------------- Spark counters
class SparkWork:
    """Jobs, stages, tasks and shuffle bytes Spark ran between two marks.

    Read from the application status store. Jobs are counted by id window
    rather than by job group: the pipeline submits its control-plane
    collects from a thread pool, whose threads do not inherit the caller's
    job group, and the benchmark keeps a single operation in flight, so
    every job in the window belongs to the operation."""

    def __init__(self, spark):
        gw = spark.sparkContext._gateway
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def _jobs(self):
        return _items(self.store.jobsList(None))

    def mark(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def since(self, mark: int) -> dict:
        jobs = [j for j in self._jobs() if j.jobId() > mark]
        stage_ids = set()
        tasks = 0
        for j in jobs:
            stage_ids.update(_items(j.stageIds()))
            tasks += j.numCompletedTasks()
        shuffle = 0
        skipped = 0
        stages = self.store.stageList(None, False, False,
                                      self._no_quantiles, None)
        for st in _items(stages):
            if st.stageId() not in stage_ids:
                continue
            if str(st.status()) == "SKIPPED":
                skipped += 1
            shuffle += st.shuffleWriteBytes()
        return {"jobs": len(jobs), "stages": len(stage_ids) - skipped,
                "tasks": tasks, "shuffle_write_bytes": shuffle}


def _items(seq) -> list:
    """Elements of a Scala Seq held through py4j."""
    return [seq.apply(i) for i in range(seq.size())]


def scan_nodes(df) -> int:
    """File-scan relations in the optimized plan of `df`."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return sum(1 for leaf in _items(plan.collectLeaves())
               if leaf.getClass().getSimpleName() == "LogicalRelation")


# ------------------------------------------------------------ lake state
def merge_path(m0: dict, m1: dict) -> tuple[str, int]:
    """Write path the data commit `m1` (built on `m0`) took, read from the
    two snapshots' bucket maps: ("fast" | "delta" | "hybrid" | "cow" |
    "none", number of buckets whose deltas were compacted away)."""
    b0, b1 = m0["buckets"], m1["buckets"]
    d0, d1 = m0.get("deltas", {}), m1.get("deltas", {})
    every = set(b0) | set(b1) | set(d0) | set(d1)
    rewritten = {b for b in every if b0.get(b) != b1.get(b)}
    appended = {b for b in every
                if set(d1.get(b, [])) - set(d0.get(b, []))}
    if not rewritten and not appended:
        return "none", 0
    if not any(b0.get(b) or d0.get(b) for b in rewritten | appended):
        return "fast", 0
    compacted = sum(1 for b in rewritten if d0.get(b))
    if rewritten and appended:
        return "hybrid", compacted
    return ("cow" if rewritten else "delta"), compacted


def changed_buckets(m0: dict, m1: dict) -> int:
    """Buckets whose base or delta list differs: what `changes` reads."""
    def sig(m, b):
        return m["buckets"].get(b), tuple(m.get("deltas", {}).get(b, []))

    every = set(m0["buckets"]) | set(m1["buckets"]) | set(
        m0.get("deltas", {})) | set(m1.get("deltas", {}))
    return sum(1 for b in every if sig(m0, b) != sig(m1, b))


def max_delta_files(meta: dict) -> int:
    return max((len(v) for v in meta.get("deltas", {}).values()), default=0)


def live_bytes(table_path: str, meta: dict) -> int:
    """Bytes of the data files the snapshot `meta` references."""
    total = 0
    for b in set(meta["buckets"]) | set(meta.get("deltas", {})):
        rels = [meta["buckets"][b]] if meta["buckets"].get(b) else []
        rels += meta.get("deltas", {}).get(b, [])
        for rel in rels:
            d = os.path.join(table_path, rel, f"_bucket={b}")
            for name in os.listdir(d):
                total += os.path.getsize(os.path.join(d, name))
    return total


def data_files(table_path: str) -> dict[str, int]:
    """{path: size} of every data file under the table."""
    out = {}
    for root, _dirs, files in os.walk(os.path.join(table_path, "data")):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def metadata_bytes(table_path: str, version: int) -> int:
    return os.path.getsize(
        os.path.join(table_path, "metadata", f"v{version}.json"))


def row_bytes(row: dict) -> int:
    """Logical bytes of one row: the UTF-8 length of its values."""
    return sum(len(v.encode()) for v in row.values() if v is not None)
