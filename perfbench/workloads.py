"""The benchmark's workloads.

One client, closed loop: the next operation starts only when the previous
one has returned, on a single Spark session. Every operation goes through
the engine's public entry points (`pipeline.apply_batch`, `LakeTable.changes`
/ `read_keys` / `read_where`) and its result is checked against an expected
state built without the engine. Input events are generated from the seed and
landed as parquet before the clock starts.

- bulk_load: catch-up / initial sync. Each loop iteration applies one large
  batch of the 5-wave event mix into a fresh empty table (the merge's
  no-state fast path), then reads the result back: its changelog, point
  reads, a 100-key read and predicate scans.
- steady_upsert: live tail. A preloaded table receives Zipf-skewed
  micro-batches; after each write the loop reads that write's changelog,
  point-reads keys the write touched, then runs a 100-key read and a
  predicate scan, so read costs of the merge-on-read deltas show beside the
  write costs.

Each loop runs at least two iterations and stops once `seconds` have
passed. Set-up is timed SETUP_REPS times; the first repetition pays the
JVM's warm-up. bulk_load also warms its read paths untimed; steady_upsert's
first timed write still pays the delta path's warm-up, because an untimed
warm-up write would add ~15 s to every run.

With `trace` on, writes alternate between `apply_batch` and a staged copy of
it made of the per-layer calls (`batch_lineage`, `table_map_registry`,
`decoded_changes`, `fold_for_merge`, `LakeTable.merge`, the metadata
commit), each stage materialized before the next is timed; see `staged`.
The traced steady_upsert then keeps writing, without reads, until a merge
compacts, so its trace holds one compaction.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import functions as F
from pyspark.sql import types as T

from mariadb_cdc_spark.operators.registry import table_map_registry
from mariadb_cdc_spark.pipeline import (
    CdcConfig,
    apply_batch,
    decoded_changes,
    fold_for_merge,
)
from mariadb_cdc_spark.schema import EVENT_SCHEMA
from mariadb_cdc_spark.sources.checkpoint import batch_lineage
from mariadb_cdc_spark.sources.lake import LakeTable

from perfbench import inputs, probes

CFG = CdcConfig()  # engine defaults: DDL classify on, auto two-phase fold
STREAM = "bench"
N_BUCKETS = 4
BULK_KEYS = 24_000
PRELOAD_KEYS = 40_000
UPSERT_OPS = 2_000  # row changes per micro-batch, ~3.5% of keys distinct
SETUP_REPS = 2  # the first also pays the JVM's warm-up
SETUP_KEYS = 500  # keys in bulk_load's set-up batch
MAX_BATCHES = 10  # a compaction comes by the 9th write at the latest
TRACE_CAP_S = 140.0  # traced steady_upsert stops waiting for a compaction
POINT_READS = 2  # single-key reads after each steady_upsert write
BULK_SCANS = 2  # predicate scans after each bulk load (each is cheap)
SCHEMA = T.StructType([T.StructField(c, T.StringType()) for c in inputs.COLUMNS])


class Run:
    """State of one benchmark run: the session, the scratch directory,
    timing samples, per-layer samples and the correctness ledger."""

    def __init__(self, spark, scratch: str, seed: int, seconds: float,
                 trace: bool):
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rng = random.Random(f"reads:{seed}")
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.events_applied = 0
        self.apply_s = 0.0
        self.tracer = probes.Tracer()
        self.work = probes.SparkWork(spark)
        self.live_ratio = None  # storage_amp at run end
        self.n_tables = 0
        self.t_start = time.perf_counter()
        self.recording = True

    def log(self, msg: str) -> None:
        print(f"[{time.perf_counter() - self.t_start:7.1f} s] {msg}",
              flush=True)

    @contextmanager
    def warm(self):
        """Untimed warm-up: operations run but record nothing, and a
        failed check raises instead of counting."""
        self.recording = False
        try:
            yield
        finally:
            self.recording = True

    # ---------------------------------------------------------- ledger
    def fail(self, what: str) -> None:
        if not self.recording:
            raise RuntimeError(f"warm-up check failed: {what}")
        self.failed += 1
        self.problems.append(what)

    def timed(self, kind: str, fn, batch=None):
        """Run one operation, record its latency under `kind`; returns
        (ok, result). An exception counts as a failed operation."""
        if not self.recording:
            return True, fn()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind, batch):
                out = fn()
        except Exception as e:  # a failed operation is a measured outcome
            traceback.print_exc()
            self.fail(f"{kind}: {type(e).__name__}: {e}")
            return False, None
        self.samples[kind].append(time.perf_counter() - t0)
        return True, out

    def new_table(self) -> LakeTable:
        self.n_tables += 1
        return LakeTable.create(
            self.spark, os.path.join(self.scratch, f"t{self.n_tables}"),
            SCHEMA, inputs.KEYS, n_buckets=N_BUCKETS,
        )

    def land(self, name: str, events: list[tuple]):
        """Land `events` as parquet (one file per core) and return them as
        the DataFrame the engine reads."""
        path = os.path.join(self.scratch, name)
        inputs.land(path, events, files=len(os.sched_getaffinity(0)))
        return self.events(path)

    def events(self, path: str):
        return self.spark.read.schema(EVENT_SCHEMA).parquet(path)

    # ----------------------------------------------------------- writes
    def write(self, table: LakeTable, events, n_events: int, batch_id: int,
              staged: bool) -> int | None:
        """Apply one batch; returns the data version the merge committed,
        or None when the write failed."""
        m0 = table.metadata()
        files0 = probes.data_files(table.path) if self.trace else None
        mark = self.work.mark() if self.trace else None
        if staged:
            ok, version = self.timed(
                "trace.staged_batch", lambda: self.staged(
                    table, events, batch_id, files0), batch_id)
        else:
            ok, res = self.timed(
                "batch", lambda: apply_batch(
                    events, table, CFG, stream_id=STREAM, batch_id=batch_id),
                batch_id)
            version = res["version"] if ok else None
            if ok and self.recording:
                self.apply_s += self.samples["batch"][-1]
                self.events_applied += n_events
                if self.trace:
                    w = self.work.since(mark)
                    for k, v in w.items():
                        self.layer[f"pipeline.{k}"].append(v)
                    self.layer["trace.apply_batch_s"].append(
                        self.samples["batch"][-1])
        if not ok or not self.recording:
            return version
        m1 = table.metadata(version)
        _, compacted = probes.merge_path(m0, m1)
        self.layer["lake.delta_files_max"].append(probes.max_delta_files(m1))
        if compacted:
            self.layer["lake.compactions"].append(1)
        return version

    def staged(self, table: LakeTable, events, batch_id: int,
               files0: dict) -> int:
        """apply_batch's stages as separate public calls, each output
        materialized before the next stage starts. Skips the pipeline's
        DDL classify (the workloads carry no DDL for the table)."""
        tr, spark = self.tracer, self.spark
        ctrl = events.drop("rows_before", "rows_after")
        with tr.span("checkpoint.lineage", batch_id) as s:
            lineage, sparse = batch_lineage(ctrl, probe_sparse_bitmaps=True)
        self.layer["checkpoint.lineage_s"].append(s_dur(s))
        with tr.span("registry.collect", batch_id) as s:
            occ = table_map_registry(ctrl)
            maps = occ.collect()
        self.layer["registry.collect_s"].append(s_dur(s))
        maps_df = spark.createDataFrame(maps, occ.schema)
        wire = any(r["column_metadata"] is not None for r in maps)
        named = all(
            r["column_names"] is not None and r["column_types"] is not None
            and len(r["column_names"]) == len(r["column_types"])
            for r in maps)
        with tr.span("decode.decoded_changes", batch_id) as s:
            dec = decoded_changes(
                events, CFG, table_maps=maps_df, wire_decode=wire,
                all_named=named, has_sparse_bitmaps=sparse).persist()
            n_dec = dec.count()
        self.layer["decode.s"].append(s_dur(s))
        self.layer["decode.rows_out"].append(n_dec)
        img_bytes = F.aggregate(
            F.map_values("image"), F.lit(0).cast("long"),
            lambda acc, v: acc + F.coalesce(F.octet_length(v), F.lit(0)))
        with tr.span("fold.fold_for_merge", batch_id) as s:
            folded = fold_for_merge(
                dec, CFG, hot_keys=table.metadata().get("hot_keys") or None,
            ).persist()
            agg = folded.agg(F.count(F.lit(1)).alias("n"),
                             F.sum(img_bytes).alias("b")).collect()[0]
        self.layer["fold.s"].append(s_dur(s))
        self.layer["fold.rows_in"].append(n_dec)
        self.layer["fold.keys_out"].append(agg["n"])
        m0 = table.metadata()
        with tr.span("lake.merge", batch_id) as s:
            res = table.merge(folded, stream_id=STREAM, lineage=lineage)
        merge_s = s_dur(s)
        path, compacted = probes.merge_path(m0, table.metadata(res["version"]))
        self.layer[f"lake.merge_{path}_s"].append(merge_s)
        if compacted:
            self.layer["lake.compact_merge_s"].append(merge_s)
        written = sum(size for p, size in probes.data_files(table.path).items()
                      if p not in files0)
        self.layer["lake.bytes_written"].append(written)
        self.layer["lake.image_bytes"].append(agg["b"] or 0)

        def mark_committed(meta: dict) -> None:
            meta["committed"][STREAM] = max(
                meta["committed"].get(STREAM, -1), batch_id)

        with tr.span("lake.commit", batch_id) as s:
            table.update_metadata(mark_committed)
        self.layer["lake.commit_s"].append(s_dur(s))
        dec.unpersist()
        folded.unpersist()
        return res["version"]

    # ------------------------------------------------------------ reads
    def read_changes(self, table: LakeTable, v0: int, v1: int,
                     expect: int, batch_id: int) -> None:
        ok, n = self.timed(
            "changelog", lambda: table.changes(v0, v1).count(), batch_id)
        if ok and n != expect:
            self.fail(f"changes({v0},{v1}) gave {n} rows, expected {expect}")
        if self.trace and self.recording:
            self.layer["lake.changelog_buckets"].append(probes.changed_buckets(
                table.metadata(v0), table.metadata(v1)))

    def read_point(self, table: LakeTable, key: tuple, want: dict | None,
                   batch_id: int) -> None:
        req = dict(zip(inputs.KEYS, key))
        ok, rows = self.timed(
            "point", lambda: table.read_keys(req).collect(), batch_id)
        got = [r.asDict() for r in rows] if ok else None
        if ok and got != ([want] if want else []):
            self.fail(f"read_keys({key}) returned {got}, expected {want}")
        if self.trace and self.recording:
            self.layer["lake.read_scan_nodes"].append(
                probes.scan_nodes(table.read_keys(req)))
            plan = table.point_plan(req)
            self.layer["stats.bytes_scanned_frac"].append(
                plan["bytes_scanned"] / max(plan["bytes_live"], 1))

    def read_many(self, table: LakeTable, keys: list, state: dict,
                  batch_id: int) -> None:
        req = [dict(zip(inputs.KEYS, k)) for k in keys]
        ok, rows = self.timed(
            "keys100", lambda: table.read_keys(req).select(
                *inputs.KEYS, F.sha2("content", 256)).collect(), batch_id)
        if not ok:
            return
        got = {(r[0], r[1]): r[2] for r in rows}
        want = {k: inputs.sha(state[k]["content"]) for k in keys if k in state}
        if got != want:
            self.fail(f"100-key read_keys: {len(got)} rows, "
                      f"{len(set(got.items()) ^ set(want.items()))} differ")

    def read_scan(self, table: LakeTable, state: dict, batch_id: int,
                  lang: str) -> None:
        filters = [("lang", "=", lang)]
        ok, rows = self.timed(
            "scan", lambda: table.read_where(filters).select(
                *inputs.KEYS, F.sha2("content", 256)).collect(), batch_id)
        if ok:
            got = {(r[0], r[1]): r[2] for r in rows}
            want = {k: inputs.sha(r["content"]) for k, r in state.items()
                    if r["lang"] == lang}
            if got != want:
                self.fail(f"read_where(lang={lang}): {len(got)} rows, "
                          f"expected {len(want)}")
        if self.trace and self.recording:
            self.layer["lake.where_scan_nodes"].append(
                probes.scan_nodes(table.read_where(filters)))
            plan = table.pruning_plan(filters)
            self.layer["stats.where_bytes_scanned_frac"].append(
                plan["bytes_scanned"] / max(plan["bytes_live"], 1))

    # ------------------------------------------------------------ gates
    def final_gate(self, table: LakeTable, state: dict) -> None:
        """Outside the timed loop: every key's sha256(content) in the
        table equals the expected state's."""
        self.attempted += 1
        got = {(r[0], r[1]): r[2] for r in table.read().select(
            *inputs.KEYS, F.sha2("content", 256)).collect()}
        want = {k: inputs.sha(r["content"]) for k, r in state.items()}
        bad = len(set(got.items()) ^ set(want.items()))
        if bad:
            self.fail(f"final state: {bad} key/content mismatches "
                      f"({len(got)} rows, expected {len(want)})")
        meta = table.metadata()
        logical = sum(probes.row_bytes(r) for r in state.values())
        self.live_ratio = (probes.live_bytes(table.path, meta)
                           / max(logical, 1))
        if self.trace:
            self.layer["lake.metadata_bytes"].append(
                probes.metadata_bytes(table.path, meta["version"]))


def s_dur(span: dict) -> float:
    return span["end"] - span["start"]


# ================================================================ workloads
def provision(run: Run, events) -> tuple[LakeTable, int]:
    """One timed set-up repetition: create a table and apply its initial
    sync. Returns the table and the data version of the sync."""
    t0 = time.perf_counter()
    table = run.new_table()
    version = apply_batch(events, table, CFG, stream_id=STREAM,
                          batch_id=0)["version"]
    run.samples["setup"].append(time.perf_counter() - t0)
    return table, version


def bulk_reads(run: Run, table: LakeTable, v0: int, v1: int, expected: dict,
               dead: list, i: int) -> None:
    """What bulk_load reads after each load: the load's changelog, a live
    and a deleted key, BULK_SCANS predicate scans and, after the first load
    only (i <= 0), 100 keys (90 live, 10 deleted)."""
    live = list(expected)
    run.read_changes(table, v0, v1, len(expected), i)
    key = run.rng.choice(live)
    run.read_point(table, key, expected[key], i)
    run.read_point(table, run.rng.choice(dead), None, i)
    if i <= 0:
        run.read_many(table, run.rng.sample(live, 90)
                      + run.rng.sample(dead, 10), expected, i)
    for lang in run.rng.sample(inputs.LANGS, BULK_SCANS):
        run.read_scan(table, expected, i, lang)


def bulk_load(run: Run) -> None:
    log = inputs.Binlog()
    warm = inputs.seed_rows(run.seed + 10_000, SETUP_KEYS)
    warm_evs, warm_state = inputs.bulk_batch(warm, log)
    setup_events = run.land("setup", warm_evs)
    rows = inputs.seed_rows(run.seed, BULK_KEYS)
    evs, expected = inputs.bulk_batch(rows, log)
    events = run.land("bulk", evs)
    dead = [inputs.key_of(r) for r in rows
            if inputs.key_of(r) not in expected]
    for rep in range(SETUP_REPS):
        table, version = provision(run, setup_events)
        if rep == 0:  # warm the read paths on the first set-up table
            with run.warm():
                bulk_reads(run, table, 0, version, warm_state, dead, -1)
        shutil.rmtree(table.path)
    run.log(f"set-up done; bulk batch of {len(evs)} events")
    t_end = time.perf_counter() + run.seconds
    i = 0
    table = None
    while time.perf_counter() < t_end or i < 2:
        if table is not None:
            shutil.rmtree(table.path)
        table = run.new_table()
        v1 = run.write(table, events, len(evs), 0,
                       staged=run.trace and i % 2 == 0)
        if v1 is None:
            break
        bulk_reads(run, table, 0, v1, expected, dead, i)
        i += 1
    run.log(f"loop done: {i} loads")
    run.final_gate(table, expected)


def upsert_step(run: Run, table: LakeTable, b: int, batch: tuple,
                state: dict, staged: bool) -> bool:
    """One steady_upsert iteration: apply micro-batch `b`, advance the
    expected `state`, then read the write's changelog, POINT_READS keys it
    touched, a predicate scan and, after the first write only, 100 keys
    (half touched, half any)."""
    events, n_events, info = batch
    v0 = table.metadata()["version"]
    v1 = run.write(table, events, n_events, b + 1, staged)
    if v1 is None:
        return False
    for k, row in info["after"].items():
        if row is None:
            state.pop(k, None)
        else:
            state[k] = row
    run.read_changes(table, v0, v1, info["net_changes"], b)
    touched = list(info["after"])
    for key in run.rng.sample(touched, POINT_READS):
        run.read_point(table, key, state.get(key), b)
    if b == 0:
        run.read_many(table, run.rng.sample(touched, 50)
                      + run.rng.sample(list(state), 50), state, b)
    run.read_scan(table, state, b, run.rng.choice(inputs.LANGS))
    return True


def steady_upsert(run: Run) -> None:
    log = inputs.Binlog()
    rows = inputs.seed_rows(run.seed, PRELOAD_KEYS)
    state = {inputs.key_of(r): r for r in rows}
    preload = run.land("preload", inputs.initial_sync(rows, log))
    stream = inputs.StreamGen(run.seed, dict(state), log,
                              next_index=PRELOAD_KEYS)
    batches = []
    for b in range(MAX_BATCHES):
        evs, info = stream.batch(UPSERT_OPS)
        batches.append((run.land(f"stream/{b}", evs), len(evs), info))
    table = None
    for _ in range(SETUP_REPS):
        if table is not None:
            shutil.rmtree(table.path)
        table, _ = provision(run, preload)
    run.log(f"set-up done; {len(rows)} rows preloaded")
    t_end = time.perf_counter() + run.seconds
    b = 0
    while b < MAX_BATCHES and (time.perf_counter() < t_end or b < 2):
        if not upsert_step(run, table, b, batches[b], state,
                           staged=run.trace and b % 2 == 0):
            break
        b += 1
    run.log(f"loop done: {b} micro-batches")
    if run.trace:
        # keep writing until a merge compacts, so the trace shows one
        while (b < MAX_BATCHES and not run.layer["lake.compactions"]
               and time.perf_counter() - run.t_start < TRACE_CAP_S):
            if run.write(table, *batches[b][:2], b + 1,
                         staged=True) is None:
                break
            for k, row in batches[b][2]["after"].items():
                if row is None:
                    state.pop(k, None)
                else:
                    state[k] = row
            b += 1
        run.log(f"trace tail done: {b} micro-batches")
    run.final_gate(table, state)


WORKLOADS = {"bulk_load": bulk_load, "steady_upsert": steady_upsert}
