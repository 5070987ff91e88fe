"""End-to-end CDC apply: events DataFrame -> lake table MERGE.

Stage order mirrors SURVEY.md §3.3 and is itself the optimization plan
(filters on envelope columns run before anything expensive; Catalyst pushes
them into the parquet scan):

    events
      -> decode/explode rows-events            (operators.decode, O2)
      -> replay dedup                          (O3)
      -> TABLE_MAP as-of registry join         (operators.registry, J1/J2)
      -> positional col0.. fallback            (name-mismatch guard)
      -> include/exclude table filter          (operators.filters, P4)
      -> per-key ordered LWW fold w/ salting   (operators.fold, O1)
      -> DDL epoch split + MERGE + lineage     (sources.lake, J3/S4)

DDL handling: QUERY events are rare control-plane rows; they are collected on
the driver, classified (functions.ddl), and split the batch into epochs —
changes before a DDL apply before it, changes after apply after — the only
place the reference's sequentiality survives (SURVEY.md §4.3).
"""

from __future__ import annotations

import os

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.ddl import (
    decide_data_reset,
    decide_schema_change,
    parse_alter_actions,
)
from .operators.decode import (
    apply_column_bitmaps,
    decode_rows_events,
    decode_wire_images,
)
from .operators.filters import filter_tables
from .operators.fold import extract_keys, fold_changes
from .operators.names import ColumnNameCache, enrich_column_names
from .operators.registry import (
    coalesce_table_maps,
    positional_fallback,
    resolve_table_metadata,
    table_map_registry,
)
from .schema import EVT_QUERY, EVT_TABLE_MAP
from .sources.checkpoint import (
    batch_lineage,
    events_after,
    gate_on_xid,
    liveness_metrics,
)
from .sources.lake import LakeTable


@dataclass
class CdcConfig:
    """Engine configuration — the MariadbCdcConfig equivalent
    (/root/reference/src/main/java/mariadbcdc/MariadbCdcConfig.java)."""

    database: str = "codehub"
    table: str = "repo_files"
    keys: list[str] = field(default_factory=lambda: ["repo", "path"])
    included_tables: list[str] | None = None
    excluded_tables: list[str] | None = None
    # "auto" = single-phase fold + learned-hot-key two-phase split (see
    # operators.fold.fold_changes); True forces all-key two-phase (bootstrap
    # of a known-skewed stream), False forces single-phase.
    two_phase_fold: bool | str = "auto"
    use_latest_on_bad_position: bool = False  # MariadbCdcConfig.java:89-95
    apply_ddl: bool = True
    # Apply only XID-committed transactions; events past each server's last
    # XID are held for the next batch via the lineage/resume contract
    # (checkpoint.gate_on_xid; reference onXid semantics,
    # MariadbCdcListener.java:17-22).
    gate_on_xid: bool = False
    # Surface per-server liveness (last event ts, heartbeat cadence, max
    # in-batch silence) in the batch result and table metadata — the
    # ReconnectThread observability (BinLogReader.java:333-380); pair with
    # checkpoint.stalled_servers to drive source restarts.
    track_liveness: bool = False
    # Column-name side channel for streams whose TABLE_MAP carries no names
    # (pre-10.5): a (database, table) -> list[str] callable, or a
    # ColumnNameCache to share memoization across batches (the reference's
    # JdbcColumnNamesGetter + ColumnNameCache pair). DDL epochs invalidate
    # affected entries (operators.names).
    column_names_getter: object | None = None
    # In-line snapshot retention: after each committed batch, expire all
    # but the newest N versions (LakeTable.expire_snapshots — floored at 2
    # inside apply_batch so a replayed batch's IVM diff never reaches an
    # expired snapshot). None = keep full history.
    retain_versions: int | None = None
    # Column masking at ingest (operators.mask): {column -> mode} applied
    # to decoded before/after images so protected values never reach the
    # lake or changes_sink. None = stage absent from the plan.
    column_masks: dict[str, str] | None = None


def decoded_changes(
    events: DataFrame,
    cfg: CdcConfig,
    table_maps: DataFrame | None = None,
    wire_decode: bool | None = None,
    all_named: bool | None = None,
    has_sparse_bitmaps: bool | None = None,
) -> DataFrame:
    """events -> metadata-resolved, filtered row-change records.

    Replay duplicates are NOT shuffled away here: the fold absorbs them for
    free. A replayed change has an identical (binlog_file, binlog_pos,
    row_idx) sort key, so duplicates land adjacent in the per-key ordered
    fold, and all three ops are idempotent under immediate repetition
    (INSERT m ∘ INSERT m = INSERT m; patch⊕patch = patch; DELETE∘DELETE =
    DELETE). Dropping the dropDuplicates stage saves a full shuffle of the
    change stream — at 10^10 events, the single biggest fixed cost.
    (operators.decode.dedup_replays remains available for sinks that need
    literal uniqueness.)
    """
    changes = decode_rows_events(events)
    if table_maps is None:
        table_maps = table_map_registry(events)
    changes = resolve_table_metadata(changes, table_maps)
    # PLAN-level gates (same reasoning as the wire_decode gate below):
    # higher-order map/array expressions are CodegenFallback — even behind a
    # row-level WHEN they cost per-row boxing across 10^10 events. When the
    # whole registry is named (all_named) the positional re-key is the
    # identity for every row; when no event carries a sparse bitmap
    # (binlog_row_image=full everywhere) the mask is too — so both stages
    # are dropped from the plan, not evaluated-and-skipped per row.
    # apply_batch derives the flags from its collected registry + a sparsity
    # probe folded into the lineage aggregation (batch_lineage
    # probe_sparse_bitmaps — zero extra jobs); direct callers keep the
    # conservative per-row path.
    if all_named is None:
        all_named = False
    if has_sparse_bitmaps is None:
        has_sparse_bitmaps = True
    if not all_named:
        changes = positional_fallback(changes)
    # columns_used / update_columns_used projection (P1/P2): images shrink
    # to their bitmap-gated columns now that names are resolved.
    if has_sparse_bitmaps:
        changes = apply_column_bitmaps(changes)
    changes = changes.drop("before_used", "after_used")
    # Wire-typed tables (those that published column_metadata) get their hex
    # byte images decoded to canonical strings. PLAN-level gate: Spark
    # extracts pandas UDFs into an ArrowEvalPython stage that runs for every
    # row regardless of any row-level WHEN, so the stage is added only when
    # the registry actually holds a wire-typed table — a pure string-image
    # batch keeps a fully JVM plan (verified by test_no_python_stage_*).
    # apply_batch passes the flag from its already-collected registry rows;
    # direct callers fall back to a probe of the maps side.
    if wire_decode is None:
        wire_decode = not table_maps.where(
            F.col("column_metadata").isNotNull()
        ).isEmpty()
    if wire_decode:
        changes = decode_wire_images(changes)
    if cfg.column_masks:
        from .operators.mask import mask_images

        changes = mask_images(changes, cfg.column_masks)
    include = cfg.included_tables
    if include is None:
        include = [f"{cfg.database}.{cfg.table}"]
    return filter_tables(changes, include, cfg.excluded_tables)


def fold_for_merge(
    changes: DataFrame, cfg: CdcConfig, hot_keys: list | None = None
) -> DataFrame:
    keyed = extract_keys(changes, cfg.keys)
    return fold_changes(
        keyed, cfg.keys, two_phase=cfg.two_phase_fold, hot_keys=hot_keys
    )


# Spark-side prefilter for the DDL collect: a STRICT SUPERSET of what the
# classifiers can match. decide_schema_change uses unanchored re.search for
# alter/rename/drop table (the reference's QueryDecider tolerates leading
# comments, QueryDecider.java:9-85), decide_data_reset anchors TRUNCATE at
# statement start. A real row-format binlog emits one BEGIN QUERY event per
# transaction (the reference receives ALL query events,
# shyikobinlog/BinaryLogEventProcessor.java:67-69) — without this pushdown the
# collect is O(transactions), a scale-killer at the 10^10-event target; with
# it the driver only ever sees O(DDL statements).
_DDL_CANDIDATE_RE = (
    r"(?i)(alter\s+table|rename\s+table|drop\s+table|^\s*truncate\s)"
)


def _classify_ddl_statements(ctrl: DataFrame, cfg) -> list[tuple]:
    """Collect+classify this batch's DDL/data-reset statements for the table.

    Returns [(row, kind)] ordered by position; kind in {"ddl", "truncate"}.
    The rlike prefilter runs IN the Spark plan (pushed below the collect) so
    per-transaction BEGIN/COMMIT QUERY noise never reaches the driver; the
    exact classification (functions.ddl regexes, 23 golden cases) still runs
    driver-side on the surviving handful of rows.
    """
    stmts = sorted(
        ctrl.where(F.col("event_type") == EVT_QUERY)
        .where(F.col("sql").isNotNull())
        .where(F.col("sql").rlike(_DDL_CANDIDATE_RE))
        .select("binlog_file", "binlog_pos", "sql")
        .collect(),
        key=lambda r: (r["binlog_file"], r["binlog_pos"]),
    )

    def _mine(t):
        return t is not None and t.table == cfg.table and (
            t.database is None or t.database == cfg.database
        )

    ddls = []
    for r in stmts:
        if any(_mine(t) for t in decide_schema_change(r["sql"]).tables):
            ddls.append((r, "ddl"))
        elif _mine(decide_data_reset(r["sql"])):
            ddls.append((r, "truncate"))
    return ddls


def apply_batch(
    events: DataFrame,
    table: LakeTable,
    cfg: CdcConfig,
    *,
    stream_id: str = "default",
    batch_id: int | None = None,
    resume_from_lineage: bool = False,
    agg_views: list | None = None,
    changes_sink=None,
) -> dict:
    """Apply one (micro-)batch of events to the lake table.

    Returns metrics. Exactly-once via (stream_id, batch_id) in the table
    metadata; resumable via the committed lineage (resume_from_lineage=True
    filters already-applied positions out of the scan — the
    FileBinlogPositionTracker resume semantics, MariadbCdc.java:96-114).

    `agg_views`: optional list of operators.ivm.AggView — aggregate tables
    maintained INCREMENTALLY from each epoch's merge delta (the batch's
    folded keys are reused as the affected-key set, so maintenance stays
    O(batch), never O(table); see operators.ivm).

    `changes_sink`: optional callable(DataFrame) — the reference's
    MariadbCdcListener.onDataChanged equivalent: receives this batch's
    decoded row-level change records (op, database, table, ts, before,
    after, envelope position columns) for a custom downstream sink (Kafka
    export via functions.export.debezium_envelope, audit copy, ...).
    Fired AFTER the merges but BEFORE the exactly-once commit: if the
    sink throws, the batch is not marked committed and the replay
    re-merges as position-gated no-ops and re-fires the sink — table
    state stays exactly-once, sink delivery is at-least-once (the same
    contract the reference gives its listener, minus the
    exception-swallow: a sink failure here is loud, not dropped).
    """
    if batch_id is not None and batch_id <= table.committed_batch(stream_id):
        return {"skipped": True}

    if resume_from_lineage:
        events = events_after(events, table.lineage())
    if cfg.gate_on_xid:
        events = gate_on_xid(events)

    # Control-plane passes (lineage agg, TABLE_MAP registry, DDL collect)
    # only touch envelope columns; the explicit projection lets Catalyst
    # push column pruning into the scan so none of these passes read the row
    # images (which dominate event bytes ~100x). Measured: direct pruned
    # scans beat caching the projection (cache build costs a full
    # deserialize; each pruned parquet scan is ~0.3s at bench scale).
    ctrl = events.drop("rows_before", "rows_after")

    # The four control-plane collects (lineage agg + sparsity probe,
    # liveness, TABLE_MAP registry, DDL classify) are mutually independent
    # reads over `ctrl`, so they run as CONCURRENT Spark jobs: sequential
    # driver round-trips pay 4x the scan latency back-to-back, while the
    # threaded submit overlaps them on idle cores (Spark job submission is
    # thread-safe; each action scans only pruned envelope columns). At
    # bench scale this hides ~0.5 s per batch; at 10^10 events the hidden
    # latency is four full envelope scans.
    #
    # Registry note: the reference keeps TableInfos in memory for the whole
    # session (shyikobinlog/TableInfos.java); across restarts a resumed
    # batch may start mid-file after its TABLE_MAPs, so the engine persists
    # the latest map per (server_id, table_id) in table metadata and unions
    # it into each batch's as-of join. TABLE_MAP rows are one-per-table
    # (control plane), so the collect is O(tables), not O(events).
    # DDL classify (rare; driver-side by design) yields (row, kind)
    # entries: kind "ddl" evolves the schema at the epoch boundary, kind
    # "truncate" clears the table and installs the statement's position as
    # the merge floor (functions.ddl.decide_data_reset — TRUNCATE is
    # deliberately NOT a schema change, matching the reference's
    # QueryDecider).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as _ex:
        _f_lineage = _ex.submit(
            batch_lineage, ctrl, probe_sparse_bitmaps=True
        )
        _f_liveness = (
            _ex.submit(liveness_metrics, ctrl) if cfg.track_liveness else None
        )
        _f_registry = _ex.submit(_load_registry, ctrl, table)
        _f_ddls = (
            _ex.submit(_classify_ddl_statements, ctrl, cfg)
            if cfg.apply_ddl
            else None
        )
        lineage, has_sparse_bitmaps = _f_lineage.result()
        liveness = _f_liveness.result() if _f_liveness is not None else None
        table_maps, has_wire, all_named = _f_registry.result()
        ddls = _f_ddls.result() if _f_ddls is not None else []

    changes = decoded_changes(
        events,
        cfg,
        table_maps=table_maps,
        wire_decode=has_wire,
        all_named=all_named,
        has_sparse_bitmaps=has_sparse_bitmaps,
    )

    hot_keys = table.metadata().get("hot_keys") or None

    # Column-name side channel (J2): fetched per epoch so a DDL's
    # invalidation re-fetches for the post-DDL epoch.
    names_cache = cfg.column_names_getter
    if names_cache is not None and not isinstance(names_cache, ColumnNameCache):
        names_cache = ColumnNameCache(names_cache)

    bounds = [(r["binlog_file"], r["binlog_pos"]) for r, _ in ddls] + [None]
    lo = None
    n_epochs = 0
    total = {"epochs": 0, "version": None}
    pre_version = table.metadata()["version"]
    affected_parts: list[DataFrame] = []
    persisted: list[DataFrame] = []
    for i, hi in enumerate(bounds):
        epoch = changes
        if lo is not None:
            epoch = epoch.where(
                F.struct("binlog_file", "binlog_pos") > _pos_lit(lo)
            )
        if hi is not None:
            epoch = epoch.where(
                F.struct("binlog_file", "binlog_pos") <= _pos_lit(hi)
            )
        if names_cache is not None:
            epoch = enrich_column_names(epoch, names_cache)
        folded = fold_for_merge(epoch, cfg, hot_keys=hot_keys)
        if agg_views:
            folded = folded.persist()
            persisted.append(folded)
            affected_parts.append(folded.select(*cfg.keys))
        res = table.merge(
            folded,
            stream_id=stream_id,
            # sub-batch ids keep epoch commits idempotent too
            batch_id=None,
            lineage=lineage if hi is None else None,
        )
        total["version"] = res.get("version")
        n_epochs += 1

        if hi is not None:
            row, kind = ddls[i]
            if kind == "truncate":
                # data-reset boundary: clear the table, install the
                # statement's position as the merge floor so replayed
                # pre-truncate events cannot resurrect removed rows
                table.truncate(
                    position_floor=(row["binlog_file"], row["binlog_pos"])
                )
                total["version"] = table.metadata()["version"]
                if agg_views:
                    # Data-reset boundary for maintained views too: the
                    # incremental diff only covers FOLDED keys, but truncate
                    # removed every key, so rebuild each view from the
                    # (empty) post-truncate snapshot and restart the diff
                    # basis there. Pre-truncate epochs' keys are now
                    # irrelevant — drop them from the final maintenance pass.
                    from .operators.ivm import rebuild as _ivm_rebuild

                    for view in agg_views:
                        _ivm_rebuild(table, view, version=total["version"])
                    pre_version = total["version"]
                    affected_parts = []
            else:
                _apply_ddl(table, row["sql"])
                if names_cache is not None:
                    # SchemaChangedListener flow: DDL invalidates the cache
                    # so the next epoch re-fetches (ColumnNameCache.java:31-42)
                    for t in decide_schema_change(row["sql"]).tables:
                        names_cache.invalidate(t.database, t.table)
            lo = hi

    # Maintained aggregate views: ONE maintenance pass per batch over the
    # union of all epochs' folded keys, diffing table state from the version
    # the VIEW reflects (ivm.maintain picks min(pre_version, stored)) to the
    # last merged version — so a crash anywhere between a merge commit and
    # this point is healed on replay (the batch is not yet marked committed,
    # the re-derived folded keys are deterministic, and per-epoch re-merges
    # are position-gated no-ops).
    if agg_views and affected_parts:
        from .operators.ivm import maintain

        keys_df = affected_parts[0]
        for part in affected_parts[1:]:
            keys_df = keys_df.unionByName(part)
        for view in agg_views:
            maintain(
                table, view, keys_df, pre_version,
                post_version=total["version"],
            )
    for df in persisted:
        df.unpersist()

    if changes_sink is not None:
        changes_sink(changes)

    # final commit: batch id (exactly-once) + persisted TABLE_MAP registry.
    # CAS metadata-only commit (LakeTable.update_metadata): under concurrent
    # writers the mutator re-applies onto whatever snapshot wins, so all
    # fields must merge rather than assign — batch markers take max,
    # registry entries merge latest-per-(server_id, table_id).
    batch_maps = _latest_maps(table_maps)

    def _final_commit(meta: dict) -> None:
        if batch_id is not None:
            meta["committed"][stream_id] = max(
                meta["committed"].get(stream_id, -1), batch_id
            )
        meta["table_maps"] = _latest_per_table(
            meta.get("table_maps", []) + batch_maps
        )
        if liveness is not None:
            meta["liveness"] = liveness

    table.update_metadata(_final_commit)

    # In-line retention: maintenance wired into the ingest loop so a
    # 10^10-event stream never accretes unbounded snapshot history. Runs
    # strictly AFTER the exactly-once commit (a crash before this point
    # replays with full history intact); floor of 2 keeps the pre-batch
    # version alive for any replayed IVM diff.
    if cfg.retain_versions:
        table.expire_snapshots(keep_last=max(2, cfg.retain_versions))

    total["epochs"] = n_epochs
    total["lineage"] = lineage
    if liveness is not None:
        total["liveness"] = liveness
    return total


class BatchAuditFailed(RuntimeError):
    """Raised by apply_batch_audited after rolling the batch back."""

    def __init__(self, problems, rolled_back_to: int):
        super().__init__(
            f"batch audit failed ({problems}); rolled back to "
            f"version {rolled_back_to}"
        )
        self.problems = problems
        self.rolled_back_to = rolled_back_to


def apply_batch_audited(
    events: DataFrame,
    table,
    cfg: CdcConfig,
    audit,
    *,
    stream_id: str = "default",
    batch_id: int | None = None,
    **kwargs,
) -> dict:
    """Audit-gated apply — the write-audit-publish discipline composed
    from the engine's existing commit primitives: apply the batch, run
    `audit(table, result)` over the COMMITTED candidate state, and if it
    returns problems (any truthy value) roll the table back to the
    pre-batch snapshot (LakeTable.rollback: a new metadata-only commit;
    the batch's exactly-once marker reopens with it, so the corrected
    batch can re-apply under the SAME (stream_id, batch_id)) and raise
    BatchAuditFailed.

    Honest trade-off vs Iceberg's staged-WAP: the candidate version is
    briefly visible to readers between commit and rollback (snapshot
    isolation means in-flight readers are unaffected; new readers in
    that window see the candidate). In exchange the gate needs no second
    commit path — audit failure costs one metadata-only commit, and the
    whole flow inherits the concurrency/replay safety of the primitives
    it composes. Pin the pre-batch version with a tag first if operator
    forensics need it.
    """
    pre = table.metadata()["version"]
    res = apply_batch(
        events, table, cfg, stream_id=stream_id, batch_id=batch_id, **kwargs
    )
    if res.get("skipped"):
        return res
    problems = audit(table, res)
    if problems:
        table.rollback(pre)
        raise BatchAuditFailed(problems, pre)
    return res


def apply_batch_multi(
    events: DataFrame,
    tables: dict[tuple[str, str], tuple[LakeTable, list[str]]],
    *,
    stream_id: str = "default",
    batch_id: int | None = None,
    excluded_tables: list[str] | None = None,
) -> dict:
    """Apply one batch to MULTIPLE lake tables (one per CDC'd source table).

    The reference delivers every table's changes through one listener
    (MariadbCdcListener.onDataChanged receives rows of all registered
    tables); here one decode+registry pass feeds per-table folds and MERGEs.

    `tables`: {(database, table): (LakeTable, merge_keys)}.
    """
    results = {}
    include = [f"{db}.{tbl}" for db, tbl in tables]
    base_cfg = CdcConfig(
        included_tables=include, excluded_tables=excluded_tables,
        apply_ddl=False,
    )
    # shared scan: decode + registry once, then per-table filter/fold/merge
    ctrl = events.drop("rows_before", "rows_after")
    registry, has_wire, all_named = _load_registry(
        ctrl, next(iter(tables.values()))[0]
    )
    lineage, has_sparse_bitmaps = batch_lineage(
        ctrl, probe_sparse_bitmaps=True
    )
    changes = decoded_changes(
        events,
        base_cfg,
        table_maps=registry,
        wire_decode=has_wire,
        all_named=all_named,
        has_sparse_bitmaps=has_sparse_bitmaps,
    ).persist()
    maps = _latest_maps(registry)
    for (db, tbl), (lake, keys) in tables.items():
        if batch_id is not None and batch_id <= lake.committed_batch(stream_id):
            results[(db, tbl)] = {"skipped": True}
            continue
        sub = changes.where(
            (F.lower("database") == db.lower()) & (F.lower("table") == tbl.lower())
        )
        folded = fold_changes(
            extract_keys(sub, keys), keys,
            hot_keys=lake.metadata().get("hot_keys") or None,
        )
        res = lake.merge(folded, stream_id=stream_id, batch_id=None,
                         lineage=lineage)

        # CAS metadata-only commit, same max-merge shape as apply_batch's
        # _final_commit: under concurrent writers the mutator re-applies
        # onto whatever snapshot wins, so markers take max and registry
        # entries merge latest-per-(server_id, table_id) — a plain
        # read-modify-write here would silently discard any commit that
        # landed between merge() and this marker write.
        def _multi_commit(meta: dict) -> None:
            if batch_id is not None:
                meta["committed"][stream_id] = max(
                    meta["committed"].get(stream_id, -1), batch_id
                )
            meta["table_maps"] = _latest_per_table(
                meta.get("table_maps", []) + maps
            )

        lake.update_metadata(_multi_commit)
        results[(db, tbl)] = res
    changes.unpersist()
    return results


def _safe_name(name: str) -> str:
    """Encode a binlog-sourced db/table name into a single path segment.

    TABLE_MAP names are attacker-ish input (they come off the wire): a name
    containing '/', '\\', or '..' could escape the lake root, and because the
    directory is '<db>.<table>', a '.' INSIDE either name makes
    (db='a', table='b.c') collide with (db='a.b', table='c'). Percent-escape
    '%' (the escape char itself), both separators, and '.' so the mapping is
    injective and always one path segment. Normal MySQL identifiers (no
    dots/slashes) map to themselves.
    """
    out = name.replace("%", "%25")
    for ch, esc in (("/", "%2F"), ("\\", "%5C"), (".", "%2E")):
        out = out.replace(ch, esc)
    return out


def apply_batch_auto(
    events: DataFrame,
    root: str,
    *,
    stream_id: str = "default",
    batch_id: int | None = None,
    keys_for=None,
    excluded_tables: list[str] | None = None,
    n_buckets: int = 16,
) -> dict:
    """Zero-config multi-table capture (the Debezium auto-table-creation
    workflow): discover every source table present in the batch from its
    TABLE_MAP metadata, provision a lake table per source table on first
    sight under `root/<db>.<table>`, evolve existing tables when new
    columns appear, then run the shared-scan multi-table apply.

    `keys_for(db, table, column_names) -> list[str]` chooses merge keys;
    the default takes the FIRST column (the PK-leading-column layout
    convention) because the binlog carries no primary-key metadata — the
    reference's listener knows keys out-of-band (it applies changes with
    user code), so any deployment with composite keys passes `keys_for`.

    Provisioned schemas are all-string (the engine's late-typed image
    convention); `LakeTable.widen_column` or downstream views type them
    (merge casts image values to each column's type). Discovery is a
    control-plane scan: O(tables) rows collect.
    """
    disc_rows = (
        events.where(F.col("event_type") == EVT_TABLE_MAP)
        .select("database", "table", "column_names")
        .where(F.col("database").isNotNull() & F.col("table").isNotNull())
        .distinct()
        .collect()
    )
    excluded = {t.lower() for t in (excluded_tables or [])}
    discovered: dict[tuple[str, str], list[str]] = {}
    for r in disc_rows:
        key = (r["database"], r["table"])
        if f"{key[0]}.{key[1]}".lower() in excluded:
            continue
        cols = discovered.setdefault(key, [])
        for c in r["column_names"] or []:
            if c not in cols:
                cols.append(c)
    if not discovered:
        return {}

    spark = events.sparkSession
    tables: dict[tuple[str, str], tuple[LakeTable, list[str]]] = {}
    for (db, tbl), cols in discovered.items():
        path = os.path.join(root, f"{_safe_name(db)}.{_safe_name(tbl)}")
        lake = LakeTable(spark, path)
        keys = (
            keys_for(db, tbl, cols) if keys_for is not None else cols[:1]
        )
        missing = [k for k in keys if k not in cols]
        if missing:
            raise ValueError(
                f"keys {missing} not in {db}.{tbl} columns {cols}"
            )
        if not lake.exists():
            schema = T.StructType(
                [T.StructField(c, T.StringType()) for c in cols]
            )
            lake = LakeTable.create(
                spark, path, schema, keys, n_buckets=n_buckets
            )
        else:
            have = {n for n, _ in lake.metadata()["schema"]}
            for c in cols:
                if c not in have:  # cross-batch ADD COLUMN drift
                    lake.add_column(c, "string")
        tables[(db, tbl)] = (lake, keys)

    return apply_batch_multi(
        events,
        tables,
        stream_id=stream_id,
        batch_id=batch_id,
        excluded_tables=excluded_tables,
    )


# Above this many TABLE_MAP occurrences per batch, coalesce in Spark before
# collecting (the real-binlog map-per-transaction shape); below it, one
# early-exit scan is cheaper than the coalescer's window stages.
_DENSE_MAPS_THRESHOLD = 4096

_REGISTRY_COLS = [
    "server_id",
    "binlog_file",
    "binlog_pos",
    "table_id",
    "database",
    "table",
    "column_types",
    "column_names",
    "column_metadata",
    "column_enum_values",
    "column_charsets",
]

_REGISTRY_SCHEMA = (
    "server_id long, binlog_file string, binlog_pos long, table_id long,"
    " database string, table string, column_types array<int>,"
    " column_names array<string>, column_metadata array<int>,"
    " column_enum_values array<array<string>>,"
    " column_charsets array<string>"
)


def _load_registry(
    events: DataFrame, table: LakeTable
) -> tuple[DataFrame, bool, bool]:
    """One control-plane collect: the batch's TABLE_MAPs + the persisted
    registry, returned as a driver-built LOCAL relation.

    TABLE_MAPs are O(tables x binlog files) control rows — the reference
    holds them all in one in-memory Map (shyikobinlog/TableInfos.java), and
    this engine does the same per batch: collect once, merge with the
    persisted registry in Python, and hand the as-of join a local relation
    (no second scan of the event source for the broadcast side; the
    _latest_maps persistence below becomes pure Python, zero extra jobs).

    The collect is BOUNDED: a real binlog emits TABLE_MAP before every
    transaction (O(transactions) occurrences), so the occurrences are
    island-coalesced IN SPARK first (registry.coalesce_table_maps — the
    same RLE the as-of join uses) and only O(tables x schema-versions)
    rows ever reach the driver.

    Persisted entries are rewritten to position (-inf) — they represent
    state accumulated BEFORE this batch (the reference's TableInfos map is
    simply "currently mapped", with no position qualifier), so they must
    resolve any event in the batch, including out-of-order ones that
    precede the map's original position.
    """
    # Limit-probe: the sparse case (one map per table per file — this
    # generator, or a curated landing zone) stays on a single early-exit
    # scan; a dense real-binlog occurrence set (map per transaction) pays
    # the coalescer's window stages to keep the collect bounded.
    occurrences = table_map_registry(events)
    probe = occurrences.limit(_DENSE_MAPS_THRESHOLD + 1).collect()
    if len(probe) > _DENSE_MAPS_THRESHOLD:
        probe = coalesce_table_maps(occurrences).collect()
    rows = [tuple(r[c] for c in _REGISTRY_COLS) for r in probe]
    for m in table.metadata().get("table_maps", []):
        d = dict(m)
        d["binlog_file"] = ""  # sorts before every real file name
        d["binlog_pos"] = -1
        rows.append(tuple(d.get(c) for c in _REGISTRY_COLS))
    meta_idx = _REGISTRY_COLS.index("column_metadata")
    names_idx = _REGISTRY_COLS.index("column_names")
    types_idx = _REGISTRY_COLS.index("column_types")
    has_wire = any(r[meta_idx] is not None for r in rows)
    # Every mapped table carries a valid name list <=> positional_fallback
    # is the identity for every resolvable row and can be dropped from the
    # plan (decoded_changes all_named gate). Empty registry => no row
    # resolves at all, so the stage is vacuously skippable too.
    all_named = all(
        r[names_idx] is not None
        and r[types_idx] is not None
        and len(r[names_idx]) == len(r[types_idx])
        for r in rows
    )
    return (
        events.sparkSession.createDataFrame(rows, _REGISTRY_SCHEMA),
        has_wire,
        all_named,
    )


def _latest_maps(table_maps: DataFrame) -> list[dict]:
    """Latest TABLE_MAP per (server_id, table_id), as JSON-able dicts.

    `table_maps` is the local relation built by _load_registry, so this is
    a driver-side fold over already-collected control rows — no Spark job.
    """
    return _latest_per_table(
        {c: r[c] for c in _REGISTRY_COLS} for r in table_maps.collect()
    )


def _latest_per_table(maps) -> list[dict]:
    """Keep the TABLE_MAP with the latest (binlog_file, binlog_pos) per
    (server_id, table_id); on a tie the later entry wins. Sorted by key."""
    latest: dict[tuple, dict] = {}
    for m in maps:
        key = (m["server_id"], m["table_id"])
        cur = latest.get(key)
        if cur is None or (m["binlog_file"], m["binlog_pos"]) >= (
            cur["binlog_file"],
            cur["binlog_pos"],
        ):
            latest[key] = m
    return [latest[k] for k in sorted(latest)]


def _pos_lit(p: tuple) -> F.Column:
    return F.struct(
        F.lit(p[0]).alias("binlog_file"),
        F.lit(int(p[1])).cast("long").alias("binlog_pos"),
    )


def _apply_ddl(table: LakeTable, sql: str) -> None:
    """Drive lake schema evolution from a classified ALTER statement."""
    for a in parse_alter_actions(sql):
        if a.kind == "add":
            table.add_column(a.column, a.lake_type or "string")
        elif a.kind == "rename" and a.new_name and a.new_name != a.column:
            table.rename_column(a.column, a.new_name)
        elif a.kind == "modify":
            table.widen_column(a.column, a.lake_type or "string")
