"""Seeded inputs for the CDC ingest benchmark, and their expected states.

Every generator here emits `schema.EVENT_SCHEMA` rows, which the benchmark
lands as parquet before any timing starts: the engine only ever sees the
landed files. Each generator also tracks, in plain Python, the table state
its events must produce, which is what the benchmark checks the engine
against.

- `bulk_batch`: the engine generator's 5-wave mix (`gen.generate_changes`):
  every key inserted, ~60% fully updated, ~35% patched by a minimal row
  image (before = primary key, after = the changed column, sparse
  bitmaps), ~15% deleted, ~5% re-inserted; waves in binlog order, 4 rows
  per rows event, per-transaction BEGIN noise and one unrelated DDL per
  binlog file.
- `initial_sync`: an insert-only snapshot, the state a live tail starts
  from.
- `StreamGen`: the micro-batches of a live tail. Keys are drawn with Zipf
  skew from every key the table has held; the op mix (full and
  minimal-image updates, deletes, re-inserts, inserts of new keys) has
  seed-dependent weights; binlog positions keep rising past the preloaded
  table's lineage.
"""

from __future__ import annotations

import bisect
import datetime
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from mariadb_cdc_spark import gen
from mariadb_cdc_spark.schema import (
    EVENT_SCHEMA,
    EVT_DELETE_ROWS,
    EVT_FORMAT_DESCRIPTION,
    EVT_QUERY,
    EVT_TABLE_MAP,
    EVT_UPDATE_ROWS,
    EVT_WRITE_ROWS,
    EVT_XID,
)

COLUMNS = gen.MAIN_COLUMNS  # repo, path, commit, lang, content
KEYS = gen.MERGE_KEYS
LANGS = ["py", "java", "go", "rust", "c", "ts", "sql", "md"]
WORDS = (
    "return if else for while def class import from self none true false "
    "value key table merge batch event binlog position commit apply fold "
    "decode bucket delta snapshot version schema column row image lake"
).split()
ALL_TRUE = (True,) * len(COLUMNS)
PK_ONLY = tuple(c in KEYS for c in COLUMNS)
CONTENT_ONLY = tuple(c == "content" for c in COLUMNS)
EVENTS_PER_TXN = 5
UNRELATED_DDL = "alter table otherdb.audit_mirror add column note varchar(32)"


def _content(rng: random.Random, head: str) -> str:
    lines = [head]
    for _ in range(rng.randint(2, 6)):
        lines.append(" ".join(rng.choices(WORDS, k=rng.randint(4, 12))))
    return "\n".join(lines)


def _commit(content: str) -> str:
    return hashlib.sha1(content.encode()).hexdigest()


def new_row(rng: random.Random, seed: int, i: int) -> dict:
    """Key number `i` of the seed's key space, with a fresh payload."""
    tag = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
    lang = LANGS[int(tag[:2], 16) % len(LANGS)]
    repo = f"repo_{seed % 1000:03d}_{int(tag[2:6], 16) % 97:02d}"
    path = f"src/{lang}/{i:07d}_{tag[6:12]}.{lang}"
    content = _content(rng, f"// {repo}/{path}")
    return {"repo": repo, "path": path, "commit": _commit(content),
            "lang": lang, "content": content}


def seed_rows(seed: int, n: int) -> list[dict]:
    rng = random.Random(f"rows:{seed}")
    return [new_row(rng, seed, i) for i in range(n)]


def key_of(row: dict) -> tuple:
    return tuple(row[k] for k in KEYS)


def sha(content: str | None) -> str:
    return hashlib.sha256((content or "").encode()).hexdigest()


# ------------------------------------------------------------ binlog files
class Binlog:
    """Wraps row changes into binlog files with rising positions.

    A change is (event_type, before_image, after_image, columns_used,
    update_columns_used). Each file holds a FORMAT_DESCRIPTION, the
    table's TABLE_MAP, one DDL for an unrelated table, then transactions of
    EVENTS_PER_TXN rows events, each opened by a BEGIN query and closed by
    an XID. Consecutive changes of one shape share a rows event, up to
    `rows_per_event` rows."""

    def __init__(self, first_file: int = 1):
        self.file_no = first_file
        self.seq = 0

    def file(self, changes: list[tuple], rows_per_event: int = 1) -> list:
        f = f"bin.{self.file_no:06d}"
        ts = datetime.datetime.fromtimestamp(
            gen.BASE_EPOCH + self.file_no * 1000, datetime.timezone.utc)
        out = [
            _ev(f, 0, EVT_FORMAT_DESCRIPTION, ts),
            _ev(f, 2, EVT_TABLE_MAP, ts, table_id=gen.MAIN_TABLE_ID,
                database=gen.MAIN_DATABASE, table=gen.MAIN_TABLE,
                column_types=list(gen.MAIN_COLUMN_TYPES),
                column_names=list(COLUMNS)),
            _ev(f, 5, EVT_QUERY, ts, sql=UNRELATED_DDL),
        ]
        groups: list[list[tuple]] = []
        for c in changes:
            g = groups[-1] if groups else None
            if g and len(g) < rows_per_event and (
                (g[0][0], g[0][3], g[0][4]) == (c[0], c[3], c[4])
            ):
                g.append(c)
            else:
                groups.append([c])
        pos = 256
        for i, g in enumerate(groups):
            et, _b, _a, used, upd = g[0]
            if i % EVENTS_PER_TXN == 0:
                out.append(_ev(f, pos, EVT_QUERY, ts, sql="BEGIN"))
                pos += 64
            self.seq += 1
            out.append(_ev(
                f, pos, et, ts, gtid=f"0-1-{self.seq}",
                table_id=gen.MAIN_TABLE_ID, columns_used=list(used),
                update_columns_used=list(upd) if upd else None,
                rows_before=[c[1] for c in g] if et != EVT_WRITE_ROWS
                else None,
                rows_after=[c[2] for c in g] if et != EVT_DELETE_ROWS
                else None,
            ))
            pos += 256
            if i % EVENTS_PER_TXN == EVENTS_PER_TXN - 1 or i == len(groups) - 1:
                out.append(_ev(f, pos, EVT_XID, ts, xid=self.seq))
                pos += 64
        self.file_no += 1
        return out

    def files(self, changes: list[tuple], per_file: int,
              rows_per_event: int) -> list:
        out = []
        for i in range(0, len(changes), per_file):
            out += self.file(changes[i:i + per_file], rows_per_event)
        return out


_FIELDS = [f.name for f in EVENT_SCHEMA.fields]


def _ev(file: str, pos: int, event_type: str, ts, **cols) -> tuple:
    cols.update(server_id=1, binlog_file=file, binlog_pos=pos,
                event_type=event_type, ts=ts)
    return tuple(cols.get(name) for name in _FIELDS)


def _arrow_type(t):
    if isinstance(t, T.ArrayType):
        return pa.list_(_arrow_type(t.elementType))
    if isinstance(t, T.MapType):
        return pa.map_(_arrow_type(t.keyType), _arrow_type(t.valueType))
    return {
        T.LongType: pa.int64(), T.IntegerType: pa.int32(),
        T.StringType: pa.string(), T.BooleanType: pa.bool_(),
        T.TimestampType: pa.timestamp("us", tz="UTC"),
    }[type(t)]


ARROW_SCHEMA = pa.schema(
    [pa.field(f.name, _arrow_type(f.dataType)) for f in EVENT_SCHEMA.fields])
_IMAGES = {"rows_before", "rows_after"}


def land(path: str, events: list[tuple], files: int = 1) -> None:
    """Write `events` as `files` parquet files under directory `path`, the
    way a landing job hands a binlog batch to the engine."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(events) // files)
    for i in range(0, len(events), per):
        chunk = events[i:i + per]
        cols = []
        for j, name in enumerate(_FIELDS):
            vals = [e[j] for e in chunk]
            if name in _IMAGES:
                vals = [None if v is None else [list(m.items()) for m in v]
                        for v in vals]
            cols.append(pa.array(vals, ARROW_SCHEMA.field(name).type))
        pq.write_table(pa.Table.from_arrays(cols, schema=ARROW_SCHEMA),
                       os.path.join(path, f"part-{i // per:05d}.parquet"))


# -------------------------------------------------------- bulk and preload
def _wave_gate(key: tuple) -> int:
    h = hashlib.md5("\x1f".join(("",) + key).encode()).hexdigest()
    return int(h[:15], 16) % 100


def bulk_batch(rows: list[dict], log: Binlog) -> tuple[list, dict]:
    """The 5-wave catch-up mix over `rows`: (events, expected state)."""
    waves: list[list[tuple]] = [[] for _ in range(5)]
    state = {}
    for r in rows:
        key, g = key_of(r), _wave_gate(key_of(r))
        cur = r
        waves[0].append((EVT_WRITE_ROWS, None, r, ALL_TRUE, None))
        if g < 60:  # full-image update
            new = dict(r, content=r["content"] + "\n// rev 2",
                       commit=_commit(r["commit"]))
            waves[1].append((EVT_UPDATE_ROWS, cur, new, ALL_TRUE, ALL_TRUE))
            cur = new
        if g < 35:  # binlog_row_image=minimal: PK before, changed col after
            content = r["content"] + "\n// rev 3"
            waves[2].append((EVT_UPDATE_ROWS, dict(zip(KEYS, key)),
                             {"content": content}, PK_ONLY, CONTENT_ONLY))
            cur = dict(cur, content=content)
        if g < 15:
            waves[3].append((EVT_DELETE_ROWS, cur, None, ALL_TRUE, None))
            cur = None
        if g < 5:  # re-insert after delete
            cur = dict(r, content=r["content"] + "\n// resurrected")
            waves[4].append((EVT_WRITE_ROWS, None, cur, ALL_TRUE, None))
        if cur is not None:
            state[key] = cur
    changes = [c for w in waves for c in w]
    return log.files(changes, per_file=16384, rows_per_event=4), state


def initial_sync(rows: list[dict], log: Binlog) -> list:
    """Insert-only snapshot of `rows` as binlog events."""
    changes = [(EVT_WRITE_ROWS, None, r, ALL_TRUE, None) for r in rows]
    return log.files(changes, per_file=16384, rows_per_event=4)


# ------------------------------------------------------- incremental tail
class StreamGen:
    """Seeded micro-batch stream over a live table state.

    `state` ({key: row}) is the table's expected content before the first
    batch; every `batch()` call advances it."""

    ZIPF_S = 0.9

    def __init__(self, seed: int, state: dict, log: Binlog, next_index: int):
        self.rng = random.Random(f"stream:{seed}")
        self.seed = seed
        self.state = state
        self.log = log
        self.pool = list(state)  # every key ever live: the Zipf universe
        self.rng.shuffle(self.pool)  # popularity rank is seeded
        self.next_index = next_index
        self.rev = 0
        # op mix: base weights jittered by the seed
        base = {"full": 0.40, "partial": 0.25, "delete": 0.12, "new": 0.18,
                "reinsert": 0.05}
        self.mix = {k: w * self.rng.uniform(0.8, 1.2) for k, w in base.items()}

    def _pick(self, n: int) -> list:
        cdf, acc = [], 0.0
        for r in range(len(self.pool)):
            acc += 1.0 / (r + 1) ** self.ZIPF_S
            cdf.append(acc)
        return [
            self.pool[min(bisect.bisect_left(cdf, self.rng.random() * acc),
                          len(self.pool) - 1)]
            for _ in range(n)
        ]

    def batch(self, n_ops: int) -> tuple[list, dict]:
        """One micro-batch of `n_ops` row changes, in one binlog file.

        Returns (events, info): info holds the batch's net changelog row
        count (`net_changes`) and the expected row, or None, of every key
        it touched (`after`)."""
        rng, st = self.rng, self.state
        before = {}
        changes = []
        ops, weights = zip(*self.mix.items())
        for key in self._pick(n_ops):
            op = rng.choices(ops, weights)[0]
            if op == "new":
                row = new_row(rng, self.seed, self.next_index)
                self.next_index += 1
                key = key_of(row)
                self.pool.append(key)
                before.setdefault(key, None)
                st[key] = row
                changes.append((EVT_WRITE_ROWS, None, row, ALL_TRUE, None))
                continue
            cur = st.get(key)
            before.setdefault(key, cur)
            self.rev += 1
            if cur is None:  # the drawn key is deleted: re-insert it
                content = _content(rng, f"// reinsert {self.rev}")
                row = dict(zip(KEYS, key), lang=rng.choice(LANGS),
                           content=content, commit=_commit(content))
                st[key] = row
                changes.append((EVT_WRITE_ROWS, None, row, ALL_TRUE, None))
            elif op == "delete":
                del st[key]
                changes.append((EVT_DELETE_ROWS, cur, None, ALL_TRUE, None))
            elif op == "partial":  # binlog_row_image=minimal update
                content = _content(rng, f"// partial {self.rev}")
                st[key] = dict(cur, content=content)
                changes.append((EVT_UPDATE_ROWS, dict(zip(KEYS, key)),
                                {"content": content}, PK_ONLY, CONTENT_ONLY))
            else:  # full-image update ("reinsert" of a live key lands here)
                content = _content(rng, f"// full {self.rev}")
                new = dict(cur, content=content, commit=_commit(content),
                           lang=rng.choice(LANGS))
                st[key] = new
                changes.append((EVT_UPDATE_ROWS, cur, new, ALL_TRUE,
                                ALL_TRUE))
        net = 0
        for key, old in before.items():
            new = st.get(key)
            if (old is None) != (new is None):
                net += 1  # insert or delete
            elif old is not None and old != new:
                net += 2  # update_before + update_after
        return self.log.file(changes), {
            "net_changes": net, "after": {k: st.get(k) for k in before}}
