"""SnapshotTable — an Iceberg-style table: Parquet data + atomic JSON commit log.

Layout::

    <root>/
      _log/
        00000000000.json      # commit 0 (create: full state)
        00000000001.json      # commit 1 (delta: what this commit changed)
        00000000025.ckpt.json # derived checkpoint cache (full state at v25)
      data/
        b=<bucket>/part-<uuid>.parquet

Commits are **deltas**, not full states: each log entry records only what
the commit changed (files added, buckets replaced, schema added, batch
fenced, refs moved) — the Iceberg snapshot+manifest-delta model. Full state
at any version is reconstructed by replaying deltas forward from the
nearest checkpoint; every K commits (``log.checkpoint_interval`` property)
a full-state checkpoint cache (``.ckpt.json``, atomic tmp+rename, derived
and deterministic from the log) bounds replay length. This keeps per-commit
driver I/O O(delta), not O(table): a long stream's commit cost no longer
grows with the file count and fence-map size (the round-1 full-state log
was O(batches²) cumulative driver I/O — measurable serial time per batch
at high core counts, i.e. lost scaling efficiency).

The exactly-once batch fence is similarly bounded: batch ids of the form
``<feed>-b<NN>`` / ``<stream>-e<NN>`` parse into (feed, epoch); a per-feed
**contiguous epoch watermark** advances as epochs apply, entries at or
below ``watermark - fence.keep_epochs`` are dropped from the map, and the
fence check becomes ``id in map OR epoch <= watermark`` — so a 10^6-batch
stream carries a bounded map instead of 10^6 entries per commit.
Non-parseable batch ids are never truncated (documented contract).

Commit atomicity comes from exclusive-create (``open(..., 'x')``) of the
next numbered log file; a losing concurrent writer gets FileExistsError and
retries against the new state (optimistic concurrency, Iceberg-style). On a
real deployment this seam is replaced by an Iceberg REST catalog commit.

Partitioning is hash-bucket on the key columns
(``pmod(murmur3_hash(*key), num_buckets)`` — Spark's own HashPartitioning
expression, see `bucket_expr`) — the Iceberg ``bucket(N, key)`` transform. Hot *repos* (monorepo skew) spread across buckets because the
bucket key includes ``path``; MERGE prunes to affected buckets only.

Schema evolution is metadata-only: data files carry the ``schema_id`` they
were written under; reads align every schema group to the current schema via
cast + null-backfill (`lake/schema.py:align_df`), the reference's
multi-version normalization idiom (`KFVCFUtils.scala:122-174`) applied at
the storage layer.
"""

from __future__ import annotations

import json
import os
import re
import struct
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kf_etl_clin_portal_spark.lake.schema import (
    align_df,
    normalize_nullability,
    remap_by_field_id,
)

_LOG_DIR = "_log"
_BRANCH_DIR = "branches"  # writable branches live at _log/branches/<name>/
_DATA_DIR = "data"
BUCKET_COL = "__bucket"
# deletion-vector read lineage (reserved column names, dropped before return)
_DV_FILE = "__dv_file"
_DV_POS = "__dv_pos"
_DV_BROADCAST_ROWS = 4_000_000  # ~64 MB of (path, int64) pairs


def bucket_expr(key_cols: list[str], num_buckets: int):
    """The partition transform: bucket(num_buckets, key...).

    Deliberately ``pmod(murmur3_hash(key), n)`` — EXACTLY Spark's
    HashPartitioning partition-id expression. Consequence: after
    ``df.repartition(n, *key_cols)`` every row already sits in the shuffle
    partition equal to its bucket, so a bucket-wise file layout falls out of
    the aggregation shuffle with NO second repartition (`lake/merge.py`).
    JVM codegen'd, no Python in the hot path.

    `key_buckets` is the driver-side copy of this transform for literal
    keys (point lookups, scan planning) — no Spark job; held equal to this
    expression by `tests/test_bucket_route.py`.
    """
    return F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(num_buckets)).cast("int")


# ---- driver-side copy of bucket_expr ---------------------------------------
# Spark's Murmur3Hash (Murmur3_x86_32, seed 42) on unsigned 32-bit words.
_M32 = 0xFFFFFFFF
_HASH_SEED = 42
_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType)  # all hashed via hashInt


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    k1 = ((k1 << 15) | (k1 >> 17)) & _M32
    return (k1 * 0x1B873593) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = ((h1 << 13) | (h1 >> 19)) & _M32
    return (h1 * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    return h1 ^ (h1 >> 16)


def _hash_int(v: int, h1: int) -> int:
    return _fmix(_mix_h1(h1, _mix_k1(v & _M32)), 4)


def _hash_long(v: int, h1: int) -> int:
    h1 = _mix_h1(h1, _mix_k1(v & _M32))
    h1 = _mix_h1(h1, _mix_k1((v >> 32) & _M32))
    return _fmix(h1, 8)


def _hash_utf8(s: str, h1: int) -> int:
    """``hashUnsafeBytes``: little-endian 4-byte words, then each tail byte
    mixed on its own as a SIGNED byte (Spark's legacy tail, not the
    reference Murmur3 tail)."""
    b = s.encode("utf-8")
    aligned = len(b) - len(b) % 4
    for (w,) in struct.iter_unpack("<I", b[:aligned]):
        h1 = _mix_h1(h1, _mix_k1(w))
    for x in b[aligned:]:
        h1 = _mix_h1(h1, _mix_k1((x - 256 if x > 127 else x) & _M32))
    return _fmix(h1, len(b))


def _is_str(v: Any) -> bool:
    return isinstance(v, str)


def _is_int32(v: Any) -> bool:
    return type(v) is int and -(1 << 31) <= v < (1 << 31)


def _is_int64(v: Any) -> bool:
    return type(v) is int and -(1 << 63) <= v < (1 << 63)


def _component_hash(dt: T.DataType):
    """(hash step, accepted Python values) for a key column of type ``dt``,
    or None when the type is not ported. A byte/short column accepts any
    int32: a value outside its range matches no stored row, so any bucket
    is right for it."""
    if dt == T.StringType():  # UTF8_BINARY only: collated strings hash differently
        return _hash_utf8, _is_str
    if isinstance(dt, _INT_TYPES):
        return _hash_int, _is_int32
    if isinstance(dt, T.LongType):
        return _hash_long, _is_int64
    return None


def key_buckets(
    key_types: list[T.DataType], keys: list[tuple], num_buckets: int
) -> list[int] | None:
    """Sorted distinct buckets of literal key tuples — `bucket_expr`
    evaluated on the driver, no Spark job. Each component is hashed by the
    key column's TYPE (``key_types``), never by its Python value's type:
    byte/short/int go through ``hashInt``, long through ``hashLong``,
    strings as UTF-8 bytes; null components are skipped, as in Spark.

    Returns None — read every bucket — when a key column's type is not
    ported or a value does not fit it exactly (a float for a long column,
    an int for a string column, a long for an int column): such a key
    costs a full scan, never a dropped row."""
    steps = [_component_hash(dt) for dt in key_types]
    if any(s is None for s in steps):
        return None
    out: set[int] = set()
    for key in keys:
        h1 = _HASH_SEED
        for (hash_fn, accepts), v in zip(steps, key):
            if v is None:
                continue
            if not accepts(v):
                return None
            try:
                h1 = hash_fn(v, h1)
            except UnicodeEncodeError:  # lone surrogate: no UTF-8 form
                return None
        out.add((h1 - (1 << 32) if h1 >> 31 else h1) % num_buckets)
    return sorted(out)


@dataclass
class CommitInfo:
    version: int
    snapshot_id: str
    operation: str
    lineage: dict[str, Any]


# batch ids minted by CDCPipeline.replay ("<feed>-b00001") and the streaming
# sink ("<stream>-e000001"): prefix + monotone epoch number
_FENCE_RE = re.compile(r"^(.*-[be])(\d+)$")

_DEFAULT_CKPT_INTERVAL = 25
_DEFAULT_FENCE_KEEP = 64


def _footer_zone_maps(md, cols: list[str]) -> dict[str, list]:
    """Per-column [min, max] over a parquet file's row-group statistics.
    Only JSON-representable scalar types are kept (int/float/str/bool);
    columns without complete min/max stats are omitted — pruning treats a
    missing entry as "may match" (always safe)."""
    if not cols:
        return {}
    wanted = set(cols)
    lo: dict[str, Any] = {}
    hi: dict[str, Any] = {}
    complete: dict[str, bool] = {c: True for c in wanted}
    seen: set[str] = set()
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for col_i in range(rg.num_columns):
            chunk = rg.column(col_i)
            name = chunk.path_in_schema
            if name not in wanted:
                continue
            seen.add(name)
            st = chunk.statistics
            if st is None or not st.has_min_max:
                complete[name] = False
                continue
            mn, mx = st.min, st.max
            if not isinstance(mn, (int, float, str, bool)) or not isinstance(
                mx, (int, float, str, bool)
            ):
                complete[name] = False
                continue
            lo[name] = mn if name not in lo else min(lo[name], mn)
            hi[name] = mx if name not in hi else max(hi[name], mx)
    return {
        c: [lo[c], hi[c]]
        for c in wanted
        if c in seen and complete[c] and c in lo
    }


def _file_may_match(
    f: dict[str, Any], stats_filter: dict[str, tuple[Any, Any]]
) -> bool:
    """Metadata-only range check: False only when the file's zone map PROVES
    no row can satisfy every (lo, hi) bound. Files without stats for a
    filtered column always pass (never prune on absent evidence)."""
    zones = f.get("stats") or {}
    for col, (lo, hi) in stats_filter.items():
        z = zones.get(col)
        if z is None:
            continue
        if lo is not None and z[1] < lo:
            return False
        if hi is not None and z[0] > hi:
            return False
    return True


def _parse_fence(batch_id: str) -> tuple[str, int] | None:
    m = _FENCE_RE.match(batch_id)
    return (m.group(1), int(m.group(2))) if m else None


def _truncate_fence(
    applied: dict[str, Any], watermarks: dict[str, int], keep: int
) -> tuple[dict[str, Any], dict[str, int]]:
    """Advance each feed's contiguous epoch watermark and drop map entries
    at or below ``watermark - keep``. Pure; correctness does NOT assume
    in-order application: the watermark only advances over a gap-free run
    of applied epochs, so ``epoch <= watermark`` always implies applied."""
    parsed: dict[str, tuple[str, int]] = {}
    by_feed: dict[str, set[int]] = {}
    for bid in applied:
        p = _parse_fence(bid)
        if p:
            parsed[bid] = p
            by_feed.setdefault(p[0], set()).add(p[1])
    watermarks = dict(watermarks)
    for feed, epochs in by_feed.items():
        w = watermarks.get(feed, -1)
        while w + 1 in epochs:
            w += 1
        watermarks[feed] = w
    applied = {
        bid: v
        for bid, v in applied.items()
        if bid not in parsed
        or parsed[bid][1] > watermarks[parsed[bid][0]] - keep
    }
    return applied, watermarks


def _apply_delta(state: dict[str, Any], delta: dict[str, Any]) -> dict[str, Any]:
    """Pure state transition: full state at v-1 + delta -> full state at v.
    Both the committer and every log replayer run exactly this function, so
    checkpoint caches are deterministic given the log."""
    files = state["files"]
    replaced = set(delta.get("replaced_buckets") or [])
    if replaced:
        files = [f for f in files if f["bucket"] not in replaced]
    files = files + list(delta.get("new_files") or [])

    # deletion vectors: entries survive only while they still cover a live
    # data file — any rewrite of a covered file (CoW merge, compaction,
    # DML, rebucket) re-materializes the visible rows WITHOUT the hidden
    # ones (readers apply DVs), so the rewrite is the fold and the entry's
    # coverage shrinks to the files that remain
    dv = list(state.get("dv") or [])
    if dv:
        present = {f["path"] for f in files}
        kept = []
        for d in dv:
            covered = [p for p in d["files"] if p in present]
            if covered:
                kept.append({**d, "files": covered} if len(covered) != len(d["files"]) else d)
        dv = kept
    dv = dv + list(delta.get("new_dv") or [])

    schemas = dict(state["schemas"])
    schema_fields = dict(state.get("schema_fields") or {})
    if delta.get("schema_add"):
        schemas[str(delta["schema_add"]["id"])] = delta["schema_add"]["schema"]
        if delta["schema_add"].get("fields") is not None:
            schema_fields[str(delta["schema_add"]["id"])] = delta["schema_add"]["fields"]

    applied = dict(state["applied_batches"])
    watermarks = dict(state.get("fence_watermarks", {}))
    if delta.get("applied_batch"):
        bid, info = delta["applied_batch"]
        applied[bid] = info
        keep = int(state["properties"].get("fence.keep_epochs", _DEFAULT_FENCE_KEEP))
        applied, watermarks = _truncate_fence(applied, watermarks, keep)

    refs = dict(state.get("refs", {}))
    if delta.get("refs_set"):
        for k, v in delta["refs_set"].items():
            if v is None:  # ref deletion (drop_ref)
                refs.pop(k, None)
            else:
                refs[k] = v

    props = dict(state["properties"])
    if delta.get("properties_set"):
        props.update(delta["properties_set"])

    defaults = dict(state.get("column_defaults") or {})
    if delta.get("defaults_set"):
        defaults.update(delta["defaults_set"])

    expire_below = max(
        state.get("expire_below", 0), delta.get("expire_below") or 0
    )

    return {
        "expire_below": expire_below,
        "version": delta["version"],
        "snapshot_id": delta["snapshot_id"],
        "parent_snapshot_id": delta["parent_snapshot_id"],
        "ts": delta["ts"],
        "operation": delta["operation"],
        "current_schema_id": delta.get("current_schema_id", state["current_schema_id"]),
        "schemas": schemas,
        "schema_fields": schema_fields,
        "partition": delta.get("partition_set") or state["partition"],
        "files": files,
        "dv": dv,
        "applied_batches": applied,
        "fence_watermarks": watermarks,
        "refs": refs,
        "properties": props,
        "column_defaults": defaults,
        "lineage": delta.get("lineage") or {},
        "summary": {
            "total_rows": sum(f["rows"] for f in files),
            "total_bytes": sum(f["bytes"] for f in files),
            "total_files": len(files),
        },
    }


def field_map(st: dict[str, Any], schema_id: int) -> dict[str, Any]:
    """{column_name: field_id} for a registered schema. Tables created
    before field-id tracking fall back to a name-keyed identity map —
    id equality degenerates to name equality, i.e. today's behavior."""
    m = (st.get("schema_fields") or {}).get(str(schema_id))
    if m is not None:
        return m
    sch = T.StructType.fromJson(st["schemas"][str(schema_id)])
    return {f.name: f.name for f in sch.fields}


class SnapshotTable:
    """Handle to a snapshot-committed table rooted at ``root``.

    ``branch`` opens a WRITABLE branch (see `lake/branch.py`): commits go to
    the branch's own log lineage at ``_log/branches/<name>/`` while data
    files share the table's ``data/`` dir. The main handle stays the single
    root for file lifecycle — `expire_snapshots` / `remove_orphans` refuse
    to run on a branch handle and the main sweeps keep every
    branch-referenced file live."""

    def __init__(self, root: str, branch: str | None = None):
        self.root = root
        self.branch = branch
        self._state: dict[str, Any] | None = None
        self._version: int | None = None
        self._branch_base_cache: int | None = None

    # ------------------------------------------------------------- creation
    @classmethod
    def create(
        cls,
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        num_buckets: int = 16,
        properties: dict[str, str] | None = None,
    ) -> "SnapshotTable":
        os.makedirs(os.path.join(root, _LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, _DATA_DIR), exist_ok=True)
        t = cls(root)
        # register the nullability shape parquet round-trips to — anything
        # stricter (array containsNull=false from an array() expression)
        # would make the table reject its own files on read-alignment
        schema = normalize_nullability(schema)
        state = {
            "version": 0,
            "snapshot_id": uuid.uuid4().hex,
            "parent_snapshot_id": None,
            "ts": _now(),
            "operation": "create",
            "current_schema_id": 0,
            "schemas": {"0": schema.jsonValue()},
            # stable field ids ({name: id} per schema): rename/drop are
            # metadata-only — reads resolve written columns by id, not name
            "schema_fields": {"0": {f.name: i for i, f in enumerate(schema.fields)}},
            "partition": {"kind": "bucket", "key": key_cols, "num_buckets": num_buckets, "hash": "murmur3"},
            "files": [],
            "applied_batches": {},
            "fence_watermarks": {},
            "refs": {},
            "properties": properties or {},
            "lineage": {"operation": "create"},
            "summary": {"total_rows": 0, "total_bytes": 0, "total_files": 0},
        }
        t._write_commit(state, expected_version=0)
        return t

    @classmethod
    def exists(cls, root: str) -> bool:
        log = os.path.join(root, _LOG_DIR)
        return os.path.isdir(log) and any(f.endswith(".json") for f in os.listdir(log))

    # ------------------------------------------------------------- log I/O
    def _log_dir(self) -> str:
        if self.branch is None:
            return os.path.join(self.root, _LOG_DIR)
        return os.path.join(self.root, _LOG_DIR, _BRANCH_DIR, self.branch)

    def _log_path(self, version: int) -> str:
        return os.path.join(self._log_dir(), f"{version:011d}.json")

    def _ckpt_path(self, version: int) -> str:
        return os.path.join(self._log_dir(), f"{version:011d}.ckpt.json")

    def _branch_base(self) -> int:
        """Oldest version present in a branch's own log = the fork point
        (the branch_create full-state entry). Versions below it belong to
        the shared pre-fork history and are served from the main log."""
        if self.branch is None:
            return 0
        if self._branch_base_cache is None:
            log = self._log_dir()
            versions = [
                int(f[:-5])
                for f in os.listdir(log)
                if f.endswith(".json")
                and not f.endswith(".ckpt.json")
                and not f.endswith(".tmp.json")
            ]
            if not versions:
                raise FileNotFoundError(f"branch log is empty: {log}")
            self._branch_base_cache = min(versions)
        return self._branch_base_cache

    def _latest_version(self) -> int:
        log = self._log_dir()
        versions = [
            int(f[:-5])
            for f in os.listdir(log)
            if f.endswith(".json") and not f.endswith(".ckpt.json") and not f.endswith(".tmp.json")
        ]
        if not versions:
            raise FileNotFoundError(f"no commits in {log}")
        return max(versions)

    def _read_entry(self, version: int) -> dict[str, Any]:
        path = self._log_path(version)
        if self.branch is not None and version < self._branch_base():
            # pre-fork history is shared: time travel below the fork point
            # reads the main log (the branch log starts at its base entry)
            path = os.path.join(self.root, _LOG_DIR, f"{version:011d}.json")
        with open(path) as fh:
            return json.load(fh)

    def refresh(self) -> "SnapshotTable":
        """Sync to the latest committed version. Incremental: a cached state
        only replays the deltas committed since — O(new commits), not
        O(table) — so a long-running writer's per-batch refresh cost is a
        handful of small JSON reads."""
        latest = self._latest_version()
        if (
            self._state is not None
            and self._version is not None
            and self._version <= latest
        ):
            state = self._state
            for v in range(self._version + 1, latest + 1):
                entry = self._read_entry(v)
                state = _apply_delta(state, entry) if entry.get("type") == "delta" else entry
            self._state, self._version = state, latest
        else:
            self._state = self._reconstruct(latest)
            self._version = latest
        return self

    @property
    def state(self) -> dict[str, Any]:
        if self._state is None:
            self.refresh()
        return self._state  # type: ignore[return-value]

    @property
    def version(self) -> int:
        if self._version is None:
            self.refresh()
        return self._version  # type: ignore[return-value]

    def _reconstruct(self, version: int) -> dict[str, Any]:
        """Full state at ``version``: walk back to the nearest checkpoint
        cache or full-state entry (v0 create; pre-delta-log commits are full
        states too), then replay deltas forward."""
        deltas: list[dict[str, Any]] = []
        cur = version
        state: dict[str, Any] | None = None
        while cur >= 0:
            ck = self._ckpt_path(cur)
            if self.branch is not None and cur < self._branch_base():
                ck = os.path.join(self.root, _LOG_DIR, f"{cur:011d}.ckpt.json")
            if os.path.exists(ck):
                with open(ck) as fh:
                    state = json.load(fh)
                break
            entry = self._read_entry(cur)
            if entry.get("type") != "delta":
                state = entry
                break
            deltas.append(entry)
            cur -= 1
        if state is None:
            raise FileNotFoundError(f"no full state at or below version {version}")
        for d in reversed(deltas):
            state = _apply_delta(state, d)
        return state

    def state_at(self, version: int) -> dict[str, Any]:
        if self._version == version and self._state is not None:
            return self._state
        return self._reconstruct(version)

    def history(self) -> list[dict[str, Any]]:
        """Per-commit metadata (version/snapshot/operation/lineage), one log
        read per commit — NOT full states (reconstructing every version
        would be quadratic)."""
        out = []
        for v in range(self._latest_version() + 1):
            e = self._read_entry(v)
            out.append(
                {
                    "version": e["version"],
                    "snapshot_id": e["snapshot_id"],
                    "operation": e["operation"],
                    "lineage": e.get("lineage") or {},
                }
            )
        return out

    # ------------------------------------------------------------ metadata
    @property
    def schema(self) -> T.StructType:
        st = self.state
        return T.StructType.fromJson(st["schemas"][str(st["current_schema_id"])])

    def schema_for(self, schema_id: int) -> T.StructType:
        return T.StructType.fromJson(self.state["schemas"][str(schema_id)])

    @property
    def key_cols(self) -> list[str]:
        return self.state["partition"]["key"]

    @property
    def num_buckets(self) -> int:
        return self.state["partition"]["num_buckets"]

    def applied_batches(self) -> dict[str, Any]:
        return self.state["applied_batches"]

    def is_batch_applied(self, batch_id: str) -> bool:
        """Exactly-once fence: in the bounded map, OR at/below the feed's
        contiguous epoch watermark (entries truncated from the map are
        still fenced — the watermark proves they applied)."""
        if batch_id in self.state["applied_batches"]:
            return True
        p = _parse_fence(batch_id)
        if p is None:
            return False
        return p[1] <= self.state.get("fence_watermarks", {}).get(p[0], -1)

    def refs(self) -> dict[str, Any]:
        return self.state.get("refs", {})

    # ------------------------------------------------------------- publish
    def set_ref(self, name: str, version: int | None = None) -> CommitInfo:
        """Atomically point a named ref at a snapshot version — the engine's
        "publish" step: the Iceberg branch/tag analog of the reference's ES
        alias swap (`published/PublishUtils.scala:12-16`,
        `RunPublishClinical.scala:28-38`). Readers that pass ``ref=`` see the
        published snapshot only; later merges don't move it until the next
        publish. Physical data files are never deleted on commit, so every
        ref stays readable (time travel)."""
        self.refresh()
        target_version = self.version if version is None else version
        if target_version > self.version:
            raise ValueError(f"cannot publish future version {target_version}")
        target_state = self.state_at(target_version)
        for _ in range(20):
            self.refresh()
            st = self.state
            version_new = self.version + 1
            snapshot_id = uuid.uuid4().hex
            ts = _now()
            delta = {
                "type": "delta",
                "version": version_new,
                "snapshot_id": snapshot_id,
                "parent_snapshot_id": st["snapshot_id"],
                "ts": ts,
                "operation": "publish",
                "refs_set": {
                    name: {
                        "version": target_version,
                        "snapshot_id": target_state["snapshot_id"],
                        "ts": ts,
                    }
                },
                "lineage": {
                    "operation": "publish",
                    "ref": name,
                    "published_version": target_version,
                    "version": version_new,
                    "snapshot_id": snapshot_id,
                    "ts": ts,
                },
            }
            new_state = _apply_delta(st, delta)
            try:
                self._write_log(delta, expected_version=version_new)
            except FileExistsError:
                continue
            self._state, self._version = new_state, version_new
            self._maybe_checkpoint()
            return CommitInfo(version_new, snapshot_id, "publish", delta["lineage"])
        raise RuntimeError(
            f"set_ref({name!r}): lost the commit race 20 times under "
            "sustained concurrent writers; retry"
        )

    def drop_ref(self, name: str) -> CommitInfo:
        """Delete a named ref (metadata-only commit). The snapshot it
        pointed at stays readable by version until `expire_snapshots`
        reclaims it — dropping a ref releases the retention pin, nothing
        else."""
        self.refresh()
        if name not in self.refs():
            raise ValueError(f"no such ref: {name!r}")
        for _ in range(20):
            self.refresh()
            st = self.state
            version_new = self.version + 1
            snapshot_id = uuid.uuid4().hex
            ts = _now()
            delta = {
                "type": "delta",
                "version": version_new,
                "snapshot_id": snapshot_id,
                "parent_snapshot_id": st["snapshot_id"],
                "ts": ts,
                "operation": "drop_ref",
                "refs_set": {name: None},
                "lineage": {
                    "operation": "drop_ref",
                    "ref": name,
                    "version": version_new,
                    "snapshot_id": snapshot_id,
                    "ts": ts,
                },
            }
            new_state = _apply_delta(st, delta)
            try:
                self._write_log(delta, expected_version=version_new)
            except FileExistsError:
                continue
            self._state, self._version = new_state, version_new
            self._maybe_checkpoint()
            return CommitInfo(version_new, snapshot_id, "drop_ref", delta["lineage"])
        raise RuntimeError(
            f"drop_ref({name!r}): lost the commit race 20 times under "
            "sustained concurrent writers; retry (the ref is still set)"
        )

    def set_properties(self, props: dict[str, str]) -> CommitInfo:
        """Metadata-only property evolution (the `ALTER TABLE ... SET
        TBLPROPERTIES` analog): merged over existing properties in a new
        commit, so writers pick the change up on their next refresh and
        older snapshots keep the values they were written under. Used by
        maintenance ops that need a knob mid-life — e.g. `zorder_buckets`
        widening ``stats.columns`` so zone maps cover the curve columns."""
        self.refresh()
        return self.commit(
            operation="set_properties",
            new_files=[],
            properties_set=dict(props),
            lineage={"mode": "set_properties", "keys": sorted(props)},
        )
        raise RuntimeError("publish contention: gave up after 20 retries")

    def resolve_ref(self, name: str) -> int:
        refs = self.refs()
        if name not in refs:
            raise KeyError(f"unknown ref {name!r}; known: {sorted(refs)}")
        return refs[name]["version"]

    def version_at(self, ts: "str | datetime") -> int:
        """Latest version whose commit timestamp is <= ``ts`` — the
        resolution step of `FOR TIMESTAMP AS OF` time travel. Commit
        timestamps are UTC ISO-8601; a naive input is interpreted as UTC.
        Metadata-only (one small JSON read per commit); combine with
        ``read(version=...)``/``state_at``."""
        if isinstance(ts, str):
            ts = datetime.fromisoformat(ts)
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=timezone.utc)
        best = None
        for v in range(self._latest_version() + 1):
            e_ts = datetime.fromisoformat(self._read_entry(v)["ts"])
            if e_ts <= ts:
                best = v
            else:
                break  # commit timestamps are monotone (single log)
        if best is None:
            raise ValueError(f"no commit at or before {ts.isoformat()}")
        return best

    def rollback(self, version: int) -> CommitInfo:
        """Restore the table's logical state — file set, current schema
        pointer, partition spec — to an earlier snapshot, as a NEW commit
        (history is preserved; the Iceberg ``rollback_to_snapshot``
        semantics, not a log truncation). Data files are immutable and
        shared across snapshots, so this moves metadata only; the target
        must not have been expired.

        The exactly-once fence and refs are deliberately NOT rewound:
        batch ids applied after the rollback point stay fenced (the
        watermark is monotone), so re-ingesting that range needs fresh
        batch ids / a new feed name — rollback is for undoing a bad
        release, not for replaying the same epochs twice.
        """
        self.refresh()
        if version > self.version:
            raise ValueError(f"cannot roll back to future version {version}")
        floor = self.state.get("expire_below", 0)
        if version < floor:
            raise ValueError(
                f"version {version} was expired (oldest readable: {floor})"
            )
        target = self.state_at(version)
        cur = self.state
        replaced = {f["bucket"] for f in cur["files"]} | {
            f["bucket"] for f in target["files"]
        }
        return self.commit(
            operation="rollback",
            new_files=list(target["files"]),
            replaced_buckets=replaced,
            new_partition=(
                target["partition"] if target["partition"] != cur["partition"] else None
            ),
            set_current_schema_id=target["current_schema_id"],
            basis_version=self.version,
            lineage={"mode": "rollback", "restored_version": version,
                     "restored_snapshot_id": target["snapshot_id"]},
        )

    def rename_column(self, old: str, new: str) -> CommitInfo:
        """Rename a column, metadata-only: no file rewrite (Iceberg
        ``ALTER TABLE ... RENAME COLUMN``). The column's stable field id is
        carried to the new name, so reads resolve old files' data to the
        new name by id (`lake/schema.py:remap_by_field_id`). Partition key
        columns cannot be renamed (the bucket layout is addressed by name).

        Subsequent writer batches must adopt the new name: a batch still
        carrying the OLD name evolves it as a brand-new column (fresh id) —
        the same contract as Iceberg/Delta column mapping.
        """
        self.refresh()
        schema = self.schema
        names = set(schema.fieldNames())
        if old not in names:
            raise ValueError(f"no such column {old!r}; have {sorted(names)}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if old in self.key_cols:
            raise ValueError(f"cannot rename partition key column {old!r}")
        new_schema = T.StructType(
            [
                T.StructField(new if f.name == old else f.name, f.dataType,
                              f.nullable, f.metadata)
                for f in schema.fields
            ]
        )
        fields = dict(field_map(self.state, self.state["current_schema_id"]))
        fields[new] = fields.pop(old)
        return self.commit(
            operation="rename_column",
            new_files=[],
            new_schema=new_schema,
            field_ids=fields,
            lineage={"mode": "rename_column", "from": old, "to": new},
        )

    def drop_column(self, name: str) -> CommitInfo:
        """Drop a column, metadata-only: old files keep the bytes, reads
        omit the field by id; re-adding the same NAME later mints a fresh
        id, so the old data never bleeds back. Partition key columns can't
        be dropped; engine-managed columns (a MoR table's sequence and
        tombstone columns) shouldn't be — droppping them breaks winner
        resolution on the next merge."""
        self.refresh()
        schema = self.schema
        if name not in set(schema.fieldNames()):
            raise ValueError(f"no such column {name!r}")
        if name in self.key_cols:
            raise ValueError(f"cannot drop partition key column {name!r}")
        new_schema = T.StructType([f for f in schema.fields if f.name != name])
        fields = dict(field_map(self.state, self.state["current_schema_id"]))
        fields.pop(name)
        return self.commit(
            operation="drop_column",
            new_files=[],
            new_schema=new_schema,
            field_ids=fields,
            lineage={"mode": "drop_column", "column": name},
        )

    def evolve_schema_to(self, target_schema: T.StructType) -> "CommitInfo | None":
        """Metadata-only schema evolution commit (the `ALTER TABLE ... ADD
        COLUMNS` analog): adopt ``target_schema`` as the current schema
        without writing a single data row. Only additive/widening changes
        are allowed — the same compatibility contract the MERGE write path
        enforces (`lake/schema.py:schema_diff`); an incompatible change
        (dropped column, narrowed type) raises ValueError, exactly like a
        batch carrying it would. New columns mint fresh field ids; existing
        columns keep theirs, so old files keep resolving by id.

        Use case: a follower table (mirror, diff-apply) adopting its
        upstream's evolved schema BEFORE applying data that carries the new
        columns — evolution stays metadata-only on both sides. Returns None
        when the schema is already current (no empty commit)."""
        from kf_etl_clin_portal_spark.lake.schema import (
            evolve_schema,
            normalize_nullability,
            schema_diff,
        )

        self.refresh()
        target_schema = normalize_nullability(target_schema)
        if target_schema == self.schema:
            return None
        diff = schema_diff(self.schema, target_schema)
        evolved = normalize_nullability(evolve_schema(self.schema, diff))
        if evolved == self.schema:
            # target only narrows/omits columns — nothing to adopt
            return None
        return self.commit(
            operation="evolve_schema",
            new_files=[],
            new_schema=evolved,
            lineage={
                "mode": "evolve_schema",
                "added": sorted(f.name for f in diff.added),
                "widened": sorted(n for n, _ in diff.widened),
            },
        )

    # allowed (spark typeName -> python literal types) for initial defaults
    _DEFAULT_TYPES = {
        "string": (str,),
        "boolean": (bool,),
        "byte": (int,), "short": (int,), "integer": (int,), "long": (int,),
        "float": (int, float), "double": (int, float),
        "date": (str,), "timestamp": (str,), "decimal": (str, int, float),
    }

    def add_column(
        self, name: str, dtype: "T.DataType | str", default: Any = None
    ) -> CommitInfo:
        """ALTER TABLE ADD COLUMN with an optional *initial default* — the
        Iceberg v3 ``initial-default`` semantics: metadata-only commit; rows
        written BEFORE the column existed read back ``default`` instead of
        NULL (applied at scan time to pre-add file groups — no backfill
        rewrite of a 100 TB table), while rows written after store the
        column explicitly, so a post-add NULL stays NULL (this is
        initial-default, not write-default). Defaults are keyed by the
        column's stable FIELD ID, so they survive `rename_column`; a
        `drop_column` retires the id and the default with it.

        The reference has no default story — a column added mid-history
        reads back null for old rows (`KFVCFUtils.scala:122-174`
        add-missing-as-null); here a rollout can give history a meaningful
        value without touching a byte of data."""
        if isinstance(dtype, str):
            dtype = T._parse_datatype_string(dtype)
        self.refresh()
        st = self.state
        cur = self.schema
        if name in {f.name for f in cur.fields}:
            raise ValueError(f"column {name!r} already exists")
        defaults_set = None
        parent_map = field_map(st, st["current_schema_id"])
        legacy = isinstance(next(iter(parent_map.values()), 0), str)
        if legacy:
            fid: "int | str" = name
        else:
            taken = [
                v
                for m in (st.get("schema_fields") or {}).values()
                for v in m.values()
                if isinstance(v, int)
            ]
            fid = max(taken, default=-1) + 1
        if default is not None:
            tn = dtype.typeName()
            allowed = self._DEFAULT_TYPES.get(tn)
            if allowed is None:
                raise ValueError(
                    f"initial default not supported for type {tn!r} "
                    "(primitive types only)"
                )
            if not isinstance(default, allowed) or (
                tn not in ("boolean",) and isinstance(default, bool)
            ):
                raise ValueError(
                    f"default {default!r} is not a valid {tn} literal"
                )
            defaults_set = {str(fid): {"value": default, "type": dtype.simpleString()}}
        new_schema = T.StructType(
            list(cur.fields) + [T.StructField(name, dtype, True)]
        )
        return self.commit(
            operation="add_column",
            new_files=[],
            new_schema=new_schema,
            field_ids={**parent_map, name: fid},
            defaults_set=defaults_set,
            lineage={
                "mode": "add_column",
                "column": name,
                "type": dtype.simpleString(),
                "has_default": default is not None,
            },
        )

    def _live_paths(self, floor: int) -> set[str]:
        """Every data-file AND deletion-vector path referenced by any
        retained version in [floor, current] — the keep-set both sweepers
        (`remove_orphans`, `expire_snapshots`) honor."""
        st0 = self.state_at(floor)
        live = {f["path"] for f in st0["files"]}
        live.update(p for d in (st0.get("dv") or []) for p in d["paths"])
        for v in range(floor + 1, self.version + 1):
            e = self._read_entry(v)
            if e.get("type") == "delta":
                live.update(f["path"] for f in e.get("new_files") or [])
                live.update(p for d in (e.get("new_dv") or []) for p in d["paths"])
            else:
                live.update(f["path"] for f in e["files"])
                live.update(p for d in (e.get("dv") or []) for p in d["paths"])
        if self.branch is None:
            # branch lineages share data/: every file any branch commit
            # references must survive the main handle's sweeps. Branch logs
            # are O(branch commits) small JSONs — a metadata walk, no scans.
            bdir = os.path.join(self.root, _LOG_DIR, _BRANCH_DIR)
            if os.path.isdir(bdir):
                for name in os.listdir(bdir):
                    blog = os.path.join(bdir, name)
                    if not os.path.isdir(blog):
                        continue
                    for fn in os.listdir(blog):
                        if not fn.endswith(".json") or fn.endswith(".tmp.json"):
                            continue
                        with open(os.path.join(blog, fn)) as fh:
                            e = json.load(fh)
                        for f in e.get("new_files") or e.get("files") or []:
                            live.add(f["path"])
                        for d in e.get("new_dv") or e.get("dv") or []:
                            live.update(d["paths"])
        return live

    def remove_orphans(self, grace_secs: float = 3600.0) -> dict[str, Any]:
        """Delete data files on disk that no retained snapshot references —
        leftovers of crashed writers (staged output whose commit never
        happened) and of conflicted attempts whose `discard_files` didn't
        run. The Iceberg ``remove_orphan_files`` maintenance action.

        ``grace_secs`` guards the race with an in-flight writer: a file
        younger than the grace window may belong to a commit that is about
        to happen, so only files (and ``_staging_`` dirs) older than the
        grace are touched. Unlike `expire_snapshots` this never advances
        the expiry floor — every readable snapshot stays readable.
        """
        import time as _time

        if self.branch is not None:
            raise ValueError(
                "remove_orphans must run on the main table handle — branches "
                "share data/ and only the main sweep sees every lineage"
            )
        self.refresh()
        floor = self.state.get("expire_below", 0)
        live = self._live_paths(floor)
        cutoff = _time.time() - grace_secs
        deleted, reclaimed = 0, 0
        data_root = os.path.join(self.root, _DATA_DIR)
        for dirpath, dirnames, filenames in os.walk(data_root):
            stale_staging = [
                d for d in dirnames
                if d.startswith("_staging_")
                and os.path.getmtime(os.path.join(dirpath, d)) < cutoff
            ]
            dirnames[:] = [d for d in dirnames if not d.startswith("_staging_")]
            for d in stale_staging:
                p = os.path.join(dirpath, d)
                reclaimed += sum(
                    os.path.getsize(os.path.join(dp, fn))
                    for dp, _, fns in os.walk(p)
                    for fn in fns
                )
                deleted += 1
                _rmtree(p)
            for fn in filenames:
                if not fn.endswith(".parquet"):
                    continue
                abs_p = os.path.join(dirpath, fn)
                if (
                    os.path.relpath(abs_p, self.root) not in live
                    and os.path.getmtime(abs_p) < cutoff
                ):
                    reclaimed += os.path.getsize(abs_p)
                    os.unlink(abs_p)
                    deleted += 1
        return {"orphans_deleted": deleted, "bytes_reclaimed": reclaimed}

    def scrub_stats(self, cols: list[str]) -> int:
        """Remove zone-map min/max for ``cols`` from EVERY log entry and
        checkpoint cache — the compliance companion of `expire_snapshots`:
        the JSON log is never truncated, so a purged string column's
        min/max VALUES would otherwise survive verbatim in expired commits'
        manifests forever. Pruning treats a missing stats entry as "may
        match", so scrubbing is always read-safe — it only disables file
        skipping on those columns for the files that kept them. Rewrites
        are atomic (tmp+rename; any reader sees a valid entry either way).
        Returns the number of file entries scrubbed. Single-maintainer
        action, like compaction/expiry."""
        want = set(cols)

        def walk(obj) -> int:
            n = 0
            if isinstance(obj, dict):
                st = obj.get("stats")
                if isinstance(st, dict) and "path" in obj:
                    hit = want & set(st)
                    if hit:
                        for c in hit:
                            del st[c]
                        if not st:
                            del obj["stats"]
                        n += 1
                for v in obj.values():
                    n += walk(v)
            elif isinstance(obj, list):
                for v in obj:
                    n += walk(v)
            return n

        log_dirs = [os.path.join(self.root, _LOG_DIR)]
        bdir = os.path.join(self.root, _LOG_DIR, _BRANCH_DIR)
        if os.path.isdir(bdir):
            # compliance must reach branch lineages too — a branch's
            # full-state base entry carries the same stats verbatim
            log_dirs += [
                os.path.join(bdir, d)
                for d in os.listdir(bdir)
                if os.path.isdir(os.path.join(bdir, d))
            ]
        scrubbed = 0
        for log_dir in log_dirs:
            for fn in sorted(os.listdir(log_dir)):
                if not fn.endswith(".json"):
                    continue
                path = os.path.join(log_dir, fn)
                with open(path) as fh:
                    entry = json.load(fh)
                n = walk(entry)
                if n:
                    tmp = path + f".tmp.{uuid.uuid4().hex}"
                    with open(tmp, "w") as fh:
                        json.dump(entry, fh)
                    os.replace(tmp, path)
                    scrubbed += n
        if scrubbed:
            # drop the cached state so scrubbed stats don't linger in memory
            self._state = None
            self._version = None
        return scrubbed

    # ---------------------------------------------------------- maintenance
    def expire_snapshots(self, keep_last: int = 1) -> dict[str, Any]:
        """Physically reclaim data files referenced ONLY by snapshots older
        than the last ``keep_last`` versions — the Iceberg expire_snapshots
        maintenance action, and the thing that bounds storage over a
        long-lived stream (every CoW merge / compaction / rebucket strands
        the files it replaced for time travel; without expiry a stream's
        storage grows with write amplification forever).

        Ref targets (published snapshots) are always retained, so the floor
        never rises past a live ref. Order is metadata-first: the ``expire``
        commit advances ``expire_below`` (readers of older versions now get
        an actionable error instead of missing-file scans), THEN files
        unreferenced by any retained version are deleted — a crash between
        the two leaves harmless stranded files that the next expiry sweeps.
        The JSON log itself is never truncated (it is O(KB)/commit and the
        checkpoint caches bound replay; data bytes are what matter).

        Single-maintainer action (like compaction); returns
        {expired_below, files_deleted, bytes_reclaimed}.
        """
        if self.branch is not None:
            raise ValueError(
                "expire_snapshots must run on the main table handle — branches "
                "share data/ and only the main sweep sees every lineage"
            )
        self.refresh()
        latest = self.version
        floor = max(0, latest - keep_last + 1)
        for r in self.refs().values():
            floor = min(floor, r["version"])
        floor = max(floor, self.state.get("expire_below", 0))  # never regress
        if floor > self.state.get("expire_below", 0):
            self.commit(
                operation="expire",
                new_files=[],
                lineage={"mode": "expire", "expired_below": floor,
                         "keep_last": keep_last},
                expire_below=floor,
            )
        # sweep always runs (floor unchanged ⇒ deletes only files a crashed
        # earlier expiry or writer left stranded)

        # live = files referenced by ANY retained version [floor, latest+1]
        live = self._live_paths(floor)

        deleted, reclaimed = 0, 0
        data_root = os.path.join(self.root, _DATA_DIR)
        for dirpath, dirnames, filenames in os.walk(data_root):
            dirnames[:] = [d for d in dirnames if not d.startswith("_staging_")]
            for fn in filenames:
                if not fn.endswith(".parquet"):
                    continue
                abs_p = os.path.join(dirpath, fn)
                if os.path.relpath(abs_p, self.root) not in live:
                    reclaimed += os.path.getsize(abs_p)
                    os.unlink(abs_p)
                    deleted += 1
        return {
            "expired_below": floor,
            "files_deleted": deleted,
            "bytes_reclaimed": reclaimed,
        }

    # ------------------------------------------------------------- reading
    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        buckets: list[int] | None = None,
        ref: str | None = None,
        stats_filter: dict[str, tuple[Any, Any]] | None = None,
        as_of: "str | datetime | None" = None,
        _with_lineage: bool = False,
    ) -> DataFrame:
        """Read a snapshot, optionally pruned to a bucket subset, optionally
        at a published ref (``ref="published"``), explicit version, or
        commit timestamp (``as_of`` — `FOR TIMESTAMP AS OF`, resolved via
        `version_at`).

        ``stats_filter={col: (lo, hi)}`` additionally skips files whose zone
        map proves no row in [lo, hi] (either bound may be None) — manifest
        metadata only, no file I/O for skipped files. It is a FILE filter,
        not a row filter: surviving files still contain out-of-range rows,
        so callers apply the row predicate too (and should — Spark then
        pushes it into the parquet scan for row-group skipping within the
        surviving files).

        Files are grouped by schema_id; each group is read with its own
        schema then aligned to the snapshot's current schema (cast +
        null-backfill) and unioned — schema evolution without rewrites.
        """
        if sum(x is not None for x in (version, ref, as_of)) > 1:
            raise ValueError("pass at most one of version, ref, as_of")
        if ref is not None:
            version = self.resolve_ref(ref)
        if as_of is not None:
            version = self.version_at(as_of)
        if version is not None:
            floor = self.state.get("expire_below", 0)
            if version < floor:
                raise ValueError(
                    f"version {version} was expired by expire_snapshots "
                    f"(oldest readable: {floor}); its data files are deleted"
                )
        st = self.state if version is None else self.state_at(version)
        current = T.StructType.fromJson(st["schemas"][str(st["current_schema_id"])])
        files = st["files"]
        if buckets is not None:
            wanted = set(buckets)
            files = [f for f in files if f["bucket"] in wanted]
        if stats_filter:
            files = [f for f in files if _file_may_match(f, stats_filter)]
        if not files:
            empty = current if not _with_lineage else T.StructType(
                current.fields
                + [T.StructField(_DV_FILE, T.StringType()),
                   T.StructField(_DV_POS, T.LongType())]
            )
            return spark.createDataFrame([], empty)
        # deletion vectors covering any surviving file: rows are read with
        # parquet (file, row_index) lineage and the hidden positions are
        # anti-joined away — no data file was rewritten to delete them
        dv = [
            d for d in (st.get("dv") or [])
            if {f["path"] for f in files} & set(d["files"])
        ]
        lineage = bool(dv) or _with_lineage
        target = current
        if lineage:
            target = T.StructType(
                current.fields
                + [T.StructField(_DV_FILE, T.StringType()),
                   T.StructField(_DV_POS, T.LongType())]
            )
        by_schema: dict[int, list[str]] = {}
        for f in files:
            by_schema.setdefault(f["schema_id"], []).append(os.path.join(self.root, f["path"]))
        cur_map = field_map(st, st["current_schema_id"])
        # initial defaults (add_column): {current name: {"value", "type"}}
        # for every live field id carrying one — applied by align_df ONLY
        # where the file group predates the column (absent from the group)
        col_defaults = st.get("column_defaults") or {}
        defaults_by_name = {
            fname: col_defaults[str(fid)]
            for fname, fid in cur_map.items()
            if str(fid) in col_defaults
        }
        parts = []
        for schema_id, paths in by_schema.items():
            group_schema = T.StructType.fromJson(st["schemas"][str(schema_id)])
            df = spark.read.schema(group_schema).parquet(*paths)
            # field-id resolution first (renamed columns keep their data,
            # dropped ids vanish), then cast/backfill to the current schema
            gmap, cmap = field_map(st, schema_id), cur_map
            if lineage:
                df = df.select(
                    "*",
                    F.col("_metadata.file_path").alias(_DV_FILE),
                    F.col("_metadata.row_index").alias(_DV_POS),
                )
                gmap = {**gmap, _DV_FILE: _DV_FILE, _DV_POS: _DV_POS}
                cmap = {**cmap, _DV_FILE: _DV_FILE, _DV_POS: _DV_POS}
            df = remap_by_field_id(df, gmap, cmap)
            parts.append(align_df(df, target, defaults=defaults_by_name))
        out = reduce(DataFrame.unionByName, parts)
        if lineage:
            # _metadata.file_path is a URI ("file:///abs/…"); manifests
            # store root-relative paths — normalize once for both the DV
            # anti-join and lineage-requesting callers
            prefix_len = len(os.path.abspath(self.root)) + 2  # 1-based + "/"
            out = out.withColumn(
                _DV_FILE,
                F.substring(
                    F.regexp_replace(F.col(_DV_FILE), "^[a-zA-Z0-9+.-]+:/+", "/"),
                    prefix_len, 1 << 30,
                ),
            )
        if dv:
            out = self._anti_join_dv(spark, out, dv)
        if lineage and not _with_lineage:
            out = out.select(*[f.name for f in current.fields])
        return out

    def _read_with_lineage(self, spark: SparkSession, **kw) -> DataFrame:
        """`read` plus `_DV_FILE` (root-relative data-file path) and
        `_DV_POS` (parquet row index) columns — existing DVs already
        applied, so positions emitted here are live, never double-hidden."""
        return self.read(spark, _with_lineage=True, **kw)

    def _anti_join_dv(
        self, spark: SparkSession, df: DataFrame, dv: list[dict[str, Any]]
    ) -> DataFrame:
        """Anti-join the union of ``dv`` entries' (file, pos) sets against a
        frame carrying root-relative `_DV_FILE` / `_DV_POS` lineage. Small
        DVs broadcast (the common case — a delete touches a sliver of the
        table); large ones fall back to a shuffled anti-join rather than
        OOM the executors."""
        paths = [os.path.join(self.root, p) for d in dv for p in d["paths"]]
        dvdf = spark.read.schema(
            T.StructType([T.StructField("file", T.StringType()),
                          T.StructField("pos", T.LongType())])
        ).parquet(*paths)
        if sum(d["rows"] for d in dv) <= _DV_BROADCAST_ROWS:
            dvdf = F.broadcast(dvdf)
        return df.join(
            dvdf,
            (F.col(_DV_FILE) == dvdf["file"]) & (F.col(_DV_POS) == dvdf["pos"]),
            "left_anti",
        )

    # ------------------------------------------------------------- writing
    def write_data_files(
        self, df: DataFrame, schema_id: int, presorted: bool = False
    ) -> list[dict[str, Any]]:
        """Write df (which must carry BUCKET_COL) as parquet files laid out
        by bucket; returns file entries for a subsequent commit().

        One output file per bucket per writer task (the merge path
        repartitions by bucket first, so normally exactly one); the
        ``write.target_rows_per_file`` table property additionally splits
        oversized buckets into multiple files (Spark's maxRecordsPerFile) —
        at 100 TB a 64-bucket table would otherwise mean ~1.5 TB parquet
        files; readers handle any number of files per bucket, so splitting
        is purely a file-granularity knob (combine with `rebucket` for the
        parallelism knob). File stats (rows/bytes) read from parquet
        footers via pyarrow — no extra Spark job.

        Zone maps: per-file [min, max] for the columns named by the
        ``stats.columns`` table property (default ``seq``) are lifted from
        the same footer read into the manifest entry (``"stats"``), so
        range-predicate reads (`read(stats_filter=...)`) skip whole files
        from metadata alone — the Iceberg manifest-stats / Delta data-skipping
        analog. Costs zero extra I/O: the parquet writer already computed
        row-group statistics and the footer is already being parsed.
        """
        import pyarrow.parquet as pq

        staging = os.path.join(self.root, _DATA_DIR, f"_staging_{uuid.uuid4().hex}")
        target_rows = int(self.state["properties"].get("write.target_rows_per_file", 0))
        # ``write.sort.columns``: keep every written file sorted on the named
        # columns (task-local sort — no extra shuffle; the caller already
        # repartitioned by bucket). Two effects at scale: parquet row-group
        # stats inside each file become tight (row-group skipping on range
        # scans), and — combined with ``write.target_rows_per_file`` — an
        # oversized bucket splits into files with near-disjoint value ranges,
        # so the manifest zone maps prune at FILE granularity continuously,
        # without waiting for a `cluster_buckets`/`zorder_buckets` rewrite
        # (those remain the tools for re-clustering history; this keeps new
        # data born clustered — the Iceberg write-order / Delta OPTIMIZE-less
        # clustering analog).
        # ``presorted=True`` (the zorder/cluster rewrites) means the caller
        # already ordered rows deliberately — the property sort must not
        # clobber an explicitly requested clustering.
        sort_cols = [
            c.strip()
            for c in self.state["properties"].get("write.sort.columns", "").split(",")
            if c.strip() and c.strip() in df.columns
        ]
        if sort_cols and not presorted:
            df = df.sortWithinPartitions(BUCKET_COL, *sort_cols)
        writer = df.write.mode("overwrite")
        if target_rows > 0:
            writer = writer.option("maxRecordsPerFile", target_rows)
        # Parquet bloom filters on the named columns (table property
        # ``write.bloom.columns``, e.g. "repo,path"): zone maps can't skip
        # within a bucket for high-cardinality EQUALITY probes (a bucket's
        # key range is the whole domain — min/max proves nothing), blooms
        # can. Spark's parquet reader consumes them transparently on
        # `key = literal` scans (point lookups over multi-file buckets);
        # costs ~1 MB/file per column at the default 1M-distinct sizing.
        for c in self.state["properties"].get("write.bloom.columns", "").split(","):
            if c.strip():
                writer = writer.option(f"parquet.bloom.filter.enabled#{c.strip()}", "true")
        # ``write.parquet.compression`` table property (snappy default;
        # zstd trades ~15-30% smaller files for write CPU — the right call
        # when the table is scanned far more than it's written; versioned
        # like every property, so old files keep their codec and readers
        # never care)
        codec = self.state["properties"].get("write.parquet.compression", "").strip()
        if codec:
            writer = writer.option("compression", codec)
        (
            writer
            # dictionary encoding is pure overhead for this table shape: the
            # dominant column (content) is high-cardinality long text, so
            # every writer builds a dictionary to the page limit, falls back
            # to plain, and churns heap meanwhile (measured: GC-bound write
            # tasks at ~35% CPU on multi-million-row batches). Snappy still
            # compresses the low-cardinality columns' plain pages fine.
            .option("parquet.enable.dictionary", "false")
            .partitionBy(BUCKET_COL)
            .parquet(staging)
        )
        moved: list[tuple[int, str, str]] = []  # (bucket, rel_path, abs_path)
        for bucket_dir in sorted(os.listdir(staging)):
            if not bucket_dir.startswith(f"{BUCKET_COL}="):
                continue
            bucket = int(bucket_dir.split("=", 1)[1])
            tgt_dir = os.path.join(self.root, _DATA_DIR, f"b={bucket}")
            os.makedirs(tgt_dir, exist_ok=True)
            for fn in os.listdir(os.path.join(staging, bucket_dir)):
                if not fn.endswith(".parquet"):
                    continue
                src = os.path.join(staging, bucket_dir, fn)
                new_name = f"part-{uuid.uuid4().hex}.parquet"
                dst = os.path.join(tgt_dir, new_name)
                os.rename(src, dst)
                moved.append((bucket, os.path.join(_DATA_DIR, f"b={bucket}", new_name), dst))

        # footer reads parallelized — a serial per-file loop here becomes the
        # Amdahl bottleneck of the whole merge at high core counts
        from concurrent.futures import ThreadPoolExecutor

        stats_cols = [
            c.strip()
            for c in self.state["properties"].get("stats.columns", "seq").split(",")
            if c.strip()
        ]

        def stat_one(item: tuple[int, str, str]) -> dict[str, Any]:
            bucket, rel, dst = item
            md = pq.read_metadata(dst)
            entry: dict[str, Any] = {
                "path": rel,
                "bucket": bucket,
                "schema_id": schema_id,
                "rows": md.num_rows,
                "bytes": os.path.getsize(dst),
            }
            # the tombstone flag's zone map rides along for free (footer is
            # already open): [False,False] is the manifest-level proof of an
            # all-live file that metastats' footer tier and scan.py's
            # estimate_rows lower bound otherwise pay a footer read for.
            # "is_deleted" = merge.TOMBSTONE_COL (no circular import).
            zones = _footer_zone_maps(md, stats_cols + ["is_deleted"])
            if zones:
                entry["stats"] = zones
            return entry

        with ThreadPoolExecutor(max_workers=16) as pool:
            entries = list(pool.map(stat_one, moved))
        _rmtree(staging)
        return entries

    def commit(
        self,
        operation: str,
        new_files: list[dict[str, Any]],
        replaced_buckets: set[int] | None = None,
        new_schema: T.StructType | None = None,
        batch_id: str | None = None,
        lineage: dict[str, Any] | None = None,
        new_partition: dict[str, Any] | None = None,
        max_retries: int = 20,
        expire_below: int | None = None,
        basis_version: int | None = None,
        set_current_schema_id: int | None = None,
        field_ids: dict[str, Any] | None = None,
        properties_set: dict[str, str] | None = None,
        new_dv: list[dict[str, Any]] | None = None,
        validate_buckets: set[int] | None = None,
        defaults_set: dict[str, Any] | None = None,
    ) -> CommitInfo:
        """Atomically commit: replace files of ``replaced_buckets`` with
        ``new_files``, optionally register an evolved schema, record the
        batch fence + lineage. Optimistic-retry on concurrent commit.

        The log entry is a DELTA (what changed); the full state is derived
        via `_apply_delta` — the same pure function every reader replays —
        so per-commit driver I/O is O(delta) regardless of table size.

        ``basis_version``: the snapshot version the writer READ to compute
        ``new_files``. Required for correctness whenever the commit replaces
        buckets: a bucket-replacing commit whose inputs are stale would
        silently drop rows another writer added to those buckets in between
        (lost update). With a basis set, intervening commits that touched
        any replaced bucket (or changed the partition spec) raise
        ``CommitConflict`` — the Iceberg/Delta validation step — and the
        caller recomputes from the new snapshot. Append-only commits
        (``replaced_buckets`` empty) compose with anything and need no
        basis; the blind optimistic retry remains correct for them.
        """
        for _ in range(max_retries):
            self.refresh()
            st = self.state
            if batch_id is not None and self.is_batch_applied(batch_id):
                raise BatchAlreadyApplied(batch_id)
            guarded = set(replaced_buckets or ()) | set(validate_buckets or ())
            if basis_version is not None and guarded:
                # validate_buckets extends the lost-update check to commits
                # that replace NO files but whose correctness still depends
                # on the basis snapshot's physical layout (deletion vectors:
                # positions are meaningless against a rewritten file)
                v = self._conflicting_version(basis_version, guarded)
                if v is not None:
                    raise CommitConflict(
                        f"{operation} computed on snapshot v{basis_version}, but "
                        f"v{v} touched replaced bucket(s) — recompute on v{self.version}"
                    )

            schema_add = None
            schema_id = st["current_schema_id"]
            if set_current_schema_id is not None:
                # point back at an ALREADY-registered schema (rollback):
                # no new registration, just move the pointer
                if str(set_current_schema_id) not in st["schemas"]:
                    raise ValueError(
                        f"schema id {set_current_schema_id} is not registered"
                    )
                schema_id = set_current_schema_id
            elif new_schema is not None:
                new_schema = normalize_nullability(new_schema)
                current = normalize_nullability(
                    T.StructType.fromJson(st["schemas"][str(schema_id)])
                )
                if new_schema != current:
                    parent_map = field_map(st, schema_id)
                    schema_id = max(int(k) for k in st["schemas"]) + 1
                    if field_ids is not None:
                        fields = field_ids  # rename/drop: explicit id carry-over
                    else:
                        # add/widen evolution: same name keeps its id, new
                        # names mint fresh ids never used by ANY schema (a
                        # dropped id must not be reused)
                        taken = [
                            v
                            for m in (st.get("schema_fields") or {}).values()
                            for v in m.values()
                            if isinstance(v, int)
                        ]
                        nxt = max(taken, default=-1) + 1
                        fields = {}
                        for f in new_schema.fields:
                            if f.name in parent_map:
                                fields[f.name] = parent_map[f.name]
                            elif isinstance(next(iter(parent_map.values()), 0), str):
                                fields[f.name] = f.name  # legacy identity map
                            else:
                                fields[f.name] = nxt
                                nxt += 1
                    schema_add = {
                        "id": schema_id,
                        "schema": new_schema.jsonValue(),
                        "fields": fields,
                    }

            version = self.version + 1
            snapshot_id = uuid.uuid4().hex
            lineage_row = dict(lineage or {})
            lineage_row.update(
                {
                    "version": version,
                    "snapshot_id": snapshot_id,
                    "operation": operation,
                    "batch_id": batch_id,
                    "ts": _now(),
                    "files_written": len(new_files),
                    "rows_written": sum(f["rows"] for f in new_files),
                    "bytes_written": sum(f["bytes"] for f in new_files),
                }
            )
            delta = {
                "type": "delta",
                "version": version,
                "snapshot_id": snapshot_id,
                "parent_snapshot_id": st["snapshot_id"],
                "ts": lineage_row["ts"],
                "operation": operation,
                "current_schema_id": schema_id,
                "schema_add": schema_add,
                "new_files": new_files,
                "new_dv": new_dv,
                "replaced_buckets": sorted(replaced_buckets) if replaced_buckets else [],
                "partition_set": new_partition,
                "properties_set": properties_set,
                "defaults_set": defaults_set,
                "expire_below": expire_below,
                "applied_batch": (
                    [
                        batch_id,
                        {
                            "version": version,
                            "snapshot_id": snapshot_id,
                            "seq_min": lineage_row.get("seq_min"),
                            "seq_max": lineage_row.get("seq_max"),
                        },
                    ]
                    if batch_id is not None
                    else None
                ),
                "lineage": lineage_row,
            }
            new_state = _apply_delta(st, delta)
            try:
                self._write_log(delta, expected_version=version)
            except FileExistsError:
                continue  # another writer won; re-read state and retry
            self._state, self._version = new_state, version
            self._maybe_checkpoint()
            return CommitInfo(version, snapshot_id, operation, lineage_row)
        raise RuntimeError(f"commit contention: gave up after {max_retries} retries")

    def _conflicting_version(
        self, basis_version: int, buckets: set[int]
    ) -> int | None:
        """First version in (basis, current] whose commit touched any of
        ``buckets`` — added files to them, replaced them, or changed the
        partition spec (rebucket invalidates every bucket id). Walks only
        the intervening log entries: O(commits since basis), metadata-only."""
        for v in range(basis_version + 1, self.version + 1):
            entry = self._read_entry(v)
            if entry.get("type") != "delta":
                return v  # legacy full-state commit: can't prove disjointness
            if entry.get("partition_set"):
                return v
            touched = set(entry.get("replaced_buckets") or [])
            touched.update(f["bucket"] for f in entry.get("new_files") or [])
            if touched & buckets:
                return v
        return None

    def discard_files(self, files: list[dict[str, Any]]) -> None:
        """Delete data files that were written but never committed (a
        conflicted attempt's output) so optimistic retries don't leak
        orphaned parquet."""
        for f in files:
            try:
                os.unlink(os.path.join(self.root, f["path"]))
            except FileNotFoundError:
                pass

    def _write_log(self, entry: dict[str, Any], expected_version: int) -> None:
        path = self._log_path(expected_version)
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(entry, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            # exclusive create = the atomic commit point
            with open(path, "x") as fh:
                with open(tmp) as src:
                    fh.write(src.read())
                fh.flush()
                os.fsync(fh.fileno())
        finally:
            os.unlink(tmp)

    def _write_commit(self, state: dict[str, Any], expected_version: int) -> None:
        """Write a FULL-state entry (create / pre-delta-log compatibility)."""
        self._write_log(state, expected_version)
        self._state, self._version = state, expected_version

    def _maybe_checkpoint(self) -> None:
        """Every ``log.checkpoint_interval`` commits, cache the full state as
        ``<v>.ckpt.json`` (atomic tmp+rename; derived + deterministic from
        the log, so racing writers produce identical bytes — last rename
        wins harmlessly). Bounds reconstruct/replay length for cold readers."""
        st, version = self._state, self._version
        if st is None or version is None:
            return
        interval = int(
            st["properties"].get("log.checkpoint_interval", _DEFAULT_CKPT_INTERVAL)
        )
        if interval <= 0 or version == 0 or version % interval != 0:
            return
        path = self._ckpt_path(version)
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(st, fh)
        os.replace(tmp, path)

    # ------------------------------------------------------------ manifest
    def manifest_df(self, spark: SparkSession) -> DataFrame:
        """Per-commit lineage as a DataFrame (the checkpoint/manifest table)."""
        rows = []
        for st in self.history():
            lin = dict(st.get("lineage") or {})
            rows.append(
                {
                    "version": st["version"],
                    "snapshot_id": st["snapshot_id"],
                    "operation": st["operation"],
                    "batch_id": lin.get("batch_id"),
                    "seq_min": lin.get("seq_min"),
                    "seq_max": lin.get("seq_max"),
                    "n_events": lin.get("n_events"),
                    "n_upserts": lin.get("n_upserts"),
                    "n_deletes": lin.get("n_deletes"),
                    "rows_written": lin.get("rows_written"),
                    "bytes_written": lin.get("bytes_written"),
                    "buckets_touched": lin.get("buckets_touched"),
                    "n_quarantined": lin.get("n_quarantined"),
                    "wall_secs": lin.get("wall_secs"),
                    "events_per_sec": lin.get("events_per_sec"),
                    "ts": lin.get("ts"),
                }
            )
        schema = T.StructType(
            [
                T.StructField("version", T.IntegerType()),
                T.StructField("snapshot_id", T.StringType()),
                T.StructField("operation", T.StringType()),
                T.StructField("batch_id", T.StringType()),
                T.StructField("seq_min", T.LongType()),
                T.StructField("seq_max", T.LongType()),
                T.StructField("n_events", T.LongType()),
                T.StructField("n_upserts", T.LongType()),
                T.StructField("n_deletes", T.LongType()),
                T.StructField("rows_written", T.LongType()),
                T.StructField("bytes_written", T.LongType()),
                T.StructField("buckets_touched", T.IntegerType()),
                T.StructField("n_quarantined", T.LongType()),
                T.StructField("wall_secs", T.DoubleType()),
                T.StructField("events_per_sec", T.LongType()),
                T.StructField("ts", T.StringType()),
            ]
        )
        return spark.createDataFrame(rows, schema)

    def files_df(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Per-partition lineage: one row per data file of a snapshot —
        the file's bucket (= hash partition), row count, bytes, kind
        (base/delta), zone-map stats, AND the commit that added it
        (version, snapshot id, batch id, source seq offset range) — the
        Iceberg ``files`` metadata-table analog, at the granularity the
        exactly-once audit needs: which source offsets landed in which
        partition file, under which snapshot. Metadata-only (one pass over
        the commit log, no data I/O); `manifest_df` is the per-commit
        rollup of the same lineage."""
        self.refresh()
        top = self.version if version is None else version
        st = self.state if version is None else self.state_at(version)
        added: dict[str, dict[str, Any]] = {}
        floor = st.get("expire_below", 0)
        for v in range(floor, top + 1):
            e = self._read_entry(v)
            lin = e.get("lineage") or {}
            info = {
                "added_version": e["version"],
                "added_snapshot_id": e["snapshot_id"],
                "operation": e["operation"],
                "batch_id": lin.get("batch_id"),
                "seq_min": lin.get("seq_min"),
                "seq_max": lin.get("seq_max"),
            }
            fs = e.get("new_files") if e.get("type") == "delta" else e.get("files")
            for f in fs or []:
                added[f["path"]] = info
        rows = [
            {
                "path": f["path"],
                "bucket": f["bucket"],
                "kind": f.get("kind", "base"),
                "rows": f.get("rows"),
                "bytes": f.get("bytes"),
                "schema_id": f["schema_id"],
                "stats_json": json.dumps(f.get("stats"), sort_keys=True)
                if f.get("stats") is not None
                else None,
                **added.get(
                    f["path"],
                    {
                        "added_version": None,
                        "added_snapshot_id": None,
                        "operation": None,
                        "batch_id": None,
                        "seq_min": None,
                        "seq_max": None,
                    },
                ),
            }
            for f in st["files"]
        ]
        schema = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("bucket", T.IntegerType()),
                T.StructField("kind", T.StringType()),
                T.StructField("rows", T.LongType()),
                T.StructField("bytes", T.LongType()),
                T.StructField("schema_id", T.IntegerType()),
                T.StructField("stats_json", T.StringType()),
                T.StructField("added_version", T.IntegerType()),
                T.StructField("added_snapshot_id", T.StringType()),
                T.StructField("operation", T.StringType()),
                T.StructField("batch_id", T.StringType()),
                T.StructField("seq_min", T.LongType()),
                T.StructField("seq_max", T.LongType()),
            ]
        )
        return spark.createDataFrame(rows, schema)


class BatchAlreadyApplied(Exception):
    """Raised when an epoch-fenced batch_id is committed twice (exactly-once)."""


def retry_on_conflict(attempt, attempts: int = 3):
    """Run ``attempt()`` (refresh → compute → commit with a basis version),
    recomputing on ``CommitConflict`` — the optimistic-concurrency outer loop
    every bucket-replacing writer (merge, compaction, vacuum, rebucket,
    overwrite_where) shares. Bounded: conflicts require a concurrent
    bucket-touching commit landing inside the attempt's window; ``attempts``
    recomputes cover any realistic interleaving, after which the conflict is
    surfaced to the caller (who is racing an unexpectedly hot writer)."""
    last: Exception | None = None
    for _ in range(attempts):
        try:
            return attempt()
        except CommitConflict as e:
            last = e
    raise last


class CommitConflict(Exception):
    """Raised when a bucket-replacing commit's basis snapshot is stale: an
    intervening commit touched the buckets being replaced, so committing
    would drop its rows (lost update). Caller must recompute on the current
    snapshot and try again."""


def _now() -> str:
    return datetime.now(timezone.utc).isoformat()


def _rmtree(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)
