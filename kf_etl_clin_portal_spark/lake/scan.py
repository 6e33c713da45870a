"""Predicate-driven scan planning: SQL WHERE string → pruned lake read.

`read(stats_filter=...)` / `lookup_keys` / `pruned_dim_join` expose the
manifest's pruning levers (bucket layout, per-file zone maps) but make the
CALLER translate a predicate into them.  This module closes the loop the
way Iceberg/Delta scan planning does: hand the engine the predicate it was
going to apply anyway, get back a read that touched only the files that
can matter —

    df = read_where(spark, table, "repo = 'r1' AND seq BETWEEN 10 AND 90")

1. the predicate is tokenized and split into top-level AND conjuncts
   (BETWEEN's inner AND respected; any top-level OR / NOT disables
   pruning — never the result);
2. equality / IN conjuncts that cover EVERY table key column become
   bucket pruning: the literal key tuples are hashed on the driver by
   `lake/table.py:key_buckets`, the copy of the table's partition transform
   `bucket_expr` (Spark's murmur3, typed by the table's key schema) that
   the property test `tests/test_bucket_route.py` holds equal to Spark's
   own evaluation — no Spark job — so a point/point-set predicate reads
   O(k) buckets of a 10^10-row table.  A literal whose Python type does
   not match its key column's type exactly (``k = 5.0`` on a long key,
   ``k = 5`` on a string key) prunes nothing;
3. range / equality conjuncts on zone-mapped columns (`stats.columns`
   table property) become a manifest file filter — whole files skipped
   from metadata alone;
4. the FULL original predicate is applied as the row filter regardless,
   and Spark pushes it into the parquet scan (row-group + bloom skipping
   inside the surviving files).

Pruning is therefore *superset-only*: an atom the planner doesn't
understand simply prunes nothing, it can never drop a qualifying row.
The one sharp edge is MoR delta files — a skipped delta can hide the
WINNING version of a key that still has a stale row in a kept base file
(the same stale-winner hazard `lake/joinview.py` routes around), so zone
file-skipping is only engaged on all-base snapshots; bucket pruning is
always safe (keys never span buckets).  `plan_scan` returns the decisions
(buckets, stats ranges, file counts, which path) for observability and
plan tests.

Reference parity: the reference has no predicate planner — every filtered
read is a full Delta scan relying on Spark's own partition pruning over
study_id (`etl/src/main/scala/bio/ferlab/etl/normalized/.../RunNormalize*`),
and point lookups are pushed to Elasticsearch after full re-index.  Here
the same WHERE string drives manifest pruning directly.
"""

from __future__ import annotations

import itertools
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kf_etl_clin_portal_spark.lake.merge import read_live
from kf_etl_clin_portal_spark.lake.spj import _pin, _schema_at
from kf_etl_clin_portal_spark.lake.table import (
    SnapshotTable,
    _file_may_match,
    key_buckets,
)

_TOKEN_RE = re.compile(
    r"""\s*(?:
      (?P<str>'(?:[^']|'')*')
    | (?P<num>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<op><=|>=|<>|!=|==|=|<|>)
    | (?P<lp>\()
    | (?P<rp>\))
    | (?P<comma>,)
    | (?P<word>[A-Za-z_][A-Za-z_0-9]*)
    )""",
    re.X,
)

_FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}


def _tokenize(where: str) -> list[tuple[str, Any]] | None:
    """→ [(kind, value)] or None when the text has anything the tiny
    grammar doesn't know (arithmetic, functions, casts, …) — the caller
    then plans no pruning and leaves the whole predicate to the row
    filter."""
    toks: list[tuple[str, Any]] = []
    pos = 0
    while pos < len(where):
        m = _TOKEN_RE.match(where, pos)
        if m is None:
            return None if where[pos:].strip() else toks
        pos = m.end()
        kind = m.lastgroup
        text = m.group(kind)
        if kind == "str":
            toks.append(("lit", text[1:-1].replace("''", "'")))
        elif kind == "num":
            toks.append(("lit", float(text) if ("." in text or "e" in text.lower()) else int(text)))
        elif kind == "word":
            up = text.upper()
            if up in ("TRUE", "FALSE"):
                toks.append(("lit", up == "TRUE"))
            elif up in ("AND", "OR", "NOT", "BETWEEN", "IN", "IS", "NULL", "LIKE", "RLIKE"):
                toks.append((up, up))
            else:
                toks.append(("ident", text))
        else:
            toks.append((kind, text))
    return toks


def _split_conjuncts(toks: list[tuple[str, Any]]) -> list[list[tuple[str, Any]]] | None:
    """Split on depth-0 AND (BETWEEN consumes its own AND). Depth-0 OR →
    None (no conjunctive structure to exploit)."""
    out: list[list[tuple[str, Any]]] = [[]]
    depth = 0
    pending_between = 0
    for t in toks:
        k = t[0]
        if k == "lp":
            depth += 1
        elif k == "rp":
            depth -= 1
        if depth == 0 and k == "BETWEEN":
            pending_between += 1
        if depth == 0 and k == "AND":
            if pending_between:
                pending_between -= 1
            else:
                out.append([])
                continue
        if depth == 0 and k == "OR":
            return None
        out[-1].append(t)
    return [c for c in out if c]


def _strip_parens(c: list[tuple[str, Any]]) -> list[tuple[str, Any]]:
    while len(c) >= 2 and c[0][0] == "lp" and c[-1][0] == "rp":
        depth = 0
        for i, t in enumerate(c):
            depth += t[0] == "lp"
            depth -= t[0] == "rp"
            if depth == 0 and i < len(c) - 1:
                return c  # outer parens don't span the whole conjunct
        c = c[1:-1]
    return c


class _Constraints:
    """Accumulated per-column knowledge from the understood conjuncts."""

    def __init__(self) -> None:
        self.eq: dict[str, set] = {}  # col -> intersected finite value set
        self.lo: dict[str, Any] = {}  # col -> max of lower bounds (incl.)
        self.hi: dict[str, Any] = {}  # col -> min of upper bounds (incl.)
        # bounds that came from EXPLICIT range conjuncts only (not derived
        # from eq sets) — `estimate_rows`'s eq-file proof must re-check
        # these, and must NOT be poisoned by the eq-derived envelope
        # (x = 5 derives lo = hi = 5; a strict check against that would
        # unprove every constant file).
        self.xlo: dict[str, Any] = {}
        self.xhi: dict[str, Any] = {}
        self.impossible = False

    def add_eq(self, col: str, values: set) -> None:
        cur = self.eq.get(col)
        self.eq[col] = values if cur is None else (cur & values)
        if not self.eq[col]:
            self.impossible = True
        try:
            self.add_range(col, min(values), max(values), derived=True)
        except TypeError:  # mixed-type IN list — range says nothing
            pass
        self._refine(col)

    def add_range(self, col: str, lo: Any, hi: Any, derived: bool = False) -> None:
        if lo is not None and (col not in self.lo or lo > self.lo[col]):
            self.lo[col] = lo
        if hi is not None and (col not in self.hi or hi < self.hi[col]):
            self.hi[col] = hi
        if not derived:
            if lo is not None and (col not in self.xlo or lo > self.xlo[col]):
                self.xlo[col] = lo
            if hi is not None and (col not in self.xhi or hi < self.xhi[col]):
                self.xhi[col] = hi
        l, h = self.lo.get(col), self.hi.get(col)
        if l is not None and h is not None:
            try:
                if l > h:
                    self.impossible = True
            except TypeError:
                pass
        self._refine(col)

    def _refine(self, col: str) -> None:
        """Intersect an eq set with the accumulated range on the same
        column (`x IN (1, 10) AND x < 5`): values strictly outside the
        inclusive [lo, hi] envelope can never match (ranges are stored
        inclusively even for strict ops, so only strict exclusion is
        sound). An emptied set is a contradiction → impossible."""
        vals = self.eq.get(col)
        if not vals:
            return
        lo, hi = self.lo.get(col), self.hi.get(col)
        try:
            kept = {
                v
                for v in vals
                if (lo is None or v >= lo) and (hi is None or v <= hi)
            }
        except TypeError:  # mixed types — cannot compare, keep everything
            return
        if kept != vals:
            self.eq[col] = kept
            if not kept:
                self.impossible = True


def _absorb(c: list[tuple[str, Any]], cons: _Constraints) -> bool:
    """Pattern-match one conjunct; silently contribute nothing when the
    shape isn't one of the known atoms (superset-only pruning). Returns
    whether the conjunct was FULLY absorbed into ``cons`` — pruning
    ignores this (superset-only either way); `estimate_rows`'s provable
    lower bound requires every conjunct understood."""
    c = _strip_parens(c)
    kinds = [t[0] for t in c]
    # ident op lit   /   lit op ident
    if kinds == ["ident", "op", "lit"] or kinds == ["lit", "op", "ident"]:
        if kinds[0] == "lit":
            lit, op, col = c[0][1], _FLIP.get(c[1][1], c[1][1]), c[2][1]
        else:
            col, op, lit = c[0][1], c[1][1], c[2][1]
        if op in ("=", "=="):
            cons.add_eq(col, {lit})
            return True
        elif op in (">", ">="):
            cons.add_range(col, lit, None)  # strict > kept inclusive: superset
            return True
        elif op in ("<", "<="):
            cons.add_range(col, None, lit)
            return True
        return False  # e.g. != / <> — contributes nothing
    # ident BETWEEN lit AND lit
    if kinds == ["ident", "BETWEEN", "lit", "AND", "lit"]:
        cons.add_range(c[0][1], c[2][1], c[4][1])
        return True
    # ident IN ( lit , lit , ... )
    if (
        len(c) >= 4
        and kinds[0] == "ident"
        and kinds[1] == "IN"
        and kinds[2] == "lp"
        and kinds[-1] == "rp"
        and all(k == ("comma" if i % 2 else "lit") for i, k in enumerate(kinds[3:-1]))
        and kinds[3:-1][-1:] == ["lit"]
    ):
        cons.add_eq(c[0][1], {t[1] for t in c[3:-1] if t[0] == "lit"})
        return True
    return False


def plan_scan(
    spark: SparkSession,
    table: SnapshotTable,
    where: str,
    version: int | None = None,
    ref: str | None = None,
    max_bucket_frac: float = 0.75,
    max_key_combos: int = 1024,
) -> dict[str, Any]:
    """Derive (buckets, stats_filter) from ``where`` at a pinned snapshot;
    metadata-only, no Spark job (key literals are hashed on the driver).
    See module docstring for the rules."""
    v = _pin(table, version, ref)
    st = table.state_at(v)
    files = st["files"]
    cons = _Constraints()
    toks = _tokenize(where)
    conjuncts = _split_conjuncts(toks) if toks is not None else None
    if conjuncts:
        for c in conjuncts:
            _absorb(c, cons)

    plan: dict[str, Any] = {
        "where": where,
        "version": v,
        "buckets": None,
        "stats_filter": None,
        "stats_path": "none",
        "files_total": len(files),
        "files_selected": len(files),
        "empty": cons.impossible,
    }
    if cons.impossible:
        plan["files_selected"] = 0
        return plan

    # ---- bucket pruning: every key col equality-constrained ------------
    key_cols = st["partition"]["key"]
    num_buckets = st["partition"]["num_buckets"]
    if all(col in cons.eq for col in key_cols):
        combos = list(itertools.product(*[cons.eq[c] for c in key_cols]))
        if 0 < len(combos) <= max_key_combos:
            schema = _schema_at(table, v)
            buckets = key_buckets(
                [schema[c].dataType for c in key_cols], combos, num_buckets
            )
            if buckets is not None and len(buckets) <= max_bucket_frac * num_buckets:
                plan["buckets"] = buckets

    # ---- zone-map file skipping (all-base snapshots only) --------------
    bset = set(plan["buckets"]) if plan["buckets"] is not None else None
    cand = [f for f in files if bset is None or f["bucket"] in bset]
    ranged = sorted(set(cons.lo) | set(cons.hi))
    sf = {c: (cons.lo.get(c), cons.hi.get(c)) for c in ranged}
    if sf:
        if any(f.get("kind") == "delta" for f in cand):
            # a skipped delta may hold the WINNING version of a key whose
            # stale row survives in a kept base file — same rule as
            # joinview's dim_path: scan, don't skip (bucket pruning above
            # stays; compaction restores the fast path)
            plan["stats_path"] = "mor-scan"
        else:
            plan["stats_filter"] = sf
            plan["stats_path"] = "pruned"
            cand = [f for f in cand if _file_may_match(f, sf)]
    plan["files_selected"] = len(cand)
    return plan


def read_where(
    spark: SparkSession,
    table: SnapshotTable,
    where: str,
    version: int | None = None,
    ref: str | None = None,
    seq_col: str = "seq",
    plan: dict[str, Any] | None = None,
) -> DataFrame:
    """LIVE state rows satisfying ``where``, reading only the files the
    manifest can't rule out.  Always exactly equal to
    ``read_live(...).where(where)`` — pruning is superset-only; the full
    predicate is re-applied as the row filter (and pushed into the parquet
    scan).  Pass a precomputed ``plan`` (from `plan_scan`) to skip
    re-planning."""
    table.refresh()
    if plan is None:
        plan = plan_scan(spark, table, where, version=version, ref=ref)
    v = plan["version"]
    if plan["empty"]:
        return read_live(spark, table, seq_col=seq_col, version=v, buckets=[])
    df = read_live(
        spark,
        table,
        seq_col=seq_col,
        version=v,
        buckets=plan["buckets"],
        stats_filter=plan["stats_filter"],
    )
    return df.where(F.expr(where))


# tombstone flag; = merge.TOMBSTONE_COL (import would be circular elsewhere,
# kept literal like lake/metastats.py does)
_TOMBSTONE = "is_deleted"


def estimate_rows(
    spark: SparkSession,
    table: SnapshotTable,
    where: str,
    version: int | None = None,
    ref: str | None = None,
) -> dict[str, Any]:
    """Metadata-only cardinality BOUNDS for a predicate — the Iceberg
    ``estimateStatistics`` analog, for monitoring probes and join-side
    planning decisions (broadcast or not, prune or not) that must not cost
    a 100 TB cluster scan. No data I/O and no Spark job.

    Returns ``upper`` / ``lower`` such that

        lower  <=  count(live rows satisfying where)  <=  upper

    always holds. ``upper`` sums physical rows of the files the manifest
    cannot rule out (bucket pruning + zone-map skipping — live rows are a
    subset of physical rows, so the bound survives MoR deltas, tombstones
    and deletion vectors). ``lower`` sums rows of files PROVEN from the
    manifest alone to be entirely live and entirely matching: every
    conjunct understood by the planner, file zone ranges strictly inside
    every range constraint (strictness sidesteps >/>= ambiguity — sound,
    conservatively so at the boundaries), equality columns constant at a
    wanted value, the tombstone flag's zone map proving zero dead rows,
    no delta file in the bucket (a delta could supersede base winners) and
    no deletion vector covering the file. Anything unprovable contributes
    0 to ``lower``, never an error.
    """
    plan = plan_scan(spark, table, where, version=version, ref=ref)
    v = plan["version"]
    st = table.state_at(v)
    files = st["files"]
    out: dict[str, Any] = {
        "where": where,
        "version": v,
        "upper": 0,
        "lower": 0,
        "files_counted": plan["files_selected"],
        "files_proven": 0,
        "files_total": len(files),
    }
    if plan["empty"]:
        return out

    bset = set(plan["buckets"]) if plan["buckets"] is not None else None
    cand = [f for f in files if bset is None or f["bucket"] in bset]
    if plan["stats_filter"]:
        cand = [f for f in cand if _file_may_match(f, plan["stats_filter"])]
    out["upper"] = sum(f["rows"] for f in cand)

    # ---- provable lower bound ------------------------------------------
    cons = _Constraints()
    toks = _tokenize(where)
    conjs = _split_conjuncts(toks) if toks is not None else None
    if not conjs or not all(_absorb(c, cons) for c in conjs) or cons.impossible:
        return out

    schema_names = {
        f["name"]
        for f in st["schemas"][str(st["current_schema_id"])]["fields"]
    }
    has_tomb = _TOMBSTONE in schema_names
    dv_covered = {p for d in (st.get("dv") or []) for p in d["files"]}
    delta_buckets = {f["bucket"] for f in files if f.get("kind") == "delta"}
    constrained = set(cons.eq) | set(cons.lo) | set(cons.hi)

    def proven(f: dict[str, Any]) -> bool:
        if f.get("kind") == "delta" or f["bucket"] in delta_buckets:
            return False
        if f["path"] in dv_covered:
            return False
        zs = f.get("stats") or {}
        if has_tomb and zs.get(_TOMBSTONE) != [False, False]:
            return False
        try:
            for col in constrained:
                z = zs.get(col)
                if not z or z[0] is None or z[1] is None:
                    return False
                mn, mx = z
                if col in cons.eq:
                    if mn != mx or mn not in cons.eq[col]:
                        return False
                    # an eq/IN and a range may constrain the SAME column
                    # (`x IN (1,10) AND x < 5`): the constant value must
                    # also sit strictly inside every EXPLICIT range bound,
                    # else a file constant at an out-of-range member would
                    # count rows that match nothing — violating
                    # lower <= count. Strict comparison for the same >/>=
                    # reason as below; xlo/xhi exclude eq-derived bounds.
                    lo, hi = cons.xlo.get(col), cons.xhi.get(col)
                    if lo is not None and not (mn > lo):
                        return False
                    if hi is not None and not (mn < hi):
                        return False
                else:
                    lo, hi = cons.lo.get(col), cons.hi.get(col)
                    if lo is not None and not (mn > lo):
                        return False
                    if hi is not None and not (mx < hi):
                        return False
        except TypeError:  # zone/literal type mismatch — not provable
            return False
        return True

    good = [f for f in cand if proven(f)]
    out["lower"] = sum(f["rows"] for f in good)
    out["files_proven"] = len(good)
    return out
