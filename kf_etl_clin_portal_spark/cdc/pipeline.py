"""CDCPipeline — the micro-batch replay loop.

Drives change-feed batches through dedup → MERGE into a SnapshotTable with
exactly-once semantics and per-batch lineage, resumable after kill:

- **Deterministic batch ids** (feed id + batch index) are the epoch fence:
  re-running a replay after a crash re-offers every batch, and the commit
  log's ``applied_batches`` map turns already-applied ones into no-ops
  (`lake/merge.py` step 1). This replaces the reference's at-most-once ES
  hack (`RunIndexGenomic.scala:53-57`, task.maxFailures=1) with true
  exactly-once.
- **Content transform** in the hot path is JVM-side (`F.sha2`) — the
  per-row content_sha256 invariant of BASELINE.json. Python-only transforms
  belong in `functions/text.py` as Arrow-vectorized pandas UDFs.
- Two batching modes: ``by="seq"`` (ordered LSN ranges — pushdown-friendly
  range filters) and ``by="delivery"`` (the generator's pseudo-random
  delivery_batch — batches carry out-of-order seqs, exercising the
  ``s.seq > t.seq`` late-event guard).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kf_etl_clin_portal_spark.lake.merge import (
    TOMBSTONE_COL,
    MergeResult,
    compact_deltas,
    merge_batch,
    merge_batch_mor,
    read_merged,
    vacuum_tombstones,
)
from kf_etl_clin_portal_spark.lake.table import SnapshotTable

_NON_PAYLOAD = {"op", "delivery_batch"}


class AuditFailed(Exception):
    """A write-audit-publish audit rejected the candidate snapshot; the
    published ref was not moved."""


@dataclass
class ReplayStats:
    n_batches: int = 0
    n_skipped: int = 0
    n_events: int = 0
    n_deletes: int = 0
    wall_secs: float = 0.0
    results: list[MergeResult] = field(default_factory=list)

    @property
    def events_per_sec(self) -> float:
        return self.n_events / self.wall_secs if self.wall_secs > 0 else 0.0


class CDCPipeline:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_cols: tuple[str, ...] = ("repo", "path"),
        num_buckets: int = 16,
        salt_buckets: int = 8,
        merge_strategy: str = "union_agg",
        prune: bool | None = None,
        table_properties: dict[str, str] | None = None,
        quarantine_root: str | None = None,
        quarantine_buckets: int = 4,
        branch: str | None = None,
    ):
        self.spark = spark
        self.root = root
        self.branch = branch
        self.key_cols = list(key_cols)
        self.num_buckets = num_buckets
        self.salt_buckets = salt_buckets
        self.merge_strategy = merge_strategy
        self.prune = prune
        self.table_properties = table_properties
        self.quarantine_root = quarantine_root
        self.quarantine_buckets = quarantine_buckets
        self._table: SnapshotTable | None = None
        self._quarantine: "CDCPipeline | None" = None

    # ------------------------------------------------------------ quarantine
    @property
    def quarantine(self) -> "CDCPipeline | None":
        """The dead-letter pipeline (lazily built): constraint-violating
        rows land here instead of failing the batch, keyed on ``seq`` (the
        feed's unique LSN — every violating EVENT is one DLQ row, carrying
        a ``violated`` array naming the failed constraints). Its merges
        fence under the same batch ids as the main table, so crash/resume
        between the two converges exactly like the fanout router."""
        if self.quarantine_root is None:
            return None
        if self._quarantine is None:
            # small by default (a DLQ should be near-empty); `rebucket` is
            # the growth path if a bad contract floods it
            self._quarantine = CDCPipeline(
                self.spark, self.quarantine_root, key_cols=("seq",),
                num_buckets=self.quarantine_buckets,
            )
        return self._quarantine

    # ---------------------------------------------------------------- table
    @property
    def table(self) -> SnapshotTable:
        if self._table is None:
            self._table = SnapshotTable(self.root, branch=self.branch).refresh()
        return self._table

    def ensure_table(self, events_schema: T.StructType) -> SnapshotTable:
        """Create the current-state table if absent; schema = event payload
        columns + content_sha256 (op/delivery_batch are feed-only).

        A warm handle is kept across batches: its refresh() is incremental
        (replays only new deltas), so the per-batch driver cost stays
        O(commits since last batch), not O(log)."""
        if self._table is not None:
            return self._table
        if self.branch is not None:
            # a branch pipeline ingests into an EXISTING fork —
            # lake/branch.py:create_branch is the creation path
            self._table = SnapshotTable(self.root, branch=self.branch).refresh()
            return self._table
        if SnapshotTable.exists(self.root):
            self._table = SnapshotTable(self.root).refresh()
            return self._table
        fields = [
            T.StructField(f.name, f.dataType, True)
            for f in events_schema.fields
            if f.name not in _NON_PAYLOAD
        ]
        self._table = SnapshotTable.create(
            self.root,
            T.StructType(fields),
            key_cols=self.key_cols,
            num_buckets=self.num_buckets,
            properties=self.table_properties,
        )
        return self._table

    # ------------------------------------------------------------ transform
    def prepare_batch(self, events: DataFrame) -> DataFrame:
        """Feed → merge-ready batch: fold op into the tombstone flag, drop
        delivery bookkeeping, add the content_sha256 invariant column
        (JVM-side sha2, null for deletes). Tables without a `content`
        column (derived/aggregate views) skip the invariant column."""
        df = events
        if "delivery_batch" in df.columns:
            df = df.drop("delivery_batch")
        if "op" in df.columns:
            df = df.withColumn(TOMBSTONE_COL, (F.col("op") == "delete")).drop("op")
        elif TOMBSTONE_COL not in df.columns:
            df = df.withColumn(TOMBSTONE_COL, F.lit(False))
        if "content" not in df.columns:
            return df
        return df.withColumn(
            "content_sha256",
            F.when(F.col("content").isNotNull(), F.sha2(F.col("content"), 256)),
        )

    # ---------------------------------------------------------------- apply
    def apply_batch(
        self,
        events: DataFrame,
        batch_id: str,
        prune: bool | None = None,
        extra_lineage: dict | None = None,
    ) -> MergeResult:
        batch = self.prepare_batch(events)
        self.ensure_table(batch.schema)
        if self.quarantine_root is not None:
            from kf_etl_clin_portal_spark.lake.constraints import (
                split_violations,
                table_constraints,
            )

            if table_constraints(self.table):
                # one cached evaluation of the batch; both slices filter a
                # cheap codegen CASE off the cached blocks (no upstream
                # recompute, no extra shuffle)
                pinned = batch.persist()
                try:
                    extra = dict(extra_lineage or {})
                    # stamp wall-clock start NOW so the commit's throughput
                    # row covers split + DLQ merge, not just the main merge
                    extra.setdefault("_t0", time.monotonic())
                    clean, bad = split_violations(pinned, self.table)
                    n_bad = bad.count()
                    if n_bad:
                        # DLQ first: a crash between the two merges leaves
                        # the re-offer to fence the DLQ and apply the main
                        # slice — same convergence story as the fanout
                        # router (both fence under this batch_id)
                        self.quarantine.apply_batch(
                            bad, batch_id=batch_id, prune=prune
                        )
                    extra["n_quarantined"] = n_bad
                    return self._merge(clean, batch_id, prune, extra)
                finally:
                    pinned.unpersist()
        return self._merge(batch, batch_id, prune, extra_lineage)

    def reingest_quarantine(self) -> dict:
        """Replay dead-lettered events back through the main MERGE after
        the contract changed (a constraint dropped/relaxed, or upstream
        data corrected via DLQ `update_where`). The full DLQ is re-offered
        as ONE batch whose id is derived from the DLQ's version — calling
        twice at the same state fences as a no-op; rows that STILL violate
        simply land back in the DLQ (idempotent by their unique seq), and
        rows the current constraints now accept are deleted from the DLQ
        by evaluating the constraint expressions themselves as the DELETE
        predicate (pure expression — no driver-side key list, scales to
        any DLQ size). Crash between the merge and the DLQ delete heals on
        the next call: the merge fences, the delete re-runs."""
        if self.quarantine_root is None:
            raise ValueError("pipeline has no quarantine_root configured")
        from kf_etl_clin_portal_spark.lake.constraints import (
            VIOLATED_COL,
            table_constraints,
        )

        if not SnapshotTable.exists(self.quarantine_root):
            # nothing was ever quarantined — the lazy DLQ table doesn't exist
            return {"n_candidates": 0, "n_reingested": 0, "result": None}
        from kf_etl_clin_portal_spark.lake.constraints import split_violations

        q = self.quarantine
        rows = q.current()
        n_candidates = rows.count()
        if n_candidates == 0:
            return {"n_candidates": 0, "n_reingested": 0, "result": None}
        # split HERE and merge only the accepted slice — still-violating
        # rows are never re-offered to the DLQ (they are the DLQ), so the
        # DLQ version only moves when the delete below accepts something:
        # the version-derived batch id is stable across no-progress calls
        # and the main merge fences on a crash-between-merge-and-delete.
        batch_id = f"dlq-reingest-v{q.table.refresh().version}"
        batch = self.prepare_batch(rows.drop(VIOLATED_COL))
        self.ensure_table(batch.schema)
        cons = table_constraints(self.table)
        clean = split_violations(batch, self.table)[0] if cons else batch
        res = self._merge(clean, batch_id, None, {"reingest_batch": batch_id})
        if cons:
            # a row leaves the DLQ iff it passes EVERY current constraint
            ok = F.lit(True)
            for expr in cons.values():
                ok = ok & ~F.expr(expr).eqNullSafe(F.lit(False))
            dml = q.delete_where(ok)
            n_reingested = dml.n_matched
        else:
            dml = q.delete_where(F.lit(True))
            n_reingested = dml.n_matched
        return {
            "n_candidates": n_candidates,
            "n_reingested": n_reingested,
            "n_still_quarantined": n_candidates - n_reingested,
            "result": res,
        }

    def _merge(
        self,
        batch: DataFrame,
        batch_id: str,
        prune: bool | None,
        extra_lineage: dict | None,
    ) -> MergeResult:
        if self.merge_strategy == "mor":
            # prune=True (the streaming foreachBatch path) doubles as "no
            # Observation": listener events never reach obs.get there
            effective_prune = self.prune if prune is None else prune
            return merge_batch_mor(
                self.spark,
                self.table,
                batch,
                seq_col="seq",
                batch_id=batch_id,
                use_observe=not effective_prune,
                extra_lineage=extra_lineage,
            )
        return merge_batch(
            self.spark,
            self.table,
            batch,
            seq_col="seq",
            batch_id=batch_id,
            salt_buckets=self.salt_buckets,
            strategy=self.merge_strategy,
            prune=self.prune if prune is None else prune,
            extra_lineage=extra_lineage,
        )

    def replay(
        self,
        events: DataFrame,
        n_batches: int = 8,
        by: str = "seq",
        feed_id: str = "replay",
        max_seq: int | None = None,
        stop_after: int | None = None,
    ) -> ReplayStats:
        """Chunk the feed into n_batches and apply each in order.

        ``stop_after`` applies only the first k batches (kill simulation);
        a later replay with the same feed_id resumes — applied batches fence
        out as no-ops.
        """
        stats = ReplayStats()
        t0 = time.monotonic()
        if by == "seq":
            if max_seq is None:
                max_seq = events.agg(F.max("seq")).first()[0]
            bounds = [round(i * max_seq / n_batches) for i in range(n_batches + 1)]
            chunks = [
                (i, events.where((F.col("seq") > bounds[i]) & (F.col("seq") <= bounds[i + 1])))
                for i in range(n_batches)
            ]
        elif by == "delivery":
            # batch ids come from the data, not the caller — a mismatched
            # n_batches must not silently drop feed tail batches
            ids = sorted(
                r[0] for r in events.select("delivery_batch").distinct().collect()
            )
            chunks = [(i, events.where(F.col("delivery_batch") == i)) for i in ids]
        else:
            raise ValueError(f"unknown batching mode {by!r}")

        for i, chunk in chunks:
            if stop_after is not None and i >= stop_after:
                break
            res = self.apply_batch(chunk, batch_id=f"{feed_id}-b{i:05d}")
            stats.results.append(res)
            stats.n_batches += 1
            if res.skipped:
                stats.n_skipped += 1
            else:
                stats.n_events += res.n_events
                stats.n_deletes += res.n_deletes
        stats.wall_secs = time.monotonic() - t0
        return stats

    # ----------------------------------------------------------------- read
    def current(
        self, include_tombstones: bool = False, ref: str | None = None
    ) -> DataFrame:
        # read_merged resolves per-key winners when delta (MoR) files exist;
        # degenerates to a plain snapshot read on an all-base table
        if not include_tombstones:
            # read_live: null-safe tombstone drop, tolerant of tables where
            # the column doesn't exist yet / was evolved in later (imported
            # snapshots, pre-evolution rows read the column back as null)
            from kf_etl_clin_portal_spark.lake.merge import read_live

            return read_live(self.spark, self.table, seq_col="seq", ref=ref)
        return read_merged(self.spark, self.table, seq_col="seq", ref=ref)

    def lookup(
        self, keys: list[dict], include_tombstones: bool = False
    ) -> DataFrame:
        """Point lookup of explicit keys — scans only the buckets the keys
        hash into (see `lake/merge.py:lookup_keys`)."""
        from kf_etl_clin_portal_spark.lake.merge import lookup_keys

        df = lookup_keys(self.spark, self.table, keys, seq_col="seq")
        if not include_tombstones:
            df = df.where(~F.col(TOMBSTONE_COL)).drop(TOMBSTONE_COL)
        return df

    def stats(self, cols: tuple[str, ...] = (), version: int | None = None) -> dict:
        """Driver-side snapshot statistics with NO Spark job — live/dead
        row counts and zone-map min/max from manifest + parquet footers
        (see `lake/metastats.py`; raises on uncompacted MoR snapshots)."""
        from kf_etl_clin_portal_spark.lake.metastats import metadata_stats

        return metadata_stats(self.table, cols=cols, version=version)

    def audit_feed(self, density: float = 1.0,
                   batch_prefix: str | None = None) -> dict:
        """Metadata-only feed-completeness audit (see `cdc/audit.py`):
        provable event loss (min_missing lower bound), out-of-order and
        overlapping batch ranges — O(commits), no Spark job."""
        from kf_etl_clin_portal_spark.cdc.audit import feed_completeness

        return feed_completeness(self.table, density=density,
                                 batch_prefix=batch_prefix)

    def plan_maintenance(self, **kw) -> list[dict]:
        """Metadata-only maintenance recommendations with evidence
        (see `lake/maintenance.py`); empty list = healthy."""
        from kf_etl_clin_portal_spark.lake.maintenance import plan_maintenance

        return plan_maintenance(self.table, **kw)

    def estimate(self, where: str, version: int | None = None) -> dict:
        """Metadata-only cardinality bounds for a predicate — `lower <=
        count(live rows matching where) <= upper` from the manifest alone
        (see `lake/scan.py:estimate_rows`; no Spark job)."""
        from kf_etl_clin_portal_spark.lake.scan import estimate_rows

        return estimate_rows(self.spark, self.table, where, version=version)

    def compact(self, min_delta_files: int = 1, strategy: str = "shuffle") -> int:
        """Fold MoR delta files into base (read-path maintenance).
        strategy: "shuffle" (default; fastest measured — see
        lake/merge.py:compact_deltas), "local", or "auto"."""
        return compact_deltas(
            self.spark, self.table, min_delta_files, strategy=strategy
        )

    def maybe_compact(
        self,
        max_delta_ratio: float = 0.2,
        min_delta_files: int = 8,
        strategy: str = "shuffle",
    ) -> int | None:
        """Stats-driven compaction policy: compact when the MoR delta
        overhead crosses the shared `needs_delta_compaction` threshold
        (ONE predicate with `plan_maintenance`, so the advisor's --plan
        report and this auto-compactor can never drift apart). The
        decision reads manifest byte sums only — no data I/O; a long-lived
        stream calls this after every batch and pays for compaction only
        when the read path actually degrades. Returns buckets compacted,
        or None when below both thresholds."""
        from kf_etl_clin_portal_spark.lake.maintenance import (
            needs_delta_compaction,
        )

        st = self.table.refresh().state
        if needs_delta_compaction(st, max_delta_ratio, min_delta_files):
            return self.compact(strategy=strategy)
        return None

    def mirror_from(
        self, src: SnapshotTable, source_id: str = "mirror", strict: bool = True,
        mode: str = "feed", columns: list[str] | None = None,
    ) -> dict:
        """Poll ``src``'s change feed once and merge the delta into this
        pipeline's table — exactly-once incremental table→table replication
        (cursor lives in this table's commit lineage). ``mode="auto"``
        follows ANY upstream history: per-commit feed when available,
        snapshot-diff (source-wins) across CoW/DML/rollback commits.
        ``columns`` makes this a slim PROJECTED mirror (key/seq/tombstone
        ride along automatically). See `lake/changes.py:mirror_changes`."""
        from kf_etl_clin_portal_spark.lake.changes import mirror_changes

        return mirror_changes(self.spark, src, self, source_id=source_id,
                              strict=strict, mode=mode, columns=columns)

    def delete_where(self, predicate, stats_filter: dict | None = None,
                     mode: str = "cow"):
        """Row-level ``DELETE FROM … WHERE`` — out-of-band correction.
        ``mode="cow"``: bucket-pruned rewrite (tombstones carried, MoR
        deltas folded; `lake/dml.py`). ``mode="dv"``: deletion-vector
        commit — no data file rewritten, matched keys' positions hidden by
        a sidecar; keeps the all-base fast path (`lake/dv.py`)."""
        if mode == "dv":
            from kf_etl_clin_portal_spark.lake.dv import delete_where_dv

            return delete_where_dv(self.spark, self.table, predicate,
                                   stats_filter=stats_filter, seq_col="seq")
        if mode != "cow":
            raise ValueError(f"mode must be 'cow' or 'dv', got {mode!r}")
        from kf_etl_clin_portal_spark.lake.dml import delete_where

        return delete_where(self.spark, self.table, predicate,
                            stats_filter=stats_filter, seq_col="seq")

    def update_where(self, assignments: dict, predicate,
                     stats_filter: dict | None = None, mode: str = "cow"):
        """Row-level ``UPDATE … SET … WHERE`` (key columns not assignable;
        CHECK constraints re-validated on post-images). ``mode="cow"``:
        bucket rewrite (`lake/dml.py`); ``mode="dv"``: old rows hidden by a
        deletion vector, post-images appended — O(matched rows) write cost
        (`lake/dv.py`)."""
        if mode == "dv":
            from kf_etl_clin_portal_spark.lake.dv import update_where_dv

            return update_where_dv(self.spark, self.table, assignments,
                                   predicate, stats_filter=stats_filter,
                                   seq_col="seq")
        if mode != "cow":
            raise ValueError(f"mode must be 'cow' or 'dv', got {mode!r}")
        from kf_etl_clin_portal_spark.lake.dml import update_where

        return update_where(self.spark, self.table, assignments, predicate,
                            stats_filter=stats_filter, seq_col="seq")

    def merge_into(self, source, clauses, on_duplicate: str = "error",
                   extra_lineage: dict | None = None):
        """Conditional MERGE INTO with When* clauses (`lake/merge_into.py`)
        — the set-oriented batch-reconciliation surface complementing the
        streaming latest-by-seq MERGE."""
        from kf_etl_clin_portal_spark.lake.merge_into import merge_into

        return merge_into(self.spark, self.table, source, clauses,
                          seq_col="seq", on_duplicate=on_duplicate,
                          extra_lineage=extra_lineage)

    def expire(self, keep_last: int = 1) -> dict:
        """Physically reclaim data files only old snapshots reference
        (ref targets kept). See SnapshotTable.expire_snapshots."""
        return self.table.expire_snapshots(keep_last=keep_last)

    # -------------------------------------------------------------- publish
    def publish(self, ref: str = "published", version: int | None = None):
        """Promote the current (or given) snapshot to a named ref — the
        atomic release commit replacing the reference's ES alias swap
        (`published/PublishUtils.scala:12-16`). Call after a replay-parity
        check passes; readers on ``current(ref=...)`` never see a
        half-applied release."""
        return self.table.set_ref(ref, version=version)

    def publish_if(self, audit, ref: str = "published", version: int | None = None):
        """Write-audit-publish: run ``audit(df)`` over the candidate
        snapshot's merged state (a callable returning truthy = release it);
        publish the ref only on success, else raise ``AuditFailed`` and
        leave the previous release untouched. The candidate was committed
        by a normal merge — consumers on ``current(ref=...)`` never see it
        until the audit passes (the Iceberg WAP / staging-branch pattern,
        replacing the reference's "reindex then swap the ES alias" release
        step with one that can actually hold back a bad build)."""
        self.table.refresh()
        v = self.table.version if version is None else version
        candidate = read_merged(self.spark, self.table, seq_col="seq", version=v)
        candidate = candidate.where(~F.col(TOMBSTONE_COL)).drop(TOMBSTONE_COL)
        if not audit(candidate):
            raise AuditFailed(f"audit rejected snapshot v{v}; ref {ref!r} not moved")
        return self.table.set_ref(ref, version=v)

    def rollback(self, version: int):
        """Undo to an earlier snapshot as a new commit (metadata-only; see
        SnapshotTable.rollback for fence semantics)."""
        return self.table.rollback(version)

    def remove_orphans(self, grace_secs: float = 3600.0) -> dict:
        """Delete crash-stranded data files no snapshot references."""
        return self.table.remove_orphans(grace_secs=grace_secs)

    def vacuum(self, low_watermark_seq: int) -> int:
        return vacuum_tombstones(self.spark, self.table, low_watermark_seq)

    def rebucket(self, new_num_buckets: int) -> int:
        """Grow (or shrink) the table's bucket count mid-stream — the 100×
        growth path: merge parallelism and file granularity scale with the
        bucket count, which is otherwise fixed at table creation."""
        from kf_etl_clin_portal_spark.lake.load import rebucket as _rebucket

        v = _rebucket(self.spark, self.table, new_num_buckets)
        self.num_buckets = new_num_buckets
        return v

    def manifest(self) -> DataFrame:
        return self.table.manifest_df(self.spark)
