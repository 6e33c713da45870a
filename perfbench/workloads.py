"""The two workloads. Each is a closed loop with one client: a call
into the engine starts only after the previous one returned.

``setup`` builds what the timed section needs and warms it with whole
rounds of the timed work, ``run`` loops whole rounds until the time is
up, ``check`` compares everything the engine returned with the oracle.
``run`` records outputs and timings only; every comparison happens in
``check``, after the clock stops.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import nullcontext

import numpy as np

from perfbench import feed
from perfbench.oracle import (
    CheckFailed,
    Oracle,
    check_lookup,
    check_state,
    check_view,
    content_hash,
    digest,
)

ROW_COLS = ("repo", "path", "commit", "lang")


def _scan(df):
    """Fetch ``(repo, path, commit, lang, sha256(content))`` as Arrow."""
    from pyspark.sql import functions as F

    return df.select(*ROW_COLS, F.sha2(F.col("content"), 256).alias("h")).toArrow()


def _rows(t) -> list[tuple]:
    return list(zip(*(t.column(i).to_pylist() for i in range(t.num_columns))))


def _live_bytes(table) -> int:
    """Bytes of the snapshot's data files, read from the filesystem."""
    table.refresh()
    return sum(os.path.getsize(os.path.join(table.root, f["path"]))
               for f in table.state["files"])


def _delta_files(table) -> int:
    return sum(1 for f in table.refresh().state["files"] if f.get("kind") == "delta")


class Workload:
    """Shared bookkeeping: the timings every workload reports."""

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.tracer = tracer
        self.events = 0
        self.attempted = 0
        self.rounds = 0
        self.write_s: list[float] = []
        self.read_s: list[float] = []
        self.delta_files: list[int] = []
        self.wall = 0.0
        self.table_bytes = 0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def reset_timings(self) -> None:
        """Forget what warm-up rounds recorded in the timing lists."""
        for lst in (self.write_s, self.read_s, self.delta_files):
            lst.clear()
        self.events = self.attempted = self.rounds = 0

    def timed(self, seconds: float, round_fn) -> None:
        """Run whole rounds until ``seconds`` are (about) used up: another
        round starts only while half of the last round still fits."""
        root = self.tracer.begin("bench.timed", jobs=True) if self.tracer else None
        if root is not None:
            self.tracer.root = root
        t0 = time.monotonic()
        last = 0.0
        while self.rounds == 0 or time.monotonic() - t0 + last / 2 < seconds:
            r0 = time.monotonic()
            round_fn()
            self.rounds += 1
            last = time.monotonic() - r0
        self.wall = time.monotonic() - t0
        if root is not None:
            self.tracer.end(root)

    def metrics(self) -> dict:
        return {
            "events_per_s": (self.events / self.wall, "events/s"),
            "write_p50_s": (statistics.median(self.write_s), "s"),
            "read_p50_ms": (1000 * statistics.median(self.read_s), "ms"),
            "table_mb": (self.table_bytes / 1e6, "MB"),
        }


class BulkReplay(Workload):
    """Out-of-order feed replayed into a fresh copy-on-write table each
    round, then ``N_SCANS`` full scans of the result. Setup replays it
    ``N_WARM_ROUNDS`` times first: the JVM's first replays run up to 40%
    slower than later ones while its compilers catch up."""

    N_EVENTS = 40_000
    N_KEYS = 12_000
    N_BATCHES = 4
    N_SCANS = 2
    N_WARM_ROUNDS = 2

    def setup(self) -> None:
        keys = feed.KeySpace(self.rng, self.N_KEYS)
        self.feed_path = feed.write_feed(
            feed.make_events(self.rng, keys, self.N_EVENTS,
                             n_delivery_batches=self.N_BATCHES),
            os.path.join(self.work, "feed", "bulk.parquet"))
        self.feed_df = self.spark.read.parquet(self.feed_path)
        self.pipes = []
        self.scans: list[list[tuple]] = []
        for _ in range(self.N_WARM_ROUNDS):
            self.round()
        self.reset_timings()

    def round(self) -> None:
        from kf_etl_clin_portal_spark.cdc.pipeline import CDCPipeline

        pipe = CDCPipeline(
            self.spark, os.path.join(self.work, "tables", f"r{len(self.pipes)}"))
        self.pipes.append(pipe)
        with self.span("bench.replay"):
            t0 = time.monotonic()
            stats = pipe.replay(self.feed_df, by="delivery", feed_id="bulk")
            self.write_s.append(time.monotonic() - t0)
        self.events += stats.n_events
        self.attempted += stats.n_batches
        for _ in range(self.N_SCANS):
            with self.span("bench.scan"):
                t0 = time.monotonic()
                self.delta_files.append(_delta_files(pipe.table))
                self.scans.append(_scan(pipe.current()))
                self.read_s.append(time.monotonic() - t0)
            self.attempted += 1

    def run(self, seconds: float) -> None:
        self.timed(seconds, self.round)
        self.live_files = len(self.pipes[-1].table.refresh().state["files"])
        self.table_bytes = _live_bytes(self.pipes[-1].table)

    def check(self) -> None:
        oracle = Oracle([self.feed_path])
        try:
            want = oracle.state(self.N_EVENTS)
            for i, t in enumerate(self.scans):
                check_state(_rows(t), want, f"replay scan {i}")
            n_feed = oracle.n_events()
        finally:
            oracle.close()
        table = self.pipes[-1].table.refresh()
        committed = sum(h["lineage"].get("n_events", 0) for h in table.history()
                        if h["operation"] == "merge")
        if committed != n_feed:
            raise CheckFailed(f"lineage n_events total {committed} != feed rows {n_feed}")
        version = table.version
        again = self.pipes[-1].replay(self.feed_df, by="delivery", feed_id="bulk")
        if again.n_events or again.n_skipped != again.n_batches:
            raise CheckFailed(f"re-offered feed applied {again.n_events} events")
        if table.refresh().version != version:
            raise CheckFailed("re-offered feed committed a new version")


class StreamServe(Workload):
    """Small seq-ordered feed files streamed one per trigger into a
    merge-on-read table, with a per-``lang`` aggregate view chained after
    each MERGE, and reads beside the writes. A round runs
    ``EPOCHS_PER_ROUND`` epochs: each lands one file, waits until its
    MERGE and the view commit, reads the view once and runs two point
    lookups. Then the round scans the table, compacts it and scans again,
    so every round does the same work. Setup runs ``N_WARM_ROUNDS`` rounds
    first."""

    N_KEYS = 10_000
    N_PRELOAD = 20_000
    EPOCH_EVENTS = 1_000
    KEYS_PER_KIND = 3
    EPOCHS_PER_ROUND = 3
    N_WARM_ROUNDS = 1
    SUMS = {"bytes": "octet_length(content)"}

    def setup(self) -> None:
        from kf_etl_clin_portal_spark.cdc.pipeline import CDCPipeline
        from kf_etl_clin_portal_spark.streaming.micro_batch import (
            ViewSpec,
            stream_feed_into_table,
        )

        self.keys = feed.KeySpace(self.rng, self.N_KEYS)
        self.next_seq = 1
        self.feed_paths: list[str] = []
        self.staging = os.path.join(self.work, "staging")
        self.feed_dir = os.path.join(self.work, "feed")
        os.makedirs(self.feed_dir)
        pre, _ = self._make(self.N_PRELOAD, "preload")
        self.pipe = CDCPipeline(self.spark, os.path.join(self.work, "tables", "src"),
                                merge_strategy="mor")
        self.pipe.apply_batch(self.spark.read.parquet(pre), batch_id="preload")
        self.pipe.compact()
        self.view = CDCPipeline(self.spark, os.path.join(self.work, "tables", "view"),
                                key_cols=("lang",), num_buckets=2, merge_strategy="mor")
        self.view_reads: list[tuple[int, dict]] = []
        self.lookups: list[tuple[int, list, list]] = []
        self.scans: list[tuple[int, list]] = []
        self.compactions: list[tuple[int, int]] = []
        self.handler_s: list[float] = []
        self.engine_s: list[float] = []
        self._done = threading.Event()
        self._handler_t0 = 0.0
        self._handler_span = None
        self.query = stream_feed_into_table(
            self.spark, self.feed_dir, self.spark.read.parquet(pre).schema, self.pipe,
            checkpoint_dir=os.path.join(self.work, "checkpoint"), stream_id="trickle",
            max_files_per_trigger=1, available_now=False,
            views=[ViewSpec(pipe=self.view, group_cols=["lang"], sum_exprs=self.SUMS,
                            source_id="view")],
            transform=self._handler_start, followers=[self._handler_end],
        )
        self._pending = self._make(self.EPOCH_EVENTS, "f00000")
        for _ in range(self.N_WARM_ROUNDS):
            self.round()
        self.reset_timings()
        self.handler_s.clear()
        self.engine_s.clear()

    def _make(self, n: int, name: str):
        t = feed.make_events(self.rng, self.keys, n, first_seq=self.next_seq)
        self.next_seq += n
        path = feed.write_feed(t.drop(["delivery_batch"]),
                               os.path.join(self.staging, f"{name}.parquet"))
        self.feed_paths.append(path)
        return path, t

    # the transform and followers hooks run on the stream's thread, at the
    # start of the foreachBatch handler and after its views
    def _handler_start(self, batch_df):
        self._handler_t0 = time.monotonic()
        if self.tracer:
            self._handler_span = self.tracer.begin("streaming.micro_batch.handler")
        return batch_df

    def _handler_end(self, spark, table) -> None:
        if self.tracer:
            self.tracer.end(self._handler_span)
        self.handler_s.append(time.monotonic() - self._handler_t0)
        self._done.set()

    def _epoch(self):
        """Land the pending file and wait until its MERGE and view commit.
        Returns the epoch's latency, the file's last seq and its events."""
        path, batch = self._pending
        seq_hi = self.next_seq - 1
        self._done.clear()
        t0 = time.monotonic()
        landed = os.path.join(self.feed_dir, os.path.basename(path))
        os.rename(path, landed)
        self.feed_paths[-1] = landed
        # write the next file while the engine works on this one
        self._pending = self._make(self.EPOCH_EVENTS, f"f{len(self.feed_paths):05d}")
        while not self._done.wait(1.0):
            if self.query.exception() is not None or not self.query.isActive:
                raise RuntimeError(f"stream stopped: {self.query.exception()}")
        latency = time.monotonic() - t0
        self.engine_s.append(latency - self.handler_s[-1])
        return latency, seq_hi, batch

    def _view_rows(self) -> dict:
        from kf_etl_clin_portal_spark.lake.ivm import agg_view

        return {r["lang"]: (int(r["n"]), int(r["sum_bytes"] or 0))
                for r in agg_view(self.view).select("lang", "n", "sum_bytes").collect()}

    def _probe_keys(self, batch) -> list[list[tuple[str, str]]]:
        """Two lookups: keys the landed file upserted (its last event for
        the key) with keys it deleted, and hot monorepo keys with keys
        never written."""
        last: dict[tuple[str, str], str] = {}
        for repo, path, op in zip(batch.column("repo").to_pylist(),
                                  batch.column("path").to_pylist(),
                                  batch.column("op").to_pylist()):
            last[(repo, path)] = op
        upserted = [k for k, op in last.items() if op == "upsert"]
        deleted = [k for k, op in last.items() if op == "delete"]
        n = self.KEYS_PER_KIND
        recent = [upserted[i] for i in self.rng.choice(len(upserted), n, replace=False)]
        gone = [deleted[i] for i in self.rng.choice(len(deleted), min(n, len(deleted)),
                                                    replace=False)]
        hot = [self.keys.key(int(k))
               for k in self.rng.choice(self.keys.hot_keys, n, replace=False)]
        absent = [("repo_absent", f"src/none_{len(self.lookups)}_{i}.py") for i in range(n)]
        return [recent + gone, hot + absent]

    def _scan_table(self, seq_hi: int) -> None:
        with self.span("bench.scan"):
            self.delta_files.append(_delta_files(self.pipe.table))
            self.scans.append((seq_hi, _scan(self.pipe.current())))
        self.attempted += 1

    def round(self) -> None:
        for _ in range(self.EPOCHS_PER_ROUND):
            seq_hi = self._serve_epoch()
        self._scan_table(seq_hi)
        with self.span("bench.compact"):
            self.pipe.compact()
        self.compactions.append((len(self.scans) - 1, _delta_files(self.pipe.table)))
        self.attempted += 1
        self._scan_table(seq_hi)

    def _serve_epoch(self) -> int:
        """One epoch, then a view read and the lookups. Returns its last seq."""
        with self.span("bench.epoch"):
            latency, seq_hi, batch = self._epoch()
        self.write_s.append(latency)
        self.events += self.EPOCH_EVENTS
        self.attempted += 1
        with self.span("bench.view_read"):
            self.view_reads.append((seq_hi, self._view_rows()))
        self.attempted += 1
        for keys in self._probe_keys(batch):
            with self.span("bench.lookup"):
                t0 = time.monotonic()
                self.delta_files.append(_delta_files(self.pipe.table))
                got = self.pipe.lookup([{"repo": r, "path": p} for r, p in keys]).select(
                    *ROW_COLS, "content").collect()
                self.read_s.append(time.monotonic() - t0)
            rows = [(*r[:4], content_hash(r[4])) for r in got]
            self.lookups.append((seq_hi, keys, rows))
            self.attempted += 1
        return seq_hi

    def run(self, seconds: float) -> None:
        self.timed(seconds, self.round)
        self.query.stop()
        self.query.awaitTermination(60)
        if self.query.exception() is not None:
            raise RuntimeError(f"stream failed: {self.query.exception()}")
        self.live_files = len(self.pipe.table.refresh().state["files"])
        self.pipe.compact()
        self.table_bytes = _live_bytes(self.pipe.table)

    def check(self) -> None:
        # the staged next file was never landed
        oracle = Oracle(self.feed_paths[:-1])
        try:
            for seq_hi, rows in self.view_reads:
                check_view(rows, oracle.view(seq_hi), f"view after seq {seq_hi}")
            want: dict[int, list] = {}
            for seq_hi, t in self.scans:
                want.setdefault(seq_hi, oracle.state(seq_hi))
                check_state(_rows(t), want[seq_hi], f"scan at seq {seq_hi}")
            for i, deltas in self.compactions:
                if deltas:
                    raise CheckFailed(f"compaction left {deltas} delta files")
                if digest(_rows(self.scans[i + 1][1])) != digest(_rows(self.scans[i][1])):
                    raise CheckFailed("compaction changed the scan digest")
            for seq_hi, keys, rows in self.lookups:
                check_lookup(rows, oracle.rows_for_keys(seq_hi, keys), keys,
                             f"lookup at seq {seq_hi}")
            seq_hi = self.view_reads[-1][0]
            check_state(_rows(_scan(self.pipe.current())), oracle.state(seq_hi),
                        "streamed table")
            check_view(self._view_rows(), oracle.view(seq_hi), "final view")
        finally:
            oracle.close()


WORKLOADS = {"bulk_replay": BulkReplay, "stream_serve": StreamServe}
