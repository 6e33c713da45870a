"""Entry-gate fixtures: the shared WAL (`__spark_entry__._wal20`) and the
two CDC gates that fold it (round-4 VERDICT directive #4).

The oracle parity of the gates themselves is covered by
`tools/check_oracle.py` (the driver's gate); these tests pin the sharing
CONTRACT — one materialization per (session, sf), identical content to
the inline derivation, and independence of the two gates' results from
the sharing (each keeps its own temp table and fenced merges).
"""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402


def test_wal20_caches_per_session_and_sf(spark, sf_dir):
    E._WAL20_CACHE.clear()
    a = E._wal20(spark, sf_dir)
    b = E._wal20(spark, sf_dir)
    assert a is b, "same (session, sf) must reuse the materialized WAL"
    assert len(E._WAL20_CACHE) == 1
    # a different sf key materializes separately (no cross-sf bleed)
    key = next(iter(E._WAL20_CACHE))
    assert key[1] == sf_dir


def test_wal20_matches_inline_derivation(spark, sf_dir):
    E._WAL20_CACHE.clear()
    wal = E._wal20(spark, sf_dir)
    inline = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            F.col("event_id").alias("seq"), "user_id", "event_type", "value"
        )
        .where(F.pmod("seq", F.lit(10)) < 2)
    )
    assert wal.schema == inline.schema
    assert wal.count() == inline.count()
    assert wal.exceptAll(inline).count() == 0
    assert inline.exceptAll(wal).count() == 0
    # checkpointed at a handful of partitions: a gate fixture, not a scan
    assert wal.rdd.getNumPartitions() == 8


def test_cdc_gates_share_wal_and_stay_independent(spark, sf_dir):
    E._WAL20_CACHE.clear()
    fold = {r["user_id"]: r for r in E.q_cdc_patch_fold(spark, sf_dir).collect()}
    assert len(E._WAL20_CACHE) == 1, "patch fold materialized the shared WAL"
    env = {r["user_id"]: r for r in E.q_cdc_envelope_replay(spark, sf_dir).collect()}
    assert len(E._WAL20_CACHE) == 1, "envelope replay reused it"
    # different op derivations over the same WAL → different final states
    # are allowed, but both must be non-empty and keyed on user_id
    assert fold and env
    # re-running a gate is deterministic (same WAL, fresh temp table)
    fold2 = {r["user_id"]: r for r in E.q_cdc_patch_fold(spark, sf_dir).collect()}
    assert fold == fold2
