"""Predicate-driven scan planning (lake/scan.py): WHERE string → bucket
pruning + zone-map file skipping, always result-identical to the unpruned
filtered read (pruning is superset-only).

The reference has no scan planner — filtered reads are full Delta scans
relying on Spark's partition pruning (RunNormalize*), and point reads go
to Elasticsearch. Here the same WHERE string drives manifest pruning.
"""

import re

import pytest
from pyspark.sql import functions as F

from kf_etl_clin_portal_spark.lake.load import append, rebucket
from kf_etl_clin_portal_spark.lake.merge import read_live, read_merged
from kf_etl_clin_portal_spark.lake.scan import plan_scan, read_where
from kf_etl_clin_portal_spark.lake.table import SnapshotTable


def _batch(spark, lo, n=1000):
    return spark.range(lo, lo + n).select(
        F.concat(F.lit("r"), F.pmod(F.col("id"), F.lit(5)).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
        F.col("id").alias("seq"),
        (F.col("id") * 0.5).alias("val"),
    )


@pytest.fixture()
def table(spark, tmp_path):
    """All-base table: 3 appends with disjoint seq ranges → ≥1 file per
    bucket per append, per-file seq zone maps that genuinely separate."""
    df0 = _batch(spark, 0)
    t = SnapshotTable.create(
        str(tmp_path / "t"),
        df0.schema,
        key_cols=["repo", "path"],
        num_buckets=8,
        properties={"stats.columns": "seq"},
    )
    for lo in (0, 1000, 2000):
        append(spark, t, _batch(spark, lo))
    return t


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize(
    "pred",
    [
        "seq BETWEEN 500 AND 1500",
        "repo = 'r1' AND seq >= 2500",
        "repo = 'r1' OR seq < 10",  # top-level OR: no pruning, still exact
        "length(path) > 4 AND seq <= 100",  # un-parseable conjunct ignored
        "repo IN ('r1', 'r2') AND path = 'p41'",
        "1500 <= seq AND NOT (repo = 'r9')",  # flipped literal + NOT atom
        "seq > 10 AND seq < 5",  # contradiction → provably empty
    ],
)
def test_read_where_equals_filtered_read_live(spark, table, pred):
    got = _rows(read_where(spark, table, pred))
    want = _rows(read_live(spark, table).where(F.expr(pred)))
    assert got == want


def test_seq_range_skips_files_from_metadata(spark, table):
    total = len(read_live(spark, table).inputFiles())
    plan = plan_scan(spark, table, "seq BETWEEN 0 AND 999")
    assert plan["stats_path"] == "pruned"
    assert plan["stats_filter"] == {"seq": (0, 999)}
    assert plan["buckets"] is None  # keys not equality-covered
    assert 0 < plan["files_selected"] < plan["files_total"]
    df = read_where(spark, table, "seq BETWEEN 0 AND 999", plan=plan)
    assert len(df.inputFiles()) == plan["files_selected"] < total


def test_point_predicate_prunes_to_key_buckets(spark, table):
    pred = "repo = 'r3' AND path = 'p1233'"
    plan = plan_scan(spark, table, pred)
    assert plan["buckets"] is not None and len(plan["buckets"]) == 1
    df = read_where(spark, table, pred, plan=plan)
    scanned = {int(re.search(r"/b=(\d+)/", f).group(1)) for f in df.inputFiles()}
    assert scanned <= set(plan["buckets"])
    assert _rows(df) == _rows(read_live(spark, table).where(F.expr(pred)))


def test_in_list_expands_key_combos(spark, table):
    pred = "repo IN ('r0', 'r1') AND path IN ('p40', 'p41')"
    plan = plan_scan(spark, table, pred)
    # 4 key combos → ≤4 buckets out of 8
    assert plan["buckets"] is not None and 1 <= len(plan["buckets"]) <= 4
    got = _rows(read_where(spark, table, pred, plan=plan))
    assert got == _rows(read_live(spark, table).where(F.expr(pred)))
    assert len(got) == 2  # p40→r0, p41→r1 by construction (id % 5)


def test_int_key_point_predicate_prunes_exactly(spark, tmp_path):
    """An IntegerType key is hashed as Spark hashes an int column (hashInt),
    so a point predicate reads its one bucket and finds its row; a literal
    of another type prunes nothing rather than guess a bucket."""
    df = spark.range(0, 400).select(
        F.col("id").cast("int").alias("pid"), F.col("id").alias("seq")
    )
    t = SnapshotTable.create(str(tmp_path / "ik"), df.schema, key_cols=["pid"], num_buckets=8)
    append(spark, t, df)
    for v in (0, 7, 123, 399):
        pred = f"pid = {v}"
        plan = plan_scan(spark, t, pred)
        assert plan["buckets"] is not None and len(plan["buckets"]) == 1
        df = read_where(spark, t, pred, plan=plan)
        scanned = {int(re.search(r"/b=(\d+)/", f).group(1)) for f in df.inputFiles()}
        assert scanned <= set(plan["buckets"])
        assert _rows(df) == [(v, v)]
    assert plan_scan(spark, t, "pid = 7.0")["buckets"] is None
    assert plan_scan(spark, t, "pid IN (7, '8')")["buckets"] is None


def test_impossible_predicate_reads_nothing(spark, table):
    plan = plan_scan(spark, table, "seq > 10 AND seq < 5")
    assert plan["empty"] and plan["files_selected"] == 0
    df = read_where(spark, table, "seq > 10 AND seq < 5", plan=plan)
    assert df.count() == 0
    assert df.inputFiles() == []


def test_pinned_version_plans_against_that_snapshot(spark, table):
    v = table.refresh().version
    append(spark, table, _batch(spark, 3000))
    pred = "seq >= 1500"
    plan = plan_scan(spark, table, pred, version=v)
    assert plan["version"] == v
    got = _rows(read_where(spark, table, pred, version=v, plan=plan))
    want = _rows(read_live(spark, table, version=v).where(F.expr(pred)))
    assert got == want
    # current-version read sees the new batch, pinned one must not
    assert len(_rows(read_where(spark, table, pred))) == len(want) + 1000
    # a pinned point read keeps its own bucket layout across a rebucket
    rebucket(spark, table, 2)
    point = "repo = 'r3' AND path = 'p1233'"
    got = _rows(read_where(spark, table, point, version=v))
    assert got == _rows(read_live(spark, table, version=v).where(F.expr(point)))
    assert len(got) == 1


def test_mor_snapshot_degrades_to_bucket_pruning_only(spark, tmp_path):
    from kf_etl_clin_portal_spark.cdc.events import generate_change_events
    from kf_etl_clin_portal_spark.cdc.pipeline import CDCPipeline

    pipe = CDCPipeline(
        spark, str(tmp_path / "m"), num_buckets=8, merge_strategy="mor"
    )
    ev = generate_change_events(spark, 3000, seed=11)
    pipe.replay(ev, n_batches=3, by="seq", feed_id="sc")
    t = pipe.table
    pred = "seq >= 0"
    plan = plan_scan(spark, t, pred)
    assert plan["stats_path"] == "mor-scan"  # deltas present: no file skip
    assert plan["stats_filter"] is None
    got = _rows(read_where(spark, t, pred))
    assert got == _rows(read_live(spark, t).where(F.expr(pred)))
    # the unsound combination is refused outright at the low-level API
    with pytest.raises(ValueError, match="stale-winner"):
        read_merged(spark, t, stats_filter={"seq": (0, None)})


# ---------------------------------------------------------------------------
# estimate_rows — metadata-only cardinality bounds
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "pred",
    [
        "seq BETWEEN 500 AND 1500",
        "seq >= 2500",
        "repo = 'r1' AND seq >= 2500",
        "repo = 'r1' OR seq < 10",      # un-plannable: lower 0, upper total
        "length(path) > 4 AND seq <= 100",
        "seq > 10 AND seq < 5",          # contradiction
        "val < 100.0",                   # not zone-mapped: no proof, bound holds
    ],
)
def test_estimate_rows_bounds_law(spark, table, pred):
    from kf_etl_clin_portal_spark.lake.scan import estimate_rows

    est = estimate_rows(spark, table, pred)
    true = read_live(spark, table).where(F.expr(pred)).count()
    assert est["lower"] <= true <= est["upper"], (pred, est, true)


def test_estimate_rows_proves_interior_files(spark, table):
    """A range strictly containing whole appends: the interior files are
    provably all-match + all-live, so lower > 0 (and exact here — every
    candidate file is interior)."""
    from kf_etl_clin_portal_spark.lake.scan import estimate_rows

    est = estimate_rows(spark, table, "seq >= -1 AND seq <= 3000")
    assert est["lower"] == est["upper"] == 3000
    assert est["files_proven"] == est["files_counted"] > 0
    # boundary-touching range: proof is strict, lower drops below upper
    est2 = estimate_rows(spark, table, "seq >= 0 AND seq <= 1999")
    true = read_live(spark, table).where("seq >= 0 AND seq <= 1999").count()
    assert true == 2000
    assert est2["upper"] >= 2000 >= est2["lower"]
    assert est2["files_proven"] < est2["files_counted"]


def test_estimate_rows_contradiction_and_unparseable(spark, table):
    from kf_etl_clin_portal_spark.lake.scan import estimate_rows

    est = estimate_rows(spark, table, "seq > 10 AND seq < 5")
    assert est["upper"] == 0 and est["lower"] == 0
    # != conjunct: never part of a proof even when others are interior
    est2 = estimate_rows(spark, table, "seq >= -1 AND seq <= 3000 AND repo != 'r1'")
    assert est2["lower"] == 0
    true = read_live(spark, table).where("repo != 'r1'").count()
    assert true <= est2["upper"]


def test_estimate_rows_mor_and_tombstones_break_proof_not_bound(
    spark, tmp_path
):
    """Deltas and dead rows make files unprovable (lower honest) while the
    upper bound stays correct."""
    from kf_etl_clin_portal_spark.cdc.pipeline import CDCPipeline
    from kf_etl_clin_portal_spark.lake.scan import estimate_rows

    pipe = CDCPipeline(
        spark, str(tmp_path / "m"), key_cols=("repo", "path"), num_buckets=4,
        merge_strategy="mor",
    )
    pipe.apply_batch(
        _batch(spark, 0).withColumn("op", F.lit("upsert")), batch_id="e-b0"
    )
    # a delete slice → tombstones live in delta files
    pipe.apply_batch(
        _batch(spark, 0, 200)
        .withColumn("op", F.lit("delete"))
        .withColumn("seq", F.col("seq") + 5000),
        batch_id="e-b1",
    )
    est = estimate_rows(spark, pipe.table, "seq BETWEEN 0 AND 999")
    true = pipe.current().where("seq BETWEEN 0 AND 999").count()
    assert true == 800
    assert est["lower"] == 0  # deltas: nothing provable
    assert est["upper"] >= true
    # compaction folds deltas but KEEPS tombstone rows (out-of-order
    # fencing): files now carry dead rows, so the all-live proof stays
    # honestly off while the physical upper bound widens past the truth
    pipe.compact()
    est2 = estimate_rows(spark, pipe.table, "seq BETWEEN -1 AND 10000")
    assert est2["lower"] == 0 and est2["upper"] == 1000
    # vacuum removes the dead rows physically — proof returns, bounds close
    pipe.vacuum(10**9)
    est3 = estimate_rows(spark, pipe.table, "seq BETWEEN -1 AND 10000")
    assert est3["lower"] == est3["upper"] == 800


def test_estimate_rows_eq_and_range_same_column(spark, tmp_path):
    """Round-2 advisor finding: when an equality/IN and a range constrain
    the SAME column (`k IN (1, 10) AND k < 5`), a file whose zone map is
    constant at an out-of-range member (k = 10) must NOT count into the
    provable lower bound — zero of its rows match."""
    from kf_etl_clin_portal_spark.lake.scan import estimate_rows

    def kbatch(k, lo, n=400):
        return spark.range(lo, lo + n).select(
            F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
            F.col("id").alias("seq"),
            F.lit(k).cast("long").alias("k"),
        )

    t = SnapshotTable.create(
        str(tmp_path / "kt"),
        kbatch(1, 0).schema,
        key_cols=["path"],
        num_buckets=4,
        properties={"stats.columns": "seq,k"},
    )
    append(spark, t, kbatch(10, 0))      # every file constant k=10
    append(spark, t, kbatch(1, 1000))    # every file constant k=1

    for pred in (
        "k IN (1, 10) AND k < 5",
        "k IN (1, 10) AND k > 5",
        "k = 10 AND k < 5",              # single-value contradiction
        "k IN (1, 10) AND k >= 1 AND k <= 10",  # ranges don't exclude
    ):
        est = estimate_rows(spark, t, pred)
        true = read_live(spark, t).where(F.expr(pred)).count()
        assert est["lower"] <= true <= est["upper"], (pred, est, true)
        got = _rows(read_where(spark, t, pred))
        assert got == _rows(read_live(spark, t).where(F.expr(pred))), pred

    # the k=10 file is fully excluded from upper too (eq∩range refinement
    # tightens the stats envelope), and the k=1 side stays exactly proven
    est = estimate_rows(spark, t, "k IN (1, 10) AND k < 5")
    assert est["lower"] == est["upper"] == 400
    # eq set emptied by the range → provably impossible, zero files read
    est2 = estimate_rows(spark, t, "k IN (10, 20) AND k < 5")
    assert est2["lower"] == est2["upper"] == 0
    assert read_where(spark, t, "k IN (10, 20) AND k < 5").count() == 0


def test_estimate_rows_bounds_law_property(spark, tmp_path):
    """Property check of the bounds law over generated predicates: for
    every combination of eq / IN / range conjuncts on the zone-mapped
    column — including eq∩range on the SAME column, the round-2 advisor's
    unsoundness class — lower <= true count <= upper must hold, and
    read_where must equal the unpruned filtered read. One table build,
    many predicates (each predicate costs one tiny count job)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from kf_etl_clin_portal_spark.lake.scan import estimate_rows

    def kbatch(k, lo, n=200):
        return spark.range(lo, lo + n).select(
            F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
            F.col("id").alias("seq"),
            F.lit(k).cast("long").alias("k"),
        )

    t = SnapshotTable.create(
        str(tmp_path / "pt"),
        kbatch(1, 0).schema,
        key_cols=["path"],
        num_buckets=2,
        properties={"stats.columns": "seq,k"},
    )
    for i, k in enumerate((2, 5, 9)):  # three constant-k appends
        append(spark, t, kbatch(k, i * 1000))
    live = read_live(spark, t).localCheckpoint()

    _vals = st.integers(min_value=0, max_value=11)
    _conj = st.one_of(
        st.tuples(st.just("eq"), _vals),
        st.tuples(st.just("in"), st.lists(_vals, min_size=1, max_size=3)),
        st.tuples(st.sampled_from([">", ">=", "<", "<="]), _vals),
        st.tuples(st.just("between"), st.tuples(_vals, _vals)),
    )

    def render(c):
        kind, v = c
        if kind == "eq":
            return f"k = {v}"
        if kind == "in":
            return f"k IN ({', '.join(map(str, v))})"
        if kind == "between":
            return f"k BETWEEN {v[0]} AND {v[1]}"
        return f"k {kind} {v}"

    @settings(
        max_examples=25,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(_conj, min_size=1, max_size=3))
    def check(conjs):
        pred = " AND ".join(render(c) for c in conjs)
        est = estimate_rows(spark, t, pred)
        true = live.where(F.expr(pred)).count()
        assert est["lower"] <= true <= est["upper"], (pred, est, true)
        got = read_where(spark, t, pred).count()
        assert got == true, pred

    check()


def test_pipeline_estimate_wrapper(spark, tmp_path):
    from kf_etl_clin_portal_spark.cdc.pipeline import CDCPipeline

    pipe = CDCPipeline(spark, str(tmp_path / "p"), key_cols=("repo", "path"),
                       num_buckets=4)
    pipe.apply_batch(_batch(spark, 0), batch_id="b0")
    est = pipe.estimate("seq BETWEEN 100 AND 200")
    true = pipe.current().where("seq BETWEEN 100 AND 200").count()
    assert est["lower"] <= true <= est["upper"]
