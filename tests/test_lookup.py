"""Point lookup (lake/merge.py:lookup_keys): correct rows, bucket-pruned I/O.

The reference has no key-value read path (participant lookups are served by
Elasticsearch after indexing); a CDC state table should serve them straight
from the lake by hashing the key to its bucket.
"""

import re

from pyspark.sql import functions as F

from kf_etl_clin_portal_spark.cdc.events import generate_change_events
from kf_etl_clin_portal_spark.cdc.pipeline import CDCPipeline
from kf_etl_clin_portal_spark.lake.merge import lookup_keys


def _build(spark, tmp_path, strategy):
    ev = generate_change_events(spark, 3000, seed=5)
    pipe = CDCPipeline(
        spark, str(tmp_path / "tbl"), num_buckets=16, merge_strategy=strategy
    )
    pipe.replay(ev, n_batches=3, by="seq", feed_id="lk")
    return pipe


def _some_keys(pipe, n=3):
    rows = pipe.current().select("repo", "path").limit(n).collect()
    return [{"repo": r["repo"], "path": r["path"]} for r in rows]


def test_lookup_matches_full_read_cow(spark, tmp_path):
    pipe = _build(spark, tmp_path, "union_agg")
    keys = _some_keys(pipe)
    got = {tuple(r) for r in pipe.lookup(keys).collect()}
    cond = F.lit(False)
    for k in keys:
        cond = cond | ((F.col("repo") == k["repo"]) & (F.col("path") == k["path"]))
    want = {tuple(r) for r in pipe.current().where(cond).collect()}
    assert got == want and len(got) == len(keys)


def test_lookup_matches_and_prunes_mor(spark, tmp_path):
    pipe = _build(spark, tmp_path, "mor")  # un-compacted: deltas present
    keys = _some_keys(pipe, n=2)
    df = lookup_keys(spark, pipe.table, keys)
    got = {tuple(r) for r in df.where(~F.col("is_deleted")).drop("is_deleted").collect()}
    cond = F.lit(False)
    for k in keys:
        cond = cond | ((F.col("repo") == k["repo"]) & (F.col("path") == k["path"]))
    want = {tuple(r) for r in pipe.current().where(cond).collect()}
    assert got == want and len(got) == len(keys)

    # bucket pruning: every scanned file lives in one of the keys' buckets
    from kf_etl_clin_portal_spark.lake.table import bucket_expr

    probe = spark.createDataFrame([(k["repo"], k["path"]) for k in keys], ["repo", "path"])
    expect = {r[0] for r in probe.select(bucket_expr(["repo", "path"], 16).alias("b")).collect()}
    scanned = {int(re.search(r"/b=(\d+)/", f).group(1)) for f in df.inputFiles()}
    assert scanned <= expect
    assert len(scanned) < 16  # genuinely pruned, not a full scan


def test_bloom_filter_property_writes_blooms(spark, tmp_path):
    """write.bloom.columns adds parquet bloom filters: same data must
    produce strictly larger files (the bloom bitsets) and read back
    identically — the within-bucket skip for key-equality probes that zone
    maps (min/max over the full key domain) can't provide."""
    ev = generate_change_events(spark, 2000, seed=6)

    def build(props):
        pipe = CDCPipeline(
            spark,
            str(tmp_path / f"tbl_{bool(props)}"),
            num_buckets=4,
            table_properties=props,
        )
        pipe.replay(ev, n_batches=1, by="seq", feed_id="bl")
        return pipe

    plain = build(None)
    bloomed = build({"write.bloom.columns": "repo,path"})
    b_plain = sum(f["bytes"] for f in plain.table.state["files"])
    b_bloom = sum(f["bytes"] for f in bloomed.table.state["files"])
    assert b_bloom > b_plain
    assert {tuple(r) for r in plain.current().collect()} == {
        tuple(r) for r in bloomed.current().collect()
    }
    # and the point-lookup path reads them fine
    keys = _some_keys(bloomed, n=2)
    assert bloomed.lookup(keys).count() == len(keys)


def test_lookup_missing_key_column_raises(spark, tmp_path):
    import pytest

    pipe = _build(spark, tmp_path, "union_agg")
    with pytest.raises(ValueError, match="missing key column"):
        lookup_keys(spark, pipe.table, [{"repo": "only-half-the-key"}])


def test_lookup_int_key_reads_the_right_buckets(spark, tmp_path):
    """Keys are hashed by the key column's type: a Python int looked up in
    an IntegerType column goes through Spark's hashInt, not the hashLong a
    LongType literal would get — otherwise most rows are silently missed."""
    from kf_etl_clin_portal_spark.lake.load import append
    from kf_etl_clin_portal_spark.lake.table import SnapshotTable

    df = spark.range(200).select(
        F.col("id").cast("int").alias("pid"),
        F.col("id").alias("seq"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("val"),
    )
    t = SnapshotTable.create(str(tmp_path / "ik"), df.schema, key_cols=["pid"], num_buckets=16)
    append(spark, t, df)
    ids = list(range(0, 200, 20))
    got = {(r["pid"], r["val"]) for r in lookup_keys(spark, t, [{"pid": i} for i in ids]).collect()}
    assert got == {(i, f"v{i}") for i in ids}


def test_lookup_pinned_version_routes_with_that_snapshots_layout(spark, tmp_path):
    """A version pinned before a rebucket is read in its own bucket layout,
    so its keys must be routed with its own bucket count, not the head's."""
    pipe = _build(spark, tmp_path, "union_agg")  # 16 buckets
    keys = _some_keys(pipe, n=6)
    v = pipe.table.version
    before = sorted(map(tuple, lookup_keys(spark, pipe.table, keys).collect()))
    assert len(before) == len(keys)
    pipe.rebucket(4)
    assert sorted(map(tuple, lookup_keys(spark, pipe.table, keys, version=v).collect())) == before
    assert sorted(map(tuple, lookup_keys(spark, pipe.table, keys).collect())) == before


def _job_id_after_marker(spark):
    """Id of a just-finished marker job (found through its job group)."""
    sc = spark.sparkContext
    sc.setJobGroup("lookup-job-guard", "marker")
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return max(sc.statusTracker().getJobIdsForGroup("lookup-job-guard"))


def _jobs_since(spark, job0):
    """Jobs started after ``job0``: job ids are consecutive, so probe
    forward until one is missing (the perfbench tracer's count)."""
    tracker = spark.sparkContext.statusTracker()
    j = job0
    while tracker.getJobInfo(j + 1) is not None:
        j += 1
    return j - job0


def test_lookup_starts_no_spark_job(spark, tmp_path):
    """Building the lazy lookup DataFrame runs nothing: the buckets are
    routed on the driver. Counted twice — the count must repeat exactly —
    and the counter itself must see the read's job once it is collected."""
    for strategy in ("union_agg", "mor"):
        pipe = _build(spark, tmp_path / strategy, strategy)
        keys = _some_keys(pipe, n=6)
        counts = []
        for _ in range(2):
            job0 = _job_id_after_marker(spark)
            df = lookup_keys(spark, pipe.table, keys)
            counts.append(_jobs_since(spark, job0))
        assert counts == [0, 0], (strategy, counts)
        df.collect()
        assert _jobs_since(spark, job0) > 0
