"""Smoke the spark-submit job entrypoint end-to-end in a subprocess (own
JVM, as spark-submit would): generate → batch replay → verify → publish."""

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_run_replay_cli_batch_verify_publish(tmp_path):
    feed = str(tmp_path / "feed")
    table = str(tmp_path / "table")
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    env["SPARK_GRAFT_MASTER"] = "local[4]"
    env["SPARK_GRAFT_SHUFFLE"] = "4"
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "jobs", "run_replay.py"),
            "--generate", "5000",
            "--feed", feed,
            "--table", table,
            "--batches", "3",
            "--verify",
            "--publish",
        ],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert out.returncode == 0, out.stderr[-2000:]
    assert lines, out.stdout
    rep = json.loads(lines[-1])
    assert rep["parity_ok"] is True
    assert rep["events"] == 5000 and rep["batches"] == 3
    assert "published_version" in rep


def test_run_replay_cli_mor_maintenance_flags(tmp_path):
    """MoR replay + --changes-since + --compact-after with explicit
    strategy; parity must hold after compaction and the change feed must
    cover the whole replay."""
    feed = str(tmp_path / "feed")
    table = str(tmp_path / "table")
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    env["SPARK_GRAFT_MASTER"] = "local[4]"
    env["SPARK_GRAFT_SHUFFLE"] = "4"
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "jobs", "run_replay.py"),
            "--generate", "4000",
            "--feed", feed,
            "--table", table,
            "--batches", "2",
            "--merge-strategy", "mor",
            "--changes-since", "0",
            "--compact-after",
            "--compact-strategy", "auto",
            "--verify",
        ],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert out.returncode == 0, out.stderr[-2000:]
    rep = json.loads(lines[-1])
    assert rep["parity_ok"] is True
    assert rep["buckets_compacted"] > 0
    # per-batch dedup means change rows <= events but >= final live keys
    assert 0 < rep["change_rows"] <= rep["events"]


def test_run_replay_cli_stream_mode(tmp_path):
    feed = str(tmp_path / "feed")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    env["SPARK_GRAFT_MASTER"] = "local[4]"
    env["SPARK_GRAFT_SHUFFLE"] = "4"
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "jobs", "run_replay.py"),
            "--generate", "3000",
            "--feed", feed,
            "--table", table,
            "--mode", "stream",
            "--checkpoint", ckpt,
            "--verify",
        ],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert out.returncode == 0, out.stderr[-2000:]
    rep = json.loads(lines[-1])
    assert rep["mode"] == "stream" and rep["parity_ok"] is True


def test_run_replay_cli_round2_maintenance_flags(tmp_path):
    """--auto-compact / --expire-keep / --remove-orphans-grace /
    --publish-min-rows together: parity holds through the maintenance
    chain, the audit-gated publish moves the ref, and a second run with an
    impossible audit floor exits 1 without touching the ref."""
    feed = str(tmp_path / "feed")
    table = str(tmp_path / "table")
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    env["SPARK_GRAFT_MASTER"] = "local[4]"
    env["SPARK_GRAFT_SHUFFLE"] = "4"
    base = [
        sys.executable,
        os.path.join(REPO, "jobs", "run_replay.py"),
        "--table", table,
        "--merge-strategy", "mor",
    ]
    out = subprocess.run(
        base + [
            "--generate", "4000",
            "--feed", feed,
            "--batches", "4",
            "--verify",
            "--auto-compact", "0.0",  # any delta bytes trigger compaction
            "--expire-keep", "2",
            "--remove-orphans-grace", "0",
            "--publish-min-rows", "1",
        ],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rep = json.loads([ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1])
    assert rep["parity_ok"] is True
    assert rep["auto_compacted_buckets"] and rep["auto_compacted_buckets"] > 0
    assert rep["expire"]["expired_below"] >= 0
    assert rep["orphans"]["orphans_deleted"] == 0  # nothing stranded
    assert "published_version" in rep

    # re-offer (all batches fence) with an unreachable audit floor → exit 1
    out2 = subprocess.run(
        base + ["--feed", feed, "--batches", "4",
                "--publish-min-rows", "10000000"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert out2.returncode == 1, out2.stderr[-2000:]
    rep2 = json.loads([ln for ln in out2.stdout.splitlines() if ln.startswith("{")][-1])
    assert rep2["skipped"] == rep2["batches"]
    assert "audit_failed" in rep2 and "published_version" not in rep2


def test_run_replay_cli_quarantine(tmp_path):
    """--constraint + --quarantine: violating events dead-letter instead of
    failing the run, and --verify checks parity against the feed minus
    the dead-lettered events."""
    feed = str(tmp_path / "feed")
    table = str(tmp_path / "table")
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    env["SPARK_GRAFT_MASTER"] = "local[4]"
    env["SPARK_GRAFT_SHUFFLE"] = "4"
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "jobs", "run_replay.py"),
            "--generate", "4000",
            "--feed", feed,
            "--table", table,
            "--batches", "3",
            "--constraint", "no_go=lang <> 'go'",
            "--quarantine", str(tmp_path / "dlq"),
            "--verify",
        ],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert out.returncode == 0, out.stderr[-2000:]
    rep = json.loads(lines[-1])
    assert rep["parity_ok"] is True
    assert rep["quarantined_rows"] > 0
    assert rep["events"] + rep["quarantined_rows"] >= 4000 - rep["quarantined_rows"]


def test_run_views_cli_tick(spark, tmp_path):
    """Maintenance-tick CLI: seed a MoR source with run_replay and a
    lang-keyed dim in-process, then one run_views tick maintains an
    aggregate view (auto mode) and a join view; a second tick is a no-op
    (cursors parked)."""
    from kf_etl_clin_portal_spark.cdc.pipeline import CDCPipeline

    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    env["SPARK_GRAFT_MASTER"] = "local[4]"
    env["SPARK_GRAFT_SHUFFLE"] = "4"
    src, dim = str(tmp_path / "src"), str(tmp_path / "dim")
    agg, jv = str(tmp_path / "agg"), str(tmp_path / "jv")

    def run(script, *cli):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "jobs", script), *cli],
            capture_output=True, text=True, env=env, timeout=600,
        )
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(lines[-1])

    run("run_replay.py", "--generate", "3000", "--table", src,
        "--batches", "2", "--merge-strategy", "mor")
    dim_pipe = CDCPipeline(spark, dim, key_cols=("lang",), num_buckets=2)
    langs = sorted(
        r["lang"]
        for r in spark.read.parquet(f"{src}/data/*/*.parquet")
        .select("lang").distinct().collect()
    )
    dim_pipe.apply_batch(
        spark.createDataFrame(
            [(i + 1, "upsert", l, float(i)) for i, l in enumerate(langs)],
            "seq long, op string, lang string, rating double",
        ),
        batch_id="d1",
    )

    rep = run(
        "run_views.py", "--source", src,
        "--agg", f"{agg}:lang:bytes=length(content)@auto",
        "--join", f"{jv}:lang=lang@{dim}",
    )
    assert rep["views"][agg]["applied"] is True
    assert rep["views"][jv]["applied"] is True

    rep2 = run(
        "run_views.py", "--source", src,
        "--agg", f"{agg}:lang:bytes=length(content)@auto",
        "--join", f"{jv}:lang=lang@{dim}",
        "--auto-compact", "0.0",
    )
    assert rep2["views"][agg]["applied"] is False
    assert rep2["views"][jv]["applied"] is False
    # ratio 0.0 forces compaction of any view with delta files
    assert rep2["views"][agg].get("compacted_buckets") is not None

    # the maintained view content is readable back in-process and joined
    view = CDCPipeline(spark, jv, key_cols=("repo", "path"), num_buckets=8,
                       merge_strategy="mor")
    rows = view.current()
    assert rows.count() > 0
    assert rows.where(F.col("rating").isNull()).count() == 0

    # dedup indexes ride the same tick: minhash signatures for every live
    # doc, paragraph ownership claims; a repeat tick parks both cursors
    mh, pi = str(tmp_path / "mh"), str(tmp_path / "pi")
    rep3 = run(
        "run_views.py", "--source", src,
        "--minhash-index", mh, "--paragraph-index", f"{pi}@\\s+the\\s+",
        "--plan",
    )
    assert rep3["views"][mh]["applied"] is True
    assert rep3["views"][pi]["applied"] is True
    # MoR source with uncompacted deltas: the advisor must say so
    assert any(r["action"] == "compact_deltas" for r in rep3["maintenance"])
    src_pipe = CDCPipeline(spark, src, num_buckets=8, merge_strategy="mor")
    mh_pipe = CDCPipeline(spark, mh, key_cols=("repo", "path"), num_buckets=8)
    assert mh_pipe.current().count() == src_pipe.current().count()
    pi_pipe = CDCPipeline(spark, pi, key_cols=("h",), num_buckets=8)
    assert pi_pipe.current().count() > 0
    rep4 = run(
        "run_views.py", "--source", src,
        "--minhash-index", mh, "--paragraph-index", f"{pi}@\\s+the\\s+",
    )
    assert rep4["views"][mh]["applied"] is False
    assert rep4["views"][pi]["applied"] is False

    # BM25 term-vector index rides the tick (default text col 'content');
    # one row per live doc with a non-empty vector; repeat tick parks
    bm = str(tmp_path / "bm")
    rep_bm = run("run_views.py", "--source", src, "--bm25-index", bm)
    assert rep_bm["views"][bm]["applied"] is True
    bm_pipe = CDCPipeline(spark, bm, key_cols=("repo", "path"), num_buckets=8)
    assert bm_pipe.current().count() == src_pipe.current().count()
    assert bm_pipe.current().where(F.size("terms") < 1).count() == 0
    rep_bm2 = run("run_views.py", "--source", src, "--bm25-index", bm)
    assert rep_bm2["views"][bm]["applied"] is False

    # secondary index rides the tick too: lang → (repo, path), then a
    # probe equals a full filter; the repeat tick parks its cursor
    si = str(tmp_path / "si")
    rep5 = run("run_views.py", "--source", src, "--secondary", f"{si}:lang")
    assert rep5["views"][si]["applied"] is True
    from kf_etl_clin_portal_spark.lake.secondary import index_pipe, lookup_by

    src_table = src_pipe.table.refresh()
    sidx = index_pipe(spark, src_table, si, "lang", num_buckets=8)
    lang = src_pipe.current().select("lang").first()["lang"]
    got = sorted(
        (r["repo"], r["path"])
        for r in lookup_by(spark, src_table, sidx, lang,
                           source_id="views-si").collect()
    )
    want = sorted(
        (r["repo"], r["path"])
        for r in src_pipe.current().where(F.col("lang") == lang)
        .select("repo", "path").collect()
    )
    assert got == want and got
    rep6 = run("run_views.py", "--source", src, "--secondary", f"{si}:lang")
    assert rep6["views"][si]["applied"] is False

    # distinct support table rides the tick: per-lang distinct content
    # lengths; the view read must equal a recompute; repeat tick parks
    nd = str(tmp_path / "nd")
    rep7 = run("run_views.py", "--source", src,
               "--distinct", f"{nd}:lang:length(content)@auto")
    assert rep7["views"][nd]["applied"] is True
    from kf_etl_clin_portal_spark.lake.ivm import distinct_view

    nd_pipe = CDCPipeline(spark, nd, key_cols=("lang", "v"), num_buckets=8,
                          merge_strategy="mor")
    got_nd = {
        r["lang"]: (r["nd_v"], r["min_v"], r["max_v"])
        for r in distinct_view(nd_pipe).collect()
    }
    want_nd = {
        r["lang"]: (r["nd"], r["mn"], r["mx"])
        for r in src_pipe.current()
        .select("lang", F.expr("length(content)").alias("x"))
        .groupBy("lang")
        .agg(F.countDistinct("x").cast("long").alias("nd"),
             F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    }
    assert got_nd == want_nd and got_nd
    rep8 = run("run_views.py", "--source", src,
               "--distinct", f"{nd}:lang:length(content)@auto")
    assert rep8["views"][nd]["applied"] is False


def test_sep_at_cli_separator_is_uri_authority_aware():
    """`_sep_at` (jobs/run_views.py): the field-separator '@' is the last
    one NOT inside a URI authority — object-store roots keep their
    authority '@'; separator regexes may contain '/'."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    try:
        from run_views import _sep_at
    finally:
        sys.path.pop(0)

    # plain paths: last '@' always splits, even with '/' in the tail regex
    assert _sep_at("/data/idx@</?p>") == len("/data/idx")
    assert _sep_at("/data/idx@\\s+the\\s+") == len("/data/idx")
    assert _sep_at("/data/idx") == -1
    # authority '@' is never a separator
    uri = "abfss://cont@acct.dfs.core.windows.net/p"
    assert _sep_at(uri) == -1
    assert _sep_at("abfss://cont@acct.dfs.core.windows.net") == -1
    # separator after a URI root (regex tail, even with '/')
    assert _sep_at(uri + "@</?p>") == len(uri)
    # --join: dim root is itself a URI with authority '@'
    spec = "/v:fk=dk@" + uri
    assert _sep_at(spec) == len("/v:fk=dk")


def test_split_fields_keeps_scheme_colons_whole():
    """`_split_fields` (jobs/run_views.py): the shared ':' field splitter
    behind --agg/--join/--distinct/--clean-corpus keeps URI scheme colons
    inside ROOT positions (round-2 advisor: --distinct/--clean-corpus used
    a naive split(':') that tore `s3://` roots apart)."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    try:
        from run_views import _split_fields
    finally:
        sys.path.pop(0)

    assert _split_fields("/v:lang:n=count(1)", 2) == ["/v", "lang", "n=count(1)"]
    # scheme'd ROOT survives whole
    assert _split_fields("s3://bkt/t:lang:bytes=length(c)", 2) == [
        "s3://bkt/t", "lang", "bytes=length(c)"
    ]
    # last field keeps its own colons verbatim (maxsplit) — SQL '::' casts
    assert _split_fields("s3://bkt/t:g:v=x::int", 2) == [
        "s3://bkt/t", "g", "v=x::int"
    ]
    # --clean-corpus: THREE roots, each possibly scheme'd
    assert _split_fields("s3://b/clean:s3://b/fp:s3://b/mh") == [
        "s3://b/clean", "s3://b/fp", "s3://b/mh"
    ]
    assert _split_fields("/c:/f:/m") == ["/c", "/f", "/m"]
    # too few separators → fewer fields, caller's arity check fires
    assert _split_fields("s3://bkt/only") == ["s3://bkt/only"]


def test_run_ingest_cli_batch_dlq_and_patch(tmp_path):
    """run_ingest.py end-to-end in one JVM: good+bad envelopes with a DLQ,
    then a sparse-image (--patch) second batch folding onto live state."""
    import glob
    import json as _json
    import shutil
    import subprocess
    import sys

    topic = tmp_path / "topic"
    topic.mkdir()
    rows = [
        '{"after": {"repo": "r", "path": "a", "lang": "py", "content": "v1"},'
        ' "op": "c", "ts_ms": 1, "source": {"lsn": 1}}',
        '{"after": {"repo": "r", "path": "b", "lang": "go", "content": "w1"},'
        ' "op": "c", "ts_ms": 2, "source": {"lsn": 2}}',
        "garbage not json",
    ]
    (topic / "seg0.txt").write_text("\n".join(rows) + "\n")

    env = dict(os.environ, SPARK_GRAFT_MASTER="local[4]",
               PYTHONPATH=REPO)
    payload = "repo string, path string, lang string, content string"
    r1 = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_ingest.py"),
         "--topic", str(topic), "--format", "text",
         "--payload", payload, "--keys", "repo,path",
         "--table", str(tmp_path / "t"), "--buckets", "4",
         "--on-error", "dlq", "--dlq", str(tmp_path / "dlq"),
         "--audit"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert r1.returncode == 0, r1.stderr[-2000:]
    out1 = _json.loads(r1.stdout.strip().splitlines()[-1])
    assert out1["n_bad"] == 1 and out1["n_events"] == 2
    assert out1["audit"]["ok"] is False or out1["audit"]["ok"] is True  # present

    # sparse patch batch: change only content of (r, a)
    topic2 = tmp_path / "topic2"
    topic2.mkdir()
    (topic2 / "seg0.txt").write_text(
        '{"after": {"repo": "r", "path": "a", "content": "v2",'
        ' "changed_cols": ["content"]},'
        ' "op": "u", "ts_ms": 3, "source": {"lsn": 3}}\n'
    )
    r2 = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_ingest.py"),
         "--topic", str(topic2), "--format", "text",
         "--payload", payload, "--keys", "repo,path",
         "--table", str(tmp_path / "t"), "--buckets", "4",
         "--patch", "--batch-id", "ingest-e000001"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]

    import duckdb
    files = glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"),
                      recursive=True)
    assert files
    con = duckdb.connect()
    got = con.execute(
        "SELECT path, lang, content FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) rn"
        f"  FROM read_parquet({files!r})"
        ") WHERE rn = 1 AND NOT is_deleted ORDER BY path"
    ).fetchall()
    # lang survived the sparse patch, content updated
    assert got == [("a", "py", "v2"), ("b", "go", "w1")]


def test_run_views_apply_plan(tmp_path):
    """--apply-plan executes the advisor's safe verbs: an uncompacted MoR
    source gets compact_deltas applied; the follow-up tick reports a
    clean plan (the recommendation cleared after the verb ran)."""
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    env["SPARK_GRAFT_MASTER"] = "local[4]"
    env["SPARK_GRAFT_SHUFFLE"] = "4"
    src = str(tmp_path / "src")

    def run(script, *cli):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "jobs", script), *cli],
            capture_output=True, text=True, env=env, timeout=600,
        )
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(lines[-1])

    run("run_replay.py", "--generate", "4000", "--table", src,
        "--batches", "4", "--merge-strategy", "mor")
    rep = run("run_views.py", "--source", src, "--apply-plan")
    acts = {a["action"]: a for a in rep["maintenance_applied"]}
    assert "compact_deltas" in acts and acts["compact_deltas"]["result"] >= 1
    assert all("skipped" not in a or a["action"] in
               ("vacuum_tombstones", "rebucket")
               for a in rep["maintenance_applied"])

    rep2 = run("run_views.py", "--source", src, "--plan")
    assert [r for r in rep2["maintenance"]
            if r["action"] == "compact_deltas"] == []

    # declare a TTL watermark → the next apply-plan executes the
    # retention delete; the plan after that is retention-clean
    from kf_etl_clin_portal_spark.lake.table import SnapshotTable

    SnapshotTable(src).refresh().set_properties({"retention.min_seq": "1000"})
    rep3 = run("run_views.py", "--source", src, "--apply-plan")
    acts3 = {a["action"]: a for a in rep3["maintenance_applied"]}
    assert acts3["retention_delete"]["result"]["rows_deleted"] > 0
    rep4 = run("run_views.py", "--source", src, "--plan")
    assert [r for r in rep4["maintenance"]
            if r["action"] == "retention_delete"] == []


def test_run_views_scd2_tick(tmp_path):
    """--scd2 maintains a Type-2 history view on the tick; a repeat tick
    parks (applied=False)."""
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    env["SPARK_GRAFT_MASTER"] = "local[4]"
    env["SPARK_GRAFT_SHUFFLE"] = "4"
    src, hist = str(tmp_path / "src"), str(tmp_path / "hist")

    def run(script, *cli):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "jobs", script), *cli],
            capture_output=True, text=True, env=env, timeout=600,
        )
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(lines[-1])

    run("run_replay.py", "--generate", "2000", "--table", src,
        "--batches", "2", "--merge-strategy", "mor")
    rep = run("run_views.py", "--source", src, "--scd2", hist)
    assert rep["views"][hist]["applied"] is True
    assert rep["views"][hist]["versions_written"] > 0
    rep2 = run("run_views.py", "--source", src, "--scd2", hist)
    assert rep2["views"][hist]["applied"] is False


def test_run_views_ivf_tick(spark, tmp_path):
    """--ivf-index pins the quantizer on first tick (full build) and
    maintains assignments incrementally; a repeat tick parks."""
    from kf_etl_clin_portal_spark.cdc.pipeline import CDCPipeline

    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    env["SPARK_GRAFT_MASTER"] = "local[4]"
    env["SPARK_GRAFT_SHUFFLE"] = "4"
    src, idx = str(tmp_path / "src"), str(tmp_path / "idx")

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src_pipe = CDCPipeline(
        spark, src, key_cols=("vec_id",), num_buckets=4, merge_strategy="mor"
    )
    src_pipe.apply_batch(
        emb.select("vec_id", "embedding").withColumn(
            "seq", F.col("vec_id").cast("long")
        ),
        batch_id="t-b0",
    )

    def run(*cli):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "jobs", "run_views.py"), *cli],
            capture_output=True, text=True, env=env, timeout=600,
        )
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(lines[-1])

    rep = run("--source", src, "--ivf-index", idx)
    assert rep["views"][idx]["applied"] is True
    assert rep["views"][idx]["n_lists"] == 8
    rep2 = run("--source", src, "--ivf-index", idx)
    assert rep2["views"][idx]["applied"] is False
    idx_pipe = CDCPipeline(
        spark, idx, key_cols=("vec_id",), num_buckets=8, merge_strategy="mor"
    )
    assert idx_pipe.current().count() == src_pipe.current().count()


def test_run_purge_cli_dry_run_then_purge(spark, tmp_path):
    """Purge CLI: seed with run_replay, dry-run reports without changing
    anything, the real purge erases and a re-run with the same id fences."""
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    env["SPARK_GRAFT_MASTER"] = "local[4]"
    env["SPARK_GRAFT_SHUFFLE"] = "4"
    table = str(tmp_path / "t")

    def run(script, *cli):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "jobs", script), *cli],
            capture_output=True, text=True, env=env, timeout=600,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        return json.loads(lines[-1])

    rep = run("run_replay.py", "--generate", "3000",
              "--feed", str(tmp_path / "f"), "--table", table, "--verify")
    assert rep["parity_ok"] is True

    dry = run("run_purge.py", "--table", table, "--purge-id", "cli1",
              "--where", "repo = 'repo_0001'", "--dry-run")
    assert dry["dry_run"] is True and dry["rows_matching"] > 0
    pre_rows = dry["rows_matching"]

    ev = run("run_purge.py", "--table", table, "--purge-id", "cli1",
             "--where", "repo = 'repo_0001'")
    assert ev["rows_purged"] == pre_rows
    assert ev["residual_payload_rows"] == 0

    again = run("run_purge.py", "--table", table, "--purge-id", "cli1",
                "--where", "repo = 'repo_0001'", "--fence-seq",
                str(ev["fence_seq"]))
    assert again["rows_purged"] == 0  # nothing live; fence batch fences


def test_run_views_clean_corpus_tick(spark, tmp_path):
    """--clean-corpus runs one curation poll on the tick; the clean table
    holds the quality+dedup survivors; a repeat tick parks."""
    from kf_etl_clin_portal_spark.cdc.pipeline import CDCPipeline

    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    env["SPARK_GRAFT_MASTER"] = "local[4]"
    env["SPARK_GRAFT_SHUFFLE"] = "4"
    src = str(tmp_path / "src")
    clean, fp, mh = (str(tmp_path / x) for x in ("clean", "fp", "mh"))

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src_pipe = CDCPipeline(spark, src, key_cols=("doc_id",), num_buckets=4,
                           merge_strategy="mor")
    src_pipe.apply_batch(
        docs.select(
            "doc_id", F.col("doc_id").cast("long").alias("seq"),
            F.col("text").alias("content"),
        ),
        batch_id="t-b0",
    )

    def run(*cli):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "jobs", "run_views.py"), *cli],
            capture_output=True, text=True, env=env, timeout=600,
        )
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(lines[-1])

    spec = f"{clean}:{fp}:{mh}@length(content) >= 120"
    rep = run("--source", src, "--clean-corpus", spec)
    r = rep["views"][clean]
    assert r["applied"] is True and r["accepted"] > 0
    clean_pipe = CDCPipeline(spark, clean, key_cols=("doc_id",),
                             num_buckets=8, merge_strategy="mor")
    n = clean_pipe.current().count()
    assert 0 < n < src_pipe.current().count()
    assert clean_pipe.current().where("length(content) < 120").count() == 0
    rep2 = run("--source", src, "--clean-corpus", spec)
    assert rep2["views"][clean]["applied"] is False
