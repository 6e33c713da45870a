"""CDC ingest benchmark.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

Builds a ``local[4]`` session through the engine's public API, generates
its own seeded feed, runs one workload for about ``--seconds`` seconds,
checks every engine output against a DuckDB oracle and prints one JSON
object as the last line of standard output. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` wraps the engine's layers in spans and
prints the per-layer metrics instead (spans go to ``.perfbench_traces/``).
All scratch files live under ``.perfbench_work/`` in the working directory.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time


ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import procs  # noqa: E402

T_START = time.monotonic() - procs.process_age_s()

# engine functions traced with --trace 1
LAYER_FUNCS = [
    # (span name, where, attribute, count Spark jobs, count the result)
    ("cdc.pipeline.apply_batch", "cdc.pipeline:CDCPipeline", "apply_batch", False, None),
    ("cdc.pipeline.lookup", "cdc.pipeline:CDCPipeline", "lookup", False, None),
    ("lake.merge.merge_batch", "lake.merge", "merge_batch", True, None),
    ("lake.merge.merge_batch_mor", "lake.merge", "merge_batch_mor", True, None),
    ("lake.merge.read_merged", "lake.merge", "read_merged", False, None),
    ("lake.merge.lookup_keys", "lake.merge", "lookup_keys", True, None),
    ("lake.merge.compact_deltas", "lake.merge", "compact_deltas", True, None),
    ("lake.table.refresh", "lake.table:SnapshotTable", "refresh", False, None),
    ("lake.table.commit", "lake.table:SnapshotTable", "commit", False, None),
    ("lake.table.read", "lake.table:SnapshotTable", "read", False, None),
    ("lake.table.write_data_files", "lake.table:SnapshotTable", "write_data_files", False, len),
    ("lake.changes.read_changes", "lake.changes", "read_changes", False, None),
    ("lake.ivm.maintain_agg", "lake.ivm", "maintain_agg", True, None),
]
LAYER_STATS = {
    "cdc.pipeline.apply_batch": ["calls", "s"],
    "cdc.pipeline.lookup": ["s"],
    "lake.merge.merge_batch": ["s", "self_s", "jobs"],
    "lake.merge.merge_batch_mor": ["s", "self_s", "jobs"],
    "lake.merge.read_merged": ["s"],
    "lake.merge.lookup_keys": ["s", "jobs"],
    "lake.merge.compact_deltas": ["s", "jobs"],
    "lake.table.refresh": ["calls", "s"],
    "lake.table.commit": ["calls", "s"],
    "lake.table.read": ["calls", "s"],
    "lake.table.write_data_files": ["s", "files"],
    "lake.changes.read_changes": ["calls", "s"],
    "lake.ivm.maintain_agg": ["s", "self_s", "jobs"],
}
STAT_UNITS = {"calls": "count", "s": "s", "self_s": "s", "jobs": "count", "files": "count"}


def build(work: str):
    from kf_etl_clin_portal_spark.session import build_session

    spark = build_session(
        app_name="perfbench", master=f"local[{min(4, os.cpu_count() or 1)}]",
        shuffle_partitions=8,
        extra_conf={
            # a fixed heap and young generation keep peak RSS from following
            # the collector's run-to-run sizing decisions; no perf-data file
            # in /tmp
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms1g -Xmn256m -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop Spark, then end its JVM and wait for it: the gateway JVM exits
    when its stdin pipe closes, which otherwise happens only at exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def install_tracer(tracer) -> None:
    import importlib

    import kf_etl_clin_portal_spark.session as session_mod

    for name, where, attr, jobs, count in LAYER_FUNCS:
        mod, _, cls = where.partition(":")
        owner = importlib.import_module(f"kf_etl_clin_portal_spark.{mod}")
        tracer.wrap(getattr(owner, cls) if cls else owner, attr, name, jobs=jobs,
                    count=count)
    tracer.wrap(session_mod, "build_session", "session.build_session")


def layer_metrics(tracer, wl) -> dict:
    import statistics

    stats = tracer.per_name(tracer.root)
    out: dict[str, tuple[float, str]] = {}
    for name, keys in LAYER_STATS.items():
        got = stats.get(name, {})
        for k in keys:
            out[f"{name}.{k}"] = (got.get("n" if k == "files" else k, 0), STAT_UNITS[k])
    out["lake.table.live_files"] = (wl.live_files, "count")
    out["lake.table.delta_files"] = (statistics.mean(wl.delta_files), "count")
    engine = getattr(wl, "engine_s", [])
    out["streaming.micro_batch.epochs"] = (len(engine), "count")
    out["streaming.micro_batch.engine_s"] = (statistics.mean(engine) if engine else 0, "s")
    build_spans = [s for s in tracer.spans if s["name"] == "session.build_session"]
    out["session.build_s"] = (build_spans[0]["end"] - build_spans[0]["start"], "s")
    root = tracer.spans[tracer.root]
    jobs = root["jobs"]
    out["spark.jobs"] = (jobs / wl.rounds, "count")
    out["spark.tasks"] = (tracer.tasks(root["job0"] + 1, root["job0"] + jobs) / wl.rounds,
                          "count")
    out["trace.coverage"] = (tracer.coverage(tracer.root), "share")
    return out


def main(argv=None) -> int:
    from perfbench.oracle import CheckFailed
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kf_etl_clin_portal_spark")):
        print(f"no engine package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        install_tracer(tracer)
    spark = build(work)
    try:
        if tracer:
            tracer.attach(spark)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        wl.setup()
        setup_s = time.monotonic() - T_START
        wl.run(args.seconds)
        rss = procs.peak_rss_mb(procs.family())
        correct = True
        try:
            wl.check()
        except CheckFailed as e:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
            correct = False
        if tracer:
            metrics = layer_metrics(tracer, wl)
            tracer.dump(os.path.join(
                ROOT, ".perfbench_traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = {**wl.metrics(), "setup_s": (setup_s, "s"),
                       "peak_rss_mb": (rss, "MB")}
    finally:
        stop(spark)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": correct,
        "attempted": wl.attempted,
        "failed": 0,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
