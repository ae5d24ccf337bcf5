"""CDC ingest benchmark: bounded backfill, open-loop tail and hot-key runs.

Usage, from the repository root::

    python3 cdcbench/run.py --workload {backfill,tail,hotkey} --seed N \\
        --seconds S --trace {0,1}

The run generates its inputs from the seed (genlog), hands the engine only
the segment files, measures for about ``--seconds`` seconds, checks the
final table against the pure-Python oracle and prints one line per metric
(name, value, unit).  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` is a separate run with span wrappers
and Spark's REST API on, and reports the per-layer metrics.  Everything the
run writes stays under ``.cdcbench/`` in the current directory.  DESIGN.md
says what each workload and metric is for.
"""

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
PACKAGE = "myzql_binlog_connector_spark"
WORKLOADS = ("backfill", "tail", "hotkey")

E2E_UNITS = {
    "setup_s": "s",
    "apply_rows_per_s": "rows/s",
    "latency_p50_ms": "ms",
    "latency_max_ms": "ms",
    "read_ms": "ms",
    "feed_rows_per_s": "rows/s",
    "stored_bytes_per_row": "B",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "stream.wait_ms": "ms",
    "stream.backlog_max": "count",
    "stream.gen_late_ms": "ms",
    "decode.rows_per_s": "rows/s",
    "decode.scan_schemas_ms": "ms",
    "decode.events_in": "count",
    "decode.rows_out": "count",
    "apply.self_ms": "ms",
    "apply.gate_dropped_rows": "count",
    "lake.merge_ms": "ms",
    "lake.fold_merge_ms": "ms",
    "lake.fold_commits": "count",
    "lake.folded_buckets": "count",
    "lake.hot_buckets": "count",
    "lake.dirty_buckets": "count",
    "lake.files_written": "count",
    "lake.bytes_written": "B",
    "lake.live_over_input": "ratio",
    "lake.read_files": "count",
    "feed.partitions": "count",
    "feed.rows": "count",
    "spark.jobs_per_commit": "count",
    "spark.stages_per_commit": "count",
    "spark.task_skew": "ratio",
    "spark.shuffle_write_bytes": "B",
    "scaling_eff": "ratio",
    "trace.overhead_frac": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"cdcbench: no {PACKAGE}/ in {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".cdcbench")
    work = os.path.join(state, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_IP="127.0.0.1",
    )
    sys.path.insert(0, ROOT)
    import engine  # noqa: E402  (imports pyspark and the engine: part of set-up)
    import fixtures  # noqa: E402

    os.environ["SPARK_GRAFT_CPUS"] = str(engine.CORES)
    try:
        t = time.monotonic()
        fx = fixtures.load(os.path.join(state, "cache"), args.workload, args.seed, args.seconds)
        fixture_s = time.monotonic() - t
        r = engine.run(args, fx, work, PROCESS_START, fixture_s)
        if args.trace:
            traces = os.path.join(state, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(traces, f"{args.workload}-s{args.seed}-{int(time.time())}.json")
            shutil.move(os.path.join(work, "spans.json"), spans)
            print(f"spans: {spans}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {k: (r.layer[k], u) for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: (r.e2e[k], u) for k, u in E2E_UNITS.items()}

    for p in r.problems:
        print(f"cdcbench: {p}", file=sys.stderr)
    print(f"{args.workload} seed={args.seed} trace={args.trace}: "
          f"{r.attempted} operations, {r.failed} failed")
    for k, (v, u) in metrics.items():
        print(f"  {k:28s} {v:16.4f} {u}")
    print(json.dumps({
        "correct": r.failed == 0 and not r.problems,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
