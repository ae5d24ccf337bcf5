"""One benchmark run: drives the engine's public CDC API from outside.

``run()`` sets the engine up, measures one workload, checks the final
table against the oracle and returns the end-to-end metrics (and, on a
traced run, the per-layer ones).  See DESIGN.md for what each workload
and metric is for.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

import fixtures
from pyspark import SparkContext
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from tracing import SparkRest, Tracer, attribute_jobs, ms

import myzql_binlog_connector_spark.functions.decode as decode_mod
import myzql_binlog_connector_spark.streaming.replay as replay_mod
from myzql_binlog_connector_spark.functions.decode import (
    decode_changes,
    decode_typed_from_files,
    scan_schemas,
)
from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
from myzql_binlog_connector_spark.streaming.feed import LakeChangesDataSource
from myzql_binlog_connector_spark.streaming.replay import BinlogReplayStream

KEY_COLS = ["conv_id", "turn_idx"]
COLUMN_NAMES = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
CORES = 4
# bounded workloads repeat the apply for --seconds, at least this often
MIN_REPS = 2
# the reader metrics come in rounds of READS_PER_ROUND reads and one change
# feed drain, spread through the run (bounded: one round after every apply;
# tail: TAIL_ROUNDS after the stream).  The host's speed swings by +-15% over
# seconds; a median over samples taken ~20 s apart averages that out, where
# back-to-back samples all catch the same swing.  Set-up reads and drains
# once, and the reader keeps getting faster over its next few reads, so
# there are several reads per drain.
READS_PER_ROUND = 3
TAIL_ROUNDS = 6
# tail: a segment not committed this many landing periods after the last
# landing counts as failed
TAIL_DEADLINE_PERIODS = 10
# traced bounded runs: apply.self_ms + lake.merge_ms must give the median
# apply span within SELF_TIME_TOL (medians of parts over a few commits can
# differ from the median of the whole by several percent), and no other
# child of an apply may take more than CHILD_TOL of its span
SELF_TIME_TOL = 0.10
CHILD_TOL = 0.05
RSS_SAMPLE_S = 0.25
# JVM heap, fixed from the start: a heap that grows from the JVM's default
# keeps every apply slower than the last for many repeats
HEAP = "2g"
# C1 only: the JVM reaches its steady speed after ~2 applies instead of ~6
# (C2's warm-up), so a run's measured window is flat and its median does
# not depend on how many warm-up applies a slow host fits into it.  C1 alone
# gets a 48 MB code cache by default, which a run fills within a minute; the
# flush that follows makes the next reads ~4x slower for a few seconds
JIT = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"


class Failed(Exception):
    """The run cannot produce its metrics."""


# ---------------------------------------------------------------------------
# process tree: affinity and peak RSS
# ---------------------------------------------------------------------------


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we looked
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _tree_rss(root: int) -> dict:
    """pid -> (command name, resident bytes) of the Python and Java
    processes in the tree: the driver, the JVM and the Python workers.  A
    child the JVM has forked but not yet exec'd still maps the JVM's pages
    under a Java thread's name; it is skipped, not counted twice."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for p in _descendants(root):
        try:
            with open(f"/proc/{p}/comm") as f:
                name = f.read().strip()
            if name != "java" and not name.startswith("python"):
                continue
            with open(f"/proc/{p}/statm") as f:
                out[p] = (name, int(f.read().split()[1]) * page)
        except (OSError, IndexError, ValueError):
            continue  # exited while we looked
    return out


def pin_tree(cpus: list[int]) -> None:
    """Pin every thread of this process and of its descendants (the JVM,
    its Python workers) to ``cpus`` — ``taskset -a`` over the tree."""
    for p in _descendants(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:
                continue  # thread ended


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's tree, and its make-up at the peak."""

    def __init__(self):
        super().__init__(daemon=True, name="rss-sampler")
        self.peak = 0
        self.at_peak: dict = {}
        self._halt = threading.Event()

    def run(self):
        while not self._halt.wait(RSS_SAMPLE_S):
            tree = _tree_rss(os.getpid())
            total = sum(rss for _name, rss in tree.values())
            if total > self.peak:
                self.peak, self.at_peak = total, tree

    def stop(self) -> None:
        self._halt.set()
        self.join()

    def describe(self) -> str:
        by_name: dict = {}
        for name, rss in self.at_peak.values():
            n, total = by_name.get(name, (0, 0))
            by_name[name] = (n + 1, total + rss)
        return ", ".join(
            f"{name} x{n} {total / 2**20:.0f} MB" for name, (n, total) in sorted(by_name.items())
        )


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


class Session:
    """A local Spark session whose whole process tree is pinned to its
    cores; everything it writes stays under ``work``."""

    def __init__(self, work: str, ui: bool):
        self.work = work
        self.ui = ui
        self.spark = None
        self.cpus = sorted(os.sched_getaffinity(0))[:CORES]

    def start(self, n_cores: int):
        pin_tree(self.cpus[:n_cores])
        t = time.monotonic()
        tmp = os.path.join(self.work, "tmp")
        self.spark = (
            SparkSession.builder.master(f"local[{n_cores}]")
            .appName("cdcbench")
            .config("spark.sql.shuffle.partitions", str(max(n_cores, 8)))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.ui.enabled", "true" if self.ui else "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", HEAP)
            .config("spark.driver.host", "127.0.0.1")
            .config("spark.driver.bindAddress", "127.0.0.1")
            .config(
                "spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} {JIT}",
            )
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.dataSource.register(LakeChangesDataSource)
        self.start_s = time.monotonic() - t
        return self.spark

    def restart(self, n_cores: int):
        """A new ``local[n_cores]`` context in the same (warm) JVM, with the
        process tree pinned to ``n_cores``."""
        self.spark.stop()
        spark = self.start(n_cores)
        # spawn the Python worker outside any timed call
        spark.range(1).mapInArrow(lambda batches: batches, "id long").count()
        return spark

    def close(self) -> None:
        """Stop the session and the gateway JVM, and wait for the JVM."""
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# ---------------------------------------------------------------------------
# checks and table-level measurements
# ---------------------------------------------------------------------------


def oracle_problems(table, fx, need_score: bool) -> list[str]:
    """The final ``read()`` against ``replay_truth``: per-turn text, role,
    tool and ts under (conv_id, turn_idx) order."""
    df = table.read()
    problems = []
    if need_score and "score" not in df.columns:
        problems.append("evolved column `score` missing from the table schema")
    got = (
        df.select(
            "conv_id", "turn_idx", "role", "text", "tool",
            F.unix_micros("ts").alias("ts_us"),
        )
        .orderBy("conv_id", "turn_idx")
        .toArrow()
    )
    want = fx.truth()
    if got.num_rows != want.num_rows:
        problems.append(f"table has {got.num_rows} live rows, oracle {want.num_rows}")
        return problems
    for col in want.column_names:
        a, b = got.column(col), want.column(col)
        if not a.cast(b.type).equals(b):
            bad = sum(1 for x, y in zip(a.to_pylist(), b.to_pylist()) if x != y)
            problems.append(f"column {col}: {bad} rows differ from the oracle")
    return problems


def data_bytes(table) -> int:
    m = table.snapshot_manifest()
    return sum(os.path.getsize(p) for fl in m["files"].values() for p in fl)


class Readers:
    """Timed ``read().count()``s and batch drains of ``lake_changes`` over
    every commit of a table, taken in rounds."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.reads: list[float] = []
        self.drains: list[tuple[int, float]] = []  # (rows, seconds)

    def round(self, table) -> None:
        for _ in range(READS_PER_ROUND):
            with span(self.tracer, "lake.read"):
                t = time.perf_counter()
                table.read().count()
                self.reads.append(time.perf_counter() - t)
        with span(self.tracer, "feed.drain"):
            t = time.perf_counter()
            n = self.spark.read.format("lake_changes").option("path", table.path).load().count()
            self.drains.append((n, time.perf_counter() - t))


def span(tracer, name: str, commit=None):
    """A span on a traced run, nothing otherwise."""
    return tracer.span(name, commit) if tracer is not None else contextlib.nullcontext({})


def _table(spark, root: str, name: str, **kw):
    return BucketedLakeTable(
        spark,
        os.path.join(root, name),
        KEY_COLS,
        n_buckets=fixtures.N_BUCKETS,
        hot_bucket_split_rows=fixtures.HOT_SPLIT_ROWS,
        **kw,
    )


def _tail_table(spark, r):
    return _table(
        spark, r.tables, "tail",
        max_files_per_bucket=fixtures.tail_max_files_per_bucket(r.args.seconds),
    )


def _merge_summary(rec: dict) -> dict:
    return {
        "input_rows": rec.get("input_rows", 0),
        "dirty": len(rec.get("dirty_buckets", ())),
        "folded": len(rec.get("buckets_folded", ())),
        "hot": len(rec.get("hot_buckets", {})),
        "files": rec.get("files_written", 0),
        "bytes": rec.get("bytes_written", 0),
    }


def install_tracing(tracer: Tracer, applier, table) -> None:
    for attr in ("apply_files", "apply_batch"):
        tracer.wrap(applier, attr, "apply")
    tracer.wrap(table, "merge", "lake.merge", summarize=_merge_summary)
    # lazy DataFrame builders: their spans are short, the work runs later
    # inside the apply span that consumes them
    tracer.wrap(decode_mod, "scan_schemas", "decode.scan_schemas")
    tracer.wrap(decode_mod, "decode_typed_from_files", "decode.typed")
    tracer.wrap(replay_mod, "decode_changes", "decode.changes")


def _kinds(desc: str) -> list[str]:
    """Arrow kind per column for decode_typed_from_files: int64 / float64 /
    string, from a TABLE_MAP descriptor of integer, float and string-like
    columns (the transcripts table has no ENUM/SET)."""
    ints, floats = {1, 2, 3, 8, 9, 13, 16}, {4, 5}
    return [
        "i" if code in ints else "f" if code in floats else "s"
        for code, _meta, _n in json.loads(desc)
    ]


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Run:
    """State shared by the phases of one run."""

    def __init__(self, args, fx, work: str, process_start: float, fixture_s: float):
        self.args = args
        self.fx = fx
        self.work = work
        self.process_start = process_start
        self.fixture_s = fixture_s
        self.tables = os.path.join(work, "tables")
        self.sess = Session(work, ui=bool(args.trace))
        self.tracer = Tracer() if args.trace else None
        self.rss = RssSampler()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict = {}
        self.layer: dict = {}
        self.setup_s = None
        self.live_rows = 0
        self.jobs: list[dict] = []

    def ready(self) -> None:
        self.setup_s = time.monotonic() - self.process_start - self.fixture_s
        self.log(f"ready; set-up took {self.setup_s:.1f}s")

    def log(self, what: str) -> None:
        """Progress on stderr, stamped with seconds since process start."""
        print(f"[{time.monotonic() - self.process_start:7.1f}s] {what}", file=sys.stderr, flush=True)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.problems.append(what)


def _warm_readers(spark, table) -> None:
    """First read and first change-feed drain of the process (the drain's
    first Python data-source planning is several times a warm one)."""
    table.read().count()
    spark.read.format("lake_changes").option("path", table.path).load().count()


def run_bounded(r: Run) -> None:
    fx = r.fx
    spark = r.sess.start(CORES)
    r.log(f"session up in {r.sess.start_s:.1f}s")
    # an untimed apply of the whole fixture pays the JIT
    warm = _table(spark, r.tables, "warm")
    TranscriptsApplier(spark, warm).apply_files(fx.seg_paths, batch_id=0)
    r.log("warm-up apply done")
    _warm_readers(spark, warm)
    r.ready()

    walls, traced, recs, final = [], [], [], None
    readers = Readers(spark, r.tracer)
    tracing = r.tracer is not None
    # a traced run alternates untraced and traced applies, starting and
    # ending with an untraced one: each traced apply sits between two
    # untraced ones, so the JIT's warm-up trend cancels in the overhead
    min_reps = 2 * MIN_REPS + 1 if tracing else MIN_REPS

    def more() -> bool:
        if len(walls) < min_reps or (tracing and len(walls) % 2 == 0):
            return True
        # --seconds of applies: go on while another apply is expected to
        # end inside the window; the reader rounds in between do not count
        return t_applies + walls[-1] <= r.args.seconds

    t_applies = 0.0
    while more():
        if walls:
            # the warm table holds the same final state as every repeat's
            readers.round(warm)
        r.attempted += 1
        table = _table(spark, r.tables, f"rep{r.attempted}")
        applier = TranscriptsApplier(spark, table)
        if tracing:
            r.tracer.unwrap()
            install_tracing(r.tracer, applier, table)
            r.tracer.on = len(walls) % 2 == 1
        try:
            t = time.perf_counter()
            rec = applier.apply_files(fx.seg_paths, batch_id=0)
            walls.append(time.perf_counter() - t)
            traced.append(tracing and r.tracer.on)
            t_applies += walls[-1]
        except Exception:
            traceback.print_exc()
            r.fail("apply_files raised")
            if r.failed > min_reps:
                raise
            continue
        recs.append(rec)
        final = table
        if rec.get("input_rows") != fx.n_rows:
            r.fail(f"commit took {rec.get('input_rows')} rows, fixture has {fx.n_rows}")
    if tracing:
        r.tracer.unwrap()
        r.tracer.on = True
        r.layer["trace.overhead_frac"] = _overhead(
            [w for w, t in zip(walls, traced) if t], [w for w, t in zip(walls, traced) if not t]
        )

    r.log(f"{len(walls)} applies: " + ", ".join(
        f"{w:.2f}s" + ("T" if t else "") for w, t in zip(walls, traced)))
    rates = [fx.n_rows / w for w in walls]
    r.e2e["apply_rows_per_s"] = statistics.median(rates)
    # every segment is due when apply_files starts and visible when it returns
    r.e2e["latency_p50_ms"] = statistics.median(walls) * 1000
    r.e2e["latency_max_ms"] = max(walls) * 1000
    readers.round(warm)
    _finish(r, spark, final, readers, need_score=False)

    if r.tracer is not None:
        _bounded_layers(r, spark, recs[-1])
        # one-core leg: the same apply at local[1] (strong scaling)
        r.log("local[1] leg")
        spark = r.sess.restart(1)
        t = time.perf_counter()
        TranscriptsApplier(spark, _table(spark, r.tables, "leg1")).apply_files(
            fx.seg_paths, batch_id=0
        )
        rate1 = fx.n_rows / (time.perf_counter() - t)
        r.layer["scaling_eff"] = r.e2e["apply_rows_per_s"] / (CORES * rate1)
        r.log("local[1] leg done")


def _finish(r: Run, spark, table, readers: Readers, need_score: bool) -> None:
    """Oracle and input-property checks on the final table, its storage
    metric, and the reader metrics from ``readers``' rounds."""
    t = time.perf_counter()
    for p in oracle_problems(table, r.fx, need_score):
        r.fail(f"oracle: {p}", n=r.attempted - r.failed)
    t_oracle = time.perf_counter() - t
    for p in fixtures.check_properties(spark, r.fx):
        r.problems.append(f"workload property: {p}")
    t_props = time.perf_counter() - t - t_oracle
    live = table.read().count()
    reads, drains = readers.reads, readers.drains
    r.e2e["read_ms"] = statistics.median(reads) * 1000
    r.e2e["feed_rows_per_s"] = statistics.median(n / w for n, w in drains)
    r.e2e["stored_bytes_per_row"] = data_bytes(table) / live
    r.log(f"checks: oracle {t_oracle:.1f}s, input properties {t_props:.1f}s, reads "
          + ", ".join(f"{x:.2f}s" for x in reads) + ", feed drains "
          + ", ".join(f"{w:.2f}s" for _n, w in drains))
    r.live_rows = live
    if r.tracer is not None:
        r.layer["lake.read_files"] = len(table.read().inputFiles())
        r.layer["feed.rows"] = drains[0][0]
        feed = spark.read.format("lake_changes").option("path", table.path).load()
        r.layer["feed.partitions"] = feed.rdd.getNumPartitions()


def run_tail(r: Run) -> None:
    fx = r.fx
    period = fixtures.TAIL_PERIOD_S
    staging = os.path.join(r.work, "staging")
    store = os.path.join(r.work, "store")
    os.makedirs(store)
    shutil.copytree(fx.seg_dir, staging)
    staged = [os.path.join(staging, os.path.basename(p)) for p in fx.seg_paths]
    n_warm = fixtures.TAIL_WARM_SEGMENTS
    n_tail = len(staged) - fixtures.TAIL_HELD_BACK

    spark = r.sess.start(CORES)
    r.log(f"session up in {r.sess.start_s:.1f}s")
    table = _tail_table(spark, r)
    applier = TimedApplier(spark, table)
    # the file source takes files in mtime order, and a copy keeps the
    # fixture's mtimes: stamp the warm-up segments in file order
    t0 = time.time() - n_warm
    for i, src in enumerate(staged[:n_warm]):
        os.utime(src, (t0 + i, t0 + i))
        os.rename(src, os.path.join(store, os.path.basename(src)))
    stream = BinlogReplayStream(
        spark, store, applier, os.path.join(r.work, "checkpoint"), max_files_per_trigger=1
    )
    query = stream.start(available_now=False)
    try:
        if not applier.wait_for(n_warm, timeout_s=120, query=query):
            raise Failed("warm-up segments were not applied")
        _warm_readers(spark, table)
        r.ready()
        if r.tracer is not None:
            install_tracing(r.tracer, applier, table)

        gen = _Generator(staged[n_warm:n_tail], store, period)
        if r.tracer is not None:
            applier.alternate(r.tracer, len(gen.paths))
        r.attempted += len(gen.paths)
        gen.start()
        # a host at half speed (commits of 5-6 s, a fold of ~8 s) still
        # applies every segment by then; only a stalled stream misses it
        deadline = gen.due[-1] + TAIL_DEADLINE_PERIODS * period
        applier.wait_for(n_warm + len(gen.paths), timeout_s=deadline - time.monotonic(), query=query)
        gen.stop()
    finally:
        query.stop()
        if r.tracer is not None:
            r.tracer.unwrap()
            r.tracer.on = True
    if query.exception() is not None:
        r.fail(f"stream failed: {query.exception()}", n=r.attempted)

    # segment file_seq -> commit end; file_seqs are 1-based positions
    done = {}
    for c in applier.commits:
        for fs in c["file_seqs"]:
            done.setdefault(fs, c["end"])
    lat = []
    for i, due in enumerate(gen.due):
        fs = n_warm + i + 1
        if fs not in done or i >= len(gen.landed):
            r.fail(f"segment {fs} not visible by the deadline")
        else:
            lat.append(done[fs] - due)
    late_limit = fixtures.TAIL_MAX_LATE_FRAC * period
    if gen.late and max(gen.late) > late_limit:
        r.fail(
            f"generator ran {max(gen.late) * 1000:.0f} ms late (limit {late_limit * 1000:.0f} ms)",
            n=r.attempted - r.failed,
        )
    if not lat:
        raise Failed("no tail segment was applied")
    measured = [c for c in applier.commits if c["start"] >= gen.t0]
    r.log("commits: " + ", ".join(
        f"{c['file_seqs']}:{c['record'].get('input_rows')}r/{c['end'] - c['start']:.2f}s"
        + ("F" if c["record"].get("buckets_folded") else "")
        for c in applier.commits
    ))
    r.e2e["latency_p50_ms"] = statistics.median(lat) * 1000
    r.e2e["latency_max_ms"] = max(lat) * 1000
    r.e2e["apply_rows_per_s"] = sum(c["record"]["input_rows"] for c in measured) / sum(
        c["end"] - c["start"] for c in measured
    )
    readers = Readers(spark, r.tracer)
    # the first read after the stream stops is a third slower than the next
    table.read().count()
    for _ in range(TAIL_ROUNDS):
        readers.round(table)
    _finish(r, spark, table, readers, need_score=True)

    if r.tracer is not None:
        _tail_layers(r, spark, applier, gen, measured)
        # one-core leg: the held-back segment, applied to the same table
        # through the same envelope path at local[1]; the local[4] side is
        # the median measured commit without a fold
        rate4 = statistics.median(
            c["record"]["input_rows"] / (c["end"] - c["start"])
            for c in measured
            if not c["record"].get("buckets_folded")
        )
        r.log("local[1] leg")
        spark = r.sess.restart(1)
        leg = TimedApplier(spark, _tail_table(spark, r))
        leg.apply_segment(spark, fx.seg_paths[n_tail], batch_id=len(applier.commits))
        c = leg.commits[0]
        if c["record"].get("buckets_folded"):
            r.problems.append("the local[1] commit folded; it should be a plain merge")
        rate1 = c["record"]["input_rows"] / (c["end"] - c["start"])
        r.layer["scaling_eff"] = rate4 / (CORES * rate1)
        r.log("local[1] leg done")


class TimedApplier(TranscriptsApplier):
    """Records when each commit ran and which segments it carried."""

    def __init__(self, spark, table):
        super().__init__(spark, table)
        self.commits: list[dict] = []
        self._cv = threading.Condition()
        self._tracer = None
        self._last_traced = 0

    def alternate(self, tracer, n_commits: int) -> None:
        """The next ``n_commits`` commits alternate between traced and
        untraced, ending on a traced one (the fold).  The tracer is switched
        when a commit ends, so that the span wrapped around the next
        ``apply_batch`` call sees it."""
        self._tracer = tracer
        self._last_traced = len(self.commits) + n_commits - 1
        tracer.on = (self._last_traced - len(self.commits)) % 2 == 0

    def apply_batch(self, envelope, batch_id=None, raw_events=None):
        traced = self._tracer is not None and self._tracer.on
        start = time.monotonic()
        rec = super().apply_batch(envelope, batch_id=batch_id, raw_events=raw_events)
        end = time.monotonic()
        with self._cv:
            self.commits.append(
                {
                    "start": start,
                    "end": end,
                    "record": rec,
                    "file_seqs": sorted(int(k) for k in rec.get("watermarks", {})),
                    "traced": traced,
                }
            )
            if self._tracer is not None:
                self._tracer.on = (self._last_traced - len(self.commits)) % 2 == 0
            self._cv.notify_all()
        return rec

    def apply_segment(self, spark, path: str, batch_id: int):
        events = spark.read.parquet(path)
        return self.apply_batch(decode_changes(events), batch_id=batch_id, raw_events=events)

    def wait_for(self, n_commits: int, timeout_s: float, query) -> bool:
        deadline = time.monotonic() + timeout_s
        with self._cv:
            while len(self.commits) < n_commits:
                left = deadline - time.monotonic()
                if left <= 0 or not query.isActive:
                    return False
                self._cv.wait(min(left, 0.5))
        return True


class _Generator(threading.Thread):
    """Open-loop lander: segment i is due at t0 + i * period whatever the
    engine is doing; each lands atomically (written earlier under
    ``staging``, renamed into the store at its due time)."""

    def __init__(self, paths: list[str], store: str, period: float):
        super().__init__(daemon=True, name="segment-generator")
        self.paths = paths
        self.store = store
        self.period = period
        self.t0 = time.monotonic() + 0.05
        self.due = [self.t0 + i * period for i in range(len(paths))]
        self.landed: list[float] = []
        self.late: list[float] = []
        self._halt = threading.Event()

    def run(self):
        for src, due in zip(self.paths, self.due):
            if self._halt.wait(max(0.0, due - time.monotonic())):
                return
            now = time.monotonic()
            os.utime(src)  # the file source orders new files by mtime
            os.rename(src, os.path.join(self.store, os.path.basename(src)))
            self.landed.append(time.monotonic())
            self.late.append(now - due)

    def stop(self) -> None:
        self._halt.set()
        self.join()


# ---------------------------------------------------------------------------
# per-layer metrics (traced runs)
# ---------------------------------------------------------------------------


def _spark_layers(r: Run, commit_spans: list[dict]) -> None:
    rest = SparkRest(r.sess.spark)
    jobs = rest.settled_jobs()
    owner = attribute_jobs(r.tracer, jobs)
    by_id = {s["id"]: s for s in r.tracer.spans}

    def inside(span_id, root) -> bool:
        while span_id is not None:
            if span_id == root["id"]:
                return True
            span_id = by_id[span_id]["parent"]
        return False

    def executed_stages(job) -> int:
        return len(job["stageIds"]) - job.get("numSkippedStages", 0)

    for j in jobs:
        if j["jobId"] in owner:
            sp = by_id[owner[j["jobId"]]]
            sp["jobs"] = sp.get("jobs", 0) + 1
            sp["stages"] = sp.get("stages", 0) + executed_stages(j)
    commit_jobs = [j for j in jobs if any(inside(owner.get(j["jobId"]), c) for c in commit_spans)]
    n = max(1, len(commit_spans))
    r.layer["spark.jobs_per_commit"] = len(commit_jobs) / n
    r.layer["spark.stages_per_commit"] = (
        sum(executed_stages(j) for j in commit_jobs) / n
    )
    stages = rest.stages()
    merge_stage_keys = [
        k
        for j in commit_jobs
        if by_id[owner[j["jobId"]]]["name"] == "lake.merge"
        for k in stages
        if k[0] in j["stageIds"] and stages[k]["status"] == "COMPLETE"
    ]
    # skew of the heaviest parallel merge stage (the reduce/write, where a
    # hot bucket's rows meet)
    parallel = [k for k in merge_stage_keys if stages[k]["numTasks"] >= 4]
    skew = 1.0
    if parallel:
        heaviest = max(parallel, key=lambda k: stages[k]["executorRunTime"])
        med, mx = rest.task_runtime_quantiles(*heaviest)
        skew = mx / med if med > 0 else 1.0
    r.layer["spark.task_skew"] = skew
    r.layer["spark.shuffle_write_bytes"] = (
        sum(stages[k]["shuffleWriteBytes"] for k in merge_stage_keys) / n
    )
    r.jobs = [dict(j, span=owner.get(j["jobId"])) for j in jobs]


def _overhead(traced: list[float], untraced: list[float]) -> float:
    """Median traced time over median untraced time, minus 1: positive
    means slower with tracing on."""
    if not traced or not untraced:
        raise Failed("a traced run needs both traced and untraced operations")
    return statistics.median(traced) / statistics.median(untraced) - 1


def _lineage_layers(r: Run, merge_spans: list[dict], commits: list[dict], input_rows: int) -> None:
    """Merge timings over ``merge_spans``; lineage counts summed over the
    ``commits`` (merge summaries) that make up the final table's history."""
    plain = [ms(s) for s in merge_spans if not s["result"]["folded"]]
    folds = [ms(s) for s in merge_spans if s["result"]["folded"]]
    r.layer["lake.merge_ms"] = statistics.median(plain) if plain else 0.0
    r.layer["lake.fold_merge_ms"] = statistics.median(folds) if folds else 0.0
    r.layer["lake.fold_commits"] = sum(1 for x in commits if x["folded"])
    for name, key in (
        ("lake.folded_buckets", "folded"),
        ("lake.hot_buckets", "hot"),
        ("lake.dirty_buckets", "dirty"),
        ("lake.files_written", "files"),
        ("lake.bytes_written", "bytes"),
    ):
        r.layer[name] = sum(x[key] for x in commits)
    r.layer["lake.live_over_input"] = r.live_rows / input_rows


def _decode_noop(df) -> tuple[int, float]:
    obs = Observation("decoded")
    t = time.perf_counter()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return obs.get["n"], time.perf_counter() - t


def _bounded_layers(r: Run, spark, rec: dict) -> None:
    tr, fx = r.tracer, r.fx
    applies = [s for s in tr.spans if s["name"] == "apply"]
    merges = [s for s in tr.spans if s["name"] == "lake.merge"]
    # stream layer: the whole store is due at once, nothing waits behind it
    r.layer["stream.wait_ms"] = 0.0
    r.layer["stream.backlog_max"] = 0
    r.layer["stream.gen_late_ms"] = 0.0

    with open(os.path.join(fx.seg_dir, "_schemas.json")) as f:
        desc = json.load(f)[0]["desc"]
    with span(tr, "decode.isolated"):
        rows_out, wall = _decode_noop(
            decode_typed_from_files(spark, fx.seg_paths, COLUMN_NAMES, _kinds(desc))
        )
    with span(tr, "decode.isolated"):
        t = time.perf_counter()
        scan_schemas(spark.read.parquet(*fx.seg_paths)).collect()
        r.layer["decode.scan_schemas_ms"] = (time.perf_counter() - t) * 1000
    if rows_out != fx.n_rows:
        r.problems.append(f"isolated decode produced {rows_out} rows, the input has {fx.n_rows}")
    r.layer["decode.rows_per_s"] = rows_out / wall
    r.layer["decode.events_in"] = sum(fx.seg_events)
    r.layer["decode.rows_out"] = rows_out
    r.layer["apply.self_ms"] = statistics.median(tr.self_ms(s, ("lake.merge",)) for s in applies)
    r.layer["apply.gate_dropped_rows"] = rows_out - rec["input_rows"]
    # every repeat builds the same table: count the last one's commit
    _lineage_layers(r, merges, [merges[-1]["result"]], fx.n_rows)
    for p in _self_time_problems(r, applies, merges):
        r.problems.append(f"self-time: {p}")
    _spark_layers(r, applies)


def _self_time_problems(r: Run, applies: list[dict], merges: list[dict]) -> list[str]:
    """The self-time arithmetic on the reported figures: every merge runs
    inside an apply, the medians apply.self_ms + lake.merge_ms, taken over
    the same commits, account for the median apply span, and lake.merge is
    the only child of an apply that takes a share of it worth naming (the
    decode builders are lazy)."""
    ids = {a["id"] for a in applies}
    problems = [
        f"lake.merge#{m['id']} ran outside any apply" for m in merges if m["parent"] not in ids
    ]
    span = statistics.median(ms(s) for s in applies)
    parts = r.layer["apply.self_ms"] + r.layer["lake.merge_ms"]
    if abs(parts - span) > SELF_TIME_TOL * span:
        problems.append(
            f"apply.self_ms + lake.merge_ms = {parts:.0f} ms, the median apply span is "
            f"{span:.0f} ms (tolerance {SELF_TIME_TOL:.0%})"
        )
    for a in applies:
        for c in r.tracer.children(a):
            if c["name"] != "lake.merge" and ms(c) > CHILD_TOL * ms(a):
                problems.append(
                    f"{c['name']} takes {ms(c):.0f} ms of a {ms(a):.0f} ms apply span"
                )
    return problems


def _tail_layers(r: Run, spark, applier, gen, measured: list[dict]) -> None:
    tr, fx = r.tracer, r.fx
    n_warm = fixtures.TAIL_WARM_SEGMENTS
    landed = {n_warm + i + 1: t for i, t in enumerate(gen.landed)}
    waits = [
        c["start"] - landed[min(c["file_seqs"])]
        for c in measured
        if c["file_seqs"] and min(c["file_seqs"]) in landed
    ]
    # landed but not yet picked up, sampled at every landing
    backlog = max(
        sum(1 for u in landed.values() if u <= t) - sum(1 for c in measured if c["start"] <= t)
        for t in landed.values()
    )
    r.layer["stream.wait_ms"] = statistics.median(waits) * 1000
    r.layer["stream.backlog_max"] = backlog
    r.layer["stream.gen_late_ms"] = max(gen.late) * 1000

    paths = fx.seg_paths[n_warm : n_warm + len(measured)]
    with span(tr, "decode.isolated"):
        rows_out, wall = _decode_noop(decode_changes(spark.read.parquet(*paths)))
    scans = []
    for p in paths[:3]:
        with span(tr, "decode.isolated"):
            t = time.perf_counter()
            scan_schemas(spark.read.parquet(p)).collect()
            scans.append(time.perf_counter() - t)
    r.layer["decode.rows_per_s"] = rows_out / wall
    r.layer["decode.scan_schemas_ms"] = statistics.median(scans) * 1000
    r.layer["decode.events_in"] = sum(fx.seg_events[n_warm : n_warm + len(measured)])
    r.layer["decode.rows_out"] = rows_out

    applies = [s for s in tr.spans if s["name"] == "apply"]
    merges = [s for s in tr.spans if s["name"] == "lake.merge"]
    r.layer["apply.self_ms"] = statistics.median(tr.self_ms(s, ("lake.merge",)) for s in applies)
    if rows_out != sum(fx.seg_rows[n_warm : n_warm + len(measured)]):
        r.problems.append(f"isolated decode produced {rows_out} rows, the input has "
                          f"{sum(fx.seg_rows[n_warm:n_warm + len(measured)])}")
    r.layer["apply.gate_dropped_rows"] = rows_out - sum(
        c["record"]["input_rows"] for c in measured
    )
    _lineage_layers(
        r, merges, [_merge_summary(c["record"]) for c in measured], sum(fx.seg_rows[:-1])
    )
    # tracing overhead on the commit path: plain (fold-free) commits,
    # traced against untraced
    plain = [c for c in measured if not c["record"].get("buckets_folded")]
    r.layer["trace.overhead_frac"] = _overhead(
        [c["end"] - c["start"] for c in plain if c["traced"]],
        [c["end"] - c["start"] for c in plain if not c["traced"]],
    )
    _spark_layers(r, applies)


# ---------------------------------------------------------------------------


def run(args, fx, work: str, process_start: float, fixture_s: float) -> Run:
    r = Run(args, fx, work, process_start, fixture_s)
    r.log(f"fixture: {fx.n_rows} change rows in {len(fx.seg_paths)} segments ({fixture_s:.1f}s)")
    r.rss.start()
    try:
        (run_tail if fx.workload == "tail" else run_bounded)(r)
    finally:
        r.rss.stop()
        r.sess.close()
        r.log("engine stopped")
    r.e2e["setup_s"] = r.setup_s
    r.e2e["peak_rss_mb"] = r.rss.peak / 2**20
    r.log(f"peak RSS {r.e2e['peak_rss_mb']:.0f} MB: {r.rss.describe()}")
    if r.tracer is not None:
        r.tracer.dump(os.path.join(work, "spans.json"), r.jobs)
    return r
