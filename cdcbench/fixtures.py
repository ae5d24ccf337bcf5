"""Seeded workload inputs for the CDC ingest benchmark.

Every input comes from ``genlog.generate_ops`` -> ``encode_stream`` ->
``write_segments_parquet``; the oracle is ``genlog.replay_truth``.  The
engine only ever sees the segment files.  Generation is pure Python and
costs far more than the engine's set-up, so a fixture is kept under the
checkout's ``.cdcbench/cache`` keyed by everything that shapes it: the
workload, the seed, the generation parameters and the source of the code
that writes the bytes.  A repeated seed reuses it byte for byte; a change
to the generator or the encoder regenerates it.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from myzql_binlog_connector_spark import genlog

# one table layout for every workload
N_BUCKETS = 16
# the merge's aligned one-shuffle plan needs at least this many rows in a
# batch (BucketedLakeTable.merge gates on n_buckets * 512)
ALIGNED_MIN_ROWS = N_BUCKETS * 512
# hotkey's viral bucket crosses this floor; scaled down from the engine's
# 2**18 default in proportion to the fixture so a run fits its time budget
HOT_SPLIT_ROWS = 1 << 14
# genlog's encode_stream default, passed explicitly because _segment_rows
# replays the same chunking
MAX_ROWS_PER_EVENT = 85

BOUNDED = {
    # ~100k change rows, default 5% hot conversations at 20x update weight
    "backfill": dict(n_convs=16_000),
    # same size; one viral key (conv 0, turn 0) takes ~35% of all changes
    "hotkey": dict(n_convs=10_400, viral_frac=0.35, viral_turns=1),
}
BOUNDED_SEGMENTS = 16

# tail: small segments landing on a fixed schedule, slower than a steady
# commit (2-3.4 s here, plus ~0.2 s to pick a segment up) so the stream
# keeps up
TAIL_PERIOD_S = 4.0
# applied by the stream during set-up: the first commit pays the JIT and the
# second is the first merge into an existing table; from the third on a
# commit runs at its steady speed
TAIL_WARM_SEGMENTS = 2
# generated after the measured segments and applied after the stream stops
# by a traced run's one-core leg; not part of the oracle
TAIL_HELD_BACK = 1
TAIL_ROWS_PER_SEGMENT = 500
TAIL_UPDATE_FRAC = 0.6
TAIL_EVOLVE_AT = 0.5  # TABLE_MAP adds `score` DOUBLE halfway through
# a landing later than this share of the period voids the open loop
TAIL_MAX_LATE_FRAC = 0.2


def tail_measured_segments(seconds: float) -> int:
    return max(2, int(seconds // TAIL_PERIOD_S))


def tail_max_files_per_bucket(seconds: float) -> int:
    """The tail table folds a bucket past this many files: every commit
    touches every bucket, so the last measured commit is the fold and no
    measured commit queues behind it."""
    return TAIL_WARM_SEGMENTS + tail_measured_segments(seconds) - 1


def _segment_rows(ops: list, n_segments: int, seed: int) -> list[list[int]]:
    """Rows of each ROWS event, per segment — encode_stream's chunking
    (same-kind runs of up to MAX_ROWS_PER_EVENT ops drawn from
    ``Random(seed + 1)``, events split evenly over the segments)."""
    rng = random.Random(seed + 1)
    events, i = [], 0
    while i < len(ops):
        kind = ops[i].kind
        n = min(rng.randint(1, MAX_ROWS_PER_EVENT), len(ops) - i)
        start = i
        while i < len(ops) and i - start < n and ops[i].kind == kind:
            i += 1
        events.append(i - start)
    per_seg = max(1, -(-len(events) // n_segments))
    return [events[k * per_seg : (k + 1) * per_seg] for k in range(n_segments)]


@dataclass
class Fixture:
    workload: str
    seg_dir: str
    seg_paths: list
    n_rows: int  # change rows (one per op)
    seg_events: list  # event blobs per segment
    seg_rows: list  # change rows per segment
    truth_path: str
    keys_path: str
    evolved: bool

    def truth(self) -> pa.Table:
        return pq.read_table(self.truth_path)


def _gen_params(workload: str, seconds: float) -> dict:
    if workload in BOUNDED:
        return dict(ops=BOUNDED[workload], n_segments=BOUNDED_SEGMENTS, evolve_at=None)
    n_segments = TAIL_WARM_SEGMENTS + tail_measured_segments(seconds) + TAIL_HELD_BACK
    # encode_stream splits the stream evenly by events, and the shuffled
    # update/delete phase breaks into short same-kind events (~4 rows, vs
    # ~43 in the insert phase): an update/delete segment holds ~3.5 rows
    # per conversation of the stream's share, an insert segment ~11x that
    n_convs = int(TAIL_ROWS_PER_SEGMENT / 3.5)
    return dict(
        ops=dict(n_convs=n_convs * n_segments, update_frac=TAIL_UPDATE_FRAC),
        n_segments=n_segments,
        evolve_at=TAIL_EVOLVE_AT,
        held_back=TAIL_HELD_BACK,
    )


def _write(out_dir: str, workload: str, seed: int, p: dict) -> None:
    ops = genlog.generate_ops(seed=seed, **p["ops"])
    stream = genlog.encode_stream(
        ops,
        n_segments=p["n_segments"],
        max_rows_per_event=MAX_ROWS_PER_EVENT,
        seed=seed,
        evolve_at=p["evolve_at"],
    )
    genlog.write_segments_parquet(stream, os.path.join(out_dir, "segments"))
    seg_rows = _segment_rows(ops, p["n_segments"], seed)
    rows_kinds = {30, 31, 32}  # WRITE/UPDATE/DELETE_ROWS v2
    seg_events, seg_row_events = [], []
    for _fs, rows in stream.segments:
        seg_events.append(len(rows))
        seg_row_events.append(sum(1 for r in rows if r[3][5] in rows_kinds))
    if [len(x) for x in seg_rows] != seg_row_events:
        raise RuntimeError("genlog's event chunking changed; update _segment_rows")
    seg_rows = [sum(x) for x in seg_rows]
    held = p.get("held_back", 0)
    applied = ops[: len(ops) - sum(seg_rows[len(seg_rows) - held :])] if held else ops
    truth = sorted(genlog.replay_truth(applied).values(), key=lambda r: (r[0], r[1]))
    pq.write_table(
        pa.table(
            {
                "conv_id": [r[0] for r in truth],
                "turn_idx": pa.array([r[1] for r in truth], pa.int32()),
                "role": [r[2] for r in truth],
                "text": [r[3] for r in truth],
                "tool": pa.array([r[4] for r in truth], pa.string()),
                "ts_us": pa.array([r[5] for r in truth], pa.int64()),
            }
        ),
        os.path.join(out_dir, "truth.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "conv_id": [o.key[0] for o in ops],
                "turn_idx": pa.array([o.key[1] for o in ops], pa.int32()),
            }
        ),
        os.path.join(out_dir, "keys.parquet"),
    )
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(
            {
                "n_rows": len(ops),
                "seg_events": seg_events,
                "seg_rows": seg_rows,
                "evolved": stream.evolved,
            },
            f,
        )


def _source_digest() -> str:
    """Hash of the code that produces a fixture's bytes: genlog, the binlog
    package it encodes with (encoder, wire format, constants, the TABLE_MAP
    parser behind the schema sidecar) and this module."""
    pkg = os.path.dirname(genlog.__file__)
    files = [genlog.__file__, __file__] + sorted(glob.glob(os.path.join(pkg, "binlog", "*.py")))
    h = hashlib.sha1()
    for path in files:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def load(cache_root: str, workload: str, seed: int, seconds: float) -> Fixture:
    """Generate (or reuse) the fixture for ``workload`` at ``seed``."""
    p = _gen_params(workload, seconds)
    tag = json.dumps(p, sort_keys=True) + _source_digest()
    key = f"{workload}-s{seed}-{hashlib.sha1(tag.encode()).hexdigest()[:10]}"
    out_dir = os.path.join(cache_root, key)
    if not os.path.exists(os.path.join(out_dir, "meta.json")):
        tmp = f"{out_dir}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        _write(tmp, workload, seed, p)
        shutil.rmtree(out_dir, ignore_errors=True)
        os.rename(tmp, out_dir)
    with open(os.path.join(out_dir, "meta.json")) as f:
        meta = json.load(f)
    seg_dir = os.path.join(out_dir, "segments")
    return Fixture(
        workload=workload,
        seg_dir=seg_dir,
        seg_paths=sorted(glob.glob(os.path.join(seg_dir, "segment-*.parquet"))),
        n_rows=meta["n_rows"],
        seg_events=meta["seg_events"],
        seg_rows=meta["seg_rows"],
        truth_path=os.path.join(out_dir, "truth.parquet"),
        keys_path=os.path.join(out_dir, "keys.parquet"),
        evolved=meta["evolved"],
    )


def check_properties(spark, fx: Fixture) -> list[str]:
    """Workload-shape checks computed from the generated input alone, so a
    seed or generator change cannot quietly turn one workload into another.
    Returns the violated properties (empty when the input is as intended)."""
    from pyspark.sql import functions as F

    problems = []
    if fx.workload == "tail":
        if max(fx.seg_rows) >= ALIGNED_MIN_ROWS:
            problems.append(
                f"a tail segment holds {max(fx.seg_rows)} rows, not under the "
                f"aligned-write threshold {ALIGNED_MIN_ROWS}"
            )
        if not fx.evolved:
            problems.append("tail stream carries no TABLE_MAP column add")
        return problems
    keys = spark.createDataFrame(pq.read_table(fx.keys_path))
    counts = [
        r["n"]
        for r in keys.groupBy(
            F.pmod(F.hash("conv_id", "turn_idx"), F.lit(N_BUCKETS)).alias("b")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    largest, mean = max(counts), sum(counts) / len(counts)
    if fx.workload == "hotkey":
        if largest < 3 * mean or largest <= HOT_SPLIT_ROWS:
            problems.append(
                f"hotkey's largest bucket has {largest} rows (mean {mean:.0f}); "
                f"needs >= 3x the mean and > {HOT_SPLIT_ROWS}"
            )
    elif largest >= 3 * mean or largest > HOT_SPLIT_ROWS:
        problems.append(
            f"backfill's largest bucket has {largest} rows (mean {mean:.0f}); "
            f"it would take the hot-bucket path"
        )
    if fx.n_rows < ALIGNED_MIN_ROWS:
        problems.append(f"{fx.n_rows} rows is under the aligned-write threshold")
    return problems
