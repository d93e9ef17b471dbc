"""stream_ingest: an open loop over the streaming pipeline
``stream_json_records -> dead_letter_split -> dedup_within_watermark ->
enrich -> run_to_partitioned_parquet`` (plus the dead-letter sink), with
a fixed processing-time trigger.

Inputs are pre-generated envelope files; a release loop moves them
into the source directory by atomic rename on a fixed schedule that
does not slow when the engine does (the micro-batches run on the JVM's
own threads).

- Phase 1: RATE records per second, one file every FILE_EVERY_S.  A
  record's latency runs from the time its file was due to the
  modification time of the sink file holding it (read engine-side from
  ``_metadata.file_modification_time``).  Files due in the first
  trigger interval are the warm-up and are excluded.
- Phase 2: a catch-up burst of BURST_FILES x BURST_PER_FILE records
  released at once, like a consumer restarting from ``earliest``;
  throughput is burst records committed per second until the last one
  lands.

The generator's lateness is reported; if any file is released more
than LATE_LIMIT_MS after it was due, the run fails instead of
reporting a latency."""

from __future__ import annotations

import json
import os
import shutil
import time

import gen
from harness import Ctx, Measured, median

RATE = 1000
#: long enough that a phase-1 micro-batch ends well inside one interval
#: even when the host runs at half speed, so no backlog builds up
TRIGGER_S = 2
TRIGGER = f"{TRIGGER_S} seconds"
#: an odd number of files per trigger interval, so the median and the
#: 90th percentile fall inside one batch's latency level, not between two
FILES_PER_TRIGGER = 9
FILE_EVERY_S = TRIGGER_S / FILES_PER_TRIGGER
#: two micro-batches of maxFilesPerTrigger (10) files each
BURST_FILES = 20
BURST_PER_FILE = 2500
#: phase-1 files start this long after a trigger boundary; the burst
#: lands this long before one, so its first micro-batch starts at once
RELEASE_OFFSET_S = 0.1
BURST_LEAD_S = 0.25
LATE_LIMIT_MS = 250.0
DRAIN_TIMEOUT_S = 90.0
UNTAGGED_WORK = True  # micro-batches run on the stream's own thread

ALIASES = {
    "ingest_latency_p50_ms": ("op_p50_ms", "ms", 1.0),
    "ingest_latency_p90_ms": ("op_p90_ms", "ms", 1.0),
    "ingest_catchup_rps": ("throughput_per_s", "1/s", 1.0),
}

def _schemas():
    from pyspark.sql import types as T

    envelope = T.StructType(
        [T.StructField("key", T.StringType()), T.StructField("payload", T.StringType())]
    )
    payload = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("location", T.StringType()),
            T.StructField("pm2_5", T.DoubleType()),
            T.StructField("temp_c", T.DoubleType()),
        ]
    )
    return envelope, payload


def inputs(ctx: Ctx) -> None:
    """Nothing up front: every measuring window and every set-up
    generates its own files (numbered apart) before its clock starts."""
    ctx.state["runs"] = 0


def _next_run(ctx: Ctx) -> int:
    ctx.state["runs"] += 1
    return ctx.state["runs"]


def _start(ctx: Ctx, d: str):
    from etl_based_real_time_air_quality_monitoring_system_spark.streaming.pipeline import (
        dead_letter_split,
        dedup_within_watermark,
        enrich,
        run_to_partitioned_parquet,
        stream_json_records,
    )

    envelope, payload = _schemas()
    os.makedirs(os.path.join(d, "src"))
    raw = stream_json_records(ctx.spark, os.path.join(d, "src"), envelope)
    good, bad = dead_letter_split(raw, "payload", payload)
    clean = enrich(dedup_within_watermark(good, ["event_id"], "ts"))
    main = run_to_partitioned_parquet(
        clean, os.path.join(d, "sink"), os.path.join(d, "ckpt"), trigger=TRIGGER
    )
    dlq = run_to_partitioned_parquet(
        bad, os.path.join(d, "dead"), os.path.join(d, "ckpt_dead"), trigger=TRIGGER
    )
    return main, dlq


def _release(files: list[str], src: str, due: list[float], late: list[float]) -> None:
    for path, t in zip(files, due):
        wait = t - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(path, os.path.join(src, os.path.basename(path)))
        late.append((time.time() - t) * 1000.0)


def _next_boundary() -> float:
    """The next trigger boundary at least half an interval away.
    Processing-time triggers fire on multiples of the interval since the
    epoch, so every run releases its files at the same phases of the
    trigger cycle."""
    return int(time.time() / TRIGGER_S + 1.5) * TRIGGER_S


def _drain(lines: int, *queries) -> None:
    """Wait until every query has read all ``lines`` envelope lines
    released so far.  Both queries read every line of the source, so
    this needs no knowledge of where a line ends up, and unlike
    ``processAllAvailable`` it returns as soon as the last micro-batch
    commits instead of waiting for one more trigger to find nothing."""
    deadline = time.time() + DRAIN_TIMEOUT_S
    while any(sum(p.numInputRows for p in q.recentProgress) < lines for q in queries):
        for q in queries:
            if q.exception() is not None:
                raise RuntimeError(f"stream query failed: {q.exception()}")
        if time.time() > deadline:
            raise RuntimeError("stream did not drain in time")
        time.sleep(0.05)


def setup(ctx: Ctx) -> None:
    """Start the pipeline and run one small micro-batch through it."""
    run = _next_run(ctx)
    d = ctx.path(f"warm{run}")
    files = gen.stream_files(ctx.seed, 1, 200, os.path.join(d, "stage"), first_file=900 + run)
    main, dlq = _start(ctx, d)
    _release(files["files"], os.path.join(d, "src"), [time.time()], [])
    _drain(files["released"], main, dlq)
    main.stop()
    dlq.stop()
    shutil.rmtree(d, ignore_errors=True)


def measure(ctx: Ctx, seconds: float) -> Measured:
    from pyspark.sql import functions as F

    d = ctx.path(f"run{_next_run(ctx)}")
    per_file = int(RATE * FILE_EVERY_S)
    # one warm-up interval, then the window rounded to whole intervals, so
    # every file offset in the trigger cycle is sampled equally often
    n1 = FILES_PER_TRIGGER * (1 + max(1, round(seconds / TRIGGER_S)))
    p1 = gen.stream_files(ctx.seed, n1, per_file, os.path.join(d, "stage1"))
    p2 = gen.stream_files(ctx.seed, BURST_FILES, BURST_PER_FILE, os.path.join(d, "stage2"), n1)
    main, dlq = _start(ctx, d)
    src = os.path.join(d, "src")
    late: list[float] = []
    try:
        t1 = _next_boundary() + RELEASE_OFFSET_S
        due1 = [t1 + i * FILE_EVERY_S for i in range(n1)]
        _release(p1["files"], src, due1, late)
        _drain(p1["released"], main, dlq)
        t2 = _next_boundary() - BURST_LEAD_S
        _release(p2["files"], src, [t2] * BURST_FILES, [])
        _drain(p1["released"] + p2["released"], main, dlq)
        progress = [json.loads(p.json) for p in main.recentProgress]
    finally:
        main.stop()
        dlq.stop()
    if max(late) > LATE_LIMIT_MS:
        raise RuntimeError(f"generator fell {max(late):.0f} ms behind its schedule")

    sink = ctx.spark.read.parquet(os.path.join(d, "sink"))
    rows, distinct = sink.agg(F.count("*"), F.countDistinct("event_id")).first()
    commits = (
        sink.select(
            F.floor(F.col("event_id") / gen.ID_STRIDE).cast("int").alias("f"),
            F.unix_millis(F.col("_metadata.file_modification_time")).alias("c"),
        )
        .groupBy("f", "c")
        .count()
        .collect()
    )
    samples, burst_last = [], t2 * 1000.0
    for f, c, n in commits:
        if f < n1:
            if f >= FILES_PER_TRIGGER:
                samples += [c - due1[f] * 1000.0] * n
        else:
            burst_last = max(burst_last, c)
    burst_landed = sum(n for f, _, n in commits if f >= n1)
    released = p1["released"] + p2["released"]
    m = Measured(samples, attempted=released)
    m.throughput = burst_landed / ((burst_last - t2 * 1000.0) / 1000.0)
    m.notes.update(
        rows=rows,
        distinct=distinct,
        dead=ctx.spark.read.parquet(os.path.join(d, "dead")).count(),
        sink_files=len(sink.inputFiles()),
        expected_landed=released - p1["corrupt"] - p2["corrupt"] - p1["replayed"] - p2["replayed"],
        corrupt=p1["corrupt"] + p2["corrupt"],
        late_ms=max(late),
        progress=[p for p in progress if p.get("numInputRows", 0) > 0],
    )
    m.notes["ops"] = len(m.notes["progress"])
    return m


def verify(ctx: Ctx, m: Measured) -> int:
    """Exact accounting: every valid record lands once, every replay is
    dropped and every corrupt payload is dead-lettered.  The shortfall
    or excess counts as failed records."""
    n = m.notes
    wrong = (
        abs(n["distinct"] - n["expected_landed"])
        + (n["rows"] - n["distinct"])
        + abs(n["dead"] - n["corrupt"])
    )
    if wrong:
        print(
            f"stream_ingest: landed {n['rows']} ({n['distinct']} distinct), expected "
            f"{n['expected_landed']}; dead-lettered {n['dead']}, expected {n['corrupt']}"
        )
    return wrong


def layers(ctx: Ctx, spans: dict, m: Measured) -> dict:
    prog = m.notes["progress"]
    out = {
        f"streaming.pipeline.{k}_ms": median([p["durationMs"].get(k, 0) for p in prog])
        for k in (
            "latestOffset", "getBatch", "queryPlanning", "addBatch",
            "walCommit", "commitOffsets", "triggerExecution",
        )
    }
    state = (prog[-1].get("stateOperators") or [{}])[0] if prog else {}
    out.update(
        {
            "streaming.pipeline.rows_per_batch": median([p["numInputRows"] for p in prog]),
            "streaming.pipeline.batches": len(prog),
            "streaming.pipeline.state_rows": state.get("numRowsTotal", 0),
            "streaming.pipeline.state_memory_bytes": state.get("memoryUsedBytes", 0),
            "streaming.pipeline.sink_files": m.notes["sink_files"],
            "streaming.pipeline.dead_letter_rows": m.notes["dead"],
            "streaming.pipeline.generator_late_ms": m.notes["late_ms"],
        }
    )
    return out
