"""Structured Streaming pipeline (SURVEY.md §2.9) — the idiomatic
replacement for the reference's hand-rolled Kafka poll loops.

Reference semantics -> Spark mapping implemented here:

- T1 micro-batch ingestion (``consumer.py:143-166`` 5 s poll) ->
  ``trigger(processingTime="5 seconds")``
- T3 at-least-once + replay (``consumer.py:50-52,169``)        ->
  checkpointed ``foreachBatch`` appending parquet — at-least-once,
  like the reference: an epoch interrupted after its files land but
  before its offsets commit is appended again on restart
- T4 three timestamps per record (``producer.py:77,81``,
  ``consumer.py:98``) -> event time ``ts`` + ``processed_timestamp``
  stamped in ``enrich``
- T5/T7 watermark + stateful dedup (absent in reference; batch
  ``dropDuplicates`` re-ran over everything, ``spark_processor.py:83``)
  -> ``withWatermark`` + ``dropDuplicatesWithinWatermark``
- T6 tumbling windows (batch ``groupBy(hour)`` analog,
  ``spark_processor.py:184-189``) -> ``groupBy(window(ts, ...))``
- T8 stream->table handoff (``consumer.py`` appends files, batch job
  re-reads everything) -> ONE streaming query transforming and
  appending partitioned parquet per micro-batch
- T9 per-message error isolation (``consumer.py:149-166``) ->
  permissive ``from_json`` + dead-letter split
- T10 retry/backpressure (``producer.py:25-27``) -> restart from
  checkpoint; Kafka source manages offsets/retries

In production the source swaps to ``readStream.format("kafka")``
(``startingOffsets=earliest`` ≙ ``consumer.py:51``); tests drive a
file source through ``processAllAvailable`` — same plan, same state
machinery.

Scale notes: streaming state (dedup + window aggregates) lives in the
state store keyed by (key, window); the watermark bounds its size —
without it state grows forever, which is the first thing to check on
a 1000-executor streaming job.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

#: default cadence ≙ the reference's 5 s poll (consumer.py:143)
DEFAULT_TRIGGER = "5 seconds"

#: bytes one file-scan task reads: Spark's default
#: ``spark.sql.files.maxPartitionBytes``, which the engine never changes
SCAN_TASK_BYTES = 128 * 1024 * 1024


def rate_source(spark: SparkSession, rows_per_second: int = 1) -> DataFrame:
    """T2 — synthetic cadence source (≙ the producer's 10 s emit loop,
    producer.py:132): built-in ``rate`` source yielding (timestamp,
    value); tests/dev only."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def with_ingest_metrics(df: DataFrame, name="ingest") -> DataFrame:
    """A12 — the consumer's processed/error tallies
    (consumer.py:133-162) as an ``observe`` instrumentation: metrics
    ride the query (collected per micro-batch via
    ``QueryProgressEvent.observedMetrics`` or ``df.observe`` listeners)
    instead of driver-side counters.

    ``name`` may be a string (streaming: metrics surface through the
    progress listener) or a ``pyspark.sql.Observation`` (batch:
    ``obs.get`` after the first action returns the counters)."""
    return df.observe(
        name,
        F.count(F.lit(1)).alias("records"),
        F.sum(F.when(F.col(df.columns[0]).isNull(), 1).otherwise(0)).alias(
            "null_first_col"
        ),
    )


def stream_json_records(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of JSON records under an explicit schema —
    the test/dev stand-in for the Kafka source (same downstream plan).

    By default a micro-batch admits new files up to
    ``maxBytesPerTrigger = defaultParallelism x SCAN_TASK_BYTES``: one
    wave of full-size scan tasks.  A backlog (a restart from
    ``earliest``, consumer.py:50-52) then drains in as few epochs as the
    cores can scan at once, instead of waiting a trigger interval per
    fixed file count, while an epoch after a long outage still stays one
    wave wide, which bounds its state growth.

    Pass ``max_files_per_trigger`` to cap each epoch by file count
    instead (Spark rejects both options together) — for a deterministic
    split, e.g. ``1`` so each file is its own micro-batch."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is None:
        reader = reader.option(
            "maxBytesPerTrigger", spark.sparkContext.defaultParallelism * SCAN_TASK_BYTES
        )
    else:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def dead_letter_split(
    raw: DataFrame, payload_col: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """T9 — permissive parse: rows whose payload parses become the
    good stream (flattened), the rest keep the raw payload for a
    dead-letter sink.  Replaces the reference's per-message
    try/except (consumer.py:149-166).

    Gotcha encoded here: PERMISSIVE ``from_json`` yields an all-null
    struct (not null) for corrupt input, so corruption is detected via
    ``columnNameOfCorruptRecord`` inside the parse schema.
    """
    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    parsed = raw.withColumn(
        "_rec",
        F.from_json(
            F.col(payload_col),
            with_corrupt,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    is_bad = F.col("_rec._corrupt_record").isNotNull() | F.col("_rec").isNull()
    good = (
        parsed.filter(~is_bad)
        .select("*", "_rec.*")
        .drop("_rec", "_corrupt_record", payload_col)
    )
    bad = parsed.filter(is_bad).drop("_rec")
    return good, bad


def enrich(df: DataFrame) -> DataFrame:
    """T4 — stamp processing time (≙ consumer.py:98's
    ``processed_timestamp``)."""
    return df.withColumn("processed_timestamp", F.current_timestamp())


def dedup_within_watermark(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """T5+T7 — watermarked stateful dedup: duplicates arriving within
    the watermark horizon are dropped; state for keys older than the
    watermark is evicted (bounded state, unlike the reference's
    re-scan-everything batch dedup)."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def windowed_aggregate(
    df: DataFrame,
    key: str,
    value: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "10 minutes",
    aggs: list | None = None,
    slide: str | None = None,
) -> DataFrame:
    """T6 — tumbling-window count/avg per key (the streaming analog of
    the reference's hourly groupBy, spark_processor.py:184-189).

    Watermark caveat (probed on Spark 4.1.2, pinned by the
    ``streaming_late_data_drop`` gate query): for AGGREGATIONS this
    engine exercises the documented "data older than the watermark
    *may* be dropped" latitude and never drops it — a too-late row
    reopens its closed window and append mode re-emits that window (a
    duplicate window key downstream).  The watermark still bounds
    state (T5's resource guarantee).  When the hard drop-late semantic
    is required, run :func:`dedup_within_watermark` on a unique row
    key upstream — its stateful operator filters input older than the
    propagated watermark (one-batch propagation lag).

    ``aggs`` replaces the default [count, round(avg, 2)] aggregate
    list (pre-aliased Columns) — e.g. decimal sums when the result must
    be bit-identical across engines (float sums are order-sensitive,
    and tiny per-window groups make the rounding boundary visible).

    ``slide`` turns the window SLIDING (each row contributes to
    window/slide overlapping windows — state grows by that factor,
    which is why the tumbling default stays the hot path).
    """
    if aggs is None:
        aggs = [
            F.count("*").alias("record_count"),
            F.round(F.avg(value), 2).alias(f"avg_{value}"),
        ]
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    agged = (
        df.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), F.col(key))
        .agg(*aggs)
    )
    out_cols = [c for c in agged.columns if c not in ("win", key)]
    return agged.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        key,
        *out_cols,
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "10 minutes",
    max_delay: str = "1 hour",
    join_type: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with a time-range condition
    (e.g. purchases joined to the click that preceded them by at most
    ``max_delay``) — the streaming analog of the batch as-of/range
    joins in ``operators/joins.py``.

    Both sides carry watermarks and the join condition bounds
    ``right_ts`` to [left_ts, left_ts + max_delay], so Spark can evict
    buffered rows once the other side's watermark passes — without the
    time bound the join state grows forever, which is the failure mode
    to design out FIRST on a 1000-executor streaming job.  State is
    key-partitioned: one shuffle per side, skew rules as for batch
    joins.
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rts >= lts)
        & (rts <= lts + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, join_type)


def stateful_running_stats(
    df: DataFrame,
    key: str = "event_type",
    value: str = "value",
    timeout_ms: int | None = None,
) -> DataFrame:
    """A12/T-custom — arbitrary stateful per-key aggregation via
    ``applyInPandasWithState``: keeps (count, sum) per key in the state
    store and emits the updated running count/sum/mean every
    micro-batch.  This is the engine's seam for custom stateful
    operators Spark's built-ins can't express (counters with custom
    eviction, per-key ML state, CEP-ish logic).

    State is tiny (two scalars per key) and Arrow-batched per group, so
    at 1000 executors the cost is one key-shuffle per micro-batch —
    the same bound as the built-in streaming aggregation.  With
    ``timeout_ms`` set, idle keys are evicted (ProcessingTimeTimeout),
    bounding state like a watermark would.
    """
    import pandas as pd  # local: Arrow path only, never on the driver's hot path
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType(), True),
            T.StructField("record_count", T.LongType(), True),
            T.StructField("value_sum", T.DoubleType(), True),
            T.StructField("value_mean", T.DoubleType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("record_count", T.LongType(), True),
            T.StructField("value_sum", T.DoubleType(), True),
        ]
    )

    def update(key_tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            count += len(pdf)
            total += float(pdf[value].fillna(0.0).sum())
        state.update((count, total))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            [
                {
                    "key": key_tuple[0],
                    "record_count": count,
                    "value_sum": total,
                    "value_mean": total / count if count else None,
                }
            ]
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(key).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def run_to_partitioned_parquet(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    partition_cols: tuple[str, ...] = (),
    trigger: str = DEFAULT_TRIGGER,
    available_now: bool = False,
) -> StreamingQuery:
    """T8 — one streaming query appending partitioned parquet per
    micro-batch via ``foreachBatch``, replacing the reference's
    file-per-record sink + separate re-read-everything batch job
    (consumer.py:66-77 + spark_processor.py:59-64).

    Delivery is at-least-once: the checkpoint stops a restart from
    re-reading committed epochs, but a plain append is not idempotent,
    so an epoch interrupted after its files land and before its offsets
    commit is appended again on restart."""

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        batch.write.mode("append").partitionBy(*partition_cols).parquet(out_path)

    stream = df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        stream = stream.trigger(availableNow=True)
    else:
        stream = stream.trigger(processingTime=trigger)
    return stream.start()


def version_guarded_merge(
    base: DataFrame, compact: DataFrame, key: str, version_col: str
) -> DataFrame:
    """The CDC merge core: replace a base row only with a STRICTLY
    newer update, keep updates not dominated by an equal-or-newer base
    row.  Shuffle-free on the snapshot side: the survivor anti-join
    broadcasts the compacted batch (build-right), and the dominated
    side is a snapshot semi-join against that same broadcast (output
    bounded by the batch's key count) followed by a tiny anti-join —
    the snapshot is scanned once and never exchanged (plan-pinned in
    tests).  ``compact`` must be unique per key."""
    b, u = base.alias("b"), F.broadcast(compact.alias("u"))
    same_key = F.col(f"b.{key}") == F.col(f"u.{key}")
    kept = b.join(
        u,
        same_key & (F.col(f"u.{version_col}") > F.col(f"b.{version_col}")),
        "left_anti",
    )
    dominating = b.join(
        u,
        same_key & (F.col(f"b.{version_col}") >= F.col(f"u.{version_col}")),
        "left_semi",
    ).select(F.col(key))
    fresh = compact.join(F.broadcast(dominating), key, "left_anti")
    return kept.unionByName(fresh)


def _read_gen_marker(snapshot_root: str) -> list[tuple[str, int, str]]:
    """Parse the ``_GEN`` marker: one line per retained generation,
    NEWEST FIRST, each ``gen_dir|epoch_id|run_token``.  Returns []
    when no generation has ever committed."""
    import os

    marker = os.path.join(snapshot_root, "_GEN")
    if not os.path.exists(marker):
        return []
    out = []
    with open(marker) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            gen, _, rest = line.partition("|")
            ep, _, run = rest.partition("|")
            out.append((gen, int(ep) if ep else -1, run))
    return out


@contextmanager
def _marker_lock(snapshot_root: str, timeout_seconds: float = 60.0):
    """Advisory inter-process mutex for ``_GEN`` read-modify-write
    sections — the local-fs analog of the lock service / table-format
    commit protocol a real lakehouse deploy uses.  Both the writer's
    marker commit (:func:`run_cdc_apply`) and
    :func:`vacuum_cdc_snapshots` take it, so a vacuum can never erase
    a generation the writer is about to re-list, and the writer can
    never resurrect directories the vacuum just pruned.

    ``fcntl.flock`` on a PERSISTENT lock file (never unlinked): the
    kernel releases a dead holder's lock automatically, so there is no
    stale-mtime steal path at all — the earlier O_EXCL+steal design
    had a check-then-unlink race where two waiters observing the same
    stale lock could both end up inside the critical section (one
    unlinks+recreates, the other unlinks the fresh lock).  Unlinking
    on release would reintroduce an inode race (holder locks inode A
    then unlinks it; a waiter creates+locks inode B concurrently), so
    the file stays; its existence carries no state, only its flock.
    Only marker metadata updates run under the lock — parquet writes
    stay outside — so hold times are milliseconds."""
    import fcntl
    import os
    import time

    os.makedirs(snapshot_root, exist_ok=True)
    path = os.path.join(snapshot_root, "_GEN.lock")
    deadline = time.monotonic() + timeout_seconds
    fd = os.open(path, os.O_CREAT | os.O_RDWR)
    try:
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except (BlockingIOError, InterruptedError, PermissionError):
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"_GEN lock at {path} held past "
                        f"{timeout_seconds}s — another maintenance "
                        "process is stuck (a DEAD holder cannot cause "
                        "this: the kernel drops its flock)"
                    )
                time.sleep(0.05)
        try:
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
    finally:
        os.close(fd)


def _write_gen_marker(
    snapshot_root: str, history: list[tuple[str, int, str]]
) -> None:
    """ATOMIC marker replace: write to a temp file, then ``os.replace``
    over ``_GEN`` — a crash mid-write can never leave a truncated
    marker, so readers and the next batch always see either the old or
    the new commit point, never garbage.  (Local-fs analog of the
    Hadoop FS rename an HDFS/S3 deploy would use.)"""
    import os

    tmp = os.path.join(snapshot_root, "_GEN.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(f"{g}|{e}|{r}" for g, e, r in history))
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(snapshot_root, "_GEN"))


def run_cdc_apply(
    updates: DataFrame,
    snapshot_root: str,
    checkpoint: str,
    key: str,
    version_col: str,
    tie_break: str | None = None,
    available_now: bool = True,
    keep_generations: int = 3,
) -> StreamingQuery:
    """Streaming CDC apply: maintain a keyed SNAPSHOT table from a
    stream of versioned updates — each micro-batch is compacted to its
    latest version per key, then merged with a VERSION GUARD: a base
    row is replaced only by a strictly newer update, so delivery order
    across micro-batches doesn't matter (last writer by version, not
    by arrival — the property the CDC permutation test pins).
    Tombstones are RETAINED as rows (compacted-log semantics): a stale
    update can never resurrect a key deleted at a higher version;
    :func:`read_cdc_snapshot` filters them for readers.

    Versions are expected unique per key; if a producer can emit
    duplicates, pass ``tie_break`` (a column making the within-batch
    order total) — cross-batch, an equal version deterministically
    keeps the already-applied row.

    Exactly-once discipline without a table format: each commit writes
    a FRESH generation directory ``gen-<seq>`` whose sequence number
    comes from the marker itself (last committed seq + 1 — NEVER from
    the epoch id, which is a property of the checkpoint: a fresh
    checkpoint against an existing snapshot resets epochs to 0 and an
    epoch-derived directory could collide with the committed base).
    The ``_GEN`` marker — replaced atomically (temp + ``os.replace``)
    only AFTER the parquet write completes — lists the retained
    generations newest-first with their epoch and run token.  Because
    base (last committed gen) and output (next seq) are always
    distinct directories, a replayed batch can never read the
    directory it is writing.  Replay handling is two-layered: a replay
    within the SAME query run whose commit already landed is detected
    by (epoch, run token) and skipped; a replay from a RESTARTED run
    (fresh run token — possibly with a fresh checkpoint whose epoch
    ids restart at 0) falls through to the merge, which the version
    guard makes idempotent (equal versions never replace, dominated
    updates drop out), so it commits a new generation with identical
    content rather than corrupting the base.

    ``keep_generations`` older snapshots are retained with their epoch
    ids — :func:`read_cdc_snapshot` can time-travel to any of them via
    ``asof_epoch``; generations that age out are deleted after the
    marker commit.

    At scale the per-epoch merge keeps the snapshot shuffle-free: the
    survivor anti-join broadcasts the compacted batch (build-right),
    and the dominated-update side is computed from a key set bounded
    by the batch (snapshot semi-join against the broadcast batch,
    then a tiny anti-join) — the snapshot is scanned once and never
    exchanged.
    """
    import os
    import shutil
    import uuid

    from ..operators.topk import latest_per_key

    if keep_generations < 1:
        raise ValueError("run_cdc_apply: keep_generations must be >= 1")
    spark = updates.sparkSession
    run_token = uuid.uuid4().hex[:12]

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        os.makedirs(snapshot_root, exist_ok=True)
        history = _read_gen_marker(snapshot_root)
        if (
            history
            and history[0][1] == int(epoch_id)
            and history[0][2] == run_token
        ):
            # same-run replay of an epoch whose write + marker already
            # landed (failure between marker commit and streaming
            # commit): committed — skip.  Cross-run replays (different
            # token) fall through to the idempotent merge below.
            return
        compact = latest_per_key(batch, key, version_col, tie_break=tie_break).persist()
        try:
            if history:
                base = spark.read.parquet(os.path.join(snapshot_root, history[0][0]))
                merged = version_guarded_merge(base, compact, key, version_col)
                # trailing digits of the committed dir name (tolerates
                # the pre-history `gen=N` layout a live snapshot may
                # still carry) — next seq is always a FRESH directory
                seq = _gen_seq(history[0][0]) + 1
            else:
                merged = compact
                seq = 1
            gen = f"gen-{seq:06d}"
            merged.write.mode("overwrite").parquet(os.path.join(snapshot_root, gen))
            # marker commit under the _GEN lock, against FRESHLY-read
            # history: a concurrent vacuum_cdc_snapshots may have
            # truncated retention since the batch started, and
            # re-listing its pruned generations would hand readers a
            # marker pointing at deleted directories.  The base/seq
            # chosen above stay valid regardless — vacuum never
            # touches the newest generation (keep_generations >= 1).
            # Only metadata moves under the lock; the parquet write
            # above is outside it.
            with _marker_lock(snapshot_root):
                fresh = _read_gen_marker(snapshot_root)
                new_hist = [(gen, int(epoch_id), run_token)] + fresh
                _write_gen_marker(snapshot_root, new_hist[:keep_generations])
            for old_gen, _, _ in new_hist[keep_generations:]:
                shutil.rmtree(
                    os.path.join(snapshot_root, old_gen), ignore_errors=True
                )
        finally:
            compact.unpersist()

    stream = updates.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        stream = stream.trigger(availableNow=True)
    return stream.start()


def _gen_seq(gen_dir: str) -> int:
    """Commit sequence number of a generation directory (``gen-000042``
    → 42).  Unlike epoch ids — which are a property of the CHECKPOINT
    and restart at 0 under a fresh checkpoint — the sequence is minted
    from the marker itself, so it is monotonic across query restarts
    and is the only safe time-travel key spanning runs."""
    import re

    m = re.search(r"(\d+)$", gen_dir)
    return int(m.group(1)) if m else 0


def read_cdc_snapshot(
    spark: SparkSession,
    snapshot_root: str,
    delete_col: str | None = None,
    asof_epoch: int | None = None,
    asof_commit: int | None = None,
) -> DataFrame:
    """Read a committed generation written by :func:`run_cdc_apply` —
    the latest by default, or TIME-TRAVEL backwards (the lakehouse
    snapshot-isolation read: the state as of that commit, exactly what
    replaying updates through it would produce).  Two keys:

    - ``asof_commit=N``: newest retained generation whose COMMIT
      SEQUENCE is ``<= N``.  The sequence is minted from the marker
      (monotonic across query restarts), so this is the durable
      time-travel key — use it when the snapshot may have been built
      by more than one streaming run.
    - ``asof_epoch=N``: newest generation of the LATEST run whose
      epoch id is ``<= N``.  Epoch ids are a property of the
      checkpoint and restart at 0 under a fresh checkpoint, so
      resolution is scoped to the newest run token — an epoch from a
      superseded run is not addressable (ask by commit instead).

    Pass ``delete_col`` to filter retained tombstone rows (the live
    view — what a serving reader wants)."""
    import os

    if asof_epoch is not None and asof_commit is not None:
        raise ValueError(
            "read_cdc_snapshot: pass at most one of asof_epoch / asof_commit"
        )
    history = _read_gen_marker(snapshot_root)
    if not history:
        raise FileNotFoundError(
            f"read_cdc_snapshot: no committed generation under {snapshot_root}"
        )
    if asof_commit is not None:
        match = next((g for g, _, _ in history if _gen_seq(g) <= asof_commit), None)
        if match is None:
            raise ValueError(
                f"read_cdc_snapshot: no retained generation at commit <= "
                f"{asof_commit}; oldest retained commit is "
                f"{_gen_seq(history[-1][0])} (raise keep_generations to "
                "travel further back)"
            )
        gen = match
    elif asof_epoch is not None:
        latest_run = history[0][2]
        match = next(
            (g for g, e, r in history if r == latest_run and e <= asof_epoch), None
        )
        if match is None:
            in_run = [e for _, e, r in history if r == latest_run]
            raise ValueError(
                f"read_cdc_snapshot: no generation of the latest run at epoch "
                f"<= {asof_epoch}; its oldest retained epoch is "
                f"{min(in_run)}.  Epochs reset across restarts — use "
                "asof_commit to travel into an earlier run."
            )
        gen = match
    else:
        gen = history[0][0]
    out = spark.read.parquet(os.path.join(snapshot_root, gen))
    if delete_col is not None:
        out = out.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(delete_col)
    return out


def vacuum_cdc_snapshots(
    snapshot_root: str, keep_generations: int
) -> list[str]:
    """Prune a CDC snapshot's retained history down to its newest
    ``keep_generations`` generations — the explicit VACUUM for a
    snapshot built with a larger retention than it needs (the
    lakehouse ``VACUUM`` analog; :func:`run_cdc_apply` only ages
    generations out as new commits land, so shrinking retention on a
    quiet table needs this).  Returns the pruned generation dirs
    (relative names, NEWEST-FIRST — marker order), ``[]`` when
    nothing exceeds retention.

    Crash ordering mirrors the writer: the truncated marker is
    committed ATOMICALLY first, then the aged-out directories are
    deleted — a crash between the two leaves orphaned (unreferenced)
    directories, never a marker pointing at deleted data, so
    concurrent :func:`read_cdc_snapshot` calls stay correct at every
    point.  The marker read-modify-write runs under the ``_GEN``
    lock shared with the writer's commit section, so vacuuming WHILE
    a stream is applying batches is safe: neither side can erase or
    resurrect the other's marker entries (the writer re-reads fresh
    history under the same lock before committing).  Reads WITHIN the
    surviving retention are byte-identical before and after (the gate
    query proves it); reads beyond it fail fast with the
    oldest-retained-commit message."""
    import os
    import shutil

    if keep_generations < 1:
        raise ValueError("vacuum_cdc_snapshots: keep_generations must be >= 1")
    if not os.path.exists(os.path.join(snapshot_root, "_GEN")):
        raise FileNotFoundError(
            f"vacuum_cdc_snapshots: no committed generation under {snapshot_root}"
        )
    with _marker_lock(snapshot_root):
        history = _read_gen_marker(snapshot_root)
        if not history:
            raise FileNotFoundError(
                f"vacuum_cdc_snapshots: no committed generation under "
                f"{snapshot_root}"
            )
        if len(history) <= keep_generations:
            return []
        keep, prune = history[:keep_generations], history[keep_generations:]
        _write_gen_marker(snapshot_root, keep)
    for gen, _, _ in prune:
        shutil.rmtree(os.path.join(snapshot_root, gen), ignore_errors=True)
    return [gen for gen, _, _ in prune]


def stateful_distinct_users_exact(
    df: DataFrame,
    key: str = "event_type",
    user: str = "user_id",
) -> DataFrame:
    """Per-key EXACT distinct-user count as a ``transformWithStateInPandas``
    stateful processor (the Spark 4 arbitrary-state API — typed state
    handles + timers — succeeding ``applyInPandasWithState``, which
    ``stateful_running_sum_exact`` demonstrates).

    State per key: a ``MapState`` holding the seen user ids (the state
    store indexes map keys individually — updates touch only NEW ids,
    never rewrite the whole set, unlike a set serialized into a
    ``ValueState``) plus a ``ValueState`` running count incremented
    once per new id, so each micro-batch costs O(new ids), not
    O(state).  Set union is associative and idempotent, so the final
    emission per key is micro-batch-split-invariant and equals the
    batch ``count(DISTINCT user)`` — update-mode emissions are
    monotone (the set only grows), so the final state is ``max()``.

    At 100 TB: state is hash-partitioned by key across executors with
    per-id incremental checkpoints (RocksDB state store in
    production); the exact set is the oracle path — swap in a HLL
    sketch in the same processor shape when memory beats exactness.

    Requires ``protobuf`` (the transformWithState state-protocol
    dependency, not shipped in every container) — import-gated so the
    absence degrades to a clear error pointing at the
    ``applyInPandasWithState`` twin, not a worker crash mid-stream.
    """
    try:
        import google.protobuf  # noqa: F401
        _has_protobuf = True
    except ImportError:
        _has_protobuf = False
    if not _has_protobuf:
        raise NotImplementedError(
            "transformWithStateInPandas needs the protobuf package "
            "(pyspark's state-protocol dependency), which is not "
            "installed here; use stateful_running_sum_exact "
            "(applyInPandasWithState) for custom streaming state in "
            "this environment"
        )
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType(), True),
            T.StructField("distinct_users", T.LongType(), True),
        ]
    )

    class DistinctUsers(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getMapState("seen", "uid long", "present boolean")
            self._n = handle.getValueState("n", "n long")

        def handleInputRows(self, key_tuple, rows, timer_values):
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                for u in pdf[user].dropna().unique():
                    uid = (int(u),)
                    if not self._seen.containsKey(uid):
                        self._seen.updateValue(uid, (True,))
                        n += 1
            self._n.update((n,))
            yield pd.DataFrame([{"key": key_tuple[0], "distinct_users": n}])

        def close(self) -> None:
            pass

    return df.groupBy(key).transformWithStateInPandas(
        DistinctUsers(), out_schema, "Update", "None"
    )


def stateful_running_sum_exact(
    df: DataFrame,
    key: str = "event_type",
    value_long: str = "value_micros",
) -> DataFrame:
    """Exactness-friendly twin of :func:`stateful_running_stats` for the
    differential gate: per-key (count, sum) state over an INTEGER
    value column.  Integer sums are associative, so the emitted totals
    are independent of micro-batch split, Arrow batch order and engine
    — lettting a custom ``applyInPandasWithState`` operator be
    oracle-checked exactly, not just smoke-tested.

    Same scale shape as the float variant: two scalars of state per
    key, one key-shuffle per micro-batch.

    Recovering the FINAL state from update-mode emissions: use
    ``max_by(value_sum_micros, record_count)`` — ``record_count`` is
    monotone unconditionally, while the running sum is only monotone
    when values are non-negative, so ``max(value_sum_micros)`` would
    silently pick an intermediate emission on mixed-sign input split
    across micro-batches.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType(), True),
            T.StructField("record_count", T.LongType(), True),
            T.StructField("value_sum_micros", T.LongType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("record_count", T.LongType(), True),
            T.StructField("value_sum_micros", T.LongType(), True),
        ]
    )

    def update(key_tuple, pdfs, state: GroupState):
        count, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            count += len(pdf)
            total += int(pdf[value_long].fillna(0).sum())
        state.update((count, total))
        yield pd.DataFrame(
            [{"key": key_tuple[0], "record_count": count, "value_sum_micros": total}]
        )

    return df.groupBy(key).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
