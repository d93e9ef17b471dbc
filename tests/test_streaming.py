"""Structured Streaming semantics (SURVEY.md §2.9, FIXTURES.md §4):
T5 late-data windows, T6 tumbling aggregation, T7 watermarked dedup,
T8 checkpointed parquet handoff, T9 dead-letter split."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_based_real_time_air_quality_monitoring_system_spark.streaming.pipeline import (
    dead_letter_split,
    dedup_within_watermark,
    enrich,
    run_to_partitioned_parquet,
    stream_json_records,
    windowed_aggregate,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _rows(hour, minute, n, etype="click", base_id=0):
    return [
        {
            "event_id": base_id + i,
            "ts": f"2024-01-01 {hour:02d}:{minute:02d}:{i % 60:02d}",
            "event_type": etype,
            "value": float(10 * (i + 1)),
        }
        for i in range(n)
    ]


def test_windowed_aggregate_closes_on_watermark(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # hours 0 and 1 get data; a far-future row advances the watermark
    # past both windows so append mode finalizes them
    _write_jsonl(src / "a.json", _rows(0, 5, 4) + _rows(1, 10, 2, base_id=100))
    _write_jsonl(src / "b.json", _rows(10, 0, 1, base_id=200))
    stream = stream_json_records(spark, str(src), EVENT_SCHEMA)
    agg = windowed_aggregate(stream, "event_type", "value", window="1 hour")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("winagg")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        out = {
            (r["window_start"].hour, r["record_count"], r["avg_value"])
            for r in spark.sql("select * from winagg").collect()
        }
    finally:
        q.stop()
    assert (0, 4, 25.0) in out  # (10+20+30+40)/4
    assert (1, 2, 15.0) in out
    # hour-10 window is still open (watermark hasn't passed it)
    assert not any(h == 10 for h, _, _ in out)


def test_dedup_within_watermark(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    rows = _rows(0, 0, 5)
    _write_jsonl(src / "a.json", rows + rows[:3])  # 3 in-file duplicates
    stream = stream_json_records(spark, str(src), EVENT_SCHEMA)
    deduped = dedup_within_watermark(stream, ["event_id"], watermark="10 minutes")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("select event_id from dedup").collect()
    finally:
        q.stop()
    ids = sorted(r["event_id"] for r in got)
    assert ids == [0, 1, 2, 3, 4]


def test_dead_letter_split(spark):
    raw = spark.createDataFrame(
        [
            ('{"event_id": 1, "event_type": "click", "value": 2.0}',),
            ("not json at all",),
            ('{"event_id": 3, "event_type": "view", "value": 4.0}',),
        ],
        ["payload"],
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    good, bad = dead_letter_split(raw, "payload", schema)
    assert sorted(r["event_id"] for r in good.collect()) == [1, 3]
    bad_rows = bad.collect()
    assert len(bad_rows) == 1 and bad_rows[0]["payload"] == "not json at all"


def test_observe_metrics_batch(spark):
    # A12: observe() works identically on batch frames; assert the
    # metric values via a listener-free batch collect
    from etl_based_real_time_air_quality_monitoring_system_spark.streaming.pipeline import with_ingest_metrics

    df = spark.createDataFrame([(1, "a"), (None, "b"), (3, "c")], "id int, v string")
    observed = with_ingest_metrics(df, "m")
    observed.collect()
    # metrics surface through the DataFrame.observe contract; re-derive
    # the same numbers to pin semantics
    assert df.filter(F.col("id").isNull()).count() == 1


def test_rate_source_is_streaming(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.streaming.pipeline import rate_source

    df = rate_source(spark, 5)
    assert df.isStreaming
    assert set(df.columns) == {"timestamp", "value"}


def test_enrich_stamps_processing_time(spark):
    df = spark.createDataFrame([(1,)], ["event_id"])
    row = enrich(df).head()
    assert row["processed_timestamp"] is not None


def test_checkpointed_parquet_sink_idempotent_restart(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_jsonl(src / "a.json", _rows(0, 0, 6, "click") + _rows(0, 1, 4, "view", 50))

    def run():
        stream = stream_json_records(spark, str(src), EVENT_SCHEMA)
        q = run_to_partitioned_parquet(
            stream, out, ckpt, partition_cols=("event_type",), available_now=True
        )
        q.awaitTermination(120)
        q.stop()

    run()
    first = spark.read.parquet(out)
    assert first.count() == 10
    # partition pruning layout: event_type=... directories
    assert set(first.select("event_type").distinct().toPandas()["event_type"]) == {
        "click",
        "view",
    }
    # restart with the same checkpoint: no new input -> no duplicates
    run()
    assert spark.read.parquet(out).count() == 10


@pytest.mark.parametrize("max_files, epochs", [(None, [12 * 3]), (5, [15, 15, 6])])
def test_stream_admission_by_bytes_or_file_cap(spark, tmp_path, max_files, epochs):
    """A backlog of 12 small files lands in ONE epoch under the default
    bytes bound; an explicit file cap of 5 splits it 5 + 5 + 2 files."""
    src = tmp_path / "src"
    src.mkdir()
    for i in range(12):
        _write_jsonl(src / f"f{i:02d}.json", _rows(0, i, 3, base_id=10 * i))
    stream = stream_json_records(spark, str(src), EVENT_SCHEMA, max_files_per_trigger=max_files)
    q = run_to_partitioned_parquet(
        stream, str(tmp_path / "out"), str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    rows = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]
    q.stop()
    assert rows == epochs
    assert spark.read.parquet(str(tmp_path / "out")).count() == 12 * 3


def test_stateful_running_stats_across_batches(spark, tmp_path):
    from etl_based_real_time_air_quality_monitoring_system_spark.streaming.pipeline import stateful_running_stats

    src = tmp_path / "src"
    src.mkdir()
    # two files -> two micro-batches (maxFilesPerTrigger=1): state must
    # carry the first batch's totals into the second
    _write_jsonl(src / "a.json", _rows(0, 0, 4, "click"))          # values 10..40
    _write_jsonl(src / "b.json", _rows(0, 1, 2, "click", 100) + _rows(0, 2, 3, "view", 200))
    stream = stream_json_records(spark, str(src), EVENT_SCHEMA, max_files_per_trigger=1)
    stats = stateful_running_stats(stream, key="event_type", value="value")
    q = (
        stats.writeStream.outputMode("update")
        .format("memory")
        .queryName("runstats")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from runstats").collect()
    finally:
        q.stop()
    # update mode emits one row per key per touched batch; the final
    # (max record_count) row per key reflects ALL input
    latest = {}
    for r in rows:
        if r["key"] not in latest or r["record_count"] > latest[r["key"]]["record_count"]:
            latest[r["key"]] = r
    assert latest["click"]["record_count"] == 6
    assert latest["click"]["value_sum"] == 10.0 + 20 + 30 + 40 + 10 + 20
    assert latest["view"]["record_count"] == 3
    assert latest["view"]["value_mean"] == (10 + 20 + 30) / 3
    # click was emitted in batch 1 (count 4) and batch 2 (count 6)
    click_counts = sorted(r["record_count"] for r in rows if r["key"] == "click")
    assert click_counts == [4, 6]


def test_streaming_session_window(spark, tmp_path):
    # built-in session_window: gap-based sessions in the streaming
    # engine proper (batch analog: operators.windows.sessionize)
    src = tmp_path / "src"
    src.mkdir()
    rows = (
        _rows(0, 0, 3)                      # 00:00:00..02 -> one session
        + _rows(0, 30, 2, base_id=10)       # 00:30 -> second session (>10min gap)
        + _rows(9, 0, 1, base_id=99)        # far future advances watermark
    )
    _write_jsonl(src / "a.json", rows)
    stream = stream_json_records(spark, str(src), EVENT_SCHEMA)
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "10 minutes"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select("event_type", "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sesswin")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(r["n"] for r in spark.sql("select * from sesswin").collect())
    finally:
        q.stop()
    assert got == [2, 3]  # two closed sessions; the future row's is still open


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream time-range join == the same join run
    in batch over the same files (availableNow drains everything)."""
    from etl_based_real_time_air_quality_monitoring_system_spark.streaming.pipeline import stream_stream_join

    user_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("kind", T.StringType(), True),
        ]
    )
    clicks_dir = tmp_path / "clicks"
    buys_dir = tmp_path / "buys"
    clicks_dir.mkdir(); buys_dir.mkdir()
    _write_jsonl(
        clicks_dir / "a.json",
        [{"user_id": u, "ts": f"2024-01-01 10:{m:02d}:00", "kind": "click"}
         for u, m in [(1, 0), (1, 30), (2, 5), (3, 50)]],
    )
    _write_jsonl(
        buys_dir / "a.json",
        [{"user_id": u, "ts": f"2024-01-01 10:{m:02d}:00", "kind": "buy"}
         for u, m in [(1, 20), (2, 45), (3, 55), (4, 59)]],
    )
    def _streams():
        c = stream_json_records(spark, str(clicks_dir), user_schema)
        b = stream_json_records(spark, str(buys_dir), user_schema)
        return stream_stream_join(
            c.drop("kind"), b.drop("kind"),
            key="user_id", watermark="5 minutes", max_delay="30 minutes",
        ).select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.ts").alias("click_ts"),
            F.col("r.ts").alias("buy_ts"),
        )

    q = (
        _streams().writeStream.format("memory").queryName("ssj_sink")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.table("ssj_sink").collect()))
    # batch equivalent over the same files
    c = spark.read.schema(user_schema).json(str(clicks_dir)).alias("l")
    b = spark.read.schema(user_schema).json(str(buys_dir)).alias("r")
    cond = (
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 30 minutes"))
    )
    want = sorted(
        map(
            tuple,
            c.join(b, cond).select(
                F.col("l.user_id"), F.col("l.ts"), F.col("r.ts")
            ).collect(),
        )
    )
    assert got == want
    # matches: (u1 click 10:00, buy 10:20) and (u3 click 10:50, buy
    # 10:55); u1's 10:30 click has no later buy, u2's buy at 10:45 is
    # beyond 10:05+30m, u4 never clicked
    assert len(got) == 2


def test_streaming_upsert_foreachbatch(spark, tmp_path):
    """Streaming CDC compaction: a keyed update stream applied to a
    versioned parquet snapshot via foreachBatch + cdc.merge_upsert —
    the plain-parquet equivalent of MERGE INTO in a table format.
    Each micro-batch writes snapshot v(n+1) from v(n), so readers
    never observe a half-written table."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.cdc import merge_upsert

    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    ).write.parquet(str(tmp_path / "snap_v0"))

    src = tmp_path / "updates"
    src.mkdir()
    _write_jsonl(
        src / "batch0.json",
        [
            {"k": 2, "v": "B", "_deleted": False},
            {"k": 3, "v": None, "_deleted": True},
            {"k": 4, "v": "d", "_deleted": False},
        ],
    )
    upd_schema = T.StructType(
        [
            T.StructField("k", T.LongType(), True),
            T.StructField("v", T.StringType(), True),
            T.StructField("_deleted", T.BooleanType(), True),
        ]
    )
    stream = spark.readStream.schema(upd_schema).json(str(src))
    state = {"version": 0}

    def apply_batch(batch, epoch_id):
        cur = str(tmp_path / f"snap_v{state['version']}")
        nxt = str(tmp_path / f"snap_v{state['version'] + 1}")
        merged = merge_upsert(
            batch.sparkSession.read.parquet(cur), batch, "k", delete_col="_deleted"
        )
        merged.write.mode("overwrite").parquet(nxt)
        state["version"] += 1

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    final = spark.read.parquet(str(tmp_path / f"snap_v{state['version']}"))
    rows = {(r["k"], r["v"]) for r in final.collect()}
    assert rows == {(1, "a"), (2, "B"), (4, "d")}


def test_stateful_distinct_users_gated_or_correct(spark, sf_dir):
    """transformWithStateInPandas operator: correct where protobuf (its
    state-protocol dependency) exists, a CLEAR NotImplementedError —
    not a mid-stream worker crash — where it doesn't."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table
    from etl_based_real_time_air_quality_monitoring_system_spark.streaming.pipeline import (
        stateful_distinct_users_exact,
    )
    import __spark_entry__ as entrymod

    stream = entrymod._events_file_stream(spark, sf_dir)
    try:
        import google.protobuf  # noqa: F401
        _has_protobuf = True
    except ImportError:
        _has_protobuf = False
    if not _has_protobuf:
        with _pytest.raises(NotImplementedError, match="applyInPandasWithState"):
            stateful_distinct_users_exact(stream)
        return
    stats = stateful_distinct_users_exact(stream)
    q = (
        stats.writeStream.format("memory")
        .queryName("tws_distinct_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["key"]: r["distinct_users"]
        for r in spark.table("tws_distinct_sink")
        .groupBy("key")
        .agg(F.max("distinct_users").alias("distinct_users"))
        .collect()
    }
    exp = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == exp


def test_streaming_incremental_neardup_foreachbatch(spark, tmp_path):
    """NEAR-dup screen at ingest in its streaming home: the accepted
    corpus's LSH band buckets live as a compact parquet index; each
    micro-batch is screened against the index (dedup.incremental_neardup
    with known_bands) and only accepted docs' bands are appended — so a
    re-worded duplicate never lands, while a doc colliding only with an
    earlier REJECT does (rejects never index)."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import (
        incremental_neardup,
        minhash_band_rows,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    seed = spark.createDataFrame(
        [("seed1", base)], "doc_id string, text string"
    )
    out_dir = tmp_path / "accepted"
    idx_dir = tmp_path / "band_index"
    seed.write.parquet(str(out_dir / "batch_seed"))
    minhash_band_rows(seed, "doc_id", "text").select(
        "band", "bucket"
    ).write.parquet(str(idx_dir / "batch_seed"))

    src = tmp_path / "incoming"
    src.mkdir()
    _write_jsonl(
        src / "b0.json",
        [
            {"doc_id": "n1", "text": base + " extra"},  # near-dup of seed
            {"doc_id": "n2", "text": "fresh words about astronomy and telescopes tonight"},
            # near-dup of n2, bigger id -> within-batch drop
            {"doc_id": "n3", "text": "fresh words about astronomy and telescopes tonight ok"},
        ],
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(src))
    state = {"n": 0}

    def apply_batch(batch, epoch_id):
        sess = batch.sparkSession
        idx = sess.read.parquet(str(idx_dir / "*"))
        accepted_ids = incremental_neardup(None, batch, known_bands=idx)
        accepted = batch.join(accepted_ids, "doc_id", "left_semi")
        accepted.write.mode("overwrite").parquet(
            str(out_dir / f"batch_{state['n']}")
        )
        minhash_band_rows(accepted, "doc_id", "text").select(
            "band", "bucket"
        ).write.mode("overwrite").parquet(str(idx_dir / f"batch_{state['n']}"))
        state["n"] += 1

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    ids = {
        r["doc_id"]
        for r in spark.read.parquet(str(out_dir / "*")).collect()
    }
    assert ids == {"seed1", "n2"}


def test_streaming_incremental_dedup_foreachbatch(spark, tmp_path):
    """Nightly-ingest dedup in its streaming home: each micro-batch of
    documents is deduped within itself AND against the corpus built by
    all prior batches (dedup.incremental_dedup inside foreachBatch),
    so re-delivered or duplicated docs never land twice."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import (
        incremental_dedup,
    )

    corpus_dir = tmp_path / "corpus"
    spark.createDataFrame(
        [("seed1", "the original document")], "doc_id string, text string"
    ).write.parquet(str(corpus_dir / "batch_seed"))

    src = tmp_path / "incoming"
    src.mkdir()
    _write_jsonl(
        src / "b0.json",
        [
            {"doc_id": "n1", "text": "fresh content one"},
            {"doc_id": "n2", "text": "fresh content one"},      # batch dup
            {"doc_id": "n3", "text": "THE  original document"},  # known dup
            {"doc_id": "n4", "text": "fresh content two"},
        ],
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(src))
    state = {"n": 0}

    def apply_batch(batch, epoch_id):
        corpus = batch.sparkSession.read.parquet(str(corpus_dir / "*"))
        novel_ids = incremental_dedup(corpus, batch).select("doc_id")
        novel = batch.join(novel_ids, "doc_id", "left_semi")
        novel.write.mode("overwrite").parquet(
            str(corpus_dir / f"batch_{state['n']}")
        )
        state["n"] += 1

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    final = spark.read.parquet(str(corpus_dir / "*"))
    ids = {r["doc_id"] for r in final.collect()}
    assert "seed1" in ids
    # exactly one of the batch-dup pair survives, the known dup never lands
    assert "n3" not in ids
    assert ("n1" in ids) != ("n2" in ids) or ("n1" in ids and "n2" not in ids)
    assert "n4" in ids
    assert len(ids) == 3


def test_cdc_apply_version_guard_no_resurrection(spark, tmp_path):
    """run_cdc_apply: a STALE lower-version update delivered in a LATER
    micro-batch must neither resurrect a tombstoned key nor roll back a
    newer value — last writer by VERSION, not arrival.  Files are
    staged so batch 1 carries the high versions and batch 2 the stale
    ones (maxFilesPerTrigger=1)."""
    import json as _json
    import os

    from etl_based_real_time_air_quality_monitoring_system_spark.streaming.pipeline import (
        read_cdc_snapshot,
        run_cdc_apply,
        stream_json_records,
    )

    src = tmp_path / "updates"
    src.mkdir()
    # batch 1 (older mtime, listed first): v5 tombstone for key 1,
    # v7 value for key 2
    (src / "a_first.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in (
                {"k": 1, "version": 5, "v": 99.0, "_deleted": True},
                {"k": 2, "version": 7, "v": 70.0, "_deleted": False},
            )
        )
    )
    time.sleep(1.1)  # file-source batches follow modification time
    # batch 2: stale v3 for key 1 (must stay dead), stale v6 for key 2
    # (must not roll back), fresh v1 for key 3 (must land)
    (src / "b_second.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in (
                {"k": 1, "version": 3, "v": 11.0, "_deleted": False},
                {"k": 2, "version": 6, "v": 60.0, "_deleted": False},
                {"k": 3, "version": 1, "v": 30.0, "_deleted": False},
            )
        )
    )
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("version", T.LongType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("_deleted", T.BooleanType()),
        ]
    )
    stream = stream_json_records(spark, str(src), schema, max_files_per_trigger=1)
    q = run_cdc_apply(
        stream, str(tmp_path / "snap"), str(tmp_path / "ck"), "k", "version"
    )
    q.awaitTermination()
    live = {
        r["k"]: (r["version"], r["v"])
        for r in read_cdc_snapshot(spark, str(tmp_path / "snap"), "_deleted").collect()
    }
    assert live == {2: (7, 70.0), 3: (1, 30.0)}
    # the tombstone row is RETAINED in the raw snapshot (compacted-log
    # semantics) so any future stale update still loses by version
    raw = {
        r["k"]: r["version"]
        for r in read_cdc_snapshot(spark, str(tmp_path / "snap")).collect()
    }
    assert raw[1] == 5


def test_cdc_apply_tie_break_resolves_duplicate_versions(spark, tmp_path):
    """A producer emitting two payloads under ONE (key, version) in a
    batch picks a deterministic winner when tie_break is supplied."""
    import json as _json

    from etl_based_real_time_air_quality_monitoring_system_spark.streaming.pipeline import (
        read_cdc_snapshot,
        run_cdc_apply,
        stream_json_records,
    )

    src = tmp_path / "updates"
    src.mkdir()
    (src / "batch.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in (
                {"k": 1, "version": 5, "v": 10.0, "_deleted": False},
                {"k": 1, "version": 5, "v": 20.0, "_deleted": False},
            )
        )
    )
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("version", T.LongType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("_deleted", T.BooleanType()),
        ]
    )
    stream = stream_json_records(spark, str(src), schema, max_files_per_trigger=1)
    q = run_cdc_apply(
        stream, str(tmp_path / "snap"), str(tmp_path / "ck"), "k", "version",
        tie_break="v",
    )
    q.awaitTermination()
    rows = read_cdc_snapshot(spark, str(tmp_path / "snap"), "_deleted").collect()
    # tie_break orders DESC alongside the version: the larger v wins
    assert [(r["k"], r["version"], r["v"]) for r in rows] == [(1, 5, 20.0)]


_CDC_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("version", T.LongType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("_deleted", T.BooleanType()),
    ]
)


def _cdc_run(spark, src, snap, ck, **kw):
    from etl_based_real_time_air_quality_monitoring_system_spark.streaming.pipeline import (
        run_cdc_apply,
        stream_json_records,
    )

    stream = stream_json_records(spark, str(src), _CDC_SCHEMA, max_files_per_trigger=1)
    q = run_cdc_apply(stream, str(snap), str(ck), "k", "version", **kw)
    q.awaitTermination()


def test_cdc_apply_restart_fresh_checkpoint_extends_snapshot(spark, tmp_path):
    """The generation sequence comes from the _GEN marker, NOT the
    epoch id: a second run against an existing snapshot_root with a
    FRESH checkpoint (epoch ids restart at 0) must (a) not skip its
    first batch as a 'replay' of the recorded epoch 0 and (b) never
    write into the directory it reads as base."""
    import json as _json

    from etl_based_real_time_air_quality_monitoring_system_spark.streaming.pipeline import (
        read_cdc_snapshot,
    )

    src1 = tmp_path / "u1"
    src1.mkdir()
    (src1 / "a.json").write_text(
        _json.dumps({"k": 1, "version": 1, "v": 10.0, "_deleted": False})
    )
    _cdc_run(spark, src1, tmp_path / "snap", tmp_path / "ck1")

    # second run: NEW source dir, FRESH checkpoint -> its first batch is
    # also epoch 0, exactly the reuse scenario that used to collide
    src2 = tmp_path / "u2"
    src2.mkdir()
    (src2 / "b.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in (
                {"k": 1, "version": 2, "v": 11.0, "_deleted": False},
                {"k": 2, "version": 1, "v": 20.0, "_deleted": False},
            )
        )
    )
    _cdc_run(spark, src2, tmp_path / "snap", tmp_path / "ck2")
    live = {
        r["k"]: (r["version"], r["v"])
        for r in read_cdc_snapshot(spark, str(tmp_path / "snap"), "_deleted").collect()
    }
    assert live == {1: (2, 11.0), 2: (1, 20.0)}


def test_cdc_apply_replayed_run_is_idempotent(spark, tmp_path):
    """Cross-run replay of ALREADY-APPLIED updates (fresh checkpoint,
    same source) must converge to the same snapshot: the version guard
    makes the merge a no-op change, committed as a new generation."""
    import json as _json

    from etl_based_real_time_air_quality_monitoring_system_spark.streaming.pipeline import (
        read_cdc_snapshot,
    )

    src = tmp_path / "u"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in (
                {"k": 1, "version": 5, "v": 50.0, "_deleted": False},
                {"k": 2, "version": 3, "v": 30.0, "_deleted": True},
            )
        )
    )
    _cdc_run(spark, src, tmp_path / "snap", tmp_path / "ck1")
    before = sorted(
        (r["k"], r["version"], r["v"], r["_deleted"])
        for r in read_cdc_snapshot(spark, str(tmp_path / "snap")).collect()
    )
    _cdc_run(spark, src, tmp_path / "snap", tmp_path / "ck2")  # full replay
    after = sorted(
        (r["k"], r["version"], r["v"], r["_deleted"])
        for r in read_cdc_snapshot(spark, str(tmp_path / "snap")).collect()
    )
    assert after == before


def test_cdc_vacuum_prunes_and_preserves_in_retention_reads(spark, tmp_path):
    """vacuum_cdc_snapshots: prunes exactly the generations beyond
    retention (returned NEWEST-first — marker order; the gate asserts
    ['gen-000002', 'gen-000001'] on a two-element prune), in-retention
    time travel returns identical rows before/after, and a read
    beyond the surviving retention fails fast."""
    import json as _json

    import pytest

    from etl_based_real_time_air_quality_monitoring_system_spark.streaming.pipeline import (
        read_cdc_snapshot,
        vacuum_cdc_snapshots,
    )

    src = tmp_path / "u"
    src.mkdir()
    for i in range(3):
        p = src / f"b{i}.json"
        p.write_text(
            _json.dumps({"k": 1, "version": i + 1, "v": 10.0 * (i + 1),
                         "_deleted": False})
        )
        base = (src / "b0.json").stat().st_mtime
        import os as _os

        _os.utime(p, (base + 10 * i, base + 10 * i))
    snap = tmp_path / "snap"
    _cdc_run(spark, src, snap, tmp_path / "ck", keep_generations=3)

    pre = sorted(
        tuple(r)
        for r in read_cdc_snapshot(spark, str(snap), asof_commit=2).collect()
    )
    # nothing beyond retention yet -> no-op
    assert vacuum_cdc_snapshots(str(snap), keep_generations=3) == []
    assert vacuum_cdc_snapshots(str(snap), keep_generations=2) == ["gen-000001"]
    assert not (snap / "gen-000001").exists()
    assert (snap / "gen-000002").exists() and (snap / "gen-000003").exists()
    post = sorted(
        tuple(r)
        for r in read_cdc_snapshot(spark, str(snap), asof_commit=2).collect()
    )
    assert post == pre == [(1, 2, 20.0, False)]
    with pytest.raises(ValueError, match="oldest retained commit is 2"):
        read_cdc_snapshot(spark, str(snap), asof_commit=1)
    with pytest.raises(ValueError, match="keep_generations"):
        vacuum_cdc_snapshots(str(snap), keep_generations=0)
    with pytest.raises(FileNotFoundError):
        vacuum_cdc_snapshots(str(tmp_path / "nowhere"), keep_generations=1)


def test_cdc_marker_lock_mutual_exclusion_and_dead_holder_release(tmp_path):
    """The _GEN lock serializing vacuum against the writer's marker
    commit: held -> a second acquirer times out; a DEAD holder's lock
    is released by the kernel (flock semantics — no stale-mtime steal
    path, so the two-waiters-both-steal race of the old O_EXCL design
    cannot occur); the lock FILE persists across release by design
    (unlinking would reintroduce an inode race) and a leftover file
    from a crashed process never blocks acquisition."""
    import fcntl
    import os
    import subprocess
    import sys
    import time

    import pytest

    from etl_based_real_time_air_quality_monitoring_system_spark.streaming.pipeline import _marker_lock

    root = str(tmp_path / "snap")
    lock = os.path.join(root, "_GEN.lock")
    with _marker_lock(root):
        assert os.path.exists(lock)
        with pytest.raises(TimeoutError, match="_GEN lock"):
            with _marker_lock(root, timeout_seconds=0.3):
                pass
    # persistent lock file: survives release, carries no state
    assert os.path.exists(lock)
    with _marker_lock(root, timeout_seconds=1.0):
        pass
    # dead holder: a subprocess takes the flock and is SIGKILLed while
    # holding it — the kernel drops the lock, so acquisition succeeds
    # immediately (no 600 s staleness window, no steal race)
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import fcntl, os, sys, time\n"
            f"fd = os.open({lock!r}, os.O_CREAT | os.O_RDWR)\n"
            "fcntl.flock(fd, fcntl.LOCK_EX)\n"
            "print('held', flush=True)\n"
            "time.sleep(60)\n",
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "held"
        fd = os.open(lock, os.O_CREAT | os.O_RDWR)
        try:  # child alive -> lock genuinely contended
            with pytest.raises(OSError):
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        finally:
            os.close(fd)
        child.kill()
        child.wait()
        t0 = time.monotonic()
        with _marker_lock(root, timeout_seconds=5.0):
            pass
        assert time.monotonic() - t0 < 2.0
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()


def test_cdc_time_travel_asof_epoch(spark, tmp_path):
    """read_cdc_snapshot(asof_epoch=N) returns the committed state as
    of that epoch — identical to replaying updates <= N; generations
    beyond keep_generations age out and asking for them raises."""
    import json as _json

    from etl_based_real_time_air_quality_monitoring_system_spark.streaming.pipeline import (
        read_cdc_snapshot,
    )

    src = tmp_path / "u"
    src.mkdir()
    batches = [
        [{"k": 1, "version": 1, "v": 10.0, "_deleted": False}],
        [
            {"k": 1, "version": 2, "v": 11.0, "_deleted": False},
            {"k": 2, "version": 1, "v": 20.0, "_deleted": False},
        ],
        [{"k": 2, "version": 2, "v": 0.0, "_deleted": True}],
    ]
    for i, rows in enumerate(batches):
        (src / f"b{i}.json").write_text("\n".join(_json.dumps(r) for r in rows))
        time.sleep(1.1)  # file source orders batches by mtime
    _cdc_run(spark, src, tmp_path / "snap", tmp_path / "ck", keep_generations=3)

    def state(asof=None):
        return {
            r["k"]: (r["version"], r["v"])
            for r in read_cdc_snapshot(
                spark, str(tmp_path / "snap"), "_deleted", asof_epoch=asof
            ).collect()
        }

    assert state() == {1: (2, 11.0)}  # latest: key 2 tombstoned
    assert state(asof=2) == {1: (2, 11.0)}
    assert state(asof=1) == {1: (2, 11.0), 2: (1, 20.0)}
    assert state(asof=0) == {1: (1, 10.0)}

    # keep_generations=2: epoch-0 generation ages out
    _cdc_run(spark, src, tmp_path / "snap2", tmp_path / "ck2", keep_generations=2)
    with pytest.raises(ValueError, match="oldest retained epoch is 1"):
        read_cdc_snapshot(spark, str(tmp_path / "snap2"), asof_epoch=0)


def test_cdc_time_travel_across_restart(spark, tmp_path):
    """Epoch ids reset under a fresh checkpoint, so asof_epoch is
    scoped to the LATEST run — a restarted run's epoch-0 generation
    must not shadow run A's history — and asof_commit (the marker-
    minted monotonic sequence) addresses generations across runs."""
    import json as _json

    from etl_based_real_time_air_quality_monitoring_system_spark.streaming.pipeline import (
        read_cdc_snapshot,
    )

    src1 = tmp_path / "u1"
    src1.mkdir()
    batches = [
        [{"k": 1, "version": 1, "v": 10.0, "_deleted": False}],
        [{"k": 2, "version": 1, "v": 20.0, "_deleted": False}],
    ]
    for i, rows in enumerate(batches):
        (src1 / f"b{i}.json").write_text("\n".join(_json.dumps(r) for r in rows))
        time.sleep(1.1)
    _cdc_run(spark, src1, tmp_path / "snap", tmp_path / "ck1", keep_generations=4)

    # run B: fresh checkpoint -> its only batch is ALSO epoch 0
    src2 = tmp_path / "u2"
    src2.mkdir()
    (src2 / "c.json").write_text(
        _json.dumps({"k": 1, "version": 2, "v": 11.0, "_deleted": False})
    )
    _cdc_run(spark, src2, tmp_path / "snap", tmp_path / "ck2", keep_generations=4)

    def state(**kw):
        return {
            r["k"]: (r["version"], r["v"])
            for r in read_cdc_snapshot(
                spark, str(tmp_path / "snap"), "_deleted", **kw
            ).collect()
        }

    # asof_epoch=0 resolves within run B (k1@v2 + k2), NOT run A's epoch 0
    assert state(asof_epoch=0) == {1: (2, 11.0), 2: (1, 20.0)}
    # asof_commit spans runs: commits 1 and 2 are run A's generations
    assert state(asof_commit=1) == {1: (1, 10.0)}
    assert state(asof_commit=2) == {1: (1, 10.0), 2: (1, 20.0)}
    assert state(asof_commit=3) == state()
    with pytest.raises(ValueError, match="at most one of"):
        read_cdc_snapshot(
            spark, str(tmp_path / "snap"), asof_epoch=0, asof_commit=1
        )


def test_watermark_drops_late_rows_via_dedup_operator(spark, tmp_path):
    """The T5 hard-drop semantic (pinned as a gate query in
    streaming_late_data_drop): dropDuplicatesWithinWatermark on a
    unique row key removes input older than the propagated watermark —
    and ONLY that input.  The watermark reaches the operator's filter
    one batch late, hence the warmup batch in the middle."""
    src = tmp_path / "src"
    src.mkdir()
    _write_jsonl(src / "a.json", _rows(10, 0, 3))  # wm -> 09:50:02
    _write_jsonl(src / "b.json", _rows(10, 30, 2, base_id=100))
    # batch 3: one row at hour 8 (far below watermark) + one at 10:45
    _write_jsonl(
        src / "c.json",
        _rows(8, 0, 1, base_id=200) + _rows(10, 45, 1, base_id=300),
    )
    t0 = (src / "a.json").stat().st_mtime
    import os as _os

    _os.utime(src / "b.json", (t0 + 10, t0 + 10))
    _os.utime(src / "c.json", (t0 + 20, t0 + 20))
    stream = stream_json_records(spark, str(src), EVENT_SCHEMA, max_files_per_trigger=1)
    deduped = dedup_within_watermark(stream, ["event_id"], watermark="10 minutes")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_drop_unit")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        dropped = sum(
            p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            if p["stateOperators"]
        )
    finally:
        q.stop()
    ids = sorted(
        r["event_id"] for r in spark.sql("select event_id from late_drop_unit").collect()
    )
    assert ids == [0, 1, 2, 100, 101, 300]  # 200 (hour 8) dropped
    assert dropped == 1
