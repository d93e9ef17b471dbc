"""HTTP ingest edge (S1/P5/P6/P7), Kafka builders (S2/S3), serving
plan (EP3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_based_real_time_air_quality_monitoring_system_spark.plans.serving import (
    dashboard_tiles,
    current_readings,
    download_csv,
    explore_top_k,
    numeric_columns,
)
from etl_based_real_time_air_quality_monitoring_system_spark.sources.http import (
    ingest_payloads,
    simulate_weather_docs,
)
from etl_based_real_time_air_quality_monitoring_system_spark.sources.kafka import (
    kafka_sink,
    kafka_source,
)
from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table


def test_http_ingest_flattens_and_defaults(spark):
    docs = simulate_weather_docs(35)
    out = ingest_payloads(spark, docs).cache()
    # error envelopes dropped (P5): ceil(35/7)=5 errors
    assert out.count() == 30
    # nested projection produced the flat schema (P6)
    assert {"location", "temp_c", "humidity", "condition", "pm2_5"} <= set(out.columns)
    # missing air_quality imputed to 0 (P7), never null
    assert out.filter(F.col("pm2_5").isNull()).count() == 0
    assert out.filter(F.col("pm2_5") == 0.0).count() > 0
    out.unpersist()


def test_kafka_builders_construct_lazily(spark):
    # no broker/jar locally: building the plan must work (start() would
    # need spark-sql-kafka); failure here means the builder itself is
    # broken, not the environment
    try:
        src = kafka_source(spark, "localhost:9092")
        assert "payload" in src.columns
        writer = kafka_sink(src, "localhost:9092", checkpoint="/tmp/ckpt-unused")
        assert writer is not None
    except Exception as e:  # noqa: BLE001
        # acceptable only if the data source itself is unavailable
        assert "kafka" in str(e).lower()


def test_dashboard_tiles_single_row(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    row = dashboard_tiles(events, key="event_type", metrics=["value"]).collect()
    assert len(row) == 1
    r = row[0]
    assert r["record_count"] == events.count()
    assert r["distinct_event_type"] == 5
    assert r["range_value"] > 0


def test_current_readings_and_explorer(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    latest = current_readings(events, key="event_type", ts="ts", tie_break="event_id")
    assert latest.count() == 5
    top = explore_top_k(events, "event_type", ["click"], "value", k=5, tie_break="event_id")
    rows = top.collect()
    assert len(rows) == 5
    assert all(r["event_type"] == "click" for r in rows)
    vals = [r["value"] for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_numeric_columns_and_csv(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    assert set(numeric_columns(events)) == {"event_id", "user_id", "value"}
    csv = download_csv(events.select("event_id", "event_type"), limit=10)
    assert len(csv.strip().splitlines()) == 11  # header + 10 rows


def test_compact_small_files(spark, sf_dir, tmp_path):
    """Many tiny files (the reference's per-record sink pattern) compact
    to the file count implied by target_file_bytes."""
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.writers import compact_small_files

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    src = str(tmp_path / "fragmented")
    li.repartition(64).write.parquet(src)  # 64 tiny files
    assert len(spark.read.parquet(src).inputFiles()) == 64
    dst = str(tmp_path / "compacted")
    n_files = compact_small_files(spark, src, dst, target_file_bytes=512 * 1024)
    assert 1 <= n_files < 64
    assert spark.read.parquet(dst).count() == li.count()


def test_register_views_sql_surface(spark, sf_dir):
    """The full engine surface is reachable from plain spark.sql over
    the registered views, and SQL results match the DataFrame API."""
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table, register_views

    register_views(spark, sf_dir)
    sql_rows = spark.sql(
        """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty
           FROM lineitem GROUP BY l_returnflag"""
    ).collect()
    from pyspark.sql import functions as F
    api_rows = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .collect()
    )
    assert sorted(map(tuple, sql_rows)) == sorted(map(tuple, api_rows))
    # events view carries the nanos->timestamp normalization
    assert dict(spark.table("events").dtypes)["ts"] == "timestamp"


def test_partitioned_write_sort_within_partitions(spark, sf_dir, tmp_path):
    """sort_cols must cluster rows inside each parquet file (tight
    min/max row-group stats for skipping) without a second shuffle.
    The fixture file is already in ts order, so a shuffled copy spread
    over several partitions is written too."""
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.writers import write_partitioned_parquet

    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    shuffled = spark.createDataFrame(events.toPandas().sample(frac=1, random_state=0))
    assert shuffled.rdd.getNumPartitions() > 1
    import glob

    import pyarrow.parquet as pq

    for name, df in (("events", events), ("shuffled", shuffled)):
        out = str(tmp_path / name)
        write_partitioned_parquet(
            df, out, partition_cols=("event_type",), sort_cols=("ts",)
        )
        files = glob.glob(f"{out}/*/*.parquet")
        assert files
        for f in files:
            ts = pq.read_table(f, columns=["ts"])["ts"].to_pylist()
            assert ts == sorted(ts), f"rows not ts-sorted within {f}"


def test_write_training_shards_deterministic_order(spark, sf_dir, tmp_path):
    """Shard export: one file per shard directory, content-hash
    membership stable across re-runs/repartitionings, and the
    within-file row order is exactly the (hash, id) permutation."""
    import os

    from pyspark.sql import functions as F

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.sampling import hash_bucket
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.writers import write_training_shards

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, "doc_id", n_shards=4)

    shard_dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert shard_dirs == [f"shard={i}" for i in range(4)]
    salt = "shard:v1"
    expected = {
        r["doc_id"]: r["b"]
        for r in docs.select(
            "doc_id", hash_bucket(F.col("doc_id"), 4, salt).alias("b")
        ).collect()
    }
    for d in shard_dirs:
        shard = int(d.split("=")[1])
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, f"{d}: expected one file, got {files}"
        # single file read in one split preserves writer row order
        rows = [
            r["doc_id"]
            for r in spark.read.parquet(os.path.join(out, d, files[0])).collect()
        ]
        assert rows, d
        assert all(expected[i] == shard for i in rows)
        import hashlib

        keyed = sorted(rows, key=lambda i: (hashlib.md5(f"{salt}{i}".encode()).hexdigest(), i))
        assert rows == keyed, f"{d}: within-shard order is not the hash permutation"
    # membership covers the whole corpus exactly once
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()


def test_interleave_bits_matches_python_reference(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.layout import interleave_bits

    rows = [(0, 0), (1, 0), (0, 1), (3, 5), (4095, 4095), (1234, 567)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.withColumn("z", interleave_bits([F.col("a"), F.col("b")], 12)).collect()
    }

    def ref(a, b):
        z = 0
        for j in range(12):
            z |= ((a >> j) & 1) << (2 * j)
            z |= ((b >> j) & 1) << (2 * j + 1)
        return z

    assert got == {(a, b): ref(a, b) for a, b in rows}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="fit a signed"):
        interleave_bits([F.col("a")] * 4, 16)


def test_write_zordered_tightens_worst_dimension(spark, tmp_path):
    """The point of Z-order: per-file bounding boxes are square-ish
    instead of full-width slabs, so a predicate on EITHER dimension
    prunes files.  Metric: the per-file extent of the WORST dimension
    (a slab layout scores ~1.0 on its unsorted dimension; Morton cells
    score ~1/sqrt(n_files) on both).  Uniform synthetic grid keeps the
    comparison distribution-controlled."""
    import os

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.layout import write_zordered

    # deterministic pseudo-uniform 2-d cloud (hash-scattered, no RNG)
    pts = spark.range(4096).select(
        (F.col("id") * 2654435761 % 4096).cast("long").alias("a"),
        (F.col("id") * 40503 % 4096).cast("double").alias("b"),
    )

    def mean_worst_extent(path):
        worst = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            part = spark.read.parquet(os.path.join(path, f))
            r = part.agg(F.min("a"), F.max("a"), F.min("b"), F.max("b")).collect()[0]
            worst.append(max((r[1] - r[0]) / 4096.0, (r[3] - r[2]) / 4096.0))
        assert len(worst) >= 8
        return sum(worst) / len(worst)

    zpath = str(tmp_path / "zordered")
    write_zordered(pts, zpath, ["a", "b"], bits=12, n_files=16)
    apath = str(tmp_path / "a_sorted")
    pts.repartitionByRange(16, "a").sortWithinPartitions("a").write.parquet(apath)

    z_worst, a_worst = mean_worst_extent(zpath), mean_worst_extent(apath)
    # the slab layout's unsorted dimension spans ~the full domain in
    # every file; Morton cells stay compact in BOTH dimensions
    assert a_worst > 0.9, a_worst
    assert z_worst < 0.5, (z_worst, a_worst)


def test_zorder_scan_skips_more_row_groups(spark, tmp_path):
    """The pruning proof behind the zorder_pruning gate query: for a
    two-predicate box filter, count the parquet ROW GROUPS whose
    min/max stats box intersects the predicate box — exactly the
    groups a stats-pruning scan must read.  The z-ordered layout must
    intersect strictly fewer than the single-column-sorted layout
    (whose groups span the full extent of the unsorted dimension and
    therefore all match on it)."""
    import os

    import pyarrow.parquet as pq

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.layout import write_zordered

    pts = spark.range(65536).select(
        F.col("id").alias("event_id"),
        (F.col("id") * 2654435761 % 4096).cast("long").alias("a"),
        (F.col("id") * 40503 % 4096).cast("double").alias("b"),
    )
    zpath, apath = str(tmp_path / "zo"), str(tmp_path / "lin")
    write_zordered(pts, zpath, ["a", "b"], bits=12, n_files=16)
    pts.repartitionByRange(16, "a").sortWithinPartitions("a").write.parquet(apath)

    # wide on the slab layout's SORT dimension (50% of a), narrow on
    # the other (6% of b): the a-sorted layout can prune only via a
    # (half its groups survive, each spanning all of b), while Morton
    # cells stay compact in b too and prune most of that half
    box = {"a": (1024, 3071), "b": (1600.0, 1850.0)}

    def overlapping_row_groups(path):
        total, hit = 0, 0
        for fn in os.listdir(path):
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, fn)).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                total += 1
                ok = True
                for col, (lo, hi) in box.items():
                    st = rg.column(names.index(col)).statistics
                    assert st is not None and st.has_min_max
                    if st.max < lo or st.min > hi:
                        ok = False
                        break
                hit += ok
        return hit, total

    z_hit, z_total = overlapping_row_groups(zpath)
    a_hit, a_total = overlapping_row_groups(apath)
    # same data, same filter: answers agree (the gate query pins this
    # against DuckDB; here both layouts against each other)
    match = lambda p: (
        spark.read.parquet(p)
        .filter(F.col("a").between(*box["a"]) & F.col("b").between(*box["b"]))
        .agg(F.count("*"), F.sum("event_id"))
        .collect()[0]
    )
    assert match(zpath) == match(apath)
    # the layout claim: z-order intersects strictly fewer stat boxes
    assert z_total >= 16 and a_total >= 16
    assert z_hit < a_hit, (z_hit, z_total, a_hit, a_total)
