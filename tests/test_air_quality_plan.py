"""End-to-end test of the reference batch ETL plan (EP1) on the
deterministic air-quality fixture (FIXTURES.md §1 requirements)."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from etl_based_real_time_air_quality_monitoring_system_spark.plans.air_quality import (
    clean_and_transform,
    run_batch_job,
    summary_table,
    synthesize_air_quality,
)


def test_fixture_has_required_properties(spark):
    df = synthesize_air_quality(spark, 1000).cache()
    assert df.filter(F.col("location").isNull()).count() > 0
    assert df.filter(F.col("temp_c").isNull()).count() > 0
    assert df.filter(F.col("timestamp").isNull()).count() > 0
    # EVERY F1 band edge (reference spark_processor.py:91-95 <= bounds)
    # and every F2 temp edge must appear exactly, so the CASE boundary
    # semantics stay regression-proof
    for edge in (12.0, 35.0, 55.0, 150.0, 250.0):
        assert df.filter(F.col("pm2_5") == edge).count() > 0, f"pm2_5 edge {edge}"
    for edge in (0.0, 10.0, 20.0, 30.0):
        assert df.filter(F.col("temp_c") == edge).count() > 0, f"temp edge {edge}"
    assert df.count() > df.dropDuplicates().count()  # planted dup rows
    df.unpersist()


def test_clean_and_transform_contract(spark):
    df = synthesize_air_quality(spark, 1000)
    out = clean_and_transform(df).cache()
    # nulls gone, dups gone
    assert out.filter(
        F.col("location").isNull() | F.col("temp_c").isNull() | F.col("timestamp").isNull()
    ).count() == 0
    assert out.count() == out.dropDuplicates().count()
    # boundary banding follows the reference exactly: 12 -> Good (<=)
    assert (
        out.filter(F.col("pm2_5") == 12.0)
        .filter(F.col("air_quality_index") != "Good")
        .count()
        == 0
    )
    # 0.0 temp -> Cold (< is exclusive: 0 not Freezing)
    assert (
        out.filter(F.col("temp_c") == 0.0)
        .filter(F.col("temperature_category") != "Cold")
        .count()
        == 0
    )
    for c in (
        "air_quality_index",
        "temperature_category",
        "processing_date",
        "year",
        "month",
        "day",
        "hour",
        "pollution_score",
    ):
        assert c in out.columns
    out.unpersist()


def test_run_batch_job_end_to_end(spark, tmp_path):
    df = synthesize_air_quality(spark, 1000)
    out_dir = str(tmp_path / "aq")
    results = run_batch_job(df, out_dir)
    assert set(results) == {
        "sample", "location_stats", "aqi_distribution", "pollutant_means", "hourly",
    }
    assert results["location_stats"].count() == 5
    assert results["pollutant_means"].count() == 1
    # S10: partition directory layout location=.../year=.../month=...
    parts = glob.glob(f"{out_dir}/processed/location=*/year=*/month=*")
    assert parts, "partitioned parquet layout missing"
    # the sink rebalances by its partition columns: one file per directory
    for part in parts:
        assert len(glob.glob(f"{part}/*.parquet")) == 1, part
    reread = spark.read.parquet(f"{out_dir}/processed")
    assert reread.count() == clean_and_transform(df).count()
    # S11: exactly one CSV part file with header
    csvs = glob.glob(f"{out_dir}/summary/*.csv")
    assert len(csvs) == 1
    summary = spark.read.option("header", "true").csv(f"{out_dir}/summary")
    assert summary.count() == summary_table(clean_and_transform(df)).count()
