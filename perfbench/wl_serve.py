"""dashboard_serve: the reference's batch job, then its dashboard.

Set-up runs the batch job as a caller does: read the seeded JSON-lines
directory with ``sources.readers.read_json_enforced``, run
``plans.air_quality.run_batch_job`` (transform, cache, partitioned
Parquet and CSV summary writes) and collect the five analysis frames it
returns (``sample`` as a 20-row take).  The job unpersists its cache
before returning, so the collects re-run the transform; that cost is in
``setup_s`` because a caller pays it.

The measured loop is closed with one client, the dashboard user who
waits for the page: each refresh re-reads the processed table with
``sources.readers.read_parquet`` and calls the six ``plans.serving``
widgets with seeded members and locations, collecting each result.  One
operation is one refresh."""

from __future__ import annotations

import csv
import glob
import os
import random
import time

import gen
import twins
from harness import Ctx, Measured, median

N_RECORDS = 10_000
WIDGETS = ("tiles", "aqi", "means", "current", "topk", "csv")
POLLUTANTS = ("co", "no2", "o3", "so2", "pm2_5", "pm10")
SORT_COLS = ("pm2_5", "temp_c", "humidity", "pollution_score")
TOP_K = 50
CSV_LIMIT = 1000
#: the batch job runs only in set-up, so its spans are kept for the trace
SETUP_SPANS = True

ALIASES = {
    "serve_refresh_p50_ms": ("op_p50_ms", "ms", 1.0),
    "serve_refresh_p90_ms": ("op_p90_ms", "ms", 1.0),
}


def inputs(ctx: Ctx) -> None:
    gen.write_air_quality(ctx.seed, N_RECORDS, ctx.path("aq"))
    ctx.state["batch_results"] = []


def _batch_job(ctx: Ctx) -> dict:
    from etl_based_real_time_air_quality_monitoring_system_spark.plans.air_quality import (
        run_batch_job,
    )
    from etl_based_real_time_air_quality_monitoring_system_spark.schemas import (
        AIR_QUALITY_SCHEMA,
    )
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import (
        read_json_enforced,
    )

    with ctx.span("batch_job"):
        with ctx.span("read_json_enforced"):
            df = read_json_enforced(ctx.spark, ctx.path("aq"), AIR_QUALITY_SCHEMA, multiline=False)
        frames = run_batch_job(df, ctx.path("out"))
        with ctx.span("analyze.collect"):
            return {
                k: (f.take(20) if k == "sample" else f.collect())
                for k, f in frames.items()
            }


def _params(rng: random.Random, kind: str) -> tuple:
    if kind == "means":
        return tuple(sorted(rng.sample(POLLUTANTS, rng.randint(2, len(POLLUTANTS)))))
    if kind == "topk":
        members = tuple(sorted(rng.sample(gen.LOCATIONS, rng.randint(1, 4))))
        return (members, rng.choice(SORT_COLS), TOP_K)
    if kind == "csv":
        return (rng.choice(gen.LOCATIONS), CSV_LIMIT)
    return ()


def _widget(ctx: Ctx, df, kind: str, params: tuple):
    """Build the widget's frame, then force it; returns what the
    dashboard receives."""
    from pyspark.sql import functions as F

    from etl_based_real_time_air_quality_monitoring_system_spark.plans import serving

    with ctx.span(f"{kind}.build"):
        if kind == "tiles":
            frame = serving.dashboard_tiles(df)
        elif kind == "aqi":
            frame = serving.aqi_distribution(df)
        elif kind == "means":
            frame = serving.pollutant_means(df, list(params))
        elif kind == "current":
            frame = serving.current_readings(df, tie_break="kafka_offset")
        elif kind == "topk":
            members, col, k = params
            frame = serving.explore_top_k(df, "location", members, col, k, tie_break="kafka_offset")
        else:
            frame = df.filter(F.col("location") == params[0])
    with ctx.span(f"{kind}.action"):
        if kind == "csv":
            return serving.download_csv(frame, params[1])
        return frame.collect()


def _refresh(ctx: Ctx, rng: random.Random) -> list:
    """One page: (kind, params, result or exception) per widget."""
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import (
        read_parquet,
    )

    calls = []
    with ctx.span("refresh"):
        with ctx.span("read_parquet"):
            df = read_parquet(ctx.spark, ctx.path("out", "processed"))
        for kind in WIDGETS:
            params = _params(rng, kind)
            try:
                calls.append((kind, params, _widget(ctx, df, kind, params)))
            except Exception as exc:  # counted, reported, never fatal
                print(f"dashboard_serve: {kind} failed: {exc!r}")
                calls.append((kind, params, exc))
    return calls


def setup(ctx: Ctx) -> None:
    ctx.state["batch_results"].append(_batch_job(ctx))


def instrument(ctx: Ctx) -> None:
    """Spans around the calls ``run_batch_job`` makes into its layers:
    the transform and analysis builders and the two writers."""
    from etl_based_real_time_air_quality_monitoring_system_spark.plans import air_quality

    for attr in ("clean_and_transform", "analyze", "write_partitioned_parquet", "write_single_csv"):
        fn = getattr(air_quality, attr)

        def wrapped(*a, _fn=fn, _span=attr, **kw):
            with ctx.span(_span):
                return _fn(*a, **kw)

        setattr(air_quality, attr, wrapped)


def measure(ctx: Ctx, seconds: float) -> Measured:
    with ctx.untraced():  # warm-up: untimed, unchecked, outside the trace
        _refresh(ctx, random.Random(-ctx.seed))
    rng = random.Random(ctx.seed)
    samples, pages = [], []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end:
        t0 = time.perf_counter()
        pages.append(_refresh(ctx, rng))
        samples.append((time.perf_counter() - t0) * 1000.0)
    m = Measured(samples, attempted=len(pages))
    m.failed = sum(any(isinstance(c[2], Exception) for c in p) for p in pages)
    m.throughput = len(pages) * len(WIDGETS) / (sum(samples) / 1000.0)
    m.notes["pages"] = pages
    return m


def _agrees(kind: str, got, want) -> bool:
    if kind == "tiles":
        (g,) = got
        (w,) = want
        return tuple(g[:2]) == w[:2] and twins.rows_close([tuple(g)], [w], 2)
    if kind == "aqi":
        return [tuple(r) for r in got] == want
    if kind == "means":
        return twins.rows_close([tuple(r) for r in got], want, 0)
    if kind == "current":
        return sorted((r["location"], r["kafka_offset"]) for r in got) == want
    if kind == "topk":
        return [r["kafka_offset"] for r in got] == want
    return got.count("\n") - 1 == want  # csv: header + one line per row


def verify(ctx: Ctx, m: Measured) -> int:
    """Wrong refreshes (any widget disagreeing with the twin), plus one
    for each batch job whose frames or files disagree."""
    twin = ctx.state.get("twin") or twins.AirQualityTwin(ctx.path("aq"))
    ctx.state["twin"] = twin
    wrong = 0
    for page in m.notes.pop("pages"):
        bad = [
            (kind, params)
            for kind, params, res in page
            if not isinstance(res, Exception)
            and not _agrees(kind, res, twin.widget(kind, params))
        ]
        if bad:
            print(f"dashboard_serve: wrong widgets {bad}")
            wrong += 1
    for res in ctx.state["batch_results"]:
        bad = twin.check_batch(res)
        if bad:
            print(f"dashboard_serve: wrong batch job result: {bad}")
            wrong += 1
    ctx.state["batch_results"].clear()
    with open(glob.glob(ctx.path("out", "summary", "*.csv"))[0]) as fh:
        bad = twin.check_outputs(ctx.path("out"), list(csv.DictReader(fh)))
    if bad:
        print(f"dashboard_serve: wrong batch job outputs: {bad}")
        wrong += 1
    return wrong


def layers(ctx: Ctx, spans: dict, m: Measured) -> dict:
    def med(name, key):
        return median([s[key] for s in spans.get(name, [])])

    actions = [s for w in WIDGETS for s in spans.get(f"{w}.action", [])]
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(ctx.path("out", "processed"))
        for f in fs
        if f.endswith(".parquet")
    ]
    out = {
        "batch.job_ms": med("batch_job", "ms"),
        "batch.scan_cpu_s": med("batch_job", "scan_cpu_ns") / 1e9,
        "batch.input_bytes": med("batch_job", "input_bytes"),
        "sources.readers.read_json_ms": med("read_json_enforced", "ms"),
        "sources.readers.read_parquet_ms": med("read_parquet", "ms"),
        "sources.readers.refresh_scan_cpu_s": med("refresh", "scan_cpu_ns") / 1e9,
        "sources.readers.refresh_input_bytes": med("refresh", "input_bytes"),
        "plans.air_quality.transform_build_ms": med("clean_and_transform", "ms"),
        "plans.air_quality.transform_shuffle_write_bytes": med(
            "write_partitioned_parquet", "shuffle_write_bytes"
        ),
        "plans.air_quality.analyze_build_ms": med("analyze", "ms"),
        "plans.air_quality.analyze_ms": med("analyze.collect", "ms"),
        "plans.air_quality.analyze_jobs": med("analyze.collect", "jobs"),
        "plans.air_quality.analyze_input_bytes": med("analyze.collect", "input_bytes"),
        "sources.writers.partitioned_ms": med("write_partitioned_parquet", "ms"),
        "sources.writers.csv_ms": med("write_single_csv", "ms"),
        "sources.writers.files": len(files),
        "sources.writers.bytes": sum(os.path.getsize(f) for f in files),
        "plans.serving.jobs_per_widget": median([s["jobs"] for s in actions]),
        "plans.serving.tasks_per_widget": median([s["tasks"] for s in actions]),
        "plans.serving.input_bytes_per_widget": median([s["input_bytes"] for s in actions]),
        "operators.topk.current_shuffle_write_bytes": med("current.action", "shuffle_write_bytes"),
    }
    for w in WIDGETS:
        out[f"plans.serving.{w}.build_ms"] = med(f"{w}.build", "ms")
        out[f"plans.serving.{w}.action_ms"] = med(f"{w}.action", "ms")
    return out
