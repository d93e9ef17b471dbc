#!/usr/bin/env python3
"""Benchmark of the engine: three seeded workloads, each measured end
to end (``--trace 0``) or layer by layer (``--trace 1``).

    python3 perfbench/run.py --workload dashboard_serve --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout.  The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``; the lines before it name each metric with its unit.
Metric names and units come from ``BENCHMARK.json``.  Every file the
run writes lives under ``.perfbench_work/`` and is removed at the end.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
from harness import (  # noqa: E402
    DRIVER_MEMORY,
    PACKAGE,
    Ctx,
    median,
    peak_rss_mb,
    quantile,
    shutdown_jvm,
)

WORKLOADS = {
    "dashboard_serve": "wl_serve",
    "stream_ingest": "wl_stream",
    "corpus_dedup": "wl_corpus",
}
#: set-up is repeated and its median reported; the first repetition
#: also launches the JVM and pays its cold start, the second runs warm
SETUP_REPS = 2
T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on standard error, with the seconds since start."""
    print(f"perfbench {time.perf_counter() - T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def timed(wl, ctx: Ctx) -> tuple[dict, int, int]:
    """End-to-end metrics with tracing off."""
    wl.inputs(ctx)
    log("inputs written")
    setup_s = []
    for _ in range(SETUP_REPS):
        ctx.stop_session()
        t0 = time.perf_counter()
        ctx.start_session()
        wl.setup(ctx)
        setup_s.append(time.perf_counter() - t0)
        log(f"set-up took {setup_s[-1]:.2f} s")
    m = wl.measure(ctx, ctx.seconds)
    shown = " ".join(f"{x:.0f}" for x in m.samples_ms) if len(m.samples_ms) <= 50 else "..."
    log(f"measured {len(m.samples_ms)} samples (ms): {shown}")
    rss = peak_rss_mb()
    wrong = wl.verify(ctx, m)
    log("verified")
    metrics = {
        "setup_s": median(setup_s),
        "op_p50_ms": quantile(m.samples_ms, 0.5),
        "op_p90_ms": quantile(m.samples_ms, 0.9),
        "throughput_per_s": m.throughput,
    }
    print(f"{ctx.workload}: {len(m.samples_ms)} latency samples, setup runs {setup_s}")
    print(f"peak_rss_mb = {rss:.6g} MiB")
    return metrics, m.attempted, m.failed + wrong


def traced(wl, ctx: Ctx, names: list[str]) -> tuple[dict, int, int]:
    """Per-layer metrics: a traced half window on a session with the
    event log on, then an untraced half window on a fresh session as the
    reference for the tracing overhead.  The reference runs on the
    warmer JVM, so the overhead reads high rather than low."""
    wl.inputs(ctx)
    t0 = time.perf_counter()
    ctx.start_session(event_log=True)
    get_session_ms = (time.perf_counter() - t0) * 1000.0
    if hasattr(wl, "instrument"):
        wl.instrument(ctx)
    wl.setup(ctx)
    if not getattr(wl, "SETUP_SPANS", False):
        ctx.tracer.spans.clear()
    first_op_span = len(ctx.tracer.spans)
    m = wl.measure(ctx, ctx.seconds / 2)
    spans = list(ctx.tracer.spans)
    ctx.stop_session()  # flushes the event log
    wrong = wl.verify(ctx, m)

    ctx.start_session()
    wl.setup(ctx)
    ref = wl.measure(ctx, ctx.seconds / 2)
    rss = peak_rss_mb()
    wrong += wl.verify(ctx, ref)

    (event_log,) = glob.glob(ctx.path("eventlog", "*"))
    groups = eventlog.parse(event_log)
    layer_values = wl.layers(ctx, eventlog.fold_spans(spans, groups), m)
    # the run.*_per_op totals count the measuring window only
    owned = {s["group"] for s in spans[first_op_span:]}
    if getattr(wl, "UNTAGGED_WORK", False):
        owned.add(eventlog.UNTAGGED)
    tot = eventlog.total({g: c for g, c in groups.items() if g in owned})
    ops = m.notes.get("ops", m.attempted) or 1
    metrics = {n: 0.0 for n in names}
    metrics.update(
        {
            "session.get_session_ms": get_session_ms,
            "run.peak_rss_mb": rss,
            "run.cpu_s_per_op": tot.cpu_ns / 1e9 / ops,
            "run.gc_ms_per_op": tot.gc_ms / ops,
            "run.spill_bytes_per_op": tot.spill_bytes / ops,
            "run.jobs_per_op": tot.jobs / ops,
            "run.tasks_per_op": tot.tasks / ops,
            "run.shuffle_write_bytes_per_op": tot.shuffle_write_bytes / ops,
            "run.trace_overhead_frac": quantile(m.samples_ms, 0.5)
            / quantile(ref.samples_ms, 0.5)
            - 1.0,
        }
    )
    unknown = set(layer_values) - set(names)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics.update(layer_values)
    return metrics, ref.attempted + m.attempted, ref.failed + m.failed + wrong


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from a checkout root", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    work_root = os.path.join(root, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_PYTHON=sys.executable,
    )
    sys.path.insert(0, root)
    wl = importlib.import_module(WORKLOADS[args.workload])
    ctx = Ctx(args.workload, root, work, args.seed, args.seconds)
    try:
        if args.trace:
            metrics, attempted, failed = traced(wl, ctx, [m["name"] for m in spec["per_layer"]])
        else:
            metrics, attempted, failed = timed(wl, ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)

    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units[name]}")
    for alias, (name, unit, scale) in getattr(wl, "ALIASES", {}).items():
        if name in metrics:
            print(f"{alias} = {metrics[name] * scale:.6g} {unit}")
    print(f"failed_frac = {failed / max(attempted, 1):.6g}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    n: {"value": float(v), "unit": units[n]} for n, v in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
