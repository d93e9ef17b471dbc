"""corpus_dedup: the LLM-data path.  Seeded documents with a stated
share of exact copies and near-duplicates (see ``gen.documents_frame``)
go through ``operators.dedup.minhash_lsh_candidates`` (forced by an
eager local checkpoint, so the candidate pairs are timed on their own)
-> ``operators.graph.connected_components`` -> a left-anti join that
keeps one document per cluster -> ``plans.corpus.prepare_corpus`` and
``corpus_report``, collected.  One operation is one pipeline run, from
reading the documents to the per-source report."""

from __future__ import annotations

import os
import time

import gen
import twins
from harness import Ctx, Measured, median

N_DOCS = 1_500
#: untimed pipeline runs before the window: a JVM's pipeline runs keep
#: getting faster over about its first five
WARMUP_OPS = 1
MIN_OPS = 5

ALIASES = {"corpus_dedup_s": ("op_p50_ms", "s", 0.001)}


def inputs(ctx: Ctx) -> None:
    gen.write_documents(ctx.seed, N_DOCS, ctx.path("docs"))
    gen.write_documents(ctx.seed + 7919, N_DOCS, ctx.path("docs_warm"))


def _pipeline(ctx: Ctx, src: str) -> tuple[list, int | None]:
    """The per-source report, and the candidate pair count when traced
    (counting the pairs is one more job, so untraced runs skip it)."""
    from pyspark.sql import functions as F

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import (
        minhash_lsh_candidates,
    )
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.graph import (
        connected_components,
    )
    from etl_based_real_time_air_quality_monitoring_system_spark.plans.corpus import (
        corpus_report,
        prepare_corpus,
    )
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import (
        read_parquet,
    )

    with ctx.span("pipeline"):
        with ctx.span("read_parquet"):
            docs = read_parquet(ctx.spark, src)
        with ctx.span("lsh"):
            pairs = minhash_lsh_candidates(docs, "doc_id", "text").localCheckpoint(eager=True)
        with ctx.span("cc"):
            cc = connected_components(pairs, "doc_a", "doc_b")
        losers = cc.filter(F.col("vertex") != F.col("component")).select(
            F.col("vertex").alias("doc_id")
        )
        with ctx.span("prepare"):
            report = corpus_report(prepare_corpus(docs.join(losers, "doc_id", "left_anti")))
            rows = report.orderBy("source").collect()
        return rows, pairs.count() if ctx.tracer is not None else None


def setup(ctx: Ctx) -> None:
    """One pipeline run over a second corpus of the same size and shape
    (another seed): a fresh JVM's first runs over full-size data are
    slower than its later ones, so the window starts warm."""
    _pipeline(ctx, ctx.path("docs_warm"))


def measure(ctx: Ctx, seconds: float) -> Measured:
    with ctx.untraced():  # warm-up: untimed, unchecked, outside the trace
        for _ in range(WARMUP_OPS):
            _pipeline(ctx, ctx.path("docs"))
    samples, results, pair_counts, failed = [], [], [], 0
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(samples) < MIN_OPS:
        t0 = time.perf_counter()
        try:
            rows, n_pairs = _pipeline(ctx, ctx.path("docs"))
            results.append(rows)
            if n_pairs is not None:
                pair_counts.append(n_pairs)
        except Exception as exc:  # counted, reported, never fatal
            print(f"corpus_dedup: run failed: {exc!r}")
            results.append(None)
            failed += 1
        samples.append((time.perf_counter() - t0) * 1000.0)
    m = Measured(samples, attempted=len(samples), failed=failed)
    m.throughput = N_DOCS / (median(samples) / 1000.0)
    m.notes.update(results=results, pair_counts=pair_counts)
    return m


def verify(ctx: Ctx, m: Measured) -> int:
    want = ctx.state.get("twin") or twins.corpus_twin(
        os.path.join(ctx.path("docs"), "*.parquet")
    )
    ctx.state["twin"] = want
    wrong = 0
    for rows in m.notes.pop("results"):
        if rows is None:
            continue
        got = [(r["source"], r["kept_docs"], r["total_tokens"], r["avg_quality"]) for r in rows]
        if not twins.rows_close(got, want["report"], 3, twins.QUALITY_TOL):
            print(f"corpus_dedup: wrong report {got} != {want['report']}")
            wrong += 1
    if any(n != want["pairs"] for n in m.notes["pair_counts"]):
        print(f"corpus_dedup: candidate pairs {m.notes['pair_counts']} != {want['pairs']}")
        wrong += 1
    m.notes["kept_docs"] = sum(r[1] for r in want["report"])
    return wrong


def layers(ctx: Ctx, spans: dict, m: Measured) -> dict:
    def med(name, key):
        return median([s[key] for s in spans.get(name, [])])

    return {
        "sources.readers.read_parquet_ms": med("read_parquet", "ms"),
        "operators.dedup.lsh_ms": med("lsh", "ms"),
        "operators.dedup.candidate_pairs": median(m.notes["pair_counts"]),
        "operators.dedup.lsh_shuffle_write_bytes": med("lsh", "shuffle_write_bytes"),
        "operators.graph.cc_ms": med("cc", "ms"),
        "operators.graph.cc_jobs": med("cc", "jobs"),
        "operators.graph.cc_stages": med("cc", "stages"),
        "operators.graph.cc_shuffle_write_bytes": med("cc", "shuffle_write_bytes"),
        "plans.corpus.prepare_ms": med("prepare", "ms"),
        "plans.corpus.prepare_shuffle_write_bytes": med("prepare", "shuffle_write_bytes"),
        "plans.corpus.kept_docs": m.notes["kept_docs"],
    }
