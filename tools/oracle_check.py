"""Local stand-in for the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, schema (column names), and order-insensitive
values (columns sorted by name, rows sorted, exact equality with a
float-diff report on mismatch).

Usage:  python tools/oracle_check.py [sf_dir] [query ...]
        python tools/oracle_check.py --all-sf [query ...]
Default sf_dir: /root/testdata/sf0.01; --all-sf sweeps
sf0.001 + sf0.01 + sf0.1 (the robustness sweep that caught both
observed cross-engine drift classes).
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod
from etl_based_real_time_air_quality_monitoring_system_spark.session import get_session
from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import (
    TESTDATA_TABLES,
)

#: DuckDB runs inside this process next to the Spark driver's JVM, and
#: its default limit (80% of RAM) let one sf0.1 oracle take the checker
#: past 11 GB until the kernel killed it.  6 GB is what the heaviest
#: oracle that completes at sf0.1 (dup_graph_pagerank) needs; operators
#: that can spill go to TEMP_DIR instead of growing further.
DUCKDB_MEMORY_LIMIT = "6GB"
DUCKDB_TEMP_DIR = "/tmp/oracle_check_duckdb"


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, values canonicalized, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"schema spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if problems:
        return problems
    s, d = canon(spark_pdf), canon(duck_pdf)
    for c in s.columns:
        sv, dv = s[c], d[c]
        # The driver's hash is DTYPE-sensitive: DuckDB SUM(<int>) returns
        # HUGEINT -> pandas float64 while Spark emits int64, and 6.0 != 6
        # under the hash even though values match (broke 11/50 r2 gate
        # queries while the float-coercing comparator here stayed green).
        # Be strict on the int-vs-float axis so the sweep predicts the gate.
        s_float = pd.api.types.is_float_dtype(sv)
        d_float = pd.api.types.is_float_dtype(dv)
        if s_float != d_float:
            problems.append(
                f"col {c}: dtype mismatch spark={sv.dtype} duck={dv.dtype} "
                f"(int-vs-float breaks the driver's dtype-sensitive hash; "
                f"CAST the oracle aggregate, e.g. SUM(...)::BIGINT)"
            )
            continue
        if s_float or d_float:
            svf = pd.to_numeric(sv, errors="coerce").astype(float)
            dvf = pd.to_numeric(dv, errors="coerce").astype(float)
            both_nan = svf.isna() & dvf.isna()
            eq = (svf == dvf) | both_nan
            if not eq.all():
                diffs = (svf - dvf).abs()
                problems.append(
                    f"col {c}: {int((~eq).sum())} value diffs, max abs diff "
                    f"{diffs.max()!r} (exact-equality required)"
                )
        else:
            eq = (sv == dv) | (sv.isna() & dv.isna())
            if not eq.all():
                idx = (~eq).idxmax()
                problems.append(
                    f"col {c}: {int((~eq).sum())} diffs, first at row {idx}: "
                    f"spark={sv[idx]!r} duck={dv[idx]!r}"
                )
    return problems


def _print_code_sha() -> None:
    """Stamp the RUN's code identity into the log itself, so
    tools/sweep_report.py can attest the SHA the sweep actually ran
    on (not the SHA at report-generation time — the two can differ
    when the log is reused)."""
    import subprocess

    # derive the repo root from this file (sweep_report.py's idiom) —
    # a hardcoded /root/repo silently degrades to "CODE_SHA unknown"
    # on any other checkout (r11 advisor finding)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=repo_root, capture_output=True, text=True, check=True,
        ).stdout.strip()
        dirty = bool(
            subprocess.run(
                ["git", "status", "--porcelain"],
                cwd=repo_root, capture_output=True, text=True, check=True,
            ).stdout.strip()
        )
        print(f"CODE_SHA {sha}{'-dirty' if dirty else ''}")
    except Exception:
        print("CODE_SHA unknown")


def main() -> int:
    args = sys.argv[1:]
    _print_code_sha()
    if args and args[0] == "--all-sf":
        # the standard robustness sweep: the gate runs at sf0.01, but
        # value drift (float summation order, exact-half rounding) is
        # data-dependent — both observed classes surfaced ONLY at
        # sf0.001 / sf0.1
        args.pop(0)
        rc = 0
        for sf in ("0.001", "0.01", "0.1"):
            print(f"===== sf{sf}")
            rc |= run_one(f"/root/testdata/sf{sf}", args)
        return rc
    sf_dir = args.pop(0) if args and "/" in args[0] else "/root/testdata/sf0.01"
    return run_one(sf_dir, args)


def run_one(sf_dir: str, args: list[str]) -> int:
    spark = get_session("oracle-check")
    con = duckdb.connect(
        config={"memory_limit": DUCKDB_MEMORY_LIMIT, "temp_directory": DUCKDB_TEMP_DIR}
    )
    for t in TESTDATA_TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args)
    failed, passed, skipped = [], [], []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        sql = oracles.get(name)
        if sql is None:
            skipped.append(name)
            print(f"SKIP {name}: no oracle (rows-only); rows={len(spark_pdf)}")
            continue
        try:
            duck_pdf = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        dt = time.time() - t0
        if problems:
            failed.append(name)
            print(f"FAIL {name} ({dt:.1f}s):")
            for p in problems:
                print(f"   - {p}")
        else:
            passed.append(name)
            print(f"PASS {name} ({dt:.1f}s, {len(spark_pdf)} rows)")
    extra = set(oracles) - set(queries)
    if extra:
        print(f"WARN oracle_sql keys with no query: {sorted(extra)}")
    print(
        f"\n{len(passed)} passed, {len(failed)} failed, {len(skipped)} rows-only"
    )
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
