"""Operator-level tests on tiny literal frames + sf0.001 smoke."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_based_real_time_air_quality_monitoring_system_spark.operators.aggregates import (
    freq_distribution,
    grouped_stats,
    range_aggregate,
)
from etl_based_real_time_air_quality_monitoring_system_spark.operators.cleaning import (
    drop_null_rows,
    exact_dedup,
    fill_defaults,
)
from etl_based_real_time_air_quality_monitoring_system_spark.operators.topk import (
    latest_per_key,
    top_k,
)
from etl_based_real_time_air_quality_monitoring_system_spark.plans.flagship import (
    flagship_pipeline,
)


def test_exact_dedup_full_and_subset(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "a")], ["k", "v"]
    )
    assert exact_dedup(df).count() == 3
    assert exact_dedup(df, ["k"]).count() == 2


def test_drop_null_rows(spark):
    df = spark.createDataFrame(
        [(1, "x"), (None, "y"), (3, None), (None, None)], "a int, b string"
    )
    assert drop_null_rows(df, ["a", "b"]).count() == 1


def test_fill_defaults(spark):
    df = spark.createDataFrame([(None,), (2.0,)], "x double")
    got = sorted(r["x"] for r in fill_defaults(df, {"x": 0.0}).collect())
    assert got == [0.0, 2.0]


def test_grouped_stats_values(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)], ["k", "v"]
    )
    rows = {r["k"]: r for r in grouped_stats(df, "k", "v").collect()}
    assert rows["a"]["avg_v"] == 1.5 and rows["a"]["record_count"] == 2
    assert rows["b"]["min_v"] == rows["b"]["max_v"] == 10.0


def test_freq_distribution_order(spark):
    df = spark.createDataFrame([("x",), ("x",), ("y",)], ["k"])
    rows = freq_distribution(df, "k").collect()
    assert [(r["k"], r["count"]) for r in rows] == [("x", 2), ("y", 1)]


def test_range_aggregate(spark):
    df = spark.createDataFrame([(1.0,), (9.0,)], "v double")
    row = range_aggregate(df, "v").collect()[0]
    assert row["range_v"] == 8.0


def test_top_k_deterministic_ties(spark):
    df = spark.createDataFrame([(5.0, 1), (5.0, 2), (3.0, 3)], ["v", "id"])
    rows = top_k(df, ["v"], 2, tie_break="id").collect()
    assert [r["id"] for r in rows] == [1, 2]


def test_latest_per_key(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 3, 30.0), ("b", 2, 20.0)], ["k", "t", "v"]
    )
    rows = {r["k"]: r["v"] for r in latest_per_key(df, "k", "t").collect()}
    assert rows == {"a": 30.0, "b": 20.0}


def test_flagship_smoke(spark, sf_dir):
    df = flagship_pipeline(spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "event_type", "band", "avg_value", "min_value", "max_value", "record_count",
    }
    # ordered by record_count desc
    counts = [r["record_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)


# ------------------------------------------------------ asof / range / sessions

def test_asof_join_semantics(spark):
    from datetime import datetime as dt

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(100, "u1", 10.0), (101, "u1", 3.0), (102, "u2", 5.0)],
        "id long, k string, t double",
    )
    # u1@2 carries a legitimately-NULL payload field x; u1@1 has x set —
    # the struct payload must NOT skip past the null field to the older row
    right = spark.createDataFrame(
        [("u1", 1.0, "z", 5.0), ("u1", 2.0, "a", None), ("u1", 10.0, "b", 7.0),
         ("u2", 6.0, "c", 1.0)],
        "k string, rt double, val string, x double",
    )
    out = {
        r["id"]: r
        for r in asof_join(left, right, "k", "t", "rt", ["val", "x"]).collect()
    }
    assert set(out) == {100, 101}          # u2@5 has no right row <= 5 -> inner drops
    assert out[100]["val"] == "b" and out[100]["x"] == 7.0   # exact time match counts
    assert out[101]["val"] == "a" and out[101]["x"] is None  # null field preserved

    outer = {
        r["id"]: r
        for r in asof_join(left, right, "k", "t", "rt", ["val", "x"], how="left").collect()
    }
    assert set(outer) == {100, 101, 102}
    assert outer[102]["val"] is None


def test_range_join_bands(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.joins import range_join

    fact = spark.createDataFrame(
        [(1, 5.0), (2, 50.0), (3, 149.9), (4, 500.0)], "id long, value double"
    )
    bands = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 1e9)],
        "band string, lo double, hi double",
    )
    got = {r["id"]: r["band"] for r in range_join(fact, bands, "value").collect()}
    # lo inclusive, hi exclusive: 50.0 lands in mid, not low
    assert got == {1: "low", 2: "mid", 3: "mid", 4: "high"}


def test_sessionize_gap_boundaries(spark):
    from datetime import datetime as dt

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.windows import sessionize

    rows = [
        ("u", dt(2024, 1, 1, 0, 0, 0), 1),
        ("u", dt(2024, 1, 1, 0, 30, 0), 2),   # +30min  -> same session
        ("u", dt(2024, 1, 1, 1, 30, 0), 3),   # +60min exactly = gap -> same session
        ("u", dt(2024, 1, 1, 2, 30, 1), 4),   # gap exceeded by 1s -> new session
        ("v", dt(2024, 1, 1, 0, 0, 0), 5),    # other key always starts at 1
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, id long")
    out = {
        r["id"]: r["session_id"]
        for r in sessionize(df, "k", "ts", 3600, order_tie_break="id").collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 2, 5: 1}


def test_salted_join_matches_plain_join(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.joins import salted_join

    # planted skew: 90% of left rows share key 1
    left = spark.createDataFrame(
        [(i, 1 if i % 10 else i) for i in range(1000)], "row_id long, k long"
    )
    right = spark.createDataFrame(
        [(k, f"dim_{k}") for k in range(0, 1000, 10)], "rk long, label string"
    )
    plain = left.join(right, left.k == right.rk).select("row_id", "label")
    salted = salted_join(left, right, "k", "rk", salt_from="row_id", n_salts=8).select(
        "row_id", "label"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_moving_frame_sum_and_range_count(spark):
    from datetime import datetime

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.windows import (
        moving_frame_sum,
        trailing_range_count,
    )

    rows = [
        # key, minute offset, value  (one key; 5 events; minute gaps
        # chosen so the 1-hour RANGE frame drops the first event at the
        # last row, and two events share a timestamp -> RANGE peers)
        ("u", 0, 1.0, 1),
        ("u", 10, 2.0, 2),
        ("u", 10, 3.0, 3),  # same ts as event 2 (peer)
        ("u", 40, 4.0, 4),
        ("u", 70, 5.0, 5),  # 70 min: event at 0 falls out of 1 h frame
    ]
    df = spark.createDataFrame(
        [
            (k, datetime(2024, 1, 1, m // 60, m % 60), v, i)
            for (k, m, v, i) in rows
        ],
        "user string, ts timestamp, value double, event_id int",
    )

    out = moving_frame_sum(
        df, "user", ["ts", "event_id"], "value", preceding=1,
        alias="s", count_alias="c",
    )
    got = {
        r["event_id"]: (r["s"], r["c"])
        for r in out.collect()
    }
    assert got == {
        1: (1.0, 1), 2: (3.0, 2), 3: (5.0, 2), 4: (7.0, 2), 5: (9.0, 2)
    }

    rng = trailing_range_count(df, "user", "ts", 3600)
    got = {r["event_id"]: r["trailing_count"] for r in rng.collect()}
    # events 2 and 3 are RANGE peers (same ts) so both see each other;
    # at event 5 (t=70min) the t=0 event is outside the closed 1 h frame
    assert got == {1: 1, 2: 3, 3: 3, 4: 4, 5: 4}


def test_grouping_sets_agg(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.reshape import grouping_sets_agg

    df = spark.createDataFrame(
        [("A", "x", 1.0), ("A", "y", 2.0), ("B", "x", 4.0)],
        "f string, s string, v double",
    )
    out = grouping_sets_agg(
        df, ["f", "s"], [["f", "s"], ["f"], []], "v"
    ).collect()
    # 3 leaf rows + 2 per-f subtotals + 1 grand total
    assert len(out) == 6
    by = {(r["f"], r["s"], r["grp_f"], r["grp_s"]): (r["record_count"], r["value_sum"]) for r in out}
    assert by[("A", None, 0, 1)] == (2, 3.0)
    assert by[(None, None, 1, 1)] == (3, 7.0)
    assert by[("B", "x", 0, 0)] == (1, 4.0)


def test_levenshtein_near_pairs(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import levenshtein_near_pairs

    df = spark.createDataFrame(
        [(1, "small ring"), (2, "smol ring"), (3, "red widget"),
         (4, "red ring"), (5, "small ring")],  # 5 dups with 1
        "id int, name string",
    )
    out = levenshtein_near_pairs(df, "name", max_dist=2).collect()
    pairs = {(r["name_a"], r["name_b"]): r["distance"] for r in out}
    # distinct-first: the (1,5) exact dup collapses before pairing
    assert pairs == {("small ring", "smol ring"): 2}


def test_session_window_agg_touching_merge(spark):
    from datetime import datetime

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.aggregates import session_window_agg

    df = spark.createDataFrame(
        [
            ("u", datetime(2024, 1, 1, 0, 0, 0), 1.0),
            ("u", datetime(2024, 1, 1, 0, 30, 0), 2.0),  # touches: merges
            ("u", datetime(2024, 1, 1, 2, 0, 0), 4.0),   # > gap: new session
            ("v", datetime(2024, 1, 1, 0, 0, 0), 8.0),
        ],
        "user_id string, ts timestamp, value double",
    )
    out = session_window_agg(
        df, "user_id", "ts", "30 minutes",
        [F.count("*").alias("n"), F.sum("value").alias("s")],
    ).collect()
    rows = {(r["user_id"], r["session_start"].isoformat()): (r["n"], r["s"], r["session_end"].isoformat())
            for r in out}
    assert rows[("u", "2024-01-01T00:00:00")] == (2, 3.0, "2024-01-01T01:00:00")
    assert rows[("u", "2024-01-01T02:00:00")] == (1, 4.0, "2024-01-01T02:30:00")
    assert rows[("v", "2024-01-01T00:00:00")] == (1, 8.0, "2024-01-01T00:30:00")
    assert len(rows) == 3


def test_sessionize_equals_session_window_hypothesis(spark):
    """Property: the two independent sessionization implementations —
    the lag-boundary/running-sum composition (windows.sessionize) and
    native F.session_window (aggregates.session_window_agg) — must
    produce identical per-session event counts on any input."""
    from collections import Counter
    from datetime import datetime, timedelta

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.aggregates import session_window_agg
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.windows import sessionize

    GAP = 600  # seconds

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        st.lists(
            st.tuples(
                st.sampled_from(["a", "b"]),
                st.integers(min_value=0, max_value=5000),
            ),
            min_size=1,
            max_size=30,
        )
    )
    def check(rows):
        base = datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [(k, base + timedelta(seconds=s)) for k, s in rows],
            "k string, ts timestamp",
        )
        composed = (
            sessionize(df, "k", "ts", GAP)
            .groupBy("k", "session_id")
            .count()
            .collect()
        )
        native = session_window_agg(
            df, "k", "ts", f"{GAP} seconds", [F.count("*").alias("count")]
        ).collect()
        assert Counter((r["k"], r["count"]) for r in composed) == Counter(
            (r["k"], r["count"]) for r in native
        )

    check()


def test_dq_report_one_pass(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dq import (
        dq_report,
        in_range_check,
        in_set_check,
        not_null_check,
    )

    df = spark.createDataFrame(
        [
            (1, "a", 10.0),
            (1, "a", 999.0),   # dup id + out of range
            (2, None, 50.0),   # null kind
            (3, "zz", None),   # unknown kind; NULL value must NOT violate range
        ],
        "id int, kind string, v double",
    )
    out = {
        r["check_name"]: (r["violations"], r["total_rows"])
        for r in dq_report(
            df,
            checks={
                "kind_null": not_null_check("kind"),
                "v_range": in_range_check("v", 0, 100),
                "kind_set": in_set_check("kind", ["a", "b"]),
            },
            unique_keys=["id"],
        ).collect()
    }
    assert out == {
        "kind_null": (1, 4),
        "v_range": (1, 4),
        "kind_set": (1, 4),
        "id_dup": (1, 4),
    }
    # the whole report is ONE aggregation over ONE scan
    rep = dq_report(df, checks={"kind_null": not_null_check("kind")})
    p = rep._sc._jvm.PythonSQLUtils.explainString(rep._jdf.queryExecution(), "formatted")
    assert p.count("(1) Scan") <= 1


def test_approx_percentile_close_to_exact(spark, sf_dir):
    """approx_percentile (t-digest-free sketch, constant memory) must
    land within 2% relative error of the exact interpolated quantile —
    the scale path when exact percentile_cont's full sort is too
    expensive.  Not oracle-checked (sketch internals are
    engine-specific by nature); tolerance-tested instead."""
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table

    events = load_table(spark, sf_dir, "events")
    approx = events.agg(
        F.percentile_approx("value", [0.5, 0.9], 10000).alias("a")
    ).head()["a"]
    exact = events.agg(
        F.expr("percentile(value, array(0.5, 0.9))").alias("e")
    ).head()["e"]
    for a, e in zip(approx, exact):
        assert abs(a - e) / e < 0.02, (a, e)


def test_hash_split_stable_under_repartitioning(spark, sf_dir):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.sampling import train_test_split
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {r["doc_id"]: r["split"] for r in train_test_split(docs, "doc_id").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in train_test_split(docs.repartition(13), "doc_id").collect()
    }
    assert a == b  # content-addressed: partitioning can't move rows
    frac = sum(1 for v in a.values() if v == "test") / len(a)
    assert 0.05 < frac < 0.15  # ~10% with hash noise at 500 docs
    # different salt -> different split (versioned splits)
    c = {
        r["doc_id"]: r["split"]
        for r in train_test_split(docs, "doc_id", salt="split:v2").collect()
    }
    assert a != c


def test_group_split_no_leakage(spark, sf_dir):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.sampling import group_split
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    tagged = group_split(docs, "source", test_pct=25)
    # the leakage property: every group is entirely on one side
    sides = tagged.groupBy("source").agg(
        F.countDistinct("split").alias("n_sides")
    )
    assert all(r["n_sides"] == 1 for r in sides.collect())
    # stable under repartitioning (content-addressed, no RNG)
    a = {r["source"]: r["split"] for r in tagged.select("source", "split").distinct().collect()}
    b = {
        r["source"]: r["split"]
        for r in group_split(docs.repartition(7), "source", test_pct=25)
        .select("source", "split")
        .distinct()
        .collect()
    }
    assert a == b


def test_stratified_quota_sample_exact_quotas(spark, sf_dir):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.sampling import (
        stratified_quota_sample,
    )
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_quota_sample(
        docs, "source", "doc_id", {"src0": 7, "src1": 3}, default_quota=2
    )
    counts = {r["source"]: r["n"] for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["src0"] == 7 and counts["src1"] == 3
    assert all(v == 2 for k, v in counts.items() if k not in ("src0", "src1"))
    # deterministic membership, not just counts
    ids1 = sorted(r["doc_id"] for r in kept.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in stratified_quota_sample(
            docs.repartition(11), "source", "doc_id", {"src0": 7, "src1": 3}, default_quota=2
        ).collect()
    )
    assert ids1 == ids2


def test_mixture_sample_hits_target_ratio(spark, sf_dir):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.sampling import mixture_sample
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    mixed = mixture_sample(docs, "source", "doc_id", {"src0": 6, "src1": 3, "src2": 1})
    counts = {
        r["source"]: r["n"]
        for r in mixed.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # only weighted sources survive, and kept counts follow the
    # all-integer quota rule exactly
    assert set(counts) <= {"src0", "src1", "src2"}
    n = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    t_max = min(n[s] * 10 // w for s, w in (("src0", 6), ("src1", 3), ("src2", 1)))
    assert counts == {s: w * t_max // 10 for s, w in (("src0", 6), ("src1", 3), ("src2", 1)) if w * t_max // 10}
    # membership is deterministic under repartitioning
    ids1 = sorted(r["doc_id"] for r in mixed.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in mixture_sample(
            docs.repartition(13), "source", "doc_id", {"src0": 6, "src1": 3, "src2": 1}
        ).collect()
    )
    assert ids1 == ids2


def test_mixture_sample_unsatisfiable_recipe_is_empty(spark, sf_dir):
    # a weighted source with zero rows must yield an EMPTY mixture
    # (surfacing the unsatisfiable recipe), never a silently skewed one
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.sampling import mixture_sample
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    mixed = mixture_sample(docs, "source", "doc_id", {"src0": 1, "no_such_source": 1})
    assert mixed.count() == 0


def test_pps_sample_matches_driver_replay_and_is_stable(spark, sf_dir):
    # the distributed two-phase selection must equal a driver-side
    # replay of Madow systematic PPS on the same hash line, exactly
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.sampling import pps_systematic_sample
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = 20
    got = {
        r["doc_id"]: r["sample_rank"]
        for r in pps_systematic_sample(docs, "doc_id", "n_chars", n).collect()
    }
    rows = docs.select(
        "doc_id", "n_chars",
        F.md5(F.concat(F.lit("pps:v1"), F.col("doc_id").cast("string")).cast("binary")).alias("h"),
    ).collect()
    total = sum(r["n_chars"] for r in rows if r["n_chars"] > 0)
    cum, want = 0, {}
    for r in sorted(
        (r for r in rows if r["n_chars"] > 0), key=lambda r: (r["h"], r["doc_id"])
    ):
        prev = cum
        cum += r["n_chars"]
        if (cum * n) // total > (prev * n) // total:
            want[r["doc_id"]] = (cum * n) // total
    assert got == want and len(got) > 0
    # deterministic under repartitioning
    got2 = {
        r["doc_id"]: r["sample_rank"]
        for r in pps_systematic_sample(
            docs.repartition(7), "doc_id", "n_chars", n
        ).collect()
    }
    assert got2 == got


def test_pps_sample_heavy_row_and_guards(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.sampling import pps_systematic_sample

    # a row heavier than total/n straddles several boundaries but is
    # selected once -> output smaller than n (without replacement)
    df = spark.createDataFrame(
        [(1, 1000), (2, 5), (3, 5), (4, 5)], "id long, w long"
    )
    out = pps_systematic_sample(df, "id", "w", 5).collect()
    assert len(out) < 5 and any(r["id"] == 1 for r in out)
    # zero/negative weights excluded; n<=0 and int64 overflow raise
    empty = pps_systematic_sample(
        spark.createDataFrame([(1, 0), (2, -3)], "id long, w long"), "id", "w", 3
    )
    assert empty.count() == 0
    with pytest.raises(ValueError, match="n must be positive"):
        pps_systematic_sample(df, "id", "w", 0)
    big = spark.createDataFrame([(1, 2**61), (2, 2**61)], "id long, w long")
    with pytest.raises(ValueError, match="overflows int64"):
        pps_systematic_sample(big, "id", "w", 100)


def test_token_budget_prefix_matches_global_window(spark, sf_dir):
    # the coarse-bucket + prefix-offset formulation must equal the
    # naive single-partition global running sum exactly
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.sampling import token_budget_prefix
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import token_count
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    budget = 1500
    kept = sorted(
        r["doc_id"]
        for r in token_budget_prefix(docs, "doc_id", token_count("text"), budget).collect()
    )
    rows = docs.select(
        "doc_id", token_count("text").alias("n"),
        F.md5(F.concat(F.lit("budget:v1"), F.col("doc_id").cast("string")).cast("binary")).alias("h"),
    ).collect()
    cum, want = 0, []
    for r in sorted(rows, key=lambda r: (r["h"], r["doc_id"])):
        cum += r["n"]
        if cum > budget:
            break
        want.append(r["doc_id"])
    assert kept == sorted(want) and want  # non-trivial prefix
    # deterministic under repartitioning
    kept2 = sorted(
        r["doc_id"]
        for r in token_budget_prefix(
            docs.repartition(9), "doc_id", token_count("text"), budget
        ).collect()
    )
    assert kept2 == kept
    # a budget below the first doc's tokens keeps nothing
    assert token_budget_prefix(docs, "doc_id", token_count("text"), 0).count() == 0


def test_resample_ohlc_bars_and_tie_breaks(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.timeseries import resample_ohlc

    rows = [
        ("A", "2024-01-01 00:05:00", 10.0),
        ("A", "2024-01-01 00:20:00", 30.0),
        ("A", "2024-01-01 00:50:00", 20.0),
        # boundary ties: two observations share the bucket's last ts —
        # close must deterministically be the max value among the ties
        ("B", "2024-01-01 01:00:00", 5.0),
        ("B", "2024-01-01 01:30:00", 9.0),
        ("B", "2024-01-01 01:30:00", 7.0),
        ("B", "2024-01-01 01:10:00", None),  # NULL value is ignored
    ]
    df = spark.createDataFrame(rows, "k string, ts string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    bars = {
        (r["k"], str(r["bucket"])): (r["open"], r["high"], r["low"], r["close"], r["n_obs"])
        for r in resample_ohlc(df, "k", "ts", "value").collect()
    }
    assert bars[("A", "2024-01-01 00:00:00")] == (10.0, 30.0, 10.0, 20.0, 3)
    assert bars[("B", "2024-01-01 01:00:00")] == (5.0, 9.0, 5.0, 9.0, 3)
    with pytest.raises(ValueError, match="unit"):
        resample_ohlc(df, "k", "ts", "value", unit="fortnight")


def test_gap_fill_locf_semantics(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.timeseries import gap_fill_locf

    rows = [
        # key A: hours 0 and 3 observed -> 1, 2 filled with hour-0 avg
        ("A", "2024-01-01 00:10:00", 10.0),
        ("A", "2024-01-01 00:50:00", 20.0),
        ("A", "2024-01-01 03:05:00", 40.0),
        # key B: first observation at hour 2 -> hours 0, 1 stay null
        ("B", "2024-01-01 02:30:00", 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts string, value double").select(
        "k", F.to_timestamp("ts").alias("ts"), "value"
    )
    out = gap_fill_locf(df, "k", "ts", "value", unit="hour").collect()
    got = {(r.k, r.bucket_ts.hour): (r.value_locf, r.was_filled) for r in out}
    # grid is global hours 0..3 for both keys
    assert len(out) == 8
    assert got[("A", 0)] == (15.0, 0)
    assert got[("A", 1)] == (15.0, 1)
    assert got[("A", 2)] == (15.0, 1)
    assert got[("A", 3)] == (40.0, 0)
    assert got[("B", 0)][0] is None and got[("B", 0)][1] == 1
    assert got[("B", 1)][0] is None
    assert got[("B", 2)] == (7.0, 0)
    assert got[("B", 3)] == (7.0, 1)


def test_full_outer_diff_classification(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.joins import full_outer_diff

    old = spark.createDataFrame(
        [(1, 10, None), (2, 20, 5.0), (3, 30, 1.0)],
        "id int, cnt int, amt double",
    )
    new = spark.createDataFrame(
        [(2, 20, 5.0), (3, 31, 1.0), (4, 40, 2.0), (5, None, None)],
        "id int, cnt int, amt double",
    )
    out = {
        r.id: r.diff_status
        for r in full_outer_diff(old, new, ["id"], ["cnt", "amt"]).collect()
    }
    assert out == {
        1: "removed",
        2: "unchanged",  # null-safe: None==None is not a change
        3: "changed",
        4: "added",
        5: "added",
    }


def test_chunk_documents_drop_rule_and_overlap(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),  # 10 toks
            (2, "a b c"),                            # 3 toks, one chunk
            (3, "x"),                                # 1 tok
        ],
        ["doc_id", "text"],
    )
    # chunk_size=4, stride=3: doc1 starts 0,3,6,9; start 9 kept
    # (9-3+4=10 not < 10 -> start 9 adds NO new tokens -> dropped)
    out = chunk_documents(docs, "text", "doc_id", chunk_size=4, stride=3)
    rows = {
        (r["doc_id"], r["chunk_id"]): (r["start"], r["chunk_tokens"])
        for r in out.collect()
    }
    assert rows == {
        (1, 0): (0, 4),
        (1, 1): (3, 4),
        (1, 2): (6, 4),   # tokens t6..t9 — covers the tail exactly
        (2, 0): (0, 3),   # short doc -> single truncated chunk
        (3, 0): (0, 1),
    }


def test_chunk_documents_no_shuffle(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import chunk_documents

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    plan = chunk_documents(docs, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure in-scan expansion


def test_tfidf_rational_idf(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import tfidf_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana cherry common"),
            (3, "cherry cherry cherry common"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_terms(docs, "text", "doc_id", k=1).collect()
    best = {r["doc_id"]: (r["term"], r["score"]) for r in out}
    # doc1: apple tf=2 df=1 -> 2*(3/1)=6 beats banana 1*(3/2)=1.5
    # doc3: cherry tf=3 df=2 -> 3*(3/2)=4.5 beats common 1*(3/3)=1
    assert best[1] == ("apple", 6.0)
    assert best[2][0] == "banana"   # 1*(3/2)=1.5 beats common 1.0
    assert best[3] == ("cherry", 4.5)


def test_stratified_sample_deterministic_and_rates(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.sampling import stratified_sample

    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "web").otherwise("forum").alias("src"),
    )
    kept = stratified_sample(df, "src", "doc_id", {"web": 0.5, "forum": 0.1})
    counts = {r["src"]: r["n"] for r in kept.groupBy("src").agg(F.count("*").alias("n")).collect()}
    # md5-bucket thresholds land near the nominal rates
    assert abs(counts["web"] - 500) < 60
    assert abs(counts["forum"] - 100) < 40
    # identical decisions when recomputed on different partitioning
    again = stratified_sample(df.repartition(13), "src", "doc_id", {"web": 0.5, "forum": 0.1})
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_zscore_matches_stddev_samp(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.aggregates import zscore
    import math

    df = spark.createDataFrame(
        [("a", float(x)) for x in [1, 2, 3, 4, 10]]
        + [("b", float(x)) for x in [5, 5, 7]],
        ["k", "value"],
    )
    out = {(r["k"], r["value"]): r["z"] for r in zscore(df, "k", "value").collect()}
    mean_a, sd_a = 4.0, math.sqrt(sum((x - 4.0) ** 2 for x in [1, 2, 3, 4, 10]) / 4)
    assert abs(out[("a", 10.0)] - (10.0 - mean_a) / sd_a) < 1e-12
    mean_b, sd_b = 17.0 / 3.0, math.sqrt(
        sum((x - 17.0 / 3.0) ** 2 for x in [5.0, 5.0, 7.0]) / 2
    )
    assert abs(out[("b", 7.0)] - (7.0 - mean_b) / sd_b) < 1e-9


def _events_both_ts_types(spark):
    """The same tiny event table as TIMESTAMP and as TIMESTAMP_NTZ —
    the two encodings driver parquet has shipped across rounds."""
    import pytest

    rows = [
        (1, 101, "2024-01-01 00:00:00"),
        (2, 101, "2024-01-01 00:30:00"),
        (3, 101, "2024-01-01 06:00:00"),
        (4, 202, "2024-01-01 01:00:00"),
        (5, 202, "2024-01-01 01:10:00"),
    ]
    base = spark.createDataFrame(rows, ["event_id", "user_id", "ts_str"])
    ltz = base.withColumn("ts", F.col("ts_str").cast("timestamp")).drop("ts_str")
    ntz = base.withColumn("ts", F.col("ts_str").cast("timestamp_ntz")).drop("ts_str")
    return pytest.mark.parametrize, ltz, ntz


def test_time_operators_accept_both_timestamp_types(spark):
    """sessionize / trailing_range_count / asof_join are library
    operators — callers outside load_table can hand them TIMESTAMP_NTZ
    columns, which unix_micros rejects unless cast internally.  Both
    encodings must produce identical results (session TZ is UTC)."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.joins import asof_join
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.windows import (
        sessionize,
        trailing_range_count,
    )

    _, ltz, ntz = _events_both_ts_types(spark)
    results = []
    for df in (ltz, ntz):
        sessions = sorted(
            (r["event_id"], r["session_id"])
            for r in sessionize(df, "user_id", "ts", 3600, "event_id").collect()
        )
        trailing = sorted(
            (r["event_id"], r["trailing_count"])
            for r in trailing_range_count(df, "user_id", "ts", 3600).collect()
        )
        left = df.select("user_id", F.col("ts"))
        right = df.select(
            F.col("user_id"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_id"),
        )
        asof = sorted(
            (r["user_id"], r["ts"], r["r_id"])
            for r in asof_join(
                left, right, "user_id", "ts", "r_ts", ["r_id"]
            ).collect()
        )
        results.append((sessions, trailing, asof))
    assert results[0] == results[1]
    # sanity on the semantics, not just type-tolerance: user 101's
    # third event is 5.5h after the second -> a new session
    sessions = dict(results[0][0])
    assert sessions[1] == sessions[2] == 1 and sessions[3] == 2


def test_spread_small_input_rebalances_only_small(spark, sf_dir, monkeypatch):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators import balance
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.balance import spread_small_input
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    target = spark.sparkContext.defaultParallelism
    assert docs.rdd.getNumPartitions() < target  # single-row-group file
    spread = spread_small_input(docs)
    assert spread.rdd.getNumPartitions() == target
    # over-the-size-bound input is left untouched (no shuffle added)
    monkeypatch.setattr(balance, "MAX_BYTES", 0)
    assert spread_small_input(docs) is docs
    monkeypatch.undo()
    # already-parallel input is left untouched
    wide = docs.repartition(target)
    assert spread_small_input(wide) is wide


def test_spread_small_input_skips_streaming(spark, tmp_path):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.balance import spread_small_input

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    # streaming plans have no partition/size stats pre-execution: the
    # helper must be an identity no-op, not an exception swallow
    assert spread_small_input(stream) is stream


def test_redact_pii_masks_all_pattern_types(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [(1, "mail me at bob.smith+x@corp.example.org or call 555-123-4567 from 10.0.0.1 ok")],
        ["id", "text"],
    )
    out = redact_pii(df, "text").collect()[0]["redacted"]
    assert out == "mail me at <EMAIL> or call <PHONE> from <IP> ok"


def test_repetition_stats_known_ratio(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import repetition_stats

    df = spark.createDataFrame([(1, "a b a b a"), (2, "x y z")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in repetition_stats(df, "doc_id", "text", n=2).collect()}
    # "a b a b a" -> bigrams [a b, b a, a b, b a]: top 2 of 4
    assert out[1]["total_ngrams"] == 4 and out[1]["top_ngram_count"] == 2
    assert out[1]["repetition_ratio"] == 0.5
    # "x y z" -> [x y, y z]: all distinct
    assert out[2]["total_ngrams"] == 2 and out[2]["top_ngram_count"] == 1


def test_pack_sequences_boundaries(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import pack_sequences

    df = spark.createDataFrame(
        [("en", 1, "t1 t2 t3"), ("en", 2, "t1 t2 t3"), ("en", 3, "t1 t2 t3")],
        ["lang", "doc_id", "text"],
    )
    out = {
        r["seq_id"]: (r["n_docs"], r["n_tokens"])
        for r in pack_sequences(df, "doc_id", "text", capacity=5).collect()
    }
    # cumsums 3, 6, 9 at capacity 5 -> seq floor((cum-1)/5) = 0, 1, 1
    assert out == {0: (1, 3), 1: (2, 6)}


def test_merge_upsert_semantics(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.cdc import merge_upsert

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    updates = spark.createDataFrame(
        [(2, "B", False), (3, None, True), (4, "d", False)],
        "k long, v string, _deleted boolean",
    )
    out = {r["k"]: r["v"] for r in merge_upsert(base, updates, "k", "_deleted").collect()}
    # 1 untouched, 2 updated, 3 tombstoned away, 4 inserted
    assert out == {1: "a", 2: "B", 4: "d"}


def test_merge_upsert_broadcast_plan(spark, sf_dir):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.cdc import merge_upsert
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table
    from tests.test_plan_shapes import plan

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    upd = orders.limit(10)
    merged = merge_upsert(orders, upd, "o_orderkey", broadcast_updates=True)
    p = plan(merged)
    # the snapshot side must not shuffle: anti join is broadcast
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_scd2_history_intervals(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.cdc import scd2_history

    df = spark.createDataFrame(
        [(1, 10, "v1"), (1, 20, "v2"), (1, 30, "v3"), (2, 5, "x")],
        ["k", "t", "v"],
    )
    rows = {
        (r["k"], r["v"]): (r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_history(df, "k", "t").collect()
    }
    assert rows[(1, "v1")] == (10, 20, False)
    assert rows[(1, "v2")] == (20, 30, False)
    assert rows[(1, "v3")] == (30, None, True)
    assert rows[(2, "x")] == (5, None, True)


def test_point_in_time_join_versions(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.cdc import (
        point_in_time_join,
        scd2_history,
    )

    versions = spark.createDataFrame(
        [(1, 10, "v1"), (1, 20, "v2")], ["k", "t", "v"]
    )
    hist = scd2_history(versions, "k", "t")
    facts = spark.createDataFrame(
        [(1, 5, "early"), (1, 15, "mid"), (1, 20, "boundary"), (1, 99, "late")],
        ["k", "ft", "tag"],
    )
    out = {r["tag"]: r["v"] for r in point_in_time_join(facts, hist, "k", "ft").collect()}
    # before the first version -> no match; [10,20) -> v1; 20 and after -> v2
    assert out == {"mid": "v1", "boundary": "v2", "late": "v2"}
    left = point_in_time_join(facts, hist, "k", "ft", how="left")
    assert left.count() == 4  # 'early' survives with NULL version


def test_point_in_time_join_is_hash_join(spark, sf_dir):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.cdc import (
        point_in_time_join,
        scd2_history,
    )
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table
    from tests.test_plan_shapes import plan

    ev = load_table(spark, sf_dir, "events")
    hist = scd2_history(
        ev.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts"),
        "user_id", "ts", tie_break="event_id",
    )
    facts = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    p = plan(point_in_time_join(facts, hist, "user_id", "ts"))
    # key equality must drive the join; the interval predicate is a
    # residual, never a nested loop over intervals
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_funnel_stages_order_matters(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.funnel import funnel_stages

    rows = [
        # user 1 completes in order
        (1, 10, "signup"), (1, 20, "click"), (1, 30, "purchase"),
        # user 2 purchases BEFORE clicking -> stops at click
        (2, 10, "signup"), (2, 30, "click"), (2, 20, "purchase"),
        # user 3 never signs up -> counts nowhere
        (3, 10, "click"), (3, 20, "purchase"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {
        r["stage"]: r["users"]
        for r in funnel_stages(df, "user_id", "ts", "event_type",
                               ["signup", "click", "purchase"]).collect()
    }
    assert out == {"stage0_signup": 2, "stage1_click": 2, "stage2_purchase": 1}


def test_funnel_single_shuffle_plan(spark, sf_dir):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.funnel import funnel_stages
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table
    from tests.test_plan_shapes import n_key_shuffles, plan

    ev = load_table(spark, sf_dir, "events")
    q = funnel_stages(ev, "user_id", "ts", "event_type",
                      ["signup", "click", "purchase"])
    # all three chained stage-minimum windows + the per-user rollup
    # share the user_id partitioning; only the final global count adds
    # a scalar single-partition exchange
    assert n_key_shuffles(plan(q)) <= 2


def test_retention_cohorts_offsets(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.funnel import retention_cohorts
    from pyspark.sql import functions as F

    week = 7 * 24 * 3600
    rows = [(1, 0), (1, week // 2), (1, week + 5), (2, 3 * week)]
    df = spark.createDataFrame(rows, ["user_id", "secs"]).select(
        "user_id", F.timestamp_seconds("secs").alias("ts")
    )
    out = {
        (r["cohort_week"], r["week_offset"]): r["active_users"]
        for r in retention_cohorts(df, "user_id", "ts").collect()
    }
    # user 1: cohort week 0, active offsets 0 and 1; user 2: cohort 3
    assert out == {(0, 0): 1, (0, 1): 1, (3, 0): 1}


def test_mad_outliers_flags_extremes(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.aggregates import mad_outliers

    # 9 points near 10 (median 10, MAD 1) + one wild point at 1000
    vals = [8.0, 9.0, 9.0, 10.0, 10.0, 10.0, 11.0, 11.0, 12.0, 1000.0]
    df = spark.createDataFrame([("a", v) for v in vals], ["k", "v"])
    out = mad_outliers(df, "k", "v", k=3.0).collect()[0]
    assert out["record_count"] == 10
    assert out["n_outliers"] == 1
    assert out["median_value"] == 10.0
    assert out["mad_value"] == 1.0


def test_mixture_sample_property_integer_quota_rule(spark):
    """Property: for ANY positive integer weights over synthetic
    per-source corpora, kept counts follow the all-integer quota rule
    exactly, only weighted sources survive, and quotas never exceed
    availability."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.sampling import mixture_sample

    @settings(max_examples=5, deadline=None)
    @given(
        sizes=st.lists(st.integers(0, 40), min_size=3, max_size=3),
        weights=st.lists(st.integers(1, 9), min_size=3, max_size=3),
    )
    def check(sizes, weights):
        rows = [
            (s * 1000 + i, f"s{s}")
            for s, n in enumerate(sizes)
            for i in range(n)
        ] + [(9999, "unweighted")]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        w = {f"s{i}": wt for i, wt in enumerate(weights)}
        counts = {
            r["source"]: r["n"]
            for r in mixture_sample(df, "source", "doc_id", w)
            .groupBy("source")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        total_w = sum(weights)
        t_max = min(sizes[i] * total_w // weights[i] for i in range(3))
        expect = {
            f"s{i}": weights[i] * t_max // total_w
            for i in range(3)
            if weights[i] * t_max // total_w > 0
        }
        assert counts == expect
        for i in range(3):
            assert expect.get(f"s{i}", 0) <= sizes[i]

    check()


def test_mixture_sample_rejects_bad_weights(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(ValueError, match="at least one"):
        mixture_sample(df, "source", "doc_id", {})
    with pytest.raises(ValueError, match="positive"):
        mixture_sample(df, "source", "doc_id", {"a": 0})


def test_token_budget_prefix_total_over_dirty_input(spark):
    """NULL ids are excluded (no stable identity), NULL token counts
    ride along at zero cost — the operator never raises on dirty rows."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.sampling import token_budget_prefix

    rows = [(1, 10), (2, None), (None, 50), (3, 30), (4, 25)]
    df = spark.createDataFrame(rows, "id long, ntok int")
    kept = token_budget_prefix(df, "id", F.col("ntok"), budget=40)
    ids = sorted(r["id"] for r in kept.collect())
    assert None not in ids
    # the zero-cost NULL-ntok row can always fit; real rows obey the
    # hash-order prefix
    got_cost = sum(r or 0 for i, r in rows if i in ids and i is not None)
    assert got_cost <= 40


def test_token_budget_prefix_oversized_budget_keeps_all(spark, sf_dir):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.sampling import token_budget_prefix
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import token_count
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    kept = token_budget_prefix(docs, "doc_id", token_count("text"), budget=10**12)
    assert kept.count() == docs.count()


def test_assemble_corpus_deterministic_under_repartition(spark, sf_dir):
    """The whole assembly recipe is a pure function of content hashes:
    any input partitioning produces the identical final shard
    contents."""
    from etl_based_real_time_air_quality_monitoring_system_spark.plans.corpus import assemble_corpus
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    w = {"src0": 5, "src1": 3, "src2": 2}

    def run(df):
        out = assemble_corpus(df, w, token_budget=1200, n_shards=4)
        return sorted((r["doc_id"], r["shard"]) for r in out.collect())

    assert run(docs) == run(docs.repartition(17))


def test_reserved_internal_names_fail_fast(spark, tmp_path):
    """Operators that build helper columns via select('*', ...) must
    reject inputs already carrying those names instead of producing
    duplicate/ambiguous columns (ADVICE r4)."""
    import pytest
    from pyspark.sql import functions as F

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.layout import write_zordered
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.sampling import token_budget_prefix
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.writers import write_training_shards

    df = spark.range(5).select(
        F.col("id"), F.lit("x").alias("_h"), F.lit(0).alias("shard"), F.lit(1).alias("_z")
    )
    with pytest.raises(ValueError, match="token_budget_prefix.*_h"):
        token_budget_prefix(df, "id", F.lit(1), 100)
    with pytest.raises(ValueError, match="write_training_shards"):
        write_training_shards(df, str(tmp_path / "s"), "id", 2)
    with pytest.raises(ValueError, match="write_zordered"):
        write_zordered(df.select("id", "_z"), str(tmp_path / "z"), ["id"])
