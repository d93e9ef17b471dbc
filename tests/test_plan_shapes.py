"""Physical-plan regression tests (the 100 TB guarantees).

Correctness tests prove the small-SF answer; these prove the *plan* is
the one that survives a 1000-executor scale-up: filters reach the
parquet scan, dimension joins broadcast, top-k never global-sorts,
aggregations combine map-side.  A regression here is invisible at
sf0.01 and fatal at 100 TB.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from etl_based_real_time_air_quality_monitoring_system_spark.operators.joins import broadcast_join
from etl_based_real_time_air_quality_monitoring_system_spark.operators.topk import top_k
from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def n_key_shuffles(p: str) -> int:
    """Hash/range exchanges — the data-volume-bound shuffles that decide
    100 TB behavior.  Round-robin exchanges (balance.spread_small_input
    on provably-small inputs) are deliberately not counted: they are a
    bounded compute-rebalance, not a fact-table shuffle, and vanish on
    any input big enough to scan in parallel."""
    import re

    # formatted mode puts the partitioning on the Exchange block's
    # "Arguments:" line, e.g. "Arguments: hashpartitioning(k#1, 32), ..."
    return len(
        re.findall(
            r"Arguments: (?:hashpartitioning|rangepartitioning|SinglePartition)", p
        )
    )


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    q = events.filter(F.col("value") > 200).select("event_id", "value")
    p = plan(q)
    assert "PushedFilters: [IsNotNull(value), GreaterThan(value,200.0)]" in p
    # column pruning: scan only reads the two projected columns
    assert "ReadSchema: struct<event_id:bigint,value:double>" in p


def test_dimension_join_broadcasts(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    j = broadcast_join(orders, customer, orders.o_custkey == customer.c_custkey)
    p = plan(j)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_top_k_uses_take_ordered(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    q = top_k(orders, ["o_totalprice"], 50, tie_break="o_orderkey")
    p = plan(q)
    assert "TakeOrderedAndProject" in p
    # no global Sort+Exchange materializes
    assert "Exchange rangepartitioning" not in p


def test_aggregation_is_partial_final(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    p = plan(q)
    # partial (map-side) + final HashAggregate around one exchange
    assert "partial_sum" in p
    assert p.count("HashAggregate") >= 2
    assert "hashpartitioning" in p


def test_semi_join_stays_semi(spark, sf_dir):
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    q = customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
    assert "LeftSemi" in plan(q)


def test_flagship_whole_stage_codegen(spark, sf_dir):
    q = entrymod.queries()["flagship"](spark, sf_dir)
    # AQE hides codegen until stages actually run; execute, then check
    # the final plan's `*(n)` whole-stage-codegen markers
    q.collect()
    executed = q._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    assert "*(" in executed, "no WholeStageCodegen stage in flagship plan"
    # no Python evaluation anywhere in the reference-parity path
    p = plan(q)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_no_python_in_any_oracle_query(spark, sf_dir):
    # every oracle-covered query must be 100% JVM (UDFs are the slow
    # path; the whole reference surface needs none)
    for name, fn in entrymod.queries().items():
        p = plan(fn(spark, sf_dir))
        assert "BatchEvalPython" not in p, f"{name} fell back to Python UDF"


def test_lineitem_scan_prunes_columns(spark, sf_dir):
    q = entrymod.queries()["grouped_stats"](spark, sf_dir)
    p = plan(q)
    assert "ReadSchema: struct<l_quantity:double,l_returnflag:string>" in p


def test_asof_join_is_single_shuffle_window(spark, sf_dir):
    # the as-of composition must plan as ONE key-shuffle + Window —
    # never a nested-loop / cartesian on the time condition
    q = entrymod.queries()["asof_purchase_attribution"](spark, sf_dir)
    p = plan(q)
    assert "Window" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # exchanges: union side hash-partitions once on the key (plus the
    # click-dedup window's); no join-driven exchange at all
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p


def test_range_join_broadcasts_interval_side(spark, sf_dir):
    q = entrymod.queries()["range_band_join"](spark, sf_dir)
    p = plan(q)
    # non-equi condition + tiny interval dim -> BroadcastNestedLoopJoin
    # (linear in the fact side), never a cartesian shuffle
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_ivf_topk_no_shuffle(spark, sf_dir):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == 0).head()
    q = ivf_topk(emb, "vec_id", "embedding", [float(x) for x in row["embedding"]],
                 k=10, n_centroids=4, n_probe=2)
    p = plan(q)
    # scan -> assign (JVM exprs) -> filter -> TakeOrderedAndProject:
    # the only exchange is the single-partition gather for the top-k
    assert "TakeOrderedAndProject" in p
    assert "hashpartitioning" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_sessionize_single_shuffle(spark, sf_dir):
    q = entrymod.queries()["user_sessions"](spark, sf_dir)
    p = plan(q)
    # both windows + both aggregations share the user_id partitioning:
    # exactly one exchange in the whole plan
    n_exchanges = n_key_shuffles(p)
    assert n_exchanges == 1, f"expected 1 shuffle, got {n_exchanges}:\n{p[:2000]}"


def test_tpch_q3_broadcasts_dim_and_pushes_filters(spark, sf_dir):
    q = entrymod.queries()["tpch_q3"](spark, sf_dir)
    p = plan(q)
    # customer dim broadcast; date filters pushed to the parquet scans
    assert "BroadcastHashJoin" in p
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in p
    assert "TakeOrderedAndProject" in p


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Both sides bucketed on the join key -> sort-merge join with ZERO
    exchange: the co-located fact×fact join that makes 100 TB joins
    pay their shuffle once, at write time."""
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.writers import write_bucketed_table

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    write_bucketed_table(
        orders.select("o_orderkey", "o_totalprice"), "b_orders",
        ("o_orderkey",), num_buckets=4, sort_cols=("o_orderkey",),
        path=str(tmp_path / "b_orders"),
    )
    write_bucketed_table(
        li.select("l_orderkey", "l_quantity"), "b_lineitem",
        ("l_orderkey",), num_buckets=4, sort_cols=("l_orderkey",),
        path=str(tmp_path / "b_lineitem"),
    )
    try:
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
            p = plan(j)
            assert "SortMergeJoin" in p
            assert "Exchange" not in p, f"bucketed join shuffled:\n{p[:2000]}"
            assert j.count() == li.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_aggregation_has_no_exchange(spark, sf_dir, tmp_path):
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.writers import write_bucketed_table

    li = load_table(spark, sf_dir, "lineitem")
    write_bucketed_table(
        li.select("l_orderkey", "l_quantity"), "b_li_agg",
        ("l_orderkey",), num_buckets=4,
        path=str(tmp_path / "b_li_agg"),
    )
    try:
        q = spark.table("b_li_agg").groupBy("l_orderkey").agg(F.sum("l_quantity"))
        p = plan(q)
        assert "Exchange" not in p, f"bucketed agg shuffled:\n{p[:2000]}"
    finally:
        spark.sql("DROP TABLE IF EXISTS b_li_agg")


def test_tpch_q6_is_scan_bound(spark, sf_dir):
    """Q6: every predicate pushes to the parquet scan; the plan is
    scan -> filter -> partial/final agg with a single 1-row exchange."""
    q = entrymod.queries()["tpch_q6"](spark, sf_dir)
    p = plan(q)
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "GreaterThanOrEqual(l_discount,0.05)" in p
    assert "LessThan(l_quantity,24.0)" in p
    assert p.count("HashAggregate") >= 2
    assert "hashpartitioning" not in p  # only the SinglePartition gather


def test_corpus_pipeline_two_shuffles_no_python(spark, sf_dir):
    """The composed dedup->filter->report pipeline: one wide exchange
    (fingerprint hash) + one narrow agg exchange, all JVM expressions."""
    q = entrymod.queries()["corpus_pipeline"](spark, sf_dir)
    p = plan(q)
    n_exchanges = n_key_shuffles(p)
    assert n_exchanges == 2, f"expected 2 shuffles, got {n_exchanges}"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def _n_shuffles(p: str) -> int:
    # hash/range exchanges only — see n_key_shuffles
    return n_key_shuffles(p)


def test_nn_label_confusion_windowgrouplimit_and_two_shuffles(spark, sf_dir):
    """1-NN confusion, distributed window formulation (the over-bound
    fallback): the per-query argmax must compile with a map-side
    WindowGroupLimit (only rank-1 candidates per partition reach the
    exchange — at n^2 candidate volume that pre-shuffle cut is the
    difference between shuffling n rows and n^2 rows), the corpus side
    broadcasts, and the only key shuffles are the argmax window + the
    tiny confusion rollup."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        nn_label_confusion,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = nn_label_confusion(emb, "vec_id", "embedding", "label", gemm=False)
    p = plan(q)
    assert "WindowGroupLimit" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert n_key_shuffles(p) == 2, f"expected 2 key shuffles: {n_key_shuffles(p)}"
    assert "BatchEvalPython" not in p  # all-JVM: fold dot, no Python


def test_nn_label_confusion_gemm_one_shuffle(spark, sf_dir):
    """1-NN confusion GEMM fast path (the gate query's plan): Arrow
    seam + the single confusion-rollup shuffle — no n^2 pair volume
    ever leaves a task."""
    q = entrymod.queries()["nn_label_confusion"](spark, sf_dir)
    p = plan(q)
    assert "MapInPandas" in p
    assert n_key_shuffles(p) == 1, f"expected 1 key shuffle: {n_key_shuffles(p)}"


def test_stratified_quota_sample_windowgrouplimit(spark, sf_dir):
    """Exact-quota sampling: the per-stratum hash rank must compile
    with a map-side WindowGroupLimit so only ~quota rows per stratum
    per partition reach the exchange — at 100 TB the shuffle carries
    O(strata x quota), not the corpus."""
    q = entrymod.queries()["stratified_quota_sample"](spark, sf_dir)
    p = plan(q)
    assert "WindowGroupLimit" in p
    assert "BatchEvalPython" not in p


def test_token_budget_prefix_no_global_window(spark, sf_dir):
    """The running token sum must be a PER-BUCKET window (hash
    partitioning on the coarse bucket) with a broadcast offset join —
    never the single-partition global window a naive
    `sum() OVER (ORDER BY hash)` plans, which dies first at 100 TB."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.sampling import token_budget_prefix
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    q = token_budget_prefix(docs, "doc_id", token_count("text"), budget=2000)
    p = plan(q)
    assert "SinglePartition" not in p, f"global window sneaked in: {p}"
    assert "hashpartitioning(_b" in p
    assert "BroadcastHashJoin" in p  # the 256-row offset table
    assert "BatchEvalPython" not in p


def test_multimodal_decode_no_shuffle(spark, sf_dir):
    """Header decode is embarrassingly parallel: the mapInPandas seam
    must follow the input partitioning — no exchange anywhere."""
    q = entrymod.queries()["multimodal_decode"](spark, sf_dir)
    p = plan(q)
    assert "MapInPandas" in p
    assert n_key_shuffles(p) == 0, f"decode plan shuffles: {p}"


def test_tpch_q14_single_agg_pass_broadcast_part(spark, sf_dir):
    """Q14: month predicate pushes to the lineitem scan, part
    broadcasts, and BOTH conditional sums ride one partial+final
    aggregation (a single 1-row gather, no key shuffle)."""
    q = entrymod.queries()["tpch_q14"](spark, sf_dir)
    p = plan(q)
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert p.count("HashAggregate") >= 2
    assert "hashpartitioning" not in p  # only the SinglePartition gather


def test_tpch_q18_single_fact_shuffle(spark, sf_dir):
    # the HAVING-filtered self-agg shuffles lineitem ONCE; both join
    # sides broadcast — no sort-merge join materializes anywhere
    q = entrymod.queries()["tpch_q18"](spark, sf_dir)
    p = plan(q)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert _n_shuffles(p) == 1
    assert "TakeOrderedAndProject" in p  # top-100 never global-sorts


def test_window_frames_single_shuffle(spark, sf_dir):
    # ROWS / RANGE frame windows: one hash shuffle on the partition
    # key, one Window operator, no global (rangepartitioned) sort
    for name in ("moving_sum_user_value", "trailing_hour_count"):
        q = entrymod.queries()[name](spark, sf_dir)
        p = plan(q)
        assert _n_shuffles(p) == 1, name
        assert "rangepartitioning" not in p, name
        assert "Window" in p, name


def test_grouping_sets_one_expand_one_shuffle(spark, sf_dir):
    # GROUPING SETS expands inside a single aggregation: one Expand,
    # one shuffle, partial+final HashAggregate (not one scan per set)
    q = entrymod.queries()["grouping_sets_qty"](spark, sf_dir)
    p = plan(q)
    assert "Expand" in p
    assert _n_shuffles(p) == 1
    assert p.count("(1) Scan parquet") == 1 and "(2) Scan parquet" not in p


def test_sliding_window_no_self_join(spark, sf_dir):
    # F.window with slide expands window assignment inline — the plan
    # must not contain any join, and aggregates partial+final
    q = entrymod.queries()["sliding_window_counts"](spark, sf_dir)
    p = plan(q)
    assert "Join" not in p
    assert _n_shuffles(p) == 1
    assert "partial_count" in p  # map-side combine before the shuffle


def test_session_window_single_pass(spark, sf_dir):
    # native session_window: ONE shuffle + MergingSessions aggregation,
    # not the two-window composition
    q = entrymod.queries()["session_window_stats"](spark, sf_dir)
    p = plan(q)
    assert _n_shuffles(p) == 1
    assert "rangepartitioning" not in p


def test_correlated_subquery_decorrelates(spark, sf_dir):
    # Catalyst must rewrite the correlated scalar subquery into an
    # aggregate + join — a per-row subquery re-execution would be
    # invisible at sf0.01 and fatal at scale
    q = entrymod.queries()["above_avg_customers"](spark, sf_dir)
    p = plan(q)
    assert "Join" in p
    assert "HashAggregate" in p


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """The S10 write scheme must actually prune at read: a predicate on
    the partition column becomes a PartitionFilter (directory skip),
    never a row filter over the full scan."""
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.writers import write_partitioned_parquet

    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_by_type")
    write_partitioned_parquet(events, out, partition_cols=("event_type",))
    q = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    p = plan(q)
    assert "PartitionFilters: [isnotnull(event_type" in p
    # the predicate must NOT degrade to a data filter (the line is
    # either absent entirely or printed empty)
    assert "PushedFilters: []" in p or "PushedFilters" not in p
    n_match = events.filter(F.col("event_type") == "purchase").count()
    assert q.count() == n_match


def last_executed_plan(spark) -> str:
    """Formatted AQE-final physical plan of the session's latest SQL
    execution — the only place a ``df.write`` plan is visible."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).physicalPlanDescription()


def executed_exchange_args(p: str) -> list[str]:
    """``Arguments:`` line of every Exchange in the executed (AQE
    current) part of a formatted plan, leaving out the initial plan."""
    import re

    tree = p.split("== Initial Plan ==")[0]
    ids = re.findall(r"Exchange \((\d+)\)", tree)
    return [
        re.search(rf"\({i}\) Exchange\n.*\nArguments: (.*)", p).group(1)
        for i in ids
    ]


def test_partitioned_write_one_rebalance_exchange(spark, sf_dir, tmp_path):
    """The S10 sink runs exactly ONE shuffle: a rebalance keyed on the
    partition columns (one file per directory at small scale, AQE skew
    splitting at 100 TB).  ``sort_cols`` sorts inside the write tasks
    and adds no second exchange; an unpartitioned write shuffles
    nothing."""
    import re

    from etl_based_real_time_air_quality_monitoring_system_spark.sources.writers import write_partitioned_parquet

    events = load_table(spark, sf_dir, "events")
    for sort_cols in ((), ("ts",)):
        write_partitioned_parquet(
            events,
            str(tmp_path / f"by_type{len(sort_cols)}"),
            partition_cols=("event_type",),
            sort_cols=sort_cols,
        )
        args = executed_exchange_args(last_executed_plan(spark))
        assert len(args) == 1, args
        assert re.match(
            r"hashpartitioning\(event_type#\d+, \d+\), REBALANCE_PARTITIONS_BY_COL",
            args[0],
        ), args
    write_partitioned_parquet(events, str(tmp_path / "flat"), partition_cols=())
    assert executed_exchange_args(last_executed_plan(spark)) == []


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    # 100 TB semi-join reduction: when a selective dim side feeds a
    # shuffle join, Spark can build a bloom filter from the dim keys
    # and apply might_contain() on the fact side BEFORE the shuffle —
    # rows that can't match never leave the scan stage.  The size
    # thresholds (app side >= 10 GB by default) make this a no-op at
    # test SFs, so pin the mechanism with the threshold lowered.
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1B",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = load_table(spark, sf_dir, "lineitem")
        dim = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        q = (
            fact.join(dim, fact.l_orderkey == dim.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        p = plan(q)
        assert "might_contain" in p, "bloom filter not injected on fact side"
        assert "bloom_filter_agg" in p, "bloom filter build side missing"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ----------------------------------------------- round-3 session-2 ops

def test_equi_depth_bins_data_window_is_partitioned(spark, sf_dir):
    # the exact-ntile path must NOT put the DATA through a
    # single-partition global window (what a naive ntile() OVER
    # (ORDER BY ...) plans): the row-level window is keyed on the
    # coarse bucket.  SinglePartition exchanges are allowed ONLY for
    # the histogram-sized side (prefix-sum window + totals agg over
    # ≤ #coarse-keys rows) — exactly two of them.
    q = entrymod.queries()["equi_depth_bins"](spark, sf_dir)
    p = plan(q)
    assert "hashpartitioning(_ck" in p, "row-level window lost its key"
    assert p.count("Arguments: SinglePartition") <= 2
    assert "rangepartitioning" not in p


def test_key_skew_report_take_ordered(spark, sf_dir):
    q = entrymod.queries()["key_skew_report"](spark, sf_dir)
    p = plan(q)
    assert "TakeOrderedAndProject" in p
    # the totals broadcast back as a one-row BNLJ/broadcast, never a
    # second full shuffle of the counts
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_gopher_quality_is_narrow(spark, sf_dir):
    # pure per-row projection: no shuffle at all, no Python
    q = entrymod.queries()["gopher_quality"](spark, sf_dir)
    p = plan(q)
    assert n_key_shuffles(p) == 0
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_token_cooccurrence_single_pass_no_join(spark, sf_dir):
    # single-evaluation shape: df-cut via a token-keyed count window,
    # pair expansion IN-ARRAY (no self-join re-running the tokenizer),
    # top-N as TakeOrdered (no global sort)
    q = entrymod.queries()["token_cooccurrence"](spark, sf_dir)
    p = plan(q)
    assert "Join" not in p
    assert "hashpartitioning(tok" in p
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p


def test_path_trigrams_single_user_shuffle_plus_agg(spark, sf_dir):
    # both lead windows share ONE user-keyed exchange; the trigram
    # wordcount adds one more; top-N is TakeOrdered, not a sort
    q = entrymod.queries()["path_trigrams"](spark, sf_dir)
    p = plan(q)
    assert p.count("Arguments: hashpartitioning(user_id") == 1
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p


def test_passage_dedup_no_python(spark, sf_dir):
    q = entrymod.queries()["passage_dedup"](spark, sf_dir)
    p = plan(q)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_pps_sample_no_global_window_no_python(spark, sf_dir):
    """The PPS selection must keep the two-phase bucket shape — a
    SinglePartition window over the whole corpus is the plan that
    dies first at 100 TB."""
    q = entrymod.queries()["pps_sample"](spark, sf_dir)
    p = plan(q)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "SinglePartition" not in p, "global window leaked into PPS plan"


def test_retrieval_ndcg_broadcast_no_python(spark, sf_dir):
    """NDCG eval: query set and label frequencies broadcast, scoring
    stays a JVM projection — no Python, no shuffled cartesian."""
    q = entrymod.queries()["retrieval_ndcg"](spark, sf_dir)
    p = plan(q)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_substring_dup_spans_no_python_no_cartesian(spark, sf_dir):
    """ExactSubstr coverage: pure JVM expressions (tokenize/slide/md5
    in-scan), hash-keyed shuffles only — never a pair-expansion
    cartesian and never a Python eval."""
    q = entrymod.queries()["substring_dup_spans"](spark, sf_dir)
    p = plan(q)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_target_affinity_broadcast_weights_no_python(spark, sf_dir):
    """DSIR-style affinity: the per-bucket weight table broadcast-joins
    back to the corpus features — a shuffled (sort-merge) weight join
    means the tiny side lost its broadcast and the corpus pays a full
    exchange at 100 TB.  Pure JVM throughout."""
    q = entrymod.queries()["target_affinity"](spark, sf_dir)
    p = plan(q)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p, "weight table must broadcast"
    assert "CartesianProduct" not in p


def test_source_overlap_no_python_no_cartesian(spark, sf_dir):
    """Source-overlap matrix: passage-hash postings shuffle, per-hash
    source sets (schema-level cardinality), pair fan-out into a tiny
    aggregate — never a corpus self-join."""
    q = entrymod.queries()["source_overlap"](spark, sf_dir)
    p = plan(q)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_semantic_dedup_cluster_equi_join_no_python(spark, sf_dir):
    """SemDeDup: centroid assignment is an in-scan JVM argmax (the
    centroids are literals, not a joined side), and the only pairwise
    work is the within-cluster equi-join — a cartesian pair expansion
    is the plan that dies at 100 TB."""
    q = entrymod.queries()["semantic_dedup"](spark, sf_dir)
    p = plan(q)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_hourly_ohlc_single_aggregate_no_window(spark, sf_dir):
    """OHLC bars must compile to ONE partial+final hash aggregate —
    struct min/max, never a per-bucket Window (whose sort would
    dominate at 100 TB)."""
    q = entrymod.queries()["hourly_ohlc"](spark, sf_dir)
    p = plan(q)
    assert "Window" not in p
    assert n_key_shuffles(p) == 1, f"expected exactly 1 shuffle: {n_key_shuffles(p)}"
    assert "BatchEvalPython" not in p


def test_embedding_gram_arrow_seam_one_shuffle(spark, sf_dir):
    """The Gram pass: one Arrow partial-GEMM seam, then ONE shuffle
    carrying (i, j, partial) rows bounded by partitions x d^2/2 —
    the corpus itself never exchanges."""
    q = entrymod.queries()["embedding_gram"](spark, sf_dir)
    p = plan(q)
    assert "MapInPandas" in p
    assert n_key_shuffles(p) == 1, f"expected 1 shuffle: {n_key_shuffles(p)}"


def test_zorder_value_pure_jvm(spark, sf_dir):
    """The z-value is integer expressions only — no Python anywhere,
    and computing it adds no exchange to a narrow projection."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.layout import zorder_value

    events = load_table(spark, sf_dir, "events")
    q = events.select(zorder_value(events, ["user_id", "value"], bits=12).alias("z"))
    p = plan(q)
    assert "EvalPython" not in p  # neither Batch nor Arrow
    assert n_key_shuffles(p) == 0


def test_version_guarded_merge_never_shuffles_snapshot(spark, sf_dir, tmp_path):
    """The CDC merge's scale claim, plan-pinned: with a dimension-sized
    update batch, BOTH joins against the snapshot broadcast the batch
    side — no hash/range exchange of the snapshot anywhere."""
    from etl_based_real_time_air_quality_monitoring_system_spark.streaming.pipeline import (
        version_guarded_merge,
    )

    snap_path = str(tmp_path / "snap")
    load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), F.col("event_id").alias("version"), "value"
    ).write.parquet(snap_path)
    base = spark.read.parquet(snap_path)
    compact = spark.createDataFrame(
        [(1, 10**12, 1.0), (2, 0, 2.0)], "k long, version long, value double"
    )
    p = plan(version_guarded_merge(base, compact, "k", "version"))
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p
    assert n_key_shuffles(p) == 0, f"snapshot shuffled:\n{p[:1500]}"


def test_pq_codes_zero_shuffle_no_python(spark, sf_dir):
    """PQ encode is an in-scan expression against broadcast codebook
    LITERALS: zero data-volume shuffles (the codes column streams out
    of the scan), no Python, no join — the shape that lets a 100 TB
    corpus be quantized in one pass and stored as an m-byte column."""
    q = entrymod.queries()["pq_codes"](spark, sf_dir)
    p = plan(q)
    assert n_key_shuffles(p) == 0, f"expected 0 shuffles: {n_key_shuffles(p)}"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p


def test_pq_adc_knn_single_window_shuffle_no_python(spark, sf_dir):
    """Batched ADC top-k: encode + all query LUT distances evaluate
    in the SAME scan; the only exchange is the per-query window rank
    over (qid, id, dist) triples.  No cartesian, no Python, and no
    second scan per query."""
    q = entrymod.queries()["pq_topk_adc"](spark, sf_dir)
    p = plan(q)
    assert n_key_shuffles(p) == 1, f"expected 1 shuffle: {n_key_shuffles(p)}"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p and "Join" not in p


def test_bigram_lm_no_python_no_cartesian(spark, sf_dir):
    """CCNet LM screen: count tables are vocabulary-sized equi-join
    sides (never a cartesian pair expansion), the 1-row vocab total is
    a broadcast, and everything stays JVM-side."""
    q = entrymod.queries()["bigram_lm"](spark, sf_dir)
    p = plan(q)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_ivfpq_topk_single_window_shuffle_no_join_no_python(spark, sf_dir):
    """IVF-PQ search: coarse assign, residual, encode and every
    query's CASE-on-cluster LUT distance all evaluate in the SAME
    scan (centroids and LUTs are literals, never a joined side); the
    only exchange is the per-query window rank.  With the index
    stored partitioned by cluster_id the probe filter becomes
    partition pruning."""
    q = entrymod.queries()["ivfpq_topk"](spark, sf_dir)
    p = plan(q)
    assert n_key_shuffles(p) == 1, f"expected 1 shuffle: {n_key_shuffles(p)}"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p and "Join" not in p


def test_ivfpq_stored_index_prunes_partitions_and_compiles(spark, sf_dir, tmp_path):
    """The stored-index IVF-PQ shape (the production plan the r6
    codegen note documents): the probe filter on the cluster-
    partitioned index is a PartitionFilter (directory skip, never a
    row filter), the scan reads codes instead of embeddings, and —
    with the in-scan encode gone — the generated stage COMPILES at
    the full 16-query gate size: spark.sql.codegen.fallback=false
    would throw on janino's 64 KB overflow, so a clean run pins
    'no fallback'."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        ivfpq_adc_knn_stored,
        ivfpq_codebooks,
        ivfpq_write_index,
        nn_confusion_over_candidates,
    )

    emb = entrymod._pq_micros_emb(spark, sf_dir)
    coarse, cb = ivfpq_codebooks(
        emb, "vec_id", "embedding", n_coarse=8, n_subspaces=8, n_codes=16
    )
    rows = emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    queries = [(int(r["vec_id"]), list(r["embedding"])) for r in rows]
    path = str(tmp_path / "idx")
    ivfpq_write_index(emb, "vec_id", "embedding", coarse, cb, path)
    cand = ivfpq_adc_knn_stored(
        spark, path, queries, coarse, cb, id_col="vec_id", k=2, n_probe=4
    )
    p = plan(cand)
    assert "PartitionFilters: [cluster_id" in p
    assert "embedding" not in p  # codes only — embeddings never rescanned
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    conf = nn_confusion_over_candidates(cand, labels, "vec_id", "label")
    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        assert conf.count() > 0
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)


def test_ivfpq_inscan_encode_compiles_no_fallback(spark, sf_dir):
    """r12: the IN-SCAN IVF-PQ shape (coarse assign + residual PQ
    encode + 16 queries x 4-probe ADC LUTs fused in one stage) now
    COMPILES — the r11 code generated O(table-size) unrolled
    multiply chains that blew janino's hard 64 KB method limit, so
    every action re-attempted a doomed compile (~1.5 s each; failed
    compiles are never cached) and ran the stage interpreted.  The
    compact constant-folded-literal + transform/zip_with/aggregate
    fold forms (pq_encode, _l2_assign_expr, _lut_dist_expr) keep
    generated code O(1) in codebook/LUT size.  fallback=false makes
    any 64 KB overflow throw instead of silently interpreting, so a
    clean run pins 'compiles at full gate size'."""
    q = entrymod.queries()["nn_confusion_ivfpq"](spark, sf_dir)
    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        assert q.count() > 0
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)


def test_quality_classifier_single_scan_no_exchange(spark, sf_dir):
    """The classifier is a pure map: 0 exchanges, no Python nodes,
    filter pushdown intact, and the literal weight array constant-
    folds (no per-row array construction)."""
    q = entrymod.queries()["quality_classifier"](spark, sf_dir)
    p = plan(q)
    assert n_key_shuffles(p) == 0
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_blocklist_filter_dataframe_form_broadcast_anti_join(spark):
    """A DataFrame blocklist must compile to a BROADCAST left-anti
    join (never a shuffled join: the blocklist is small by contract,
    the corpus is not)."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.web import blocklist_filter

    docs = spark.createDataFrame(
        [(1, "https://a.evil.com/x"), (2, "https://ok.org/y")],
        ["doc_id", "url"],
    )
    bl = spark.createDataFrame([("evil.com",)], ["domain"])
    p = plan(blocklist_filter(docs, bl))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_blocklist_filter_df_gate_broadcast_anti_join(spark, sf_dir):
    """The GATE query for the DataFrame-blocklist form must keep the
    broadcast left-anti shape over the real documents scan (one
    corpus-side shuffle-free screen), with no Python nodes."""
    q = entrymod.queries()["blocklist_filter_df"](spark, sf_dir)
    p = plan(q)
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_domain_capped_sample_windowgrouplimit(spark, sf_dir):
    """Per-domain cap enforcement: the literal rank bound must
    compile the map-side WindowGroupLimit (only ~cap rows per domain
    per input partition reach the exchange — at 100 TB the shuffle
    carries O(domains x cap), not the corpus), one key shuffle, no
    Python nodes."""
    q = entrymod.queries()["domain_capped_sample"](spark, sf_dir)
    p = plan(q)
    assert "WindowGroupLimit" in p
    assert n_key_shuffles(p) == 1, f"expected 1 key shuffle: {n_key_shuffles(p)}"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bm25_search_broadcast_and_windowgrouplimit(spark, sf_dir):
    """BM25 retrieval: query vocabulary / doc-frequency / corpus
    stats must all join BROADCAST (no SortMergeJoin anywhere — the
    corpus side never re-shuffles for dimension-sized tables), and
    the literal top-k bound must compile the map-side
    WindowGroupLimit so at most k rows per partition per query reach
    the final (query-count-sized) exchange.  No Python nodes."""
    q = entrymod.queries()["bm25_search"](spark, sf_dir)
    p = plan(q)
    assert "BroadcastHashJoin" in p
    assert "WindowGroupLimit" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_line_dedup_partial_agg_no_python(spark, sf_dir):
    """Line dedup: the line-stats aggregation must be partial+final
    (a boilerplate line repeated N times arrives at its reducer as
    one row per upstream partition, not N rows), the shuffled stats
    key is the 16-byte md5 (never line text alone), and no Python
    nodes anywhere."""
    q = entrymod.queries()["line_dedup"](spark, sf_dir)
    p = plan(q)
    assert p.count("HashAggregate") >= 2          # partial + final
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_substring_rewrite_single_gram_shuffle_no_python(spark, sf_dir):
    """ExactSubstr rewrite: count + keeper must ride exactly ONE
    Window operator over the gram-hash partition (two same-spec
    windows = two passes over every partition; CollapseWindow only
    fuses them when nothing projects between), the key-shuffle
    budget is exactly 3 (gram-hash window, distinct cut set, per-doc
    rebuild), and no Python nodes anywhere."""
    q = entrymod.queries()["substring_rewrite"](spark, sf_dir)
    p = plan(q)
    assert p.count(") Window") == 1, p.count(") Window")
    assert n_key_shuffles(p) == 3, f"expected 3 key shuffles: {n_key_shuffles(p)}"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_lang_id_joined_gate_one_broadcast_lut_join(spark, sf_dir):
    """The production (broadcast-LUT) branch of lang_id: ONE broadcast
    join against the wide weight table (never K per-language joins),
    ONE map-side-combinable groupBy carrying (id, K sums), no sort-
    merge join, no Python."""
    q = entrymod._q_lang_id_joined(spark, sf_dir)
    p = plan(q)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # exactly one key shuffle: the (id, n_feats) aggregation — the
    # LUT join itself moves no corpus rows
    assert n_key_shuffles(p) == 1
    assert "partial_sum" in p  # map-side combine before the exchange
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_normalize_text_gate_pure_map(spark, sf_dir):
    """normalize_text is a single in-scan expression chain: zero
    shuffles of any kind, no Python, and the text-not-null filter
    pushed into the parquet scan."""
    q = entrymod._q_normalize_text(spark, sf_dir)
    p = plan(q)
    assert n_key_shuffles(p) == 0
    assert "PushedFilters: [IsNotNull(text)]" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_dynamic_partition_pruning_through_join(spark, sf_dir, tmp_path):
    """Dynamic partition pruning — the third 100 TB scan-reduction
    lever after static PartitionFilters and runtime bloom filters: a
    selective filter on the DIM side of a join must prune the
    partitioned FACT side's directories at runtime (a
    dynamicpruningexpression subquery inside PartitionFilters), so
    unmatched partitions are never even listed, let alone scanned."""
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.writers import write_partitioned_parquet

    events = load_table(spark, sf_dir, "events")
    write_partitioned_parquet(
        events, str(tmp_path / "fact"), partition_cols=("event_type",)
    )
    # the dim must be a SEPARATE relation with a selective filter on a
    # NON-join column — a filter on the join key itself is statically
    # pushable and never becomes a DPP subquery
    events.select("event_type").distinct().withColumn(
        "flag", F.length("event_type")
    ).write.parquet(str(tmp_path / "dim"))
    fact = spark.read.parquet(str(tmp_path / "fact"))
    dim = spark.read.parquet(str(tmp_path / "dim")).filter(
        F.col("flag") == F.lit(len("purchase"))
    )
    q = fact.join(dim, "event_type").select("event_id", "value")
    p = plan(q)
    assert "dynamicpruningexpression" in p.lower(), p[:2000]
    n = q.count()
    expect = events.filter(
        F.length("event_type") == F.lit(len("purchase"))
    ).count()
    assert n == expect


def test_outer_generate_lint_flags_and_clears(spark):
    """`tools/plan_report.outer_generate_risks` — the structural form
    of the explode_outer+isNotNull precondition: a nullable-element
    explode_outer with an isNotNull filter on the generated attribute
    is FLAGGED; certifying the producer with array_compact (elements
    become containsNull=false) clears it; and an outer generate kept
    deliberately un-filtered (placeholder-preserving) is never
    flagged."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "tools")
    )
    from plan_report import outer_generate_risks

    df = spark.createDataFrame(
        [(1, "a b"), (2, "")], ["doc_id", "text"]
    ).select(
        "doc_id",
        # split never yields NULL elements, but the TYPE cannot show
        # that after a when/otherwise against a nullable literal —
        # force containsNull=true the way real producers do
        F.when(
            F.length("text") > 0, F.split("text", " ")
        ).otherwise(F.array(F.lit(None).cast("string"))).alias("toks"),
    )
    risky = df.select(
        "doc_id", F.explode_outer("toks").alias("tok")
    ).filter(F.col("tok").isNotNull())
    assert len(outer_generate_risks(risky)) == 1

    certified = df.select(
        "doc_id",
        F.explode_outer(F.array_compact("toks")).alias("tok"),
    ).filter(F.col("tok").isNotNull())
    assert outer_generate_risks(certified) == []

    unfiltered = df.select(
        "doc_id", F.explode_outer("toks").alias("tok")
    )
    assert outer_generate_risks(unfiltered) == []


def test_aqe_skew_join_split_fires_and_its_limit(spark):
    """Both halves of the skew story `operators/joins.py` claims
    (salted_join docstring: AQE's skew-join splitting handles most
    skew at runtime; explicit salting is for the cases AQE can't
    fix), pinned on the executed adaptive plan with thresholds scaled
    to test data: (1) a skewed sort-merge join with a free output
    partitioning IS split at runtime — SortMergeJoin(skew=true) with
    a 'skewed' AQEShuffleRead; (2) the SAME join feeding a
    same-key aggregate is NOT split (splitting would break the
    required hash distribution the aggregate reuses) — the case
    where explicit salting remains the only fix."""
    conf = spark.conf
    keys = [
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    old = {}
    for k in keys:
        try:
            old[k] = conf.get(k)
        except Exception:
            old[k] = None
    try:
        conf.set(keys[0], "64KB")
        conf.set(keys[1], "32KB")
        conf.set(keys[2], "2")
        conf.set(keys[3], "-1")  # force SMJ — skew split needs one

        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(1))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("x" * 50), F.col("id").cast("string")).alias(
                "payload"
            ),
        )
        right = spark.range(0, 2_000).select(
            F.col("id").alias("k"), F.lit("r").alias("tag")
        )

        free = left.join(right, "k").select(
            F.length("payload").alias("lp")
        )
        assert len(free.collect()) == 180_200
        p = free._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in p
        assert "SortMergeJoin(skew=true)" in p, p[:1500]
        assert "skewed" in p  # the AQEShuffleRead split marker

        reused = (
            left.join(right, "k")
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert len(reused.collect()) == 201
        p2 = reused._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in p2
        assert "SortMergeJoin(skew=true)" not in p2, p2[:1500]
    finally:
        for k, v in old.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
