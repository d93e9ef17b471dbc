"""Dedup family: planted near-duplicates must be found by each method.

The driver's synthetic documents rarely contain true near-dups, so the
oracle gate only proves engine/SQL agreement there; these tests plant
known duplicates and assert the *semantics* (recall on planted pairs,
precision against unrelated docs).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import (
    exact_text_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
    word_shingles,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the tall green tree near the old stone wall by the river"
)


@pytest.fixture(scope="module")
def planted(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("lazy", "sleepy")),  # near dup of 0
        (3, "completely different words about spark catalyst optimizer plans"),
        (4, "another unrelated document mentioning parquet files and shuffles"),
        (5, BASE.replace("river", "lake").replace("quick", "swift")),  # near dup
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_word_shingles_count(spark):
    df = spark.createDataFrame([("a b c d e",), ("a b",)], ["text"])
    sizes = df.select(F.size(word_shingles("text", 3)).alias("n")).collect()
    assert [r["n"] for r in sizes] == [3, 0]


def test_exact_text_dedup_finds_exact_pair(planted):
    out = exact_text_dedup(planted, "doc_id", "text")
    dup_groups = {r["survivor_id"]: r["dup_count"] for r in out.collect()}
    assert dup_groups[0] == 2  # docs 0 and 1 collapse, min id survives
    assert out.count() == 5


def test_ngram_jaccard_finds_near_dups(planted):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(planted, "doc_id", "text", threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5
    assert (0, 5) in pairs
    assert all(3 not in p and 4 not in p for p in pairs)


def test_ngram_jaccard_frequency_cap(planted):
    # df-cut removes shingles shared by >3 docs (those shared by all of
    # 0/1/2/5); the exact pair survives on its rarer shingles
    out = ngram_jaccard_pairs(
        planted, "doc_id", "text", threshold=0.3, max_shingle_docs=3
    )
    got = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert (0, 1) in got


def test_minhash_lsh_recall_on_planted(planted):
    # 8 bands of 2 rows: collision prob for jaccard s is 1-(1-s^2)^8
    # (s≈0.78 for the one-word edit -> ≈0.999); exact dups collide in
    # every band regardless
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(planted, "doc_id", "text", bands=8).collect()
    }
    assert (0, 1) in cand
    assert (0, 2) in cand
    # unrelated docs must not be candidates
    assert (3, 4) not in cand


def test_simhash_exact_dup_same_signature(planted):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(planted, "doc_id", "text").collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[3]


def test_simhash_near_pairs(planted):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(
            planted, "doc_id", "text", max_hamming=12, prefix_bits=4
        ).collect()
    }
    assert pairs.get((0, 1)) == 0
    assert (3, 4) not in pairs


@pytest.fixture(params=["driver", "distributed"])
def cc_path(request, monkeypatch):
    """Run connected_components on one labelling path: every shipped
    input finishes on the driver, so the distributed rounds are forced
    by a zero edge cap."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators import graph

    if request.param == "distributed":
        monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 0)
    return request.param


def _cc(edges, **kw):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.graph import connected_components

    stats: dict = {}
    out = connected_components(edges, "src", "dst", stats=stats, **kw)
    return out, stats


def test_connected_components_chain_and_islands(spark, cc_path):
    # one 12-node chain (worst case for plain min-propagation — the
    # pointer jump must collapse it in O(log n) rounds), one triangle,
    # one isolated pair; edges deliberately unsorted/reversed
    chain = [(i + 1, i) for i in range(11)]
    tri = [(100, 101), (101, 102), (102, 100)]
    pair = [(201, 200)]
    edges = spark.createDataFrame(chain + tri + pair, "src bigint, dst bigint")
    out, stats = _cc(edges, max_iter=6)
    got = {r.vertex: r.component for r in out.collect()}
    assert {v for v in got if got[v] == 0} == set(range(12))
    assert {v for v in got if got[v] == 100} == {100, 101, 102}
    assert {v for v in got if got[v] == 200} == {200, 201}
    assert len(got) == 17
    # the stats contract: no propagation rounds when the driver finishes
    assert (stats["rounds"] == 0) == (cc_path == "driver")


def test_connected_components_null_endpoints_and_self_loops(spark, cc_path):
    # NULL is never a vertex; the non-NULL endpoint of a NULL edge is a
    # singleton; an all-NULL edge contributes nothing; a self-loop's
    # vertex is its own component
    edges = spark.createDataFrame(
        [(None, 5), (5, 6), (7, None), (None, None), (9, 9)],
        "src bigint, dst bigint",
    )
    out, _ = _cc(edges)
    assert out.schema.simpleString() == "struct<vertex:bigint,component:bigint>"
    assert sorted(tuple(r) for r in out.collect()) == [(5, 5), (6, 5), (7, 7), (9, 9)]


def _random_graph(seed: int) -> list[tuple[int, int]]:
    """~200 edges: two chains laid out in shuffled id order (so labels
    must travel far), 4-cliques and random cross links.  Kept small in
    rounds: a shuffled-id chain of n vertices needs about n/4 rounds
    on the distributed path, and each round costs more planning than
    the last (ROADMAP direction 2)."""
    import random

    rng = random.Random(seed)
    ids = rng.sample(range(10_000), 160)
    edges = []
    for lo, hi in ((0, 20), (20, 32)):  # two chains
        edges += [(ids[i], ids[i + 1]) for i in range(lo, hi - 1)]
    for c in range(32, 152, 4):  # 4-cliques
        edges += [(ids[a], ids[b]) for a in range(c, c + 4) for b in range(a + 1, c + 4)]
    edges += [(rng.choice(ids), rng.choice(ids)) for _ in range(8)]
    rng.shuffle(edges)
    return [(a, b) if rng.random() < 0.5 else (b, a) for a, b in edges]


def _reference_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Minimum id per component by breadth-first search."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label: dict[int, int] = {}
    for start in adj:
        if start in label:
            continue
        comp, frontier = {start}, [start]
        while frontier:
            frontier = [n for v in frontier for n in adj[v] if n not in comp]
            comp.update(frontier)
        for v in comp:
            label[v] = min(comp)
    return label


def test_connected_components_paths_agree_on_random_graphs(spark, monkeypatch):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators import graph

    # three seeded graphs on disjoint id ranges in one call, so the
    # distributed path pays its rounds once, not once per seed
    pairs = [
        (a + k * 10_000, b + k * 10_000)
        for k, seed in enumerate((3, 4, 5))
        for a, b in _random_graph(seed)
    ]
    edges = spark.createDataFrame(pairs, "src bigint, dst bigint")
    want = _reference_components(pairs)
    driver = {r.vertex: r.component for r in _cc(edges)[0].collect()}
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 0)
    distributed = {r.vertex: r.component for r in _cc(edges)[0].collect()}
    assert driver == want
    assert distributed == want


def test_contamination_check_overlap(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import contamination_check

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over"),   # shares "the quick brown"/"quick brown fox"
            (2, "completely different words entirely here now"),
            (3, "quick brown fox stuff and things"),
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame([(99, "the quick brown fox runs")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in contamination_check(train, ev, "doc_id", "text", n=3).collect()}
    assert 2 not in out                       # clean doc filtered away
    assert out[1]["n_overlap"] == 2           # "the quick brown", "quick brown fox"
    assert out[3]["n_overlap"] == 1           # "quick brown fox"
    assert out[1]["n_shingles"] == 4
    assert abs(out[1]["overlap_ratio"] - 0.5) < 1e-12


def test_pagerank_micros_hand_computed(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.graph import pagerank_micros

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {
        int(r["vertex"]): int(r["pr_micros"])
        for r in pagerank_micros(edges, iters=3).collect()
    }
    # path graph 1-2-3, uniform 1e6 start, d=0.85 in micros, all DIV:
    # iter1: pr = {1: 575000, 2: 1850000, 3: 575000}
    # iter2: pr = {1: 936250, 2: 1127500, 3: 936250}
    # iter3: pr = {1: 629187, 2: 1741625, 3: 629187}
    assert got == {1: 629187, 2: 1741625, 3: 629187}


def test_pagerank_micros_hub_dominates_and_validates(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.graph import pagerank_micros
    import pytest as _pytest

    # star: hub 0 connected to 1..6 — the template-boilerplate shape
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 7)], "src long, dst long"
    )
    got = {
        int(r["vertex"]): int(r["pr_micros"])
        for r in pagerank_micros(edges, iters=3).collect()
    }
    hub, leaves = got[0], [got[i] for i in range(1, 7)]
    assert len(set(leaves)) == 1  # symmetry
    assert hub > 3 * leaves[0]  # the hub dominates organic near-dups
    with _pytest.raises(ValueError, match="iters"):
        pagerank_micros(edges, iters=0)


def test_pagerank_micros_early_exit_and_fixed_iters_unchanged(spark):
    """tol_micros early exit: (a) the DEFAULT (tol=None) trajectory is
    untouched — the gate query and its unrolled-CTE oracle depend on
    the fixed 3-step result; (b) with a tolerance, iteration stops at
    the cap or earlier and the result equals running exactly that many
    fixed iterations; (c) stats records a falling delta trajectory."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.graph import pagerank_micros

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")

    def run(**kw):
        return {
            int(r["vertex"]): int(r["pr_micros"])
            for r in pagerank_micros(edges, iters=3, **kw).collect()
        }

    fixed3 = run()
    assert fixed3 == {1: 629187, 2: 1741625, 3: 629187}
    # stats tracking alone must not change the result
    stats: dict = {}
    assert run(stats=stats) == fixed3
    assert stats["iters_run"] == 3 and len(stats["deltas_micros"]) == 3
    # a huge tolerance stops after the FIRST update and equals iters=1
    stats1: dict = {}
    got1 = run(tol_micros=10_000_000, stats=stats1)
    assert stats1["iters_run"] == 1
    assert got1 == {
        int(r["vertex"]): int(r["pr_micros"])
        for r in pagerank_micros(edges, iters=1).collect()
    }
    # tol=0 on an oscillating path graph never triggers -> cap of 3
    stats0: dict = {}
    assert run(tol_micros=0, stats=stats0) == fixed3
    assert stats0["iters_run"] == 3


def test_substring_dup_spans_property_vs_bruteforce(spark):
    """Property check: the interval-union lead()-window math must
    equal brute-force per-token coverage marking on random corpora (a
    tiny alphabet forces heavy k-gram collisions, overlapping and
    adjacent spans, and whole-doc coverage)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.dedup import substring_dup_spans

    def ref(docs: dict[int, list[str]], k: int) -> dict[int, tuple]:
        grams: dict[tuple, set] = {}
        for i, toks in docs.items():
            for p in range(max(len(toks) - k + 1, 0)):
                grams.setdefault(tuple(toks[p : p + k]), set()).add(i)
        out = {}
        for i, toks in docs.items():
            covered = [False] * len(toks)
            dup = 0
            for p in range(max(len(toks) - k + 1, 0)):
                if len(grams[tuple(toks[p : p + k])]) >= 2:
                    dup += 1
                    for j in range(p, p + k):
                        covered[j] = True
            n_tok = len(toks)
            cov = sum(covered)
            micros = (
                int((cov / n_tok) * 1_000_000 + 0.5) if n_tok else 0
            )
            out[i] = (n_tok, max(n_tok - k + 1, 0), dup, cov, micros)
        return out

    token = st.sampled_from(["x", "y", "z"])
    corpus = st.lists(
        st.lists(token, min_size=1, max_size=10), min_size=2, max_size=6
    )

    @settings(max_examples=8, deadline=None)
    @given(docs_list=corpus, k=st.integers(2, 3))
    def case(docs_list, k):
        docs = dict(enumerate(docs_list))
        df = spark.createDataFrame(
            [(i, " ".join(t)) for i, t in docs.items()], ["doc_id", "text"]
        )
        got = {
            int(r["doc_id"]): (
                r["n_tokens"],
                r["n_grams"],
                r["dup_grams"],
                r["covered_tokens"],
                r["dup_cover_micros"],
            )
            for r in substring_dup_spans(df, k=k).collect()
        }
        assert got == ref(docs, k)

    case()


def test_pagerank_micros_property_vs_python_reference(spark):
    """Property check: the distributed integer-micros PageRank must
    equal a pure-Python reference (same DIV arithmetic, symmetric
    closure, uniform start) on random graphs — the gate oracle only
    covers the dup graph's specific topology."""
    from collections import defaultdict

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.graph import pagerank_micros

    def ref(edge_list, iters=3, d=850_000):
        sym = set()
        for a, b in edge_list:
            sym.add((a, b))
            sym.add((b, a))
        adj = defaultdict(list)
        for a, b in sym:
            adj[a].append(b)
        deg = {v: len(ns) for v, ns in adj.items()}
        pr = {v: 1_000_000 for v in adj}
        for _ in range(iters):
            incoming = defaultdict(int)
            for a, ns in adj.items():
                c = pr[a] // deg[a]
                for b in ns:
                    incoming[b] += c
            pr = {
                v: (1_000_000 - d) + (d * s) // 1_000_000
                for v, s in incoming.items()
            }
        return pr

    edge = st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(
        lambda e: e[0] != e[1]
    )
    graph = st.lists(edge, min_size=1, max_size=12)

    @settings(max_examples=6, deadline=None)
    @given(edge_list=graph)
    def case(edge_list):
        edges = spark.createDataFrame(edge_list, "src long, dst long")
        got = {
            int(r["vertex"]): int(r["pr_micros"])
            for r in pagerank_micros(edges, iters=3).collect()
        }
        assert got == ref(edge_list)

    case()
