"""Iterative graph operators for dedup-cluster resolution.

Candidate-pair generators (MinHash/LSH, SimHash, n-gram Jaccard —
operators/dedup.py) emit *pairs*; an actual dedup pipeline must then
group transitively-linked documents into clusters and keep one
canonical doc per cluster.  That grouping is connected components —
the one step of the dedup family that is inherently iterative.

Small graphs finish on the driver: once the symmetric edge set is
materialized, one job fetches at most ``DRIVER_MAX_EDGES + 1`` of its
undirected edges, and if they are all of them a union-find labels the
components in the driver process.  That is the "finish small" step of
the MapReduce small-star/large-star family (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14), applied
before the first round: every shipped input (the dedup candidate
graph is ~11k edges at sf0.1) takes it, and a graph that is small in
edges pays one job instead of one job per round plus the per-job
scheduling overhead that dominated at this size.  The labels go back
through Arrow, so up to Spark's Arrow local-relation threshold
(48 MB by default) they are a local relation with size statistics,
and downstream joins plan a broadcast of them up front.

Larger graphs run hash-to-min label propagation with pointer
jumping.  Each round is two hash-shuffles of the (vertex, label)
table — join labels onto the edge list and take the min neighbor
label, then one label-table self-join that short-circuits chains
(label <- label(label)).  Min-neighbor alone needs O(diameter)
rounds; the pointer jump short-cuts label chains, though an n-vertex
path whose ids are in shuffled order still needs about n/4 rounds
(ROADMAP direction 2).  LSH duplicate clusters are near-cliques (diameter
1-2), so in practice 2-3 rounds converge.  The edge set and each round's
tables cut lineage with localCheckpoint so per-round plans stay
O(round body) instead of re-embedding (and re-analyzing) the
candidate-pair pipeline, and each round runs exactly ONE job: the
convergence answer rides on a flag column aggregated over the round's
checkpoint (r13).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType

#: Graphs with at most this many undirected edges are labelled on the
#: driver.  Sized from the crossover table in CHANGES.md: up to 1M
#: edges the driver path is faster than the rounds on near-cliques
#: (tied at 1M) and ~5x faster on 11-16-round random graphs; at the
#: cap the fetch is 2M id pairs (32 MB of longs) and the driver's
#: Python process peaked ~430 MB above its baseline.
DRIVER_MAX_EDGES = 2_000_000


def _min_root_labels(pairs) -> dict:
    """{vertex: component} by union-find over (a, b) pairs, linking the
    larger root under the smaller so every root is its component's
    minimum id.  A pair with a NULL endpoint contributes only its
    non-NULL endpoint, as a vertex of its own."""
    parent: dict = {}

    def find(x):
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while x != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        if a is None or b is None:
            for v in (a, b):
                if v is not None:
                    find(v)
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """(vertex, component) for every vertex in ``edges``; component is
    the minimum vertex id reachable from the vertex.  Deterministic —
    exactly checkable against a recursive-CTE transitive closure.

    Only vertices that appear in an edge are returned (isolated docs
    are their own trivial cluster and never enter the pair graph).
    NULL is never a vertex: the non-NULL endpoint of an edge with a
    NULL endpoint is returned as a vertex (its own component unless
    other edges join it), and an all-NULL edge contributes nothing.  A
    self-loop adds its vertex and no link, so a vertex whose only edge
    is a self-loop is its own component.

    Graphs with at most ``DRIVER_MAX_EDGES`` undirected edges are
    labelled on the driver by a union-find after one fetch job, and
    the labels come back through Arrow as a local relation.
    Larger graphs run the distributed rounds, one job each.  Both
    paths return the same labels.

    Pass a dict as ``stats`` to receive ``{"rounds": r}`` — the number
    of propagation rounds run before the convergence check fired, or
    ``max_iter`` if it never fired (the scaling probe reports it).  It
    is 0 when the graph finished on the driver.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # EAGER lineage cut, not persist: a persisted frame keeps its full
    # logical plan, so every per-round join used to re-embed (and the
    # driver re-analyze) the whole candidate-pair pipeline — measured
    # 2-4 s of pure driver plan analysis PER ROUND at sf0.1 vs
    # 0.3-0.7 s of execution (r13).  The checkpoint pays the pipeline
    # once and makes each round's plan O(round body).
    sym = (
        sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # finish small: each undirected edge once (a <= b keeps one
    # direction; a NULL comparison keeps the row), read by ONE task so
    # the limit cannot fan out into incremental take() jobs, and
    # fetched as Arrow (8x faster than collect() at 1M edges)
    fetched = (
        sym.filter(F.coalesce(F.col("a") <= F.col("b"), F.lit(True)))
        .coalesce(1)
        .limit(DRIVER_MAX_EDGES + 1)
        .toArrow()
    )
    if fetched.num_rows <= DRIVER_MAX_EDGES:
        if stats is not None:
            stats["rounds"] = 0
        roots = _min_root_labels(
            zip(fetched.column("a").to_pylist(), fetched.column("b").to_pylist())
        )
        atype = fetched.schema.field("a").type
        vtype = sym.schema["a"].dataType
        return sym.sparkSession.createDataFrame(
            pa.table(
                {
                    "vertex": pa.array(list(roots), atype),
                    "component": pa.array(list(roots.values()), atype),
                }
            ),
            StructType(
                [StructField("vertex", vtype), StructField("component", vtype)]
            ),
        )
    labels = sym.select(F.col("a").alias("v")).distinct().withColumn(
        "label", F.col("v")
    )
    for _round in range(max_iter):
        if stats is not None:
            stats["rounds"] = _round + 1
        # min label over neighbors, joined back onto every vertex
        nbr_min = (
            sym.join(labels, sym.b == labels.v)
            .groupBy("a")
            .agg(F.min("label").alias("_nmin"))
        )
        # carry the round-start label so convergence is answered by a
        # flag aggregate over this round's checkpoint — one action per
        # round, no extra old-vs-new join (guide §5: fewer driver
        # round-trips per iteration)
        stepped = (
            labels.join(nbr_min, labels.v == nbr_min.a, "left")
            .select(
                F.col("v"),
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("_nmin"), F.col("label"))
                ).alias("label"),
            )
            # lazy cut: the pointer-jump self-join below reads ONE
            # materialization of this table instead of evaluating the
            # join+aggregate subtree once per side
            .localCheckpoint(eager=False)
        )
        # pointer jump: label <- label(label).  label(x) <= x is an
        # invariant (labels start as self and only decrease), so
        # this is monotone and collapses label chains exponentially.
        jump = stepped.alias("s").join(
            stepped.select(
                F.col("v").alias("_lv"), F.col("label").alias("_ll")
            ),
            F.col("s.label") == F.col("_lv"),
        )
        new_labels = jump.select(
            F.col("s.v").alias("v"),
            F.least(F.col("s.label"), F.col("_ll")).alias("label"),
            (F.least(F.col("s.label"), F.col("_ll")) != F.col("s._old")).alias(
                "_chg"
            ),
        ).localCheckpoint(eager=False)
        # the ONE action of the round: materializes both checkpoints
        # and answers the convergence question (NULL max on an empty
        # graph is falsy — converged, exactly like the old count()==0)
        changed = new_labels.agg(F.max("_chg")).first()[0]
        labels = new_labels.select("v", "label")
        if not changed:
            break
    return labels.select(
        F.col("v").alias("vertex"), F.col("label").alias("component")
    )


def graph_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """One-row structural summary of an undirected graph — vertex /
    edge counts, max degree, and EXACT triangle count — the shape
    check you run on a dedup candidate graph before connected
    components (a triangle-dense blow-up means the LSH bands are too
    permissive).

    Triangles via the canonical ordered-edge join: orient every edge
    low→high, then count paths a<b<c where (a,b), (b,c), (a,c) all
    exist — each triangle counted exactly once, two hash joins on
    vertex keys.  At 100 TB degree-skew is the hazard: the join
    fan-out is Σ deg(v)², so df-cut the candidate generator (it
    already caps postings) before counting.
    """
    # the edge set feeds degrees + edge count + THREE triangle-join
    # branches; without materialization each branch re-evaluates the
    # upstream candidate generator (measured 6x the LSH pipeline).
    # Same lineage discipline as connected_components (r13): an EAGER
    # localCheckpoint, so the five consuming branches are planned —
    # and driver-analyzed — over a LogicalRDD instead of each
    # re-embedding the candidate-pair pipeline; the one-row summary
    # is collected below anyway, so the materialization cost was
    # always paid at build.  Stored rows are (a, b) id pairs — tiny
    # relative to the corpus.
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    degrees = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    vstats = degrees.agg(
        F.count("*").alias("n_vertices"), F.max("deg").alias("max_degree")
    )
    estats = e.agg(F.count("*").alias("n_edges"))
    # paths a->b->c with a<b<c, closed by the (a,c) edge
    ab = e.select(F.col("a"), F.col("b"))
    bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = e.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tri = (
        ab.join(bc, "b")
        .join(ac, (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")))
        .agg(F.count("*").alias("n_triangles"))
    )
    out = (
        vstats.crossJoin(F.broadcast(estats))
        .crossJoin(F.broadcast(tri))
        .select("n_vertices", "n_edges", "max_degree", "n_triangles")
    )
    # the summary is ONE row: materialize it eagerly so the result
    # carries no reference to the checkpointed edge set (its storage
    # is released when the RDD is garbage-collected, the standing
    # localCheckpoint discipline of the iterative operators)
    spark = edges.sparkSession
    return spark.createDataFrame(out.collect(), out.schema)


def pagerank_micros(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping_micros: int = 850_000,
    tol_micros: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """PageRank over the (undirected) candidate graph in EXACT integer
    micros — (vertex, pr_micros) after ``iters`` synchronous updates
    from a uniform 1.0 start:

        pr'(v) = (1e6 - d) + (d * SUM_u pr(u) DIV outdeg(u)) DIV 1e6

    with every step in BIGINT ``DIV`` arithmetic, so the trajectory is
    bit-identical in any engine and the whole iterative computation is
    oracle-checkable by unrolling the iterations as CTEs (the
    incremental_neardup precedent for sequential folds).  On a dup
    graph, centrality ranks a cluster's most-connected doc — an
    alternative canonical-pick signal to quality scores, and the
    template-hub detector (boilerplate that near-matches THOUSANDS of
    docs scores orders of magnitude above organic near-dups).

    Scale shape: each iteration is one broadcast-or-shuffle equi-join
    of the (vertex, pr) table onto the symmetric edge list plus one
    map-side-combinable sum — the classic iterative-join workload.
    The edge list is materialized ONCE (localCheckpoint) and each
    pr table is checkpointed per round so the plan stays flat
    instead of re-embedding the (expensive) pair generation per
    iteration.  Dangling vertices cannot occur: the symmetric closure
    gives every vertex outdeg >= 1.  Only vertices that appear in an
    edge are returned (isolated docs hold the baseline score by
    definition).

    ``tol_micros`` adds an L1-delta EARLY EXIT: after each update the
    total |pr' - pr| is measured (one extra join + agg job per round)
    and iteration stops once mean per-vertex movement <= tol_micros —
    ``iters`` then acts as the cap, exactly like the
    ``connected_components`` round limit.  The default (None) runs
    the fixed ``iters`` with NO extra jobs or plan change — the gate
    query and its unrolled-CTE oracle pin that behavior, since the
    trajectory (not just the fixpoint) is what the oracle re-derives.
    Pass ``stats`` to capture ``iters_run`` and the per-round
    ``deltas_micros`` trajectory (SCALING.md probes it on the dup
    graph: deltas fall geometrically, so a production tolerance stops
    well under the cap)."""
    if iters < 1:
        raise ValueError("pagerank_micros: iters must be >= 1")
    d = int(damping_micros)
    base = 1_000_000 - d
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = sym.groupBy("a").agg(F.count("*").alias("_deg"))
    # uniform start: contribution of the first round is 1e6 DIV deg
    pr = deg.select(F.col("a").alias("v"), F.lit(1_000_000).cast("long").alias("_pr"))
    track = tol_micros is not None or stats is not None
    deltas: list[int] = []
    iters_run = 0
    for _ in range(iters):
        prev = pr
        contrib = (
            sym.join(pr.withColumnRenamed("v", "a"), "a")
            .join(deg, "a")
            .select(F.col("b").alias("v"), F.expr("_pr DIV _deg").alias("_c"))
        )
        pr = (
            contrib.groupBy("v")
            .agg(F.sum("_c").alias("_s"))
            .select(
                "v",
                F.expr(f"{base} + ({d} * _s) DIV 1000000").alias("_pr"),
            )
            .localCheckpoint(eager=False)
        )
        iters_run += 1
        if track:
            row = (
                pr.join(
                    prev.select("v", F.col("_pr").alias("_prev")), "v"
                )
                .agg(
                    F.sum(F.abs(F.col("_pr") - F.col("_prev"))).alias("_d"),
                    F.count("*").alias("_n"),
                )
                .first()
            )
            delta, n_v = int(row["_d"] or 0), int(row["_n"] or 1)
            deltas.append(delta)
            if tol_micros is not None and delta <= tol_micros * n_v:
                break
    if stats is not None:
        stats["iters_run"] = iters_run
        stats["deltas_micros"] = deltas
    return pr.select(F.col("v").alias("vertex"), F.col("_pr").alias("pr_micros"))
