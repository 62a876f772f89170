"""Link-analysis over warehouse-derived graphs (engine surface).

The co-purchase graph (parts sharing an order, same derivation as
`basket_copurchase_topk`) feeds a fixed-iteration PageRank: repeated
sparse mat-vec as join + grouped sum, the canonical distributed shape
(each iteration is ONE shuffle on the edge destination; no adjacency
ever materializes on the driver).  Iterations are unrolled a constant
K deep -- exactly how the oracle expresses them as chained CTEs -- so
the whole computation is one declarative DAG Catalyst can pipeline;
edges and degrees are computed once and cached across iterations.

At 100 TB: the per-iteration state is one (node, rank) row per node
-- orders of magnitude smaller than the edge set -- so the state
join goes map-side against the cached edge partitions (the edges
never re-shuffle) and each iteration pays one shuffle of the
partially-aggregated inflows.  PageRank's state join carries NO
broadcast hint (r5): Catalyst/AQE plan the broadcast from observed
sizes while the state fits and degrade to a shuffle join past the
broadcast limit (billions of nodes) with no hard O(V) cliff --
measured ~35% faster than the hint-forced form too, which
materialized every iteration as its own eager broadcast exchange.
BFS keeps its explicit hint (its reached-set state is strictly
smaller; A/B showed no win from dropping it) with the same
documented degradation path; localCheckpoint truncates lineage if K
grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.loaders import load_table
from .dedup import connected_components

PR_DAMPING = 0.85
PR_ITERS = 5

def _copurchase_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, w, n_orders) for every distinct co-purchased part pair
    u < w -- the ONE materialized substrate of the whole graph family
    (matcache, r11): the lineitem self-join + pair aggregation is the
    heaviest shuffle in every graph query, and both derived edge sets
    -- the distinct pair set (PageRank / triangle / BFS /
    link-prediction) and the >= CC_MIN_SHARED_ORDERS thresholded set
    (CC / modularity / k-core) -- are map-side projections/filters of
    this table.  Built once per corpus snapshot; deterministic integer
    SET, so the cache cannot change results.  At 100 TB this is the
    only sane shape: nobody re-runs the basket self-join per
    downstream graph metric."""
    from ..matcache import materialized, table_sig

    def build() -> DataFrame:
        li = (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        a = li.select(
            F.col("l_orderkey").alias("k"),
            F.col("l_partkey").alias("u"),
        )
        b = li.select(
            F.col("l_orderkey").alias("k"),
            F.col("l_partkey").alias("w"),
        )
        return (
            a.join(b, "k")
            .filter(F.col("u") < F.col("w"))
            .groupBy("u", "w")
            .agg(F.count("*").alias("n_orders"))
        )

    return materialized(
        spark,
        "copurchbase",
        [table_sig(sf_dir, "lineitem"), "base-v1"],
        build,
    )


def _copurchase_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected distinct co-purchase pair set (u < w) -- the shared
    edge derivation for every graph operator here (its SQL twin is
    _TRI_EDGES / _edges_sql).  A column-pruned projection of the
    materialized pair table: the scan reads (u, w) only, no shuffle,
    no lineitem self-join per consumer."""
    return _copurchase_base(spark, sf_dir).select("u", "w")




def _edges_sql() -> str:
    return """
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey <> b.l_partkey
    """


def _step_sql(prev: str, out: str) -> str:
    """One unrolled PageRank step as a CTE: rank mass flows along
    edges scaled by 1/out-degree, damped, with the teleport term."""
    return f"""
    {out} AS (
        SELECT p.p_partkey AS v,
               {1 - PR_DAMPING} / MAX(nn.n)
               + {PR_DAMPING} * COALESCE(
                     SUM(prev.r / deg.d), 0.0) AS r
        FROM part p
        CROSS JOIN nn
        LEFT JOIN e ON e.dst = p.p_partkey
        LEFT JOIN {prev} prev ON prev.v = e.src
        LEFT JOIN deg ON deg.src = e.src
        GROUP BY p.p_partkey
    )
    """


def _pagerank_oracle() -> str:
    steps = ",".join(
        _step_sql(f"r{i}", f"r{i + 1}") for i in range(PR_ITERS)
    )
    return f"""
    WITH e AS ({_edges_sql()}),
    deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS d
            FROM e GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM part),
    r0 AS (SELECT p_partkey AS v, 1.0 / nn.n AS r
           FROM part CROSS JOIN nn),
    {steps}
    SELECT v AS part_id, ROUND(r * 1e6, 4) AS rank_ppm
    FROM r{PR_ITERS}
    """


@query("graph_pagerank_copurchase", oracle=_pagerank_oracle())
def graph_pagerank_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fixed-{PR_ITERS}-iteration PageRank over the part co-purchase
    graph.  Ranks reported in parts-per-million (r * 1e6) rounded to 4
    so the order-dependent last-ULP of the per-node double sums (hash
    aggregation order differs between engines) sits ~1e9 below the
    rounding quantum."""
    # cached: the subtree feeds FOUR consumers (two union branches
    # and, through them, the degree aggregate) -- without the cache
    # the join+distinct would re-execute for each even with exchange
    # reuse across only some of them.
    und = _copurchase_und(spark, sf_dir).cache()
    edges = und.select(
        F.col("u").alias("src"), F.col("w").alias("dst")
    ).unionAll(
        und.select(F.col("w").alias("src"), F.col("u").alias("dst"))
    )
    deg = edges.groupBy("src").agg(
        F.count("*").cast("double").alias("d")
    )
    out_mass = edges.join(deg, "src").cache()  # src, dst, d
    parts = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("v")
    )
    n = parts.count()  # node count: a metadata-cheap scalar, as in
    # the chunk-grid sizing (table statistics at 100 TB)
    teleport = (1 - PR_DAMPING) / n

    def rank_of(inflow: F.Column) -> F.Column:
        """teleport + damped inflow; nodes absent from the inflow
        table (no inbound edges) coalesce to the bare teleport --
        folding the completion into the NEXT join halves the
        broadcasts per iteration (1 instead of 2)."""
        return F.lit(teleport) + PR_DAMPING * F.coalesce(
            inflow, F.lit(0.0)
        )

    # iteration state: the per-node INFLOW table (nodes with at least
    # one inbound edge) -- tiny relative to the edges.  The state join
    # carries NO broadcast hint (r5): AQE sees the runtime size of
    # each iteration's aggregated inflow and plans the map-side
    # broadcast join itself while the state fits (verified in the
    # executed plan + pinned in tests/test_plans.py), and at billions
    # of nodes it degrades to a shuffle join automatically instead of
    # hitting a hard-hint O(V) broadcast cliff.  Also measured ~35%
    # faster here than the hinted form (median 2.29 s vs 3.06-3.54 s,
    # 4-rep A/B at sf0.1): hint-forced broadcast materializes each
    # iteration as its own eager exchange, while AQE pipelines the
    # whole unrolled DAG.  Each iteration still costs one shuffle of
    # partially-aggregated inflows; the cached edge set never moves.
    contrib = None
    for it in range(PR_ITERS):
        if contrib is None:  # r0 is the uniform 1/n vector
            m = F.lit(1.0 / n) / F.col("d")
            joined = out_mass
        else:
            m = rank_of(F.col("inflow")) / F.col("d")
            joined = out_mass.join(
                contrib,
                out_mass["src"] == contrib["nd"],
                "left",
            )
        contrib = (
            joined.select("dst", m.alias("m"))
            .groupBy("dst")
            .agg(F.sum("m").alias("inflow"))
            .select(F.col("dst").alias("nd"), "inflow")
        )
    final = parts.join(
        contrib, parts["v"] == contrib["nd"], "left"
    )
    return final.select(
        F.col("v").alias("part_id"),
        F.round(rank_of(F.col("inflow")) * 1e6, 4).alias("rank_ppm"),
    )


# -- triangle counting with degree-ordered orientation: every edge is
#    directed from its lower-(degree, id) endpoint to the higher one,
#    which (a) counts each triangle exactly once and (b) bounds the
#    per-vertex out-degree by O(sqrt(E)) on any graph -- the classic
#    trick that keeps the wedge join from exploding on skewed/hub
#    vertices at 100 TB.  Both engines express the same oriented
#    wedge join; counts are exact integers, the clustering
#    coefficient is exact-integer ppm (no ROUND-on-double).
_TRI_EDGES = """
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
"""


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH und AS ({_TRI_EDGES}),
    deg AS (
        SELECT x AS node, COUNT(*) AS d FROM (
            SELECT u AS x FROM und UNION ALL SELECT v FROM und
        ) GROUP BY 1
    ),
    ori AS (
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v)
                    THEN e.u ELSE e.v END AS s,
               CASE WHEN (du.d, e.u) < (dv.d, e.v)
                    THEN e.v ELSE e.u END AS t,
               CASE WHEN (du.d, e.u) < (dv.d, e.v)
                    THEN dv.d ELSE du.d END AS dt
        FROM und e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    ),
    tri AS (
        SELECT COUNT(*) AS n_tri
        FROM ori e1
        JOIN ori e2 ON e2.s = e1.s
                   AND (e1.dt, e1.t) < (e2.dt, e2.t)
        JOIN ori e3 ON e3.s = e1.t AND e3.t = e2.t
    ),
    wedge AS (
        SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
        FROM deg
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM und) AS n_edges,
           (SELECT n_tri FROM tri) AS n_triangles,
           (SELECT CAST((2000000 * 3 * n_tri + n_wedges)
                        // (2 * n_wedges) AS BIGINT)
            FROM tri, wedge) AS clustering_ppm
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient (ppm) of
    the part co-purchase graph.  Each oriented edge carries its
    head's (degree, id) rank so wedges enumerate each unordered
    out-neighbor pair once and the closing edge's orientation is
    known -- every join is a pure equi-join (never an OR-condition
    nested loop) and each triangle is counted exactly once, from its
    order-minimal vertex."""
    und = (
        _copurchase_und(spark, sf_dir)
        .select("u", F.col("w").alias("v"))
        .cache()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
        .cache()
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    ori = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(lower, F.col("dv")).otherwise(F.col("du")).alias("dt"),
        )
        .cache()
    )
    e1 = ori.select(
        F.col("s").alias("s1"),
        F.col("t").alias("t1"),
        F.col("dt").alias("dt1"),
    )
    e2 = ori.select(
        F.col("s").alias("s2"),
        F.col("t").alias("t2"),
        F.col("dt").alias("dt2"),
    )
    e3 = ori.select(F.col("s").alias("s3"), F.col("t").alias("t3"))
    # equi-join on the wedge apex; the (dt, t) ordering both dedups
    # the out-neighbor pair AND guarantees the closing edge is
    # oriented t1 -> t2, so the close is an equi-join too.
    wedges = e1.join(e2, F.col("s2") == F.col("s1")).filter(
        (F.col("dt1") < F.col("dt2"))
        | ((F.col("dt1") == F.col("dt2")) & (F.col("t1") < F.col("t2")))
    )
    closed = wedges.join(
        e3,
        (F.col("s3") == F.col("t1")) & (F.col("t3") == F.col("t2")),
    )
    n_tri2 = closed.agg(F.count("*").alias("n_tri"))
    n_wedge = deg.agg(
        F.sum(
            F.expr("d * (d - 1) div 2")
        ).alias("n_wedges")
    )
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    n_edges = und.agg(F.count("*").alias("n_edges"))
    return (
        n_nodes.crossJoin(n_edges)
        .crossJoin(n_tri2)
        .crossJoin(n_wedge)
        .select(
            "n_nodes",
            "n_edges",
            F.col("n_tri").alias("n_triangles"),
            F.expr(
                "(2000000L * 3 * n_tri + n_wedges)"
                " div (2L * n_wedges)"
            ).alias("clustering_ppm"),
        )
    )


BFS_MAX_HOPS = 3
BFS_SOURCE_MOD = 1000


# -- multi-source BFS hop distances: the third classic graph shape
#    (after fixed-iteration PageRank and oriented triangle counting).
#    Unrolled K deep as iterative frontier-join + grouped MIN -- per
#    iteration ONE broadcast join against the cached edge partitions
#    plus one small-aggregate shuffle, the same broadcast-state
#    pattern as PageRank (the distance table is one row per REACHED
#    node, orders of magnitude below the edges).  The oracle is a
#    bounded recursive CTE: identical semantics, declaratively
#    stated.
@query(
    "graph_bfs_hops",
    oracle=f"""
    WITH RECURSIVE und AS ({_TRI_EDGES}),
    e AS (
        SELECT u AS src, v AS dst FROM und
        UNION ALL
        SELECT v AS src, u AS dst FROM und
    ),
    walk(v, d) AS (
        SELECT p_partkey, 0 FROM part
        WHERE p_partkey % {BFS_SOURCE_MOD} = 1
        UNION
        SELECT e.dst, walk.d + 1
        FROM walk JOIN e ON e.src = walk.v
        WHERE walk.d < {BFS_MAX_HOPS}
    ),
    dist AS (SELECT v, MIN(d) AS d FROM walk GROUP BY v)
    SELECT COALESCE(dist.d, -1) AS hops,
           COUNT(*) AS n_parts
    FROM part LEFT JOIN dist ON dist.v = part.p_partkey
    GROUP BY 1
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-distance histogram of the co-purchase graph from the
    deterministic source set (p_partkey % {BFS_SOURCE_MOD} == 1),
    depth-bounded at {BFS_MAX_HOPS}; parts the BFS never reaches
    report -1."""
    und = _copurchase_und(spark, sf_dir)
    edges = (
        und.select(F.col("u").alias("src"), F.col("w").alias("dst"))
        .unionAll(
            und.select(
                F.col("w").alias("src"), F.col("u").alias("dst")
            )
        )
        .cache()
    )
    parts = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("v")
    )
    dist = parts.filter(
        F.col("v") % BFS_SOURCE_MOD == 1
    ).select("v", F.lit(0).alias("d"))
    for _ in range(BFS_MAX_HOPS):
        step = (
            edges.join(F.broadcast(dist), edges["src"] == dist["v"])
            .select(F.col("dst").alias("v"), (F.col("d") + 1).alias("d"))
        )
        dist = (
            dist.unionAll(step)
            .groupBy("v")
            .agg(F.min("d").alias("d"))
        )
    return (
        parts.join(F.broadcast(dist), "v", "left")
        .groupBy(F.coalesce(F.col("d"), F.lit(-1)).alias("hops"))
        .agg(F.count("*").alias("n_parts"))
    )


# -- Jaccard link prediction: score NON-adjacent part pairs by
#    |N(a) n N(b)| / |N(a) u N(b)| over the co-purchase graph -- the
#    classical common-neighbors recommender.  Candidate pairs come
#    from a wedge join on the shared neighbor (two equi-joins on the
#    cached directed edge set -- the same cost class as the triangle
#    count, bounded by sum-of-degrees-squared under the order-basket
#    blocking); existing edges are anti-joined away because link
#    prediction ranks ABSENT links.  The score divides two exact
#    integers; top-k is a distributed TakeOrdered with full
#    deterministic tie-breaks.
LINKPRED_TOPK = 25
LINKPRED_AGG_PARTITIONS = 512

#: Hard budget for the exact wedge enumeration, in wedge ROWS
#: (sum-of-C(d,2) over the directed degree table).  The wedge stream
#: measures ~32 bytes/row shuffled (43.4 GiB at 1.46e9 rows, r11 sf1
#: run), so 4e8 wedges is ~12 GiB of shuffle -- ~1.5x one executor's
#: heap, the edge of shallow-spill territory.  Beyond it the exact
#: aggregation is spill-BOUND (the r11 sf1 run: 5.4x heap, 950-1190 s
#: disk-bound, OOM when caches crowd the unified region), and the op
#: must refuse rather than silently burn 20 minutes or a heap
#: (VERDICT r11: mirror of the exact-GEMM bound at dedup.py
#: EMB_MAX_CHUNKS).  Measured wedge counts: sf0.1 = 1.48e8 (passes),
#: sf1 = 1.46e9 (refuses -- use graph_link_prediction_minhash).  On a
#: real cluster the budget scales with aggregate executor memory; the
#: constant here is sized to the local harness and the estimator is
#: the piece that carries to any deployment (one cheap aggregate over
#: the materialized degree table, never the wedge join itself).
LINKPRED_MAX_WEDGES = 400_000_000


def _estimated_wedges(deg: DataFrame) -> int:
    """sum-of-C(d,2) over a (node, d) degree table: the EXACT row
    count of the wedge stream the exact link-prediction join would
    shuffle (every pair of edges sharing a source is one wedge).
    One scalar aggregate over the degree table -- a bounded
    driver-side probe, same discipline as the convergence probes."""
    row = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("wedges")
    ).collect()[0]
    return int(row["wedges"] or 0)


def _check_wedge_budget(n_wedges: int) -> None:
    """Refuse the exact wedge enumeration above LINKPRED_MAX_WEDGES
    with an actionable message naming the sub-quadratic path --
    the exact anchor is for oracle-scale labeling runs, never for
    corpus-scale scoring (same contract as exact_cosine_pairs)."""
    if n_wedges > LINKPRED_MAX_WEDGES:
        raise ValueError(
            f"graph_link_prediction_jaccard is the exact wedge-"
            f"enumeration anchor and is bounded to "
            f"{LINKPRED_MAX_WEDGES:,} wedges (estimated {n_wedges:,} "
            f"= sum-of-C(d,2) over the degree table; ~32 B/wedge of "
            f"shuffle); for larger graphs use "
            f"graph_link_prediction_minhash (banded minhash over "
            f"adjacency sets, exact verify on candidates only)"
        )


@query(
    "graph_link_prediction_jaccard",
    oracle=f"""
    WITH und AS ({_TRI_EDGES}),
    dir AS (
        SELECT u AS src, v AS dst FROM und
        UNION ALL
        SELECT v, u FROM und
    ),
    deg AS (
        SELECT src AS node, COUNT(*) AS d FROM dir GROUP BY 1
    ),
    cand AS (
        SELECT e1.dst AS a, e2.dst AS b, COUNT(*) AS cn
        FROM dir e1 JOIN dir e2
          ON e1.src = e2.src AND e1.dst < e2.dst
        GROUP BY 1, 2
    ),
    absent AS (
        SELECT c.a, c.b, c.cn
        FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM und
                          WHERE und.u = c.a AND und.v = c.b)
    )
    SELECT a, b, cn,
           ROUND(CAST(cn AS DOUBLE) / (da.d + db.d - cn), 6)
               AS jaccard
    FROM absent
    JOIN deg da ON da.node = a
    JOIN deg db ON db.node = b
    ORDER BY jaccard DESC, a, b
    LIMIT {LINKPRED_TOPK}
    """,
)
def graph_link_prediction_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    und = _copurchase_und(spark, sf_dir).cache()
    dirr = und.union(
        und.select(F.col("w").alias("u"), F.col("u").alias("w"))
    ).select(F.col("u").alias("src"), F.col("w").alias("dst"))
    deg = dirr.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("d")
    )
    # refuse-guard BEFORE declaring the wedge join (VERDICT r11 item
    # 1): one cheap aggregate over the (matcache-derived) degree table
    # estimates the wedge stream exactly; above the budget the op
    # raises instead of launching a spill-bound or OOM-bound shuffle.
    _check_wedge_budget(_estimated_wedges(deg))
    e1 = dirr.select("src", F.col("dst").alias("a"))
    e2 = dirr.select("src", F.col("dst").alias("b"))
    # The wedge stream is the one genuinely SHUFFLE-GIANT intermediate
    # in the registry (sum-of-C(d,2) rows: 148.8M at sf0.1, 1.46e9 /
    # 43 GiB at sf1) and map-side partial aggregation reduces it ~2%
    # (candidate pairs are near-unique within a task), so the grouped
    # count must be WIDE: an explicit keyed repartition sets the
    # reducer count for this exchange alone -- user repartitions are
    # exempt from AQE coalescing, and HashPartitioning(a, b) satisfies
    # the aggregation's distribution so no second shuffle follows.  At
    # the session default (32, sized for every OTHER query) each
    # reduce task would face ~45M groups / 1.3 GiB at sf1 and the
    # final-agg hash map OOMs an 8 GB local heap; 512-way puts ~85 MB
    # per task at sf1 with room for the next 10x (a cluster job sizes
    # this the same way: reducers scale with shuffle volume, not with
    # the session default).
    cand = (
        e1.join(e2, "src")
        .filter(F.col("a") < F.col("b"))
        .repartition(LINKPRED_AGG_PARTITIONS, "a", "b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("cn"))
    )
    absent = cand.join(
        und,
        (cand["a"] == und["u"]) & (cand["b"] == und["w"]),
        "left_anti",
    )
    da = deg.select(
        F.col("node").alias("a"), F.col("d").alias("da")
    )
    db = deg.select(
        F.col("node").alias("b"), F.col("d").alias("db")
    )
    scored = (
        absent.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "cn",
            F.round(
                F.col("cn").cast("double")
                / (F.col("da") + F.col("db") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard"), F.asc("a"), F.asc("b")
    ).limit(LINKPRED_TOPK)


# -- Approximate link prediction: the sanctioned corpus-scale path the
#    exact anchor's refuse-guard points to (VERDICT r11 item 2).
#    MinHash over ADJACENCY SETS -- Jaccard's natural estimator, the
#    same md5/Kirsch-Mitzenmacher family the dedup LSH uses
#    (operators/dedup.py _minhash_signatures) so the DuckDB oracle
#    replays the candidate set bit-for-bit.  The graph's top absent-
#    link Jaccard is LOW (~0.1 at sf0.01, ~0.045 at sf0.1/sf1 -- the
#    r11 measurement that retired every exact-pruning idea), so the
#    banding is r=1: each of the 48 minhashes is its own band (the
#    classic min-wise-permutation candidate generator; detection
#    probability 1-(1-j)^48 = 0.89 at j=0.045, 0.99 at j=0.09), where
#    a 4-row band (dedup's regime, thresholds >= 0.3) would see j^4
#    ~ 4e-6 and find nothing.  48 is a MEASURED default (VERDICT r12
#    item 2, r13 A/B vs 24 bands): recall vs exact top-25 rises
#    17->23/25 at sf0.1 and 14->21/25 at sf1 for 1.63x shuffle
#    (1.12->1.82 GB sf0.1, 11.1->18.1 GB sf1 -- still exactly linear
#    in corpus), ZERO spill at both scales, and ~1.64x wall-clock at
#    sf1 under the min-of-draws estimator (interleaved same-session
#    A/B; slow-IO windows hide the delta entirely).  Candidates =
#    node pairs agreeing on any single minhash; exact common-neighbor
#    verify runs on CANDIDATES ONLY via the broadcast adjacency-array
#    table -- the 32 B/wedge shuffle never exists.  Shuffle volume:
#    ~sum-over-pairs j per band (vs the exact join's 4.4 GiB + 12 GiB
#    sort spill at sf0.1; both grow LINEARLY in corpus size at fixed
#    degree distribution, vs the exact wedge stream's sum-of-C(d,2)).
#    A hot bucket (one super-hub neighbor whose hash is the min of
#    many adjacency sets) is capped at LP_MAX_BUCKET members --
#    buckets above the cap are dropped whole, the same stop-key
#    discipline as dedup's MAX_SHINGLE_DF (recall cost: only pairs
#    whose EVERY shared band is hot are lost; the cap is ~5x the max
#    observed bucket so it binds only on pathological hubs).
LP_N_HASHES = 48
LP_MAX_BUCKET = 1024
#: Width of every candidate-volume stage in the minhash twin: the
#: cached band table is repartitioned ONCE on the bucket key at this
#: width (the bucket-size aggregate, the cap join, and the candidate
#: self-join all reuse that distribution -- zero further exchanges),
#: and the anti-join / verify-join-1 legs are pinned to it by
#: repartitioning BOTH join sides (see the in-function comment on
#: why one-sided width hints do not survive EnsureRequirements).
#: Sized by the r13 heap-cliff investigation under the 8g-driver
#: session default (the heap every consumer of this module actually
#: gets -- the 64g A/B session that picked 48 bands masked all of
#: this): at the session's 32-way width the candidate-scale stages
#: held 1/32 of the pair stream per task across 32 concurrent
#: tasks; together with the (since removed) corpus-scale dedup's
#: partial hash maps that OOMed sf1 nondeterministically, and even
#: without the dedup it spilled ~16 GB of sort memory.  At 256-way
#: the measured sf1 cold pass runs with 92 MB of disk spill total
#: (all in the anti-join sort).  On a cluster this scales with
#: aggregate executor memory like LINKPRED_AGG_PARTITIONS.
LP_CAND_PARTITIONS = 256
_LP_MOD = 1 << 32


def _lp_minhash_sigs(dirr: DataFrame) -> DataFrame:
    """One minhash per hash function per node over its adjacency set:
    ONE md5 per (src, dst) edge split into two 32-bit words (h2 forced
    odd), expanded to LP_N_HASHES functions by double hashing
    h_s = (h1 + s*h2) mod 2^32 -- exact BIGINT arithmetic end to end,
    so the oracle reproduces every signature (the dedup family proved
    this construction engine-portable)."""
    hh = dirr.select(
        "src",
        F.md5(F.col("dst").cast("string").cast("binary")).alias("hh"),
    )
    h1 = F.conv(F.substring("hh", 1, 8), 16, 10).cast("long")
    h2 = (
        F.conv(F.substring("hh", 9, 8), 16, 10)
        .cast("long")
        .bitwiseOR(1)
    )
    proj = hh.select("src", h1.alias("h1"), h2.alias("h2"))
    aggs = [
        F.min(
            (F.col("h1") + s * F.col("h2")) % F.lit(_LP_MOD)
        ).alias(f"mh{s}")
        for s in range(LP_N_HASHES)
    ]
    return proj.groupBy("src").agg(*aggs)


def _lp_minhash_oracle() -> str:
    sig_cols = ",\n               ".join(
        f"MIN((h1 + {s} * h2) % {_LP_MOD}) AS mh{s}"
        for s in range(LP_N_HASHES)
    )
    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT src AS node, {s} AS band, mh{s} AS key FROM sigs"
        for s in range(LP_N_HASHES)
    )
    return f"""
    WITH und AS ({_TRI_EDGES}),
    dir AS (
        SELECT u AS src, v AS dst FROM und
        UNION ALL
        SELECT v, u FROM und
    ),
    h AS (
        SELECT src,
               ('0x' || substr(md5(CAST(dst AS VARCHAR)), 1, 8))::BIGINT
                   AS h1,
               (('0x' || substr(md5(CAST(dst AS VARCHAR)), 9, 8))::BIGINT
                   | 1) AS h2
        FROM dir
    ),
    sigs AS (
        SELECT src,
               {sig_cols}
        FROM h GROUP BY src
    ),
    bands AS (
        {band_selects}
    ),
    bsz AS (
        SELECT band, key FROM bands
        GROUP BY band, key HAVING COUNT(*) <= {LP_MAX_BUCKET}
    ),
    ok AS (
        SELECT bands.node, bands.band, bands.key
        FROM bands JOIN bsz USING (band, key)
    ),
    cand AS (
        SELECT DISTINCT x.node AS a, y.node AS b
        FROM ok x JOIN ok y
          ON x.band = y.band AND x.key = y.key AND x.node < y.node
    ),
    absent AS (
        SELECT c.a, c.b FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM und
                          WHERE und.u = c.a AND und.v = c.b)
    ),
    cnt AS (
        SELECT ab.a, ab.b, COUNT(*) AS cn
        FROM absent ab
        JOIN dir da ON da.src = ab.a
        JOIN dir db ON db.src = ab.b AND db.dst = da.dst
        GROUP BY 1, 2
    ),
    deg AS (
        SELECT src AS node, COUNT(*) AS d FROM dir GROUP BY 1
    )
    SELECT a, b, cn,
           ROUND(CAST(cn AS DOUBLE) / (da.d + db.d - cn), 6)
               AS jaccard
    FROM cnt
    JOIN deg da ON da.node = a
    JOIN deg db ON db.node = b
    ORDER BY jaccard DESC, a, b
    LIMIT {LINKPRED_TOPK}
    """


@query("graph_link_prediction_minhash", oracle=_lp_minhash_oracle())
def graph_link_prediction_minhash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-k absent-link Jaccard via banded adjacency-set minhash
    candidates + exact common-neighbor verify on candidates only --
    same output schema, scoring, rounding, and tie-breaks as the
    exact anchor, sub-quadratic candidate generation (scale design in
    the section comment above).  Pairs whose candidate buckets
    collide on hash VALUE without a shared neighbor score cn=0 and
    are dropped on both sides (a zero-common-neighbor pair is not a
    prediction)."""
    und = _copurchase_und(spark, sf_dir).cache()
    dirr = und.union(
        und.select(F.col("w").alias("u"), F.col("u").alias("w"))
    ).select(F.col("u").alias("src"), F.col("w").alias("dst"))
    # cached: the signature aggregation (md5 + LP_N_HASHES min-aggs
    # over the edge set) feeds BOTH sides of the candidate self-join
    # and the bucket-size filter -- uncached, Catalyst re-executes the
    # whole subtree three times (measured in the executed plan).  One
    # row per (node, band): |V| * LP_N_HASHES rows.  Cached ALREADY
    # PARTITIONED on the bucket key at LP_CAND_PARTITIONS (sizing
    # rationale at the constant): HashPartitioning(band, key) is the
    # distribution every downstream consumer needs, so the bucket
    # aggregate, the cap join, and the self-join all run exchange-free
    # at that width instead of at the session's 32-way default.
    bands = (
        _lp_minhash_sigs(dirr)
        .select(
            F.col("src").alias("node"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("band"),
                            F.col(f"mh{s}").alias("key"),
                        )
                        for s in range(LP_N_HASHES)
                    ]
                )
            ).alias("bk"),
        )
        .select("node", "bk.band", "bk.key")
        .repartition(LP_CAND_PARTITIONS, "band", "key")
        .cache()
    )
    bsz = (
        bands.groupBy("band", "key")
        .agg(F.count("*").alias("n_bucket"))
        .filter(F.col("n_bucket") <= LP_MAX_BUCKET)
        .select("band", "key")
    )
    ok = bands.join(bsz, ["band", "key"])
    # NO corpus-scale dedup (r13 redesign): candidate pairs are
    # NEAR-UNIQUE across bands (avg pair jaccard ~0.004, so a pair
    # rarely agrees in two bands -- a measured ~2% duplicate rate),
    # and the r12-r13 shape that ran them through a wide
    # repartition+distinct died exactly there at sf1 under the 8g
    # session default: each of 32 concurrent tasks' partial-aggregate
    # hash map grows a CONTIGUOUS point array (observed 134 MB
    # humongous allocations -- "Retried waiting for GCLocker"
    # warnings, then heap OOM; whether a run died was G1 weather, not
    # sizing).  Duplicates are instead carried through the verify
    # joins (idempotent per pair, ~2% extra rows) and removed at the
    # TOP-K BOUNDARY, where multiplicity is bounded by the band count
    # -- see the final-select comment.  The repartitions below are
    # pure WIDTH control for the candidate-volume joins, and they
    # must cover BOTH sides of each join: EnsureRequirements
    # co-partitions a join at the session default (32) and REWRITES a
    # single-sided user repartition's partition count to match (seen
    # in the executed plan: REPARTITION_BY_NUM carrying 32, not the
    # requested width), so width only sticks when the two sides
    # arrive pre-partitioned on the same keys at the same width.
    # Candidate-volume sorts at the session's 32-way width are
    # 10x-too-coarse spill machines at sf1 (measured 16 GB of sort
    # spill concentrated in the two 32-task join stages).
    cand = (
        ok.select("band", "key", F.col("node").alias("a"))
        .join(
            ok.select("band", "key", F.col("node").alias("b")),
            ["band", "key"],
        )
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .repartition(LP_CAND_PARTITIONS, "a", "b")
    )
    undr = und.repartition(LP_CAND_PARTITIONS, "u", "w")
    absent = cand.join(
        undr,
        (cand["a"] == undr["u"]) & (cand["b"] == undr["w"]),
        "left_anti",
    ).repartition(LP_CAND_PARTITIONS, "a")
    # adjacency-array side table: one row per node, neighbor array +
    # degree (~21 MB at sf0.1, |V|-linear).  The two verify joins are
    # deliberately HYBRID (see SCALE.md "Sort placement is a
    # compression decision" and test_link_prediction_minhash_verify_
    # never_sorts_arrays):
    #   join 1 (attach na/da) is hinted MERGE: at that point the
    #   candidate side is still SKINNY (two longs, no arrays), so the
    #   sort is cheap and clusters equal `a` keys into ordered runs --
    #   measured 8x shuffle-write compression on the array-carrying
    #   exchange that follows (5.8 GB -> 0.7 GB at sf0.1).
    #   join 2 (attach nb/db) is hinted SHUFFLE_HASH with adj as the
    #   BUILD side: by now the stream side CARRIES the na arrays, and
    #   a sort-merge join would sort them (measured: 12 GiB of sort
    #   spill at sf0.1 -- arrays must never pass through a sort),
    #   while a broadcast hint would put an O(|V|) cliff at the
    #   broadcast limit.  Hash build of the |V|-row table per
    #   partition holds at any scale: build side = nodes/partitions,
    #   the array stream never sorts, and the one array-carrying
    #   exchange is written and streamed once (linear in candidates).
    adj = dirr.groupBy("src").agg(
        F.collect_set("dst").alias("nbrs")
    ).cache()
    # aa is repartitioned to the candidate width so join 1
    # co-partitions against `absent` WITHOUT an EnsureRequirements
    # rewrite (same both-sides rule as the anti-join above); ab stays
    # unpartitioned so join 2 runs at the narrow session width, which
    # keeps the identical-array runs in its stream exchange LONG (the
    # compression trade below) and costs no memory -- a shuffled-hash
    # STREAM side buffers nothing and the |V|-row build side is tiny.
    aa = adj.select(
        F.col("src").alias("a"),
        F.col("nbrs").alias("na"),
        F.size("nbrs").alias("da"),
    ).repartition(LP_CAND_PARTITIONS, "a")
    ab = adj.select(
        F.col("src").alias("b"),
        F.col("nbrs").alias("nb"),
        F.size("nbrs").alias("db"),
    )
    scored = (
        absent.join(aa.hint("merge"), "a")
        .join(ab.hint("shuffle_hash"), "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("na", "nb"))
            .cast("long")
            .alias("cn"),
            "da",
            "db",
        )
        .filter(F.col("cn") >= 1)
        .select(
            "a",
            "b",
            "cn",
            F.round(
                F.col("cn").cast("double")
                / (F.col("da") + F.col("db") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
    )
    # dedup at the TOP-K BOUNDARY, not at corpus scale: a candidate
    # pair enters the scored stream once per agreeing band, so its
    # multiplicity is <= LP_N_HASHES and all its rows are IDENTICAL
    # (verify is deterministic per pair).  The k-th distinct pair in
    # the (jaccard desc, a, b) total order therefore sits within the
    # first k + (k-1)*LP_N_HASHES <= k*(LP_N_HASHES+1) ROWS of that
    # order: take that bounded head with a distributed TakeOrdered
    # (1,225 rows at k=25/48 bands), collapse the duplicate rows, and
    # re-cut to k -- a driver-scale distinct instead of the
    # corpus-scale one that OOMed at sf1 (see the candidate comment).
    order = [F.desc("jaccard"), F.asc("a"), F.asc("b")]
    return (
        scored.orderBy(*order)
        .limit(LINKPRED_TOPK * (LP_N_HASHES + 1))
        .distinct()
        .orderBy(*order)
        .limit(LINKPRED_TOPK)
    )


# ---------------------------------------------------------------------------
# Connected components (min-label propagation)
# ---------------------------------------------------------------------------
# Community detection's substrate: connected components of the
# RECURRING co-purchase graph -- parts are adjacent when they appear
# together in >= 2 distinct orders (the >=2 threshold is what makes
# the graph sparse and the components meaningful; the raw co-purchase
# graph is one giant blob, see graph_triangle_count).  Isolated parts
# are singleton components.  Output: every part with its component id
# (= the component's minimum part key) and the component size.
#
# Spark side: dedup.connected_components on the edge set -- min-label
# propagation with pointer jumping, O(log diameter) rounds, each one
# equi-join + one grouped MIN with labels localCheckpoint-ed so lineage
# stays flat, and a scalar label-sum probe for convergence; it raises
# rather than return unconverged labels.  Parts without an edge join
# in as singletons.  The oracle replays the same fixpoint as a
# recursive-CTE transitive closure, feasible because thresholding
# keeps the closure small.
CC_MIN_SHARED_ORDERS = 2


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, w) u<w part pairs co-purchased in >= CC_MIN_SHARED_ORDERS
    distinct orders -- the CC/modularity/k-core edge set, derived
    MAP-SIDE from the one materialized pair table (_copurchase_base):
    a pruned scan + filter, no shuffle per consumer (r11; previously
    its own matcache entry duplicating the self-join)."""
    return (
        _copurchase_base(spark, sf_dir)
        .filter(F.col("n_orders") >= CC_MIN_SHARED_ORDERS)
        .select("u", "w")
    )


def copurchase_cc_labels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(v, label) min-label components of the thresholded co-purchase
    graph over ALL parts (isolated parts are singletons),
    MATERIALIZED once per input snapshot (matcache):
    `graph_connected_components` and `graph_modularity_score` both
    consume this table, so the iterative propagation runs once, not
    once per consumer (VERDICT r9 item 6).  Deterministic: label =
    min reachable part key, independent of partitioning or iteration
    batching."""
    from ..matcache import materialized, table_sig

    def build() -> DataFrame:
        comp = connected_components(
            _copurchase_pairs(spark, sf_dir).select(
                F.col("u").alias("src"), F.col("w").alias("dst")
            )
        ).select(F.col("node").alias("v"), "comp")
        part = load_table(spark, sf_dir, "part")
        return part.select(F.col("p_partkey").alias("v")).join(
            comp, "v", "left"
        ).select("v", F.coalesce("comp", "v").alias("label"))

    return materialized(
        spark,
        "copurchcc",
        [
            table_sig(sf_dir, "lineitem"),
            table_sig(sf_dir, "part"),
            CC_MIN_SHARED_ORDERS,
            connected_components,  # its code lives in dedup.py
        ],
        build,
    )


@query(
    "graph_connected_components",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT a.l_partkey AS u, b.l_partkey AS w
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY u, w
        HAVING COUNT(*) >= {CC_MIN_SHARED_ORDERS}
    ),
    e AS (SELECT u AS src, w AS dst FROM pairs
          UNION ALL SELECT w, u FROM pairs),
    reach(v, m) AS (
        SELECT p_partkey, p_partkey FROM part
        UNION
        SELECT e.dst, r.m FROM reach r JOIN e ON e.src = r.v
    ),
    comp AS (SELECT v, MIN(m) AS component_id FROM reach GROUP BY v),
    sizes AS (SELECT component_id,
                     CAST(COUNT(*) AS BIGINT) AS component_size
              FROM comp GROUP BY component_id)
    SELECT v AS part_id, component_id, component_size
    FROM comp JOIN sizes USING (component_id)
    """,
)
def graph_connected_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    labels = copurchase_cc_labels(spark, sf_dir)
    sizes = labels.groupBy("label").agg(
        F.count("*").cast("long").alias("component_size")
    )
    return labels.join(sizes, "label").select(
        F.col("v").alias("part_id"),
        F.col("label").alias("component_id"),
        "component_size",
    )


# ---------------------------------------------------------------------------
# k-core decomposition of the recurring co-purchase graph
# ---------------------------------------------------------------------------
# The density-peeling view of the same graph as graph_connected_
# components: the k-core is the maximal subgraph where every node
# keeps degree >= k, and a node's core number is the largest k whose
# core contains it.  Cohesive-subgroup mining, the standard
# preprocessing cut before expensive community detection.
#
# Spark side: distributed peeling -- for each k (2..KCORE_MAX), drop
# nodes with degree < k and repeat until the count is stable (scalar
# probe per round, the CC convergence discipline; localCheckpoint
# keeps lineage flat).  The nested-core property (the (k+1)-core is
# inside the k-core) lets each k start from the previous survivor
# set, so total work is one degree-agg per peel round on an
# ever-shrinking edge set.
#
# Oracle (VERDICT r6 item 3 / r7 item 5): the peel IS expressible as
# a bounded recursive CTE in DuckDB because its recursive term allows
# window functions -- each iteration recomputes degrees with
# COUNT(*) OVER (PARTITION BY endpoint) and keeps edges whose both
# endpoints clear k.  Termination is value-driven, not a blind
# iteration cap: every row carries its iteration's edge count m, and
# the recursive term emits survivors only while m strictly shrinks
# (peel is monotone-subset, so equal cardinality == fixpoint).  The
# one ambiguity -- "recursion stopped at the fixpoint" vs "survivors
# went empty" -- is resolved by ONE extra non-recursive peel of the
# last emitted level: monotonicity forces its result to be exactly
# the fixpoint or exactly empty.  core_number(v) = max k in {2,3,4}
# whose peel retains v.  Same trick family as
# graph_modularity_score's reachability CTE below.
# Reference behavior: degree-threshold audience cuts in
# /root/reference/src (see SURVEY 2 filters family); the k-core
# generalizes them to transitive cohesion.
KCORE_MAX = 4


def _kcore_peel_cte(k: int) -> str:
    """The per-k peel as two CTE definitions (peel{k}, core{k}) over
    an ``e(src, dst)`` doubled edge set -- shared by the oracle
    builder and by tests/test_round6_ops.py's toy-graph termination
    pins (empty-core vs nonempty-fixpoint), so the subtle stop logic
    is locked by a DuckDB-only unit test, not just the fixture."""
    return f"""
    peel{k}(iter, src, dst, m) AS (
        SELECT 0, src, dst, COUNT(*) OVER () FROM e
        UNION ALL
        SELECT iter, src, dst, m2 FROM (
            SELECT s.iter + 1 AS iter, s.src, s.dst, s.m AS prev_m,
                   COUNT(*) OVER () AS m2
            FROM (
                SELECT iter, src, dst, m
                FROM (SELECT iter, src, dst, m,
                             COUNT(*) OVER (PARTITION BY src) AS ds,
                             COUNT(*) OVER (PARTITION BY dst) AS dd
                      FROM peel{k})
                WHERE ds >= {k} AND dd >= {k}
            ) s
        ) q(iter, src, dst, prev_m, m2)
        WHERE m2 < prev_m
    ),
    core{k} AS (
        SELECT src, dst
        FROM (SELECT src, dst,
                     COUNT(*) OVER (PARTITION BY src) AS ds,
                     COUNT(*) OVER (PARTITION BY dst) AS dd
              FROM (SELECT src, dst FROM peel{k}
                    WHERE iter = (SELECT MAX(iter) FROM peel{k})))
        WHERE ds >= {k} AND dd >= {k}
    )"""


def _kcore_oracle() -> str:
    peels = []
    lasts = []
    for k in range(2, KCORE_MAX + 1):
        peels.append(_kcore_peel_cte(k))
        lasts.append(
            f"SELECT DISTINCT src AS v, {k} AS k FROM core{k}"
        )
    union = "\n        UNION ALL\n        ".join(lasts)
    return f"""
    WITH RECURSIVE pairs AS (
        SELECT a.l_partkey AS u, b.l_partkey AS w
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY u, w
        HAVING COUNT(*) >= {CC_MIN_SHARED_ORDERS}
    ),
    e AS (SELECT u AS src, w AS dst FROM pairs
          UNION ALL SELECT w, u FROM pairs),
    {",".join(peels)}
    SELECT v AS part_id, CAST(MAX(k) AS INTEGER) AS core_number
    FROM ({union})
    GROUP BY v
    """


@query("graph_kcore_decomposition", oracle=_kcore_oracle())
def graph_kcore_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # the thresholded pair set is the SAME substrate the CC/modularity
    # family materializes once per input snapshot (matcache) -- the
    # inline lineitem self-join rebuild this replaced was pure
    # duplicate work, and the heaviest sf1 cell (VERDICT r10 item 3)
    # Lazy localCheckpoints throughout this loop (r13, guide §5 "the
    # driver should do almost no data work"): eager=False still
    # truncates lineage to a LogicalRDD immediately, but the RDD
    # materializes inside the NEXT action's job -- for `cur` that is
    # the count probe the loop issues anyway, so every peel round
    # costs ONE scheduler round trip instead of two (the cell ran
    # ~50 micro-jobs at sf0.1, wall dominated by per-job fixed cost;
    # identical computation, same plans, same values).
    pairs = _copurchase_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("u").alias("src"), F.col("w").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("w").alias("src"), F.col("u").alias("dst")
            )
        )
        .repartition("src")
        .localCheckpoint(eager=False)
    )

    def _peel(e: DataFrame, k: int) -> DataFrame:
        """Drop every edge touching a node of degree < k (one step).

        r13 note: a per-endpoint keyed-window variant (two window
        counts, no joins) was measured against this aggregate +
        semi-join form in honest back-to-back runs -- a wash
        (2.42 vs 2.44 s cell min): the cell's local wall is the ~45
        per-action driver round trips, identical in both shapes.
        This form is kept because partial aggregation bounds
        per-task state at hub vertices, which the window variant
        (one vertex's whole edge list buffered per partition) does
        not."""
        keep = (
            e.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select("src")
        )
        return e.join(keep, "src").join(
            keep.withColumnRenamed("src", "dst"), "dst"
        ).select("src", "dst")

    core = edges.select(F.col("src").alias("v")).distinct().select(
        "v", F.lit(1).alias("core_number")
    )
    cur = edges
    n_edges = cur.count()
    for k in range(2, KCORE_MAX + 1):
        # TWO peel steps per materialization + ONE scalar probe (the
        # graph_connected_components batching discipline: the
        # thresholded edge set is small, so per-round fixed cost --
        # scheduling + checkpoint + probe -- dominates the joins).
        # Edge count is monotone non-increasing; unchanged across a
        # double-step IS the degree->=k fixpoint.  The loop runs TO
        # the fixpoint, not to an iteration budget: each non-fixpoint
        # double-step strictly shrinks the edge count, so termination
        # is guaranteed in <= n_edges rounds, and the oracle (which
        # peels to the exact fixpoint) stays comparable at any scale
        # -- a silent cap would over-report core numbers on
        # long-pendant-chain graphs (ADVICE r8).  The backstop bound
        # is DYNAMIC: peel output is a subset of its input, so each
        # non-fixpoint double-step strictly shrinks the count and the
        # fixpoint must arrive within n_edges + 1 steps; hitting the
        # bound is therefore impossible for deterministic input and
        # RAISES instead of proceeding with an unconverged edge set.
        backstop = n_edges + 1
        for step in range(backstop + 1):
            if step == backstop:
                raise RuntimeError(
                    f"k-core peel for k={k} did not converge within "
                    f"{backstop} double-steps -- monotone peel cannot "
                    "cycle, so the input is changing between passes "
                    "(nondeterministic source?); refusing to emit "
                    "unconverged core numbers"
                )
            cur = _peel(_peel(cur, k), k).localCheckpoint(
                eager=False
            )
            n_new = cur.count()  # materializes the lazy checkpoint
            if n_new == n_edges:
                break
            n_edges = n_new
            if n_edges == 0:
                break
        if n_edges == 0:
            break
        survivors = cur.select(F.col("src").alias("kv")).distinct()
        core = (
            core.join(survivors, core["v"] == F.col("kv"), "left")
            .select(
                "v",
                F.when(F.col("kv").isNotNull(), F.lit(k))
                .otherwise(F.col("core_number"))
                .alias("core_number"),
            )
            # lazy: truncates the per-k lineage now, materializes
            # inside the consumer's job (the next k's update or the
            # final action) -- no standalone checkpoint job per k
            .localCheckpoint(eager=False)
        )
    return core.filter(F.col("core_number") >= 2).select(
        F.col("v").alias("part_id"), "core_number"
    )


# ---------------------------------------------------------------------------
# Modularity score of the connected-component partition
# ---------------------------------------------------------------------------
# Community-quality audit on the same thresholded co-purchase graph:
# Q = sum_c [ e_c/m - (d_c/(2m))^2 ] where e_c is the undirected
# edge count inside community c, d_c the degree sum of its nodes,
# m the total undirected edge count.  Communities here are the
# graph_connected_components labels -- CC is the degenerate
# upper-bound partition (no inter-community edges), so Q reduces to
# 1 - sum (d_c/2m)^2, which the pytest asserts as an identity; the
# operator itself computes e_c the general way so any partition
# (e.g. a future Louvain pass) can reuse it.  Per-community term
# rows (PSI discipline) -- every count is an exact integer and each
# q_contrib one fixed double expression.
@query(
    "graph_modularity_score",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT a.l_partkey AS u, b.l_partkey AS w
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY u, w
        HAVING COUNT(*) >= {CC_MIN_SHARED_ORDERS}
    ),
    e AS (SELECT u AS src, w AS dst FROM pairs
          UNION ALL SELECT w, u FROM pairs),
    nodes AS (SELECT DISTINCT src AS v FROM e),
    reach(v, lbl) AS (
        SELECT v, v FROM nodes
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.v
    ),
    comp AS (SELECT v, MIN(lbl) AS component_id
             FROM reach GROUP BY v),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
    deg AS (
        SELECT comp.component_id,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(d.deg) AS BIGINT) AS degree_sum
        FROM (SELECT src AS v, COUNT(*) AS deg FROM e GROUP BY src) d
        JOIN comp ON comp.v = d.v
        GROUP BY comp.component_id
    ),
    inner_e AS (
        SELECT ca.component_id,
               CAST(COUNT(*) AS BIGINT) AS internal_edges
        FROM pairs
        JOIN comp ca ON ca.v = pairs.u
        JOIN comp cb ON cb.v = pairs.w
        WHERE ca.component_id = cb.component_id
        GROUP BY ca.component_id
    )
    SELECT deg.component_id, deg.n_nodes,
           COALESCE(inner_e.internal_edges, 0) AS internal_edges,
           deg.degree_sum,
           FLOOR((CAST(COALESCE(inner_e.internal_edges, 0) AS DOUBLE)
                  / mm.m
                  - (CAST(deg.degree_sum AS DOUBLE) / (2 * mm.m))
                    * (CAST(deg.degree_sum AS DOUBLE) / (2 * mm.m)))
                 * 1000000) / 1000000 AS q_contrib
    FROM deg
    LEFT JOIN inner_e ON inner_e.component_id = deg.component_id
    CROSS JOIN mm
    """,
)
def graph_modularity_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = _copurchase_pairs(spark, sf_dir).cache()
    edges = pairs.select(
        F.col("u").alias("src"), F.col("w").alias("dst")
    ).unionByName(
        pairs.select(F.col("w").alias("src"), F.col("u").alias("dst"))
    )
    comp = (
        # the materialized component table (shared with
        # graph_connected_components -- the CC iteration runs once
        # per input snapshot, not once per consumer)
        copurchase_cc_labels(spark, sf_dir)
        .select(
            F.col("v"),
            F.col("label").alias("component_id"),
        )
        # only nodes that carry edges participate in Q
        .join(
            edges.select(F.col("src").alias("v")).distinct(), "v"
        )
    )
    mm = pairs.agg(F.count("*").cast("long").alias("m"))
    deg = (
        edges.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .join(comp, F.col("src") == comp["v"])
        .groupBy("component_id")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("deg").cast("long").alias("degree_sum"),
        )
    )
    ca = comp.select(
        F.col("v").alias("u"), F.col("component_id").alias("cid_a")
    )
    cb = comp.select(
        F.col("v").alias("w"), F.col("component_id").alias("cid_b")
    )
    inner_e = (
        pairs.join(ca, "u")
        .join(cb, "w")
        .filter(F.col("cid_a") == F.col("cid_b"))
        .groupBy(F.col("cid_a").alias("component_id"))
        .agg(F.count("*").cast("long").alias("internal_edges"))
    )
    q = (
        deg.join(inner_e, "component_id", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            "component_id",
            "n_nodes",
            F.coalesce("internal_edges", F.lit(0))
            .cast("long")
            .alias("internal_edges"),
            "degree_sum",
            (
                F.floor(
                    (
                        F.coalesce("internal_edges", F.lit(0)).cast(
                            "double"
                        )
                        / F.col("m")
                        - (
                            F.col("degree_sum").cast("double")
                            / (2 * F.col("m"))
                        )
                        * (
                            F.col("degree_sum").cast("double")
                            / (2 * F.col("m"))
                        )
                    )
                    * 1000000
                )
                / 1000000
            ).alias("q_contrib"),
        )
    )
    return q
