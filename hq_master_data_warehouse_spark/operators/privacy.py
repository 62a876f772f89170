"""Privacy / compliance operators: pseudonymization, k-anonymity
auditing, and cascading erasure -- the GDPR-shaped maintenance surface
a production warehouse runs beside its analytics (the reference's
delete-by-key API, src/app/api/ routes, is the single-table seed of
this family).

All pure column expressions and anti-joins: pseudonymization is a
projection (linear, no shuffle); the k-anonymity audit is one grouped
count over the quasi-identifier tuple; cascade deletion is a chain of
(broadcast-able) semi/anti-joins driven by the erasure-request set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.loaders import load_table

#: deterministic salt -- production rotates this from a secret store.
PSEUDO_SALT = "hqmdw-v1"

K_ANON = 5

#: deterministic erasure-request predicate (stand-in for a request
#: table): every 97th customer key.
ERASURE_MOD = 97


# -- pseudonymization: direct identifiers dropped, the join key
#    replaced with a salted sha256 (stable across tables and runs, so
#    referential integrity survives), and the one numeric
#    quasi-identifier generalized to a coarse bucket.
@query(
    "privacy_pseudonymize",
    oracle=f"""
    SELECT sha256('{PSEUDO_SALT}' || CAST(c_custkey AS VARCHAR))
               AS pseudo_id,
           c_nationkey, c_mktsegment,
           CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) * 1000
               AS acctbal_band
    FROM customer
    """,
)
def privacy_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        F.sha2(
            F.concat(
                F.lit(PSEUDO_SALT), F.col("c_custkey").cast("string")
            ),
            256,
        ).alias("pseudo_id"),
        "c_nationkey",
        "c_mktsegment",
        (
            F.floor(F.col("c_acctbal") / 1000.0).cast("long") * 1000
        ).alias("acctbal_band"),
    )


# -- k-anonymity audit: quasi-identifier tuples whose group is smaller
#    than K re-identify their members; the audit reports every group
#    with its risk flag.  One grouped count -- the map-side-combined
#    shape that holds at any corpus size.
@query(
    "privacy_k_anonymity",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size,
           (COUNT(*) < {K_ANON}) AS risky
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("group_size"),
        (F.count("*") < K_ANON).alias("risky"),
    )


# -- cascading erasure impact: for a deterministic erasure-request
#    set, how many rows each downstream table loses and keeps.  The
#    lineitem leg resolves requests through orders (semi-join on the
#    FK chain); every leg is a semi/anti-join against the request set,
#    which production would BROADCAST (requests << facts).  Run as a
#    dry-run report before the physical delete (the physical path is
#    the txn-log commit/compaction path: `commit` the rewritten files'
#    add/remove actions, then `compact_table`, in sources/txn_log.py).
@query(
    "privacy_cascade_delete",
    oracle=f"""
    WITH req AS (
        SELECT c_custkey FROM customer
        WHERE c_custkey % {ERASURE_MOD} = 0
    ),
    doomed_orders AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM req)
    )
    SELECT 'customer' AS table_name,
           (SELECT COUNT(*) FROM req) AS removed,
           (SELECT COUNT(*) FROM customer) -
               (SELECT COUNT(*) FROM req) AS remaining
    UNION ALL
    SELECT 'orders',
           (SELECT COUNT(*) FROM doomed_orders),
           (SELECT COUNT(*) FROM orders) -
               (SELECT COUNT(*) FROM doomed_orders)
    UNION ALL
    SELECT 'lineitem',
           (SELECT COUNT(*) FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM doomed_orders)),
           (SELECT COUNT(*) FROM lineitem) -
               (SELECT COUNT(*) FROM lineitem
                WHERE l_orderkey IN
                    (SELECT o_orderkey FROM doomed_orders))
    """,
)
def privacy_cascade_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    req = customer.filter(
        F.col("c_custkey") % ERASURE_MOD == 0
    ).select("c_custkey")
    doomed_orders = orders.join(
        F.broadcast(req),
        orders.o_custkey == req.c_custkey,
        "left_semi",
    ).select("o_orderkey")
    doomed_lines = lineitem.join(
        F.broadcast(doomed_orders),
        lineitem.l_orderkey == doomed_orders.o_orderkey,
        "left_semi",
    )

    def leg(name: str, removed: DataFrame, full: DataFrame) -> DataFrame:
        r = removed.agg(F.count("*").alias("removed"))
        t = full.agg(F.count("*").alias("total"))
        return r.crossJoin(t).select(
            F.lit(name).alias("table_name"),
            F.col("removed").cast("long").alias("removed"),
            (F.col("total") - F.col("removed"))
            .cast("long")
            .alias("remaining"),
        )

    out = leg("customer", req, customer)
    out = out.unionByName(leg("orders", doomed_orders, orders))
    out = out.unionByName(leg("lineitem", doomed_lines, lineitem))
    return out


# -- differentially-private-style noisy count release: per-group
#    counts plus Laplace(1/eps) noise, with the noise DERIVED
#    DETERMINISTICALLY from the group key (md5 -> uniform in (-.5,.5)
#    -> inverse-CDF Laplace) so the release is reproducible across
#    runs/engines and the whole mechanism is oracle-checkable.  A
#    production DP deployment draws fresh randomness per release (and
#    tracks budget); the plan -- one grouped count, noise as a pure
#    map expression -- is identical.  eps=1, count sensitivity=1.
DP_EPS = 1.0


@query(
    "privacy_dp_noisy_counts",
    oracle=f"""
    WITH g AS (
        SELECT c_mktsegment, COUNT(*) AS true_count
        FROM customer GROUP BY c_mktsegment
    ),
    u AS (
        SELECT c_mktsegment, true_count,
               (CAST(concat('0x', substr(md5(c_mktsegment), 1, 4))
                     AS INT) + 0.5) / 65536.0 - 0.5 AS uu
        FROM g
    )
    SELECT c_mktsegment,
           ROUND(true_count
                 - (1.0 / {DP_EPS})
                   * CASE WHEN uu >= 0 THEN 1 ELSE -1 END
                   * ln(1 - 2 * abs(uu)), 6) AS noisy_count
    FROM u
    """,
)
def privacy_dp_noisy_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    g = customer.groupBy("c_mktsegment").agg(
        F.count("*").alias("true_count")
    )
    # uniform in (-0.5, 0.5), never hitting the ln(0) endpoints
    u = (
        (
            F.conv(F.substring(F.md5("c_mktsegment"), 1, 4), 16, 10)
            .cast("int")
            + F.lit(0.5)
        )
        / 65536.0
        - 0.5
    )
    noise = (
        (1.0 / DP_EPS)
        * F.when(u >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(1 - 2 * F.abs(u))
    )
    return g.select(
        "c_mktsegment",
        F.round(F.col("true_count") - noise, 6).alias("noisy_count"),
    )


L_DIVERSITY = 3


# -- l-diversity: the refinement of k-anonymity that also requires
#    each quasi-identifier group to carry at least L DISTINCT
#    sensitive values (a k-anonymous group whose members all share
#    one sensitive value still leaks it).  One grouped count +
#    count-distinct over the QI tuple -- a single shuffle, same shape
#    as the k-anonymity audit at any scale.
@query(
    "privacy_l_diversity",
    oracle=f"""
    SELECT c_nationkey AS nation,
           c_mktsegment AS segment,
           COUNT(*) AS k_size,
           CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS
                BIGINT)) AS BIGINT) AS l_distinct,
           COUNT(*) >= {K_ANON}
               AND COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS
                   BIGINT)) >= {L_DIVERSITY} AS is_safe
    FROM customer
    GROUP BY 1, 2
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity + l-diversity audit over the (nation, segment)
    quasi-identifier with the $1000 account-balance band as the
    sensitive attribute.  FLOOR on acctbal/1000 is exact for the
    2-decimal fixture domain (no half-tie hazard: floor, not
    round)."""
    cust = load_table(spark, sf_dir, "customer")
    sensitive = F.floor(F.col("c_acctbal") / 1000.0).cast("long")
    return (
        cust.groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count("*").alias("k_size"),
            F.countDistinct(sensitive).alias("l_distinct"),
        )
        .select(
            "nation",
            "segment",
            "k_size",
            "l_distinct",
            (
                (F.col("k_size") >= K_ANON)
                & (F.col("l_distinct") >= L_DIVERSITY)
            ).alias("is_safe"),
        )
    )


T_CLOSENESS_PPM = 200_000  # t = 0.20


# -- t-closeness: the third rung of the anonymity ladder (k-anonymity
#    -> l-diversity -> t-closeness).  A group can be k-anonymous and
#    l-diverse yet still leak if its sensitive-value DISTRIBUTION
#    diverges from the table's: t-closeness bounds the Earth Mover's
#    Distance between the two.  For the ordered $1000 balance bands
#    with unit ground distance, EMD = (1/(m-1)) * sum_j |CumP_j -
#    CumQ_j| -- a sum of rationals with denominator k*N, so the audit
#    reports EXACT integer ppm via the same half-away integer
#    division as the basket rules: no double ever decides a digit
#    (int64-safe through ~10^7-customer tables; the DECIMAL widening
#    is mechanical beyond that).  Plan: one grouped count, a bounded
#    dense grid (groups x 11 bands, broadcast), per-group ordered
#    cumsum on real keys.  Scales.
@query(
    "privacy_t_closeness",
    oracle=f"""
    WITH cust AS (
        SELECT c_nationkey AS nation, c_mktsegment AS segment,
               CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS b
        FROM customer
    ),
    buckets AS (SELECT DISTINCT b FROM cust),
    m AS (SELECT COUNT(*) AS m FROM buckets),
    nn AS (SELECT COUNT(*) AS n FROM cust),
    gcum AS (
        SELECT b,
               CAST(SUM(COUNT(*)) OVER (ORDER BY b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_g
        FROM cust GROUP BY b
    ),
    grp AS (
        SELECT nation, segment, COUNT(*) AS k_size FROM cust
        GROUP BY 1, 2
    ),
    cell AS (
        SELECT g.nation, g.segment, g.k_size, bk.b,
               COUNT(c.b) AS cnt
        FROM grp g
        CROSS JOIN buckets bk
        LEFT JOIN cust c
          ON c.nation = g.nation AND c.segment = g.segment
         AND c.b = bk.b
        GROUP BY 1, 2, 3, 4
    ),
    cums AS (
        SELECT nation, segment, k_size, b,
               CAST(SUM(cnt) OVER (PARTITION BY nation, segment
                    ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS BIGINT) AS cum_k
        FROM cell
    )
    SELECT c.nation, c.segment,
           CAST(MIN(c.k_size) AS BIGINT) AS k_size,
           CAST((2000000 * SUM(ABS(nn.n * c.cum_k
                                   - c.k_size * gcum.cum_g))
                 + (m.m - 1) * MIN(c.k_size) * nn.n)
                // (2 * (m.m - 1) * MIN(c.k_size) * nn.n)
                AS BIGINT) AS t_ppm,
           ((2000000 * SUM(ABS(nn.n * c.cum_k
                               - c.k_size * gcum.cum_g))
             + (m.m - 1) * MIN(c.k_size) * nn.n)
            // (2 * (m.m - 1) * MIN(c.k_size) * nn.n))
               <= {T_CLOSENESS_PPM} AS is_close
    FROM cums c
    JOIN gcum ON gcum.b = c.b
    CROSS JOIN m CROSS JOIN nn
    GROUP BY c.nation, c.segment, m.m, nn.n
    """,
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer t-closeness audit over the (nation, segment)
    quasi-identifier and the ordered $1000 balance bands."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 1000.0)
        .cast("long")
        .alias("b"),
    )
    buckets = cust.select("b").distinct()
    m = buckets.count()
    n = cust.count()
    glob = (
        cust.groupBy("b")
        .agg(F.count("*").alias("gcnt"))
        .select(
            "b",
            F.sum("gcnt")
            .over(
                Window.orderBy("b").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .alias("cum_g"),
        )
    )
    grp = cust.groupBy("nation", "segment").agg(
        F.count("*").alias("k_size")
    )
    counts = cust.groupBy("nation", "segment", "b").agg(
        F.count("*").alias("cnt")
    )
    cell = (
        grp.crossJoin(F.broadcast(buckets))
        .join(counts, ["nation", "segment", "b"], "left")
        .select(
            "nation",
            "segment",
            "k_size",
            "b",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )
    wcum = (
        Window.partitionBy("nation", "segment")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cums = cell.select(
        "nation",
        "segment",
        "k_size",
        "b",
        F.sum("cnt").over(wcum).alias("cum_k"),
    )
    j = cums.join(F.broadcast(glob), "b")
    den_sql = f"(({m} - 1) * min(k_size) * {n}L)"
    t_ppm = F.expr(
        f"(2000000L * sum(abs({n}L * cum_k - k_size * cum_g))"
        f" + {den_sql}) div (2L * {den_sql})"
    ).cast("long")
    return j.groupBy("nation", "segment").agg(
        F.min("k_size").cast("long").alias("k_size"),
        t_ppm.alias("t_ppm"),
        (t_ppm <= T_CLOSENESS_PPM).alias("is_close"),
    )
