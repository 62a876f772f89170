"""Record-lifecycle and rule-mining analytics (engine surface).

Warehouse maintenance and behavioral-analytics shapes the reference's
ledger workflow implies but its API never names: CDC log application
(the generalization of `supabase/functions/clay-webhook/index.ts`'s
upsert stream -- reference webhooks are an insert/update CDC feed),
gaps-and-islands activity streaks, Kaplan-Meier repeat-purchase
survival, MATCH_RECOGNIZE-style shape detection over a revenue series,
association-rule mining over the co-purchase basket, referential-
integrity audits across the star schema's FK edges, and exact weighted
medians.

Cross-engine conventions (see tests/driver_check.py hazard notes):
money rides exact integer cents; ratios are reported as exact-integer
parts-per-million via integer division (``a DIV b`` / ``a // b``), so
no ROUND-on-double ever decides an output digit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.prefix import bitlen, prefix_scan
from ..registry import query
from ..sources.loaders import load_table


def _cents(col: F.Column) -> F.Column:
    """Exact 2-decimal money -> integer cents in a long."""
    return F.round(col * 100).cast("long")


# -- CDC apply: a change-log (insert/update/delete per key, ordered by
#    a sequence) collapsed to the final snapshot, last-writer-wins.
#    The standard merge shape behind every lakehouse MERGE INTO: ONE
#    shuffle on the key, a per-key window picking the newest record,
#    then a filter dropping keys whose final op is a delete.  At
#    100 TB the window partitions on the real key (user_id) -- no
#    bounded-domain or single-partition window anywhere.
@query(
    "ingest_cdc_apply",
    oracle="""
    WITH log AS (
        SELECT user_id,
               ts,
               event_id,
               CASE WHEN event_id % 10 = 0 THEN 'D'
                    WHEN event_id % 10 <= 3 THEN 'I'
                    ELSE 'U' END AS op,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    latest AS (
        SELECT user_id, op, cents,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_ops
        FROM log
    )
    SELECT user_id, op AS last_op, cents AS last_cents, n_ops
    FROM latest
    WHERE rn = 1 AND op <> 'D'
    """,
)
def ingest_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a CDC log (derived deterministically from `events`) to
    produce the live snapshot: newest record per key wins; keys whose
    newest op is a delete vanish.  Ref: the clay-webhook upsert feed
    (supabase/functions/clay-webhook/index.ts) is this op with op='U'
    only."""
    log = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_id") % 10 == 0, "D")
        .when(F.col("event_id") % 10 <= 3, "I")
        .otherwise("U")
        .alias("op"),
        _cents(F.col("value")).alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        log.select(
            "user_id",
            "op",
            "cents",
            F.row_number().over(w).alias("rn"),
            F.count("*")
            .over(Window.partitionBy("user_id"))
            .alias("n_ops"),
        )
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            F.col("op").alias("last_op"),
            F.col("cents").alias("last_cents"),
            "n_ops",
        )
    )


# -- gaps-and-islands: consecutive-day activity streaks per user.  The
#    island key (day minus per-user day rank) turns runs of
#    consecutive dates into equal constants -- the classic trick,
#    entirely windowed on the REAL user key: one shuffle, scales.
@query(
    "events_activity_streaks",
    oracle="""
    WITH d AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    r AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY day) AS INTEGER)
                   AS island
        FROM d
    ),
    s AS (
        SELECT user_id, island,
               COUNT(*) AS streak_len, MIN(day) AS streak_start
        FROM r GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(SUM(streak_len) AS BIGINT) AS active_days,
           COUNT(*) AS n_streaks,
           MAX(streak_len) AS max_streak,
           MIN(CASE WHEN streak_len = ms THEN streak_start END)
               AS best_streak_start
    FROM (SELECT *, MAX(streak_len) OVER (PARTITION BY user_id) AS ms
          FROM s)
    GROUP BY user_id
    """,
)
def events_activity_streaks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Longest consecutive-active-day streak per user (gaps &
    islands); earliest start date breaks max-length ties so the
    output is deterministic in both engines."""
    d = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    wu = Window.partitionBy("user_id").orderBy("day")
    r = d.select(
        "user_id",
        "day",
        F.date_sub(
            F.col("day"), F.row_number().over(wu)
        ).alias("island"),
    )
    s = r.groupBy("user_id", "island").agg(
        F.count("*").alias("streak_len"),
        F.min("day").alias("streak_start"),
    )
    ms = s.withColumn(
        "ms",
        F.max("streak_len").over(Window.partitionBy("user_id")),
    )
    return ms.groupBy("user_id").agg(
        F.sum("streak_len").alias("active_days"),
        F.count("*").alias("n_streaks"),
        F.max("streak_len").alias("max_streak"),
        F.min(
            F.when(
                F.col("streak_len") == F.col("ms"),
                F.col("streak_start"),
            )
        ).alias("best_streak_start"),
    )


# -- Kaplan-Meier: time from first to second order, right-censored at
#    the study end for one-order customers.  The estimator runs over
#    the DISTINCT-DURATION summary (bounded by the date-range span in
#    days, never the fact table), so the ordered cumulative windows
#    are bounded-domain -- same precedent as the monthly SES table.
#    EXP(SUM(LN)) can differ from the other engine by ~1 ULP per
#    term; at ROUND(.,4) the collision band is ~1e-11 wide -- accepted
#    (same class as graph_pagerank_copurchase's rank_ppm rounding).
@query(
    "orders_survival_km",
    oracle="""
    WITH seq AS (
        SELECT o_custkey,
               CAST(o_orderdate AS DATE) AS d,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ),
    study AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS fin FROM orders),
    subj AS (
        SELECT f.o_custkey,
               CASE WHEN s.d IS NULL
                    THEN date_diff('day', f.d, study.fin)
                    ELSE date_diff('day', f.d, s.d) END AS dur,
               CASE WHEN s.d IS NULL THEN 0 ELSE 1 END AS ev
        FROM (SELECT * FROM seq WHERE rn = 1) f
        CROSS JOIN study
        LEFT JOIN (SELECT * FROM seq WHERE rn = 2) s
               ON s.o_custkey = f.o_custkey
    ),
    tab AS (
        SELECT dur AS t,
               CAST(SUM(ev) AS BIGINT) AS d_events,
               COUNT(*) AS leaving
        FROM subj GROUP BY dur
    ),
    risk AS (
        SELECT t, d_events,
               CAST(SUM(leaving) OVER (
                   ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_risk
        FROM tab
    )
    SELECT t AS duration_days,
           n_risk,
           d_events AS n_events,
           ROUND(CASE WHEN MIN(1.0 - CAST(d_events AS DOUBLE) / n_risk)
                           OVER w = 0.0
                      THEN 0.0
                      ELSE EXP(SUM(LN(
                          CASE WHEN d_events < n_risk
                               THEN 1.0 - CAST(d_events AS DOUBLE)
                                          / n_risk
                               ELSE 1.0 END)) OVER w)
                 END, 4) AS survival
    FROM risk
    WHERE d_events > 0
    WINDOW w AS (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def orders_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of the first->second order interval.
    Durations with no event are censoring-only and appear in n_risk
    but not as output rows, per the standard estimator."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        "o_orderkey",
    )
    wseq = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    seq = orders.select(
        "o_custkey", "d", F.row_number().over(wseq).alias("rn")
    )
    first = seq.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("d").alias("d1")
    )
    second = seq.filter(F.col("rn") == 2).select(
        F.col("o_custkey").alias("ck2"), F.col("d").alias("d2")
    )
    fin = orders.agg(F.max("d").alias("fin"))
    subj = (
        first.crossJoin(F.broadcast(fin))
        .join(second, first["o_custkey"] == second["ck2"], "left")
        .select(
            F.when(
                F.col("d2").isNull(),
                F.datediff(F.col("fin"), F.col("d1")),
            )
            .otherwise(F.datediff(F.col("d2"), F.col("d1")))
            .alias("dur"),
            F.when(F.col("d2").isNull(), 0)
            .otherwise(1)
            .alias("ev"),
        )
    )
    tab = subj.groupBy(F.col("dur").alias("t")).agg(
        F.sum("ev").alias("d_events"), F.count("*").alias("leaving")
    )
    wdesc = (
        Window.orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = tab.select(
        "t",
        "d_events",
        F.sum("leaving").over(wdesc).alias("n_risk"),
    )
    wasc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    factor = 1.0 - F.col("d_events").cast("double") / F.col("n_risk")
    # LN argument guarded to 1.0 (exact zero contribution) on rows
    # where everyone at risk fails: DuckDB ERRORS on ln(0) and Spark
    # returns NULL -- neither may reach the window sum.  The outer
    # CASE then pins survival to 0 from that row on.
    safe_ln = F.log(
        F.when(
            F.col("d_events") < F.col("n_risk"), factor
        ).otherwise(F.lit(1.0))
    )
    surv = F.when(F.min(factor).over(wasc) == 0.0, 0.0).otherwise(
        F.exp(F.sum(safe_ln).over(wasc))
    )
    return (
        risk.select(
            F.col("t").alias("duration_days"),
            "n_risk",
            F.col("d_events").alias("n_events"),
            F.round(surv, 4).alias("survival"),
            F.col("d_events").alias("_d"),
        )
        .filter(F.col("_d") > 0)
        .drop("_d")
    )


# -- MATCH_RECOGNIZE-style shape detection: strict two-day-down,
#    two-day-up V-shapes in the daily revenue series, via LAG/LEAD
#    over the bounded daily summary (exact integer cents -- every
#    comparison and output value is integer-derived).
@query(
    "window_pattern_vshape",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT day, cents,
               LAG(cents, 2)  OVER w AS l2,
               LAG(cents, 1)  OVER w AS l1,
               LEAD(cents, 1) OVER w AS n1,
               LEAD(cents, 2) OVER w AS n2
        FROM daily WINDOW w AS (ORDER BY day)
    )
    SELECT day AS trough_day,
           cents / 100.0 AS trough_revenue,
           (l2 - cents) / 100.0 AS decline,
           (n2 - cents) / 100.0 AS recovery
    FROM lagged
    WHERE l2 > l1 AND l1 > cents AND cents < n1 AND n1 < n2
    """,
)
def window_pattern_vshape(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """V-shape (down-down-up-up) pattern match over daily revenue.
    The LAG/LEAD window is global but over the bounded per-day
    summary (one row per calendar day), the same bounded-domain
    precedent as the SES monthly table."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.to_date("o_orderdate").alias("day"),
            _cents(F.col("o_totalprice")).alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").alias("cents"))
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "cents",
        F.lag("cents", 2).over(w).alias("l2"),
        F.lag("cents", 1).over(w).alias("l1"),
        F.lead("cents", 1).over(w).alias("n1"),
        F.lead("cents", 2).over(w).alias("n2"),
    )
    return lagged.filter(
        (F.col("l2") > F.col("l1"))
        & (F.col("l1") > F.col("cents"))
        & (F.col("cents") < F.col("n1"))
        & (F.col("n1") < F.col("n2"))
    ).select(
        F.col("day").alias("trough_day"),
        (F.col("cents") / 100.0).alias("trough_revenue"),
        ((F.col("l2") - F.col("cents")) / 100.0).alias("decline"),
        ((F.col("n2") - F.col("cents")) / 100.0).alias("recovery"),
    )


#: ppm ratio via exact integer half-away division: no double ever
#: decides a digit.  a, b are long expressions; b > 0.
def _ppm_sql(a: str, b: str) -> str:
    # explicit BIGINT casts: with INT32-typed operands (small
    # literals, INTEGER columns) DuckDB would otherwise evaluate
    # 2000000 * a in INT32 and raise an overflow past a ~= 1073
    return (
        f"(2000000 * CAST(({a}) AS BIGINT) + CAST(({b}) AS BIGINT))"
        f" // (2 * CAST(({b}) AS BIGINT))"
    )


def _ppm(a: str, b: str) -> F.Column:
    """Spark twin of _ppm_sql over SQL fragments naming long columns:
    `div` is Spark's exact integer division on longs (the `/`
    operator would detour through double and lose exactness past
    2^53)."""
    return F.expr(
        f"(2000000L * ({a}) + ({b})) div (2L * ({b}))"
    ).cast("long")


# -- association rules over the order basket: support / confidence /
#    lift for directed part pairs.  Pair counts explode per-order
#    C(k,2) with k bounded by basket size (~7 in TPC-H) -- the
#    standard market-basket shape; the global top-20 is a distributed
#    TakeOrderedAndProject, never a single-partition sort of the pair
#    table.  Ratios are exact-integer ppm (see _ppm): n_ab * 2e6 and
#    N * 2e6 stay far below 2^63 up to ~10^12 baskets.
@query(
    "basket_association_rules",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    nn AS (SELECT COUNT(DISTINCT o) AS n FROM op),
    item AS (SELECT p, COUNT(*) AS n_item FROM op GROUP BY p),
    pair AS (
        SELECT a.p AS ante, b.p AS cons, COUNT(*) AS n_ab
        FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p
        GROUP BY a.p, b.p
    )
    SELECT ante, cons, n_ab,
           {_ppm_sql("n_ab", "ia.n_item")} AS conf_ppm,
           {_ppm_sql("n_ab * nn.n", "ia.n_item * ic.n_item")}
               AS lift_ppm
    FROM pair
    JOIN item ia ON ia.p = ante
    JOIN item ic ON ic.p = cons
    CROSS JOIN nn
    WHERE n_ab >= 3
    ORDER BY lift_ppm DESC, ante, cons
    LIMIT 20
    """,
)
def basket_association_rules(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-20 directed association rules by lift (min support 3).
    lift_ppm multiplies counts BEFORE dividing (exact longs), so the
    int64 bound is n_ab * N * 2e6 -- safe to ~10^6 baskets per rule
    at 10^6-basket corpora; beyond that the multiply widens to
    DECIMAL (not needed at any driver SF)."""
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("o"),
            F.col("l_partkey").alias("p"),
        )
        .distinct()
    )
    n = op.select("o").distinct().count()
    item = op.groupBy("p").agg(F.count("*").alias("n_item"))
    a = op.select("o", F.col("p").alias("ante"))
    b = op.select(F.col("o").alias("o2"), F.col("p").alias("cons"))
    pair = (
        a.join(b, (a["o"] == b["o2"]) & (F.col("ante") != F.col("cons")))
        .groupBy("ante", "cons")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    ia = item.select(
        F.col("p").alias("ante"), F.col("n_item").alias("na")
    )
    ic = item.select(
        F.col("p").alias("cons"), F.col("n_item").alias("nc")
    )
    out = (
        pair.join(ia, "ante")
        .join(ic, "cons")
        .select(
            "ante",
            "cons",
            "n_ab",
            _ppm("n_ab", "na").alias("conf_ppm"),
            _ppm(f"n_ab * {n}L", "na * nc").alias("lift_ppm"),
        )
    )
    return out.orderBy(
        F.col("lift_ppm").desc(), "ante", "cons"
    ).limit(20)


# -- referential-integrity audit over every FK edge of the star
#    schema: child row count + orphan count per edge, via LEFT ANTI
#    joins (broadcast for the small parents).  The lakehouse
#    equivalent of the reference's Postgres FK constraints
#    (supabase-schema.sql REFERENCES clauses), which a parquet lake
#    must re-check by query.
@query(
    "dq_referential_integrity",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
           (SELECT COUNT(*) FROM lineitem) AS child_rows,
           (SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
               AS orphan_rows
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM supplier s
                               WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT COUNT(*) FROM customer),
           (SELECT COUNT(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           (SELECT COUNT(*) FROM supplier),
           (SELECT COUNT(*) FROM supplier s
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = s.s_nationkey))
    UNION ALL
    SELECT 'nation.n_regionkey->region',
           (SELECT COUNT(*) FROM nation),
           (SELECT COUNT(*) FROM nation n
             WHERE NOT EXISTS (SELECT 1 FROM region r
                               WHERE r.r_regionkey = n.n_regionkey))
    """,
)
def dq_referential_integrity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Orphan audit for all seven FK edges.  Each leg is one
    broadcast (parent side is the smaller table or a key projection)
    anti-join count -- at 100 TB the lineitem legs broadcast the
    distinct parent keys, never shuffle the fact table."""
    t = {
        name: load_table(spark, sf_dir, name)
        for name in (
            "lineitem",
            "orders",
            "part",
            "supplier",
            "customer",
            "nation",
            "region",
        )
    }

    def leg(
        edge: str, child: DataFrame, ck: str, parent: DataFrame, pk: str
    ) -> DataFrame:
        c = child.select(F.col(ck).alias("k"))
        p = parent.select(F.col(pk).alias("k")).distinct()
        orphans = c.join(F.broadcast(p), "k", "left_anti")
        return (
            c.agg(F.count("*").alias("child_rows"))
            .crossJoin(orphans.agg(F.count("*").alias("orphan_rows")))
            .select(
                F.lit(edge).alias("fk_edge"),
                "child_rows",
                "orphan_rows",
            )
        )

    legs = [
        leg(
            "lineitem.l_orderkey->orders",
            t["lineitem"], "l_orderkey", t["orders"], "o_orderkey",
        ),
        leg(
            "lineitem.l_partkey->part",
            t["lineitem"], "l_partkey", t["part"], "p_partkey",
        ),
        leg(
            "lineitem.l_suppkey->supplier",
            t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey",
        ),
        leg(
            "orders.o_custkey->customer",
            t["orders"], "o_custkey", t["customer"], "c_custkey",
        ),
        leg(
            "customer.c_nationkey->nation",
            t["customer"], "c_nationkey", t["nation"], "n_nationkey",
        ),
        leg(
            "supplier.s_nationkey->nation",
            t["supplier"], "s_nationkey", t["nation"], "n_nationkey",
        ),
        leg(
            "nation.n_regionkey->region",
            t["nation"], "n_regionkey", t["region"], "r_regionkey",
        ),
    ]
    out = legs[0]
    for other in legs[1:]:
        out = out.unionAll(other)
    return out


# -- exact weighted median: the smallest value whose cumulative
#    weight reaches half the total.  Runs on the (group, value)
#    summary -- the per-group ordered window scans each group's
#    DISTINCT values once after one shuffle; the standard exact-
#    median shape (no sampling, no approx_percentile).
@query(
    "agg_weighted_median",
    oracle="""
    WITH g AS (
        SELECT l_returnflag AS flag,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               SUM(CAST(l_quantity AS BIGINT)) AS w
        FROM lineitem GROUP BY 1, 2
    ),
    c AS (
        SELECT flag, cents, w,
               SUM(w) OVER (PARTITION BY flag ORDER BY cents
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cw,
               SUM(w) OVER (PARTITION BY flag) AS tot
        FROM g
    )
    SELECT flag,
           MIN(cents) / 100.0 AS weighted_median,
           CAST(MIN(tot) AS BIGINT) AS total_weight
    FROM c
    WHERE 2 * cw >= tot
    GROUP BY flag
    """,
)
def agg_weighted_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantity-weighted exact median price per return flag (lower
    median: least value v with 2 * W(<=v) >= W_total).  The running
    weight is a grouped prefix_scan over (flag, price band) --
    a flag-partitioned window would put each flag's whole
    distinct-price table (near-unique extended prices = row-scale)
    through one of |flags|=3 tasks (r11); the per-flag grand total
    is a grouped aggregate broadcast back, not a window."""
    g = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("flag"),
            _cents(F.col("l_extendedprice")).alias("cents"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .groupBy("flag", "cents")
        .agg(F.sum("q").alias("w"))
    )
    c = prefix_scan(
        g,
        F.floor(F.col("cents") / F.lit(1 << 18)),
        ["cents"],
        [("w", "cw")],
        groups=["flag"],
    )
    tots = g.groupBy("flag").agg(F.sum("w").alias("tot"))
    return (
        c.join(F.broadcast(tots), "flag")
        .filter(2 * F.col("cw") >= F.col("tot"))
        .groupBy("flag")
        .agg(
            (F.min("cents") / 100.0).alias("weighted_median"),
            F.min("tot").alias("total_weight"),
        )
    )


# -- inter-arrival gap statistics: the queueing-theory view of the
#    event stream (burstiness, idle periods).  Gaps are EXACT integer
#    seconds from per-user LAG; min/max are exact; the median is the
#    exact lower median via cumulative counts over distinct gaps --
#    no approx_percentile, no float quantile -- run through the
#    two-pass prefix_scan (r11: second-granularity gaps are
#    near-unique on bursty streams, so the distinct-gap table is
#    row-scale and a bare global window would be one task).
#    Shuffles: one on user_id (LAG), one on the gap bucket.  Scales.
@query(
    "events_interarrival_stats",
    oracle="""
    WITH g AS (
        SELECT user_id,
               CAST(date_diff('second', lag(ts) OVER w, ts) AS BIGINT)
                   AS gap
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    gaps AS (SELECT gap FROM g WHERE gap IS NOT NULL),
    freq AS (SELECT gap, COUNT(*) AS c FROM gaps GROUP BY gap),
    c AS (
        SELECT gap, c,
               CAST(SUM(c) OVER (ORDER BY gap
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cw,
               CAST(SUM(c) OVER () AS BIGINT) AS tot
        FROM freq
    )
    SELECT (SELECT MIN(gap) FROM gaps) AS min_gap_s,
           (SELECT MIN(gap) FROM c WHERE 2 * cw >= tot)
               AS median_gap_s,
           (SELECT MAX(gap) FROM gaps) AS max_gap_s,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM gaps) AS n_gaps
    """,
)
def events_interarrival_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact inter-event gap profile across all users (seconds)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        load_table(spark, sf_dir, "events")
        .select(
            (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w))
            ).alias("gap")
        )
        .filter(F.col("gap").isNotNull())
        .cache()  # feeds min/max agg AND the median frequency table
    )
    freq = gaps.groupBy("gap").agg(F.count("*").alias("c"))
    # exact median via two-pass cumulative counts: distinct
    # second-granularity gaps approach row count on bursty streams,
    # so the running total shuffles on log-scaled (bit-length) gap
    # buckets; the grand total is a scalar broadcast, not a window
    c = prefix_scan(freq, bitlen(F.col("gap")), ["gap"], [("c", "cw")])
    tot = gaps.agg(F.count("*").alias("tot"))
    med = (
        c.crossJoin(F.broadcast(tot))
        .filter(2 * F.col("cw") >= F.col("tot"))
        .agg(F.min("gap").alias("median_gap_s"))
    )
    stats = gaps.agg(
        F.min("gap").alias("min_gap_s"),
        F.max("gap").alias("max_gap_s"),
        F.count("*").alias("n_gaps"),
    )
    return stats.crossJoin(med).select(
        "min_gap_s", "median_gap_s", "max_gap_s", "n_gaps"
    )


# -- primary-key uniqueness audit across the star schema: the twin of
#    dq_referential_integrity for the OTHER half of what Postgres
#    constraints enforced in the reference (PRIMARY KEY vs FOREIGN
#    KEY).  One grouped count per table; duplicate_keys counts KEYS
#    with multiplicity > 1, extra_rows counts the surplus rows they
#    carry.  lineitem's key is composite (orderkey, linenumber).
@query(
    "dq_duplicate_key_audit",
    oracle="""
    WITH a AS (
        SELECT 'customer.c_custkey' AS pk, c_custkey AS k1, 0 AS k2
        FROM customer
        UNION ALL
        SELECT 'orders.o_orderkey', o_orderkey, 0 FROM orders
        UNION ALL
        SELECT 'part.p_partkey', p_partkey, 0 FROM part
        UNION ALL
        SELECT 'supplier.s_suppkey', s_suppkey, 0 FROM supplier
        UNION ALL
        SELECT 'lineitem.(l_orderkey,l_linenumber)',
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    g AS (
        SELECT pk, k1, k2, COUNT(*) AS c FROM a GROUP BY pk, k1, k2
    )
    SELECT pk,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS duplicate_keys,
           CAST(SUM(c - 1) AS BIGINT) AS extra_rows
    FROM g GROUP BY pk
    """,
)
def dq_duplicate_key_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Primary-key uniqueness audit: per declared key, how many key
    values exist, how many are duplicated, and how many surplus rows
    the duplicates carry."""
    def leg(pk: str, df: DataFrame, k1: str, k2=None) -> DataFrame:
        sel = df.select(
            F.lit(pk).alias("pk"),
            F.col(k1).alias("k1"),
            (F.col(k2) if k2 else F.lit(0)).cast("long").alias("k2"),
        )
        return sel

    legs = [
        leg(
            "customer.c_custkey",
            load_table(spark, sf_dir, "customer"), "c_custkey",
        ),
        leg(
            "orders.o_orderkey",
            load_table(spark, sf_dir, "orders"), "o_orderkey",
        ),
        leg(
            "part.p_partkey",
            load_table(spark, sf_dir, "part"), "p_partkey",
        ),
        leg(
            "supplier.s_suppkey",
            load_table(spark, sf_dir, "supplier"), "s_suppkey",
        ),
        leg(
            "lineitem.(l_orderkey,l_linenumber)",
            load_table(spark, sf_dir, "lineitem"),
            "l_orderkey",
            "l_linenumber",
        ),
    ]
    a = legs[0]
    for other in legs[1:]:
        a = a.unionAll(other)
    g = a.groupBy("pk", "k1", "k2").agg(F.count("*").alias("c"))
    return g.groupBy("pk").agg(
        F.count("*").alias("n_keys"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
        .cast("long")
        .alias("duplicate_keys"),
        F.sum(F.col("c") - 1).cast("long").alias("extra_rows"),
    )


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard of the first->second order interval
# ---------------------------------------------------------------------------
# The cumulative-hazard companion to orders_survival_km on the SAME
# risk table: H(t) = sum_{t_i <= t} d_i / n_i, its Aalen variance
# sum d_i / n_i^2, and the Breslow survival exp(-H(t)) (the
# hazard-based alternative to the KM product-limit curve).  The
# prefix sums run over the ordered bounded duration table (ORDER BY
# t ROWS UNBOUNDED PRECEDING), so both engines add identical doubles
# in the identical sequence -- the KM EXP(SUM(LN)) precedent.
# 100 TB shape: the per-subject duration build is two window passes
# over the fact table partitioned by customer; everything after is a
# grouped agg on the bounded duration domain.
@query(
    "orders_hazard_nelson_aalen",
    oracle="""
    WITH seq AS (
        SELECT o_custkey,
               CAST(o_orderdate AS DATE) AS d,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ),
    study AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS fin FROM orders),
    subj AS (
        SELECT f.o_custkey,
               CASE WHEN s.d IS NULL
                    THEN date_diff('day', f.d, study.fin)
                    ELSE date_diff('day', f.d, s.d) END AS dur,
               CASE WHEN s.d IS NULL THEN 0 ELSE 1 END AS ev
        FROM (SELECT * FROM seq WHERE rn = 1) f
        CROSS JOIN study
        LEFT JOIN (SELECT * FROM seq WHERE rn = 2) s
               ON s.o_custkey = f.o_custkey
    ),
    tab AS (
        SELECT dur AS t,
               CAST(SUM(ev) AS BIGINT) AS d_events,
               COUNT(*) AS leaving
        FROM subj GROUP BY dur
    ),
    risk AS (
        SELECT t, d_events,
               CAST(SUM(leaving) OVER (
                   ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_risk
        FROM tab
    )
    SELECT t AS duration_days,
           n_risk,
           d_events AS n_events,
           ROUND(SUM(CAST(d_events AS DOUBLE) / n_risk) OVER w, 6)
               AS cum_hazard,
           ROUND(SUM(CAST(d_events AS DOUBLE)
                     / (CAST(n_risk AS DOUBLE) * n_risk)) OVER w, 8)
               AS hazard_var,
           ROUND(EXP(-SUM(CAST(d_events AS DOUBLE) / n_risk) OVER w),
                 4) AS breslow_survival
    FROM risk
    WHERE d_events > 0
    WINDOW w AS (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def orders_hazard_nelson_aalen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nelson-Aalen estimator over the same first->second order
    durations as orders_survival_km (see that query's docstring for
    the censoring convention)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        "o_orderkey",
    )
    wseq = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    seq = orders.select(
        "o_custkey", "d", F.row_number().over(wseq).alias("rn")
    )
    first = seq.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("d").alias("d1")
    )
    second = seq.filter(F.col("rn") == 2).select(
        F.col("o_custkey").alias("ck2"), F.col("d").alias("d2")
    )
    fin = orders.agg(F.max("d").alias("fin"))
    subj = (
        first.crossJoin(F.broadcast(fin))
        .join(second, first["o_custkey"] == second["ck2"], "left")
        .select(
            F.when(
                F.col("d2").isNull(),
                F.datediff(F.col("fin"), F.col("d1")),
            )
            .otherwise(F.datediff(F.col("d2"), F.col("d1")))
            .alias("dur"),
            F.when(F.col("d2").isNull(), 0)
            .otherwise(1)
            .alias("ev"),
        )
    )
    tab = subj.groupBy(F.col("dur").alias("t")).agg(
        F.sum("ev").cast("long").alias("d_events"),
        F.count("*").alias("leaving"),
    )
    wdesc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = tab.select(
        "t",
        "d_events",
        F.sum("leaving").over(wdesc).cast("long").alias("n_risk"),
    )
    wasc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    h_term = F.col("d_events").cast("double") / F.col("n_risk")
    v_term = F.col("d_events").cast("double") / (
        F.col("n_risk").cast("double") * F.col("n_risk")
    )
    cum_h = F.sum(h_term).over(wasc)
    return (
        risk.select(
            F.col("t").alias("duration_days"),
            "n_risk",
            F.col("d_events").alias("n_events"),
            F.round(cum_h, 6).alias("cum_hazard"),
            F.round(F.sum(v_term).over(wasc), 8).alias("hazard_var"),
            F.round(F.exp(-cum_h), 4).alias("breslow_survival"),
            F.col("d_events").alias("_d"),
        )
        .filter(F.col("_d") > 0)
        .drop("_d")
    )


# ---------------------------------------------------------------------------
# Gaps and islands: contiguous activity runs per user
# ---------------------------------------------------------------------------
# The canonical warehouse sessionization-in-SQL: collapse each
# user's distinct active DAYS into maximal consecutive-day islands
# via the d - ROW_NUMBER() constant-key trick (consecutive days
# share the key; any gap shifts it).  Pure integer/date arithmetic.
# Output: every island of ISLAND_MIN_DAYS+ days.  100 TB shape: one
# distinct + one per-user window + one grouped agg, all partitioned
# by user_id -- no global window anywhere.
ISLAND_MIN_DAYS = 3


@query(
    "dq_gap_and_islands",
    oracle=f"""
    WITH act AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events
    ),
    keyed AS (
        SELECT user_id, day,
               CAST(day AS DATE)
               - CAST(ROW_NUMBER() OVER (
                     PARTITION BY user_id ORDER BY day
                 ) AS INT) AS grp
        FROM act
    ),
    islands AS (
        SELECT user_id, MIN(day) AS start_day, MAX(day) AS end_day,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM keyed GROUP BY user_id, grp
    )
    SELECT user_id, start_day, end_day, n_days
    FROM islands WHERE n_days >= {ISLAND_MIN_DAYS}
    """,
)
def dq_gap_and_islands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    act = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    keyed = act.select(
        "user_id",
        "day",
        F.date_sub(
            F.col("day"), F.row_number().over(w)
        ).alias("grp"),
    )
    islands = keyed.groupBy("user_id", "grp").agg(
        F.min("day").alias("start_day"),
        F.max("day").alias("end_day"),
        F.count("*").cast("long").alias("n_days"),
    )
    return islands.filter(
        F.col("n_days") >= ISLAND_MIN_DAYS
    ).select("user_id", "start_day", "end_day", "n_days")


# ---------------------------------------------------------------------------
# Frequent 3-itemsets (a-priori level 3)
# ---------------------------------------------------------------------------
# The level-wise step above basket_association_rules' pairs: frequent
# triples {a < b < c} with support >= TRIPLE_MIN_SUPPORT, generated
# the a-priori way -- candidate triples come from joining FREQUENT
# pairs that share a prefix (candidate (a,b,c) needs (a,b) and (a,c)
# frequent; support counting then verifies (b,c) implicitly), so the
# blow-up is bounded by the frequent-pair list, never the raw item
# cube.  All counts exact longs; support in exact ppm.
TRIPLE_MIN_SUPPORT = 2


@query(
    "basket_frequent_triples",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    nn AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM op),
    pair AS (
        SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
        HAVING COUNT(*) >= {TRIPLE_MIN_SUPPORT}
    ),
    cand AS (
        SELECT x.pa AS a, x.pb AS b, y.pb AS c
        FROM pair x JOIN pair y ON x.pa = y.pa AND x.pb < y.pb
    ),
    sup AS (
        SELECT cand.a, cand.b, cand.c,
               CAST(COUNT(*) AS BIGINT) AS n_abc
        FROM cand
        JOIN op oa ON oa.p = cand.a
        JOIN op ob ON ob.p = cand.b AND ob.o = oa.o
        JOIN op oc ON oc.p = cand.c AND oc.o = oa.o
        GROUP BY cand.a, cand.b, cand.c
        HAVING COUNT(*) >= {TRIPLE_MIN_SUPPORT}
    )
    SELECT a AS part_a, b AS part_b, c AS part_c, n_abc AS n_orders,
           CAST(FLOOR(1000000.0 * n_abc / nn.n) AS BIGINT)
           AS support_ppm
    FROM sup CROSS JOIN nn
    """,
)
def basket_frequent_triples(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("o"),
            F.col("l_partkey").alias("p"),
        )
        .distinct()
        .cache()
    )
    nn = op.select("o").distinct().agg(
        F.count("*").cast("long").alias("n")
    )
    a = op.select(F.col("o"), F.col("p").alias("pa"))
    b = op.select(F.col("o"), F.col("p").alias("pb"))
    pair = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= TRIPLE_MIN_SUPPORT)
        .select("pa", "pb")
    )
    x = pair.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    y = pair.select(F.col("pa").alias("a2"), F.col("pb").alias("c"))
    cand = x.join(
        y,
        (F.col("a") == F.col("a2")) & (F.col("b") < F.col("c")),
    ).select("a", "b", "c")
    oa = op.select(F.col("o"), F.col("p").alias("a"))
    ob = op.select(F.col("o").alias("o2"), F.col("p").alias("b2"))
    oc = op.select(F.col("o").alias("o3"), F.col("p").alias("c3"))
    sup = (
        cand.join(oa, "a")
        .join(
            ob,
            (F.col("o") == F.col("o2"))
            & (F.col("b2") == F.col("b")),
        )
        .join(
            oc,
            (F.col("o") == F.col("o3"))
            & (F.col("c3") == F.col("c")),
        )
        .groupBy("a", "b", "c")
        .agg(F.count("*").cast("long").alias("n_abc"))
        .filter(F.col("n_abc") >= TRIPLE_MIN_SUPPORT)
    )
    return sup.crossJoin(F.broadcast(nn)).select(
        F.col("a").alias("part_a"),
        F.col("b").alias("part_b"),
        F.col("c").alias("part_c"),
        F.col("n_abc").alias("n_orders"),
        F.floor(1000000.0 * F.col("n_abc") / F.col("n"))
        .cast("long")
        .alias("support_ppm"),
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering (binary cosine)
# ---------------------------------------------------------------------------
# The recommender-system framing of the co-purchase data (distinct
# from basket_association_rules' directional confidence/lift): item
# similarity = cosine between binary CUSTOMER vectors,
# n_ab / sqrt(n_a * n_b), computed entirely from exact co-occurrence
# counts -- the "people who bought X also bought Y" kernel.
# Candidates are blocked on a shared customer (never all item
# pairs); top-20 by cosine with deterministic tie-breaks.
CF_MIN_COMMON = 2
CF_TOPK = 20


@query(
    "ml_item_cf_similarity",
    oracle=f"""
    WITH cp AS (
        SELECT DISTINCT c.c_custkey AS cust, l.l_partkey AS p
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    item AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM cp GROUP BY p),
    pair AS (
        SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM cp a JOIN cp b ON a.cust = b.cust AND a.p < b.p
        GROUP BY a.p, b.p
        HAVING COUNT(*) >= {CF_MIN_COMMON}
    )
    SELECT pa AS part_a, pb AS part_b, n_ab AS n_common_customers,
           ROUND(n_ab / SQRT(CAST(ia.n AS DOUBLE) * ib.n), 6)
               AS cosine
    FROM pair
    JOIN item ia ON ia.p = pa
    JOIN item ib ON ib.p = pb
    ORDER BY cosine DESC, pa, pb
    LIMIT {CF_TOPK}
    """,
)
def ml_item_cf_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cp = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_partkey").alias("p"),
        )
        .distinct()
        .cache()
    )
    item = cp.groupBy("p").agg(F.count("*").cast("long").alias("n"))
    a = cp.select(F.col("cust"), F.col("p").alias("pa"))
    b = cp.select(F.col("cust"), F.col("p").alias("pb"))
    pair = (
        a.join(b, "cust")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= CF_MIN_COMMON)
    )
    ia = item.select(F.col("p").alias("pa"), F.col("n").alias("na"))
    ib = item.select(F.col("p").alias("pb"), F.col("n").alias("nb"))
    cos = F.round(
        F.col("n_ab")
        / F.sqrt(F.col("na").cast("double") * F.col("nb")),
        6,
    )
    return (
        pair.join(ia, "pa")
        .join(ib, "pb")
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("n_ab").alias("n_common_customers"),
            cos.alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "part_a", "part_b")
        .limit(CF_TOPK)
    )


# ---------------------------------------------------------------------------
# Repeat-purchase decay curve
# ---------------------------------------------------------------------------
# The retention table behind LTV models: for k = 1..10, how many
# customers placed at least k orders, the share of the base, and the
# k -> k+1 continuation rate.  Pure exact counting (one grouped
# count + one bounded explode), the standard "90% place a 2nd order,
# 74% of those a 3rd..." report.
REPEAT_MAX_K = 10


@query(
    "orders_repeat_purchase_curve",
    oracle=f"""
    WITH c AS (
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY o_custkey
    ),
    ks AS (SELECT UNNEST(generate_series(1, {REPEAT_MAX_K})) AS k),
    curve AS (
        SELECT ks.k,
               CAST(SUM(CASE WHEN c.n_orders >= ks.k
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_k
        FROM c CROSS JOIN ks GROUP BY ks.k
    ),
    base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c)
    SELECT k, n_ge_k,
           ROUND(CAST(n_ge_k AS DOUBLE) / base.n, 6) AS share,
           ROUND(CAST(LEAD(n_ge_k) OVER (ORDER BY k) AS DOUBLE)
                 / n_ge_k, 6) AS continuation_rate
    FROM curve CROSS JOIN base
    """,
)
def orders_repeat_purchase_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("n_orders")
    )
    ks = spark.range(1, REPEAT_MAX_K + 1).select(
        F.col("id").cast("int").alias("k")
    )
    curve = (
        c.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(
                (F.col("n_orders") >= F.col("k")).cast("int")
            )
            .cast("long")
            .alias("n_ge_k")
        )
    )
    base = c.agg(F.count("*").cast("long").alias("n"))
    wk = Window.orderBy("k")
    return curve.crossJoin(F.broadcast(base)).select(
        "k",
        "n_ge_k",
        F.round(
            F.col("n_ge_k").cast("double") / F.col("n"), 6
        ).alias("share"),
        F.round(
            F.lead("n_ge_k").over(wk).cast("double")
            / F.col("n_ge_k"),
            6,
        ).alias("continuation_rate"),
    )


# ---------------------------------------------------------------------------
# Log-rank test: first->second order interval by priority group
# ---------------------------------------------------------------------------
# The hypothesis test the KM/Nelson-Aalen pair was missing: do
# hi-priority first orders lead to faster reorders than lo-priority
# ones?  At every event time t: O1_t = hi events, E1_t = hi share of
# the risk set times total events, V_t the hypergeometric variance;
# z = sum(O1 - E1) / sqrt(sum V).  All risk-set counts are exact
# integers from the duration-domain prefix sums (two descending
# window passes); the per-time E/V terms are rationals summed on the
# BOUNDED duration domain with ROUND(6) output -- the bounded-cell
# double-sum discipline (events_entropy_rate precedent).
@query(
    "orders_logrank_test",
    oracle="""
    WITH seq AS (
        SELECT o_custkey,
               CAST(o_orderdate AS DATE) AS d,
               o_orderpriority,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ),
    study AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS fin FROM orders),
    subj AS (
        SELECT CASE WHEN f.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS hi,
               CASE WHEN s.d IS NULL
                    THEN date_diff('day', f.d, study.fin)
                    ELSE date_diff('day', f.d, s.d) END AS dur,
               CASE WHEN s.d IS NULL THEN 0 ELSE 1 END AS ev
        FROM (SELECT * FROM seq WHERE rn = 1) f
        CROSS JOIN study
        LEFT JOIN (SELECT * FROM seq WHERE rn = 2) s
               ON s.o_custkey = f.o_custkey
    ),
    tab AS (
        SELECT dur AS t,
               CAST(SUM(ev) AS BIGINT) AS d_all,
               CAST(SUM(ev * hi) AS BIGINT) AS d_hi,
               CAST(COUNT(*) AS BIGINT) AS leaving,
               CAST(SUM(hi) AS BIGINT) AS leaving_hi
        FROM subj GROUP BY dur
    ),
    risk AS (
        SELECT t, d_all, d_hi,
               CAST(SUM(leaving) OVER wdesc AS BIGINT) AS n_all,
               CAST(SUM(leaving_hi) OVER wdesc AS BIGINT) AS n_hi
        FROM tab
        WINDOW wdesc AS (ORDER BY t DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)
    ),
    terms AS (
        SELECT d_hi,
               CAST(d_all AS DOUBLE) * n_hi / n_all AS e_hi,
               CASE WHEN n_all > 1
                    THEN CAST(d_all AS DOUBLE) * n_hi
                         * (n_all - n_hi) * (n_all - d_all)
                         / (CAST(n_all AS DOUBLE) * n_all
                            * (n_all - 1))
                    ELSE 0.0 END AS v
        FROM risk WHERE d_all > 0
    )
    SELECT CAST(SUM(d_hi) AS BIGINT) AS observed_hi,
           ROUND(SUM(e_hi), 4) AS expected_hi,
           ROUND((SUM(d_hi) - SUM(e_hi))
                 / SQRT(SUM(v)), 6) AS z_logrank
    FROM terms
    """,
)
def orders_logrank_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        "o_orderkey",
        "o_orderpriority",
    )
    wseq = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    seq = orders.select(
        "o_custkey",
        "d",
        "o_orderpriority",
        F.row_number().over(wseq).alias("rn"),
    )
    first = seq.filter(F.col("rn") == 1).select(
        "o_custkey",
        F.col("d").alias("d1"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("int")
        .alias("hi"),
    )
    second = seq.filter(F.col("rn") == 2).select(
        F.col("o_custkey").alias("ck2"), F.col("d").alias("d2")
    )
    fin = orders.agg(F.max("d").alias("fin"))
    subj = (
        first.crossJoin(F.broadcast(fin))
        .join(second, first["o_custkey"] == second["ck2"], "left")
        .select(
            "hi",
            F.when(
                F.col("d2").isNull(),
                F.datediff(F.col("fin"), F.col("d1")),
            )
            .otherwise(F.datediff(F.col("d2"), F.col("d1")))
            .alias("dur"),
            F.when(F.col("d2").isNull(), 0)
            .otherwise(1)
            .alias("ev"),
        )
    )
    tab = subj.groupBy(F.col("dur").alias("t")).agg(
        F.sum("ev").cast("long").alias("d_all"),
        F.sum(F.col("ev") * F.col("hi")).cast("long").alias("d_hi"),
        F.count("*").cast("long").alias("leaving"),
        F.sum("hi").cast("long").alias("leaving_hi"),
    )
    wdesc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = tab.select(
        "t",
        "d_all",
        "d_hi",
        F.sum("leaving").over(wdesc).cast("long").alias("n_all"),
        F.sum("leaving_hi").over(wdesc).cast("long").alias("n_hi"),
    )
    e_hi = F.col("d_all").cast("double") * F.col("n_hi") / F.col(
        "n_all"
    )
    v = F.when(
        F.col("n_all") > 1,
        F.col("d_all").cast("double")
        * F.col("n_hi")
        * (F.col("n_all") - F.col("n_hi"))
        * (F.col("n_all") - F.col("d_all"))
        / (
            F.col("n_all").cast("double")
            * F.col("n_all")
            * (F.col("n_all") - 1)
        ),
    ).otherwise(0.0)
    terms = risk.filter(F.col("d_all") > 0).select(
        "d_hi", e_hi.alias("e_hi"), v.alias("v")
    )
    return terms.agg(
        F.sum("d_hi").cast("long").alias("observed_hi"),
        F.round(F.sum("e_hi"), 4).alias("expected_hi"),
        F.round(
            (F.sum("d_hi") - F.sum("e_hi")) / F.sqrt(F.sum("v")), 6
        ).alias("z_logrank"),
    )
