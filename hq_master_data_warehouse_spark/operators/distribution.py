"""D1/W2 -- the reference's signature operator: capacity-constrained
sequential distribution of companies to webhooks.

Reference semantics (src/app/api/send/route.ts:63-81): order the
selected companies, compute ``maxCompaniesPerWebhook =
floor(SAFE_PEOPLE_LIMIT / max_employees(range))`` (:64-65 via
src/types/index.ts:82-85), then walk the list giving each webhook the
next ``capacity`` companies until companies or webhooks run out; the
remainder is reported as ``companiesNotAssigned`` (:170).

Spark shape (SURVEY.md par.2.5 W2): this is not a loop -- it is a
window + arithmetic + a map lookup:

    rn      = row_number() over (partition by segment order by name)
    bucket  = floor((rn - 1) / capacity(segment))
    assign  = webhooks[segment][bucket], the segment's webhooks
              numbered 0..n-1, NULL past the last one

Partitioning by segment restores full parallelism (the reference
computes capacity per range anyway, route.ts:64-65); within a segment
the fill order is exactly the reference's sequential order.  At 100 TB
the only shuffle is the per-segment window sort.  The webhook config
is a few rows: it is read once on the driver and spliced into the plan
as a map literal, so no join and no broadcast.  A customer scan that
Spark plans as one split is coalesced to that one partition, which
meets the window's distribution with no exchange at all
(``session.one_split``).

Fixture role-play: ``nation`` plays the webhook config table, assigned
to customer segments round-robin by nationkey; SEGMENT_MAX plays
EMPLOYEE_RANGE_MAX.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.buckets import capacity_for_segment, capacity_sql
from ..registry import query
from ..session import one_split, sql_string
from ..sources.loaders import load_table

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

_SEG_CASE_SQL = (
    "CASE CAST(n_nationkey % 5 AS INT) "
    + " ".join(
        f"WHEN {i} THEN '{seg}'" for i, seg in enumerate(_SEGMENTS)
    )
    + " END"
)


def _webhooks_sql(spark: SparkSession, sf_dir: str) -> str:
    """nation-as-webhooks: each webhook bound to one segment (J5),
    numbered 0..n-1 within its segment in key order -- read once on
    the driver (one small job) and returned as the SQL expression
    ``get(map(segment -> array(webhook_id, ...))[segment], bucket)``.
    ``get`` reads NULL past the end of a segment's array, so a company
    beyond its segment's last webhook stays unassigned.  A literal in
    place of a joined dimension leaves the window as the plan's only
    distribution requirement."""
    segments = ", ".join(map(sql_string, _SEGMENTS))
    hooks = load_table(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS webhook_id",
        f"element_at(array({segments}), "
        "CAST(n_nationkey % 5 AS INT) + 1) AS segment",
    )
    key_type = hooks.dtypes[0][1]
    by_segment: dict[str, list[int]] = {}
    for hook_id, segment in hooks.collect():
        if segment is not None:
            by_segment.setdefault(segment, []).append(hook_id)
    if not by_segment:
        return f"CAST(NULL AS {key_type})"
    pairs = ", ".join(
        f"{sql_string(seg)}, array({', '.join(map(str, sorted(ids)))})"
        for seg, ids in by_segment.items()
    )
    return (
        f"CAST(get(map({pairs})[segment], "
        f"CAST(floor((rn - 1) / capacity) AS INT)) AS {key_type})"
    )


_HOOKS_SQL = f"""
    SELECT n_nationkey AS webhook_id, segment,
           CAST(row_number() OVER (
               PARTITION BY segment ORDER BY n_nationkey
           ) AS BIGINT) - 1 AS hook_idx
    FROM (SELECT n_nationkey, {_SEG_CASE_SQL} AS segment FROM nation)
"""


# -- D1 per-row assignment: which webhook gets each company.
@query(
    "capacity_distribution",
    oracle=f"""
    WITH hooks AS ({_HOOKS_SQL}),
    ranked AS (
        SELECT c_custkey, c_mktsegment AS segment,
               CAST(row_number() OVER (
                   PARTITION BY c_mktsegment ORDER BY c_name
               ) AS BIGINT) AS rn,
               {capacity_sql('c_mktsegment')} AS capacity
        FROM customer
    )
    SELECT r.c_custkey, r.segment, r.rn, r.capacity,
           h.webhook_id,
           h.webhook_id IS NOT NULL AS assigned
    FROM ranked r
    LEFT JOIN hooks h
      ON h.segment = r.segment
     AND h.hook_idx = CAST(FLOOR((r.rn - 1) / r.capacity) AS BIGINT)
    """,
)
def capacity_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SQL strings: one column operation each, where the Column API
    # pays one per operator (several py4j calls apiece)
    webhook = _webhooks_sql(spark, sf_dir)
    return (
        one_split(load_table(spark, sf_dir, "customer"))
        .select(
            F.expr("c_custkey"),
            F.expr("c_mktsegment AS segment"),
            F.expr(
                "CAST(row_number() OVER (PARTITION BY c_mktsegment "
                "ORDER BY c_name) AS BIGINT) AS rn"
            ),
            capacity_for_segment(F.col("c_mktsegment")).alias("capacity"),
        )
        .selectExpr("*", f"{webhook} AS webhook_id")
        .selectExpr("*", "webhook_id IS NOT NULL AS assigned")
    )


# -- D1 invariants summary: per segment totals, per-webhook fill, and
#    the companiesNotAssigned remainder (send/route.ts:163-171).
@query(
    "distribution_summary",
    oracle=f"""
    WITH hooks AS ({_HOOKS_SQL}),
    ranked AS (
        SELECT c_custkey, c_mktsegment AS segment,
               CAST(row_number() OVER (
                   PARTITION BY c_mktsegment ORDER BY c_name
               ) AS BIGINT) AS rn,
               {capacity_sql('c_mktsegment')} AS capacity
        FROM customer
    ),
    assigned AS (
        SELECT r.segment,
               CASE WHEN h.webhook_id IS NULL THEN 0 ELSE 1 END AS is_assigned
        FROM ranked r
        LEFT JOIN hooks h
          ON h.segment = r.segment
         AND h.hook_idx = CAST(FLOOR((r.rn - 1) / r.capacity) AS BIGINT)
    )
    SELECT segment,
           COUNT(*) AS total,
           CAST(SUM(is_assigned) AS BIGINT) AS assigned_cnt,
           CAST(COUNT(*) - SUM(is_assigned) AS BIGINT)
               AS companies_not_assigned
    FROM assigned
    GROUP BY segment
    """,
)
def distribution_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = capacity_distribution(spark, sf_dir)
    return assigned.groupBy("segment").agg(
        F.count("*").alias("total"),
        F.sum(F.col("assigned").cast("int"))
        .cast("long")
        .alias("assigned_cnt"),
        (F.count("*") - F.sum(F.col("assigned").cast("int")))
        .cast("long")
        .alias("companies_not_assigned"),
    )


# -- F9 + C9: batch-metadata enrichment of the distributed rows.  The
#    struct carries a deterministic batch_id here; production path
#    stamps uuid()/current_timestamp (C1/C2) -- see operators.ledger.
@query(
    "egress_batch_metadata",
    oracle=f"""
    WITH hooks AS ({_HOOKS_SQL}),
    ranked AS (
        SELECT c_custkey, c_mktsegment AS segment,
               CAST(row_number() OVER (
                   PARTITION BY c_mktsegment ORDER BY c_name
               ) AS BIGINT) AS rn,
               {capacity_sql('c_mktsegment')} AS capacity
        FROM customer
    )
    SELECT r.c_custkey,
           'batch-0001' AS batch_id,
           r.segment AS employee_range,
           'webhook-' || CAST(h.webhook_id AS VARCHAR) AS webhook_name,
           'hq-data-warehouse' AS source
    FROM ranked r
    JOIN hooks h
      ON h.segment = r.segment
     AND h.hook_idx = CAST(FLOOR((r.rn - 1) / r.capacity) AS BIGINT)
    """,
)
def egress_batch_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = capacity_distribution(spark, sf_dir).filter("assigned")
    return assigned.select(
        "c_custkey",
        F.lit("batch-0001").alias("batch_id"),
        F.col("segment").alias("employee_range"),
        F.concat(F.lit("webhook-"), F.col("webhook_id").cast("string")).alias(
            "webhook_name"
        ),
        F.lit("hq-data-warehouse").alias("source"),
    )


# -- retry/error-audit twin of streaming.egress.post_with_retry: the
#    reference LOGS every failed delivery for replay (clay-webhook/
#    index.ts:98-141); the engine's runtime path retries then
#    dead-letters (pytest with an injected transport).  This query is
#    the DETERMINISTIC audit: failure is a fixed md5 predicate of
#    (company, attempt) -- md5(custkey:attempt) first hex digit < '4',
#    a 25% transient failure rate -- so the per-attempt audit counts
#    (attempted = failed every prior attempt) are pure SQL and the
#    differential gate checks the retry accounting itself.
_RETRY_FAIL_SQL = (
    "substr(md5(CAST(c_custkey AS VARCHAR) || ':{a}'), 1, 1) < '4'"
)


@query(
    "egress_retry_audit",
    oracle=f"""
    WITH hooks AS ({_HOOKS_SQL}),
    ranked AS (
        SELECT c_custkey, c_mktsegment AS segment,
               CAST(row_number() OVER (
                   PARTITION BY c_mktsegment ORDER BY c_name
               ) AS BIGINT) AS rn,
               {capacity_sql('c_mktsegment')} AS capacity
        FROM customer
    ),
    a AS (
        SELECT r.c_custkey
        FROM ranked r
        JOIN hooks h
          ON h.segment = r.segment
         AND h.hook_idx = CAST(FLOOR((r.rn - 1) / r.capacity) AS BIGINT)
    ),
    fl AS (
        SELECT c_custkey,
               {_RETRY_FAIL_SQL.format(a=1)} AS f1,
               {_RETRY_FAIL_SQL.format(a=2)} AS f2,
               {_RETRY_FAIL_SQL.format(a=3)} AS f3
        FROM a
    )
    SELECT 1 AS attempt,
           COUNT(*) AS n_attempted,
           CAST(SUM(CASE WHEN NOT f1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_delivered,
           CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_failed
    FROM fl
    UNION ALL
    SELECT 2,
           CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN f1 AND NOT f2 THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(SUM(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT)
    FROM fl
    UNION ALL
    SELECT 3,
           CAST(SUM(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN f1 AND f2 AND NOT f3 THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(SUM(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM fl
    """,
)
def egress_retry_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = capacity_distribution(spark, sf_dir).filter("assigned")

    def fails(attempt: int) -> F.Column:
        return (
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("c_custkey").cast("string"),
                        F.lit(str(attempt)),
                    )
                ),
                1,
                1,
            )
            < "4"
        )

    base = assigned.select(
        "c_custkey",
        fails(1).alias("f1"),
        fails(2).alias("f2"),
        fails(3).alias("f3"),
    )
    per_attempt = base.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("attempt"),
                    F.lit(True).alias("attempted"),
                    (~F.col("f1")).alias("delivered"),
                ),
                F.struct(
                    F.lit(2).alias("attempt"),
                    F.col("f1").alias("attempted"),
                    (F.col("f1") & ~F.col("f2")).alias("delivered"),
                ),
                F.struct(
                    F.lit(3).alias("attempt"),
                    (F.col("f1") & F.col("f2")).alias("attempted"),
                    (F.col("f1") & F.col("f2") & ~F.col("f3")).alias(
                        "delivered"
                    ),
                ),
            )
        ).alias("s")
    ).select("s.*")
    # aggregate over ALL rows (not filter(attempted)) so every attempt
    # emits a row even when nothing was pending -- as the oracle does.
    return per_attempt.groupBy("attempt").agg(
        F.sum(F.when(F.col("attempted"), 1).otherwise(0))
        .cast("long")
        .alias("n_attempted"),
        F.sum(F.when(F.col("delivered"), 1).otherwise(0))
        .cast("long")
        .alias("n_delivered"),
        F.sum(
            F.when(F.col("attempted") & ~F.col("delivered"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_failed"),
    )
