"""The two-pass prefix scan: global ranks, NTILE buckets and running
totals over table-sized inputs without a single-partition window.

Pagination, top-decile share, equi-depth histograms, ranked-prefix
statistics and document packing all need an order statistic over the
whole table.  A plain ``Window.orderBy`` puts every row through ONE
task; ``prefix_scan`` is the one place that computes it instead, and
the plan lint (tests/test_plan_lint.py) sanctions only its ``_b``
prefix window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def prefix_scan(
    df: DataFrame, bucket: Column, order: list, sums: list, groups=()
) -> DataFrame:
    """Per-group INCLUSIVE running sums of ``sums`` -- (column or
    expression, output name) pairs -- along ``order``, with no window
    that holds a whole group on one task.

    Rows shuffle once on (``groups``, ``bucket``) and sum locally in
    parallel; the per-(group, bucket) totals -- one row per bucket,
    bounded by the bucket domain, never the input -- are prefix-summed
    and broadcast back as offsets.  The one contract: ``bucket`` is
    non-decreasing along ``order`` (negate it for a descending order).
    A rank is the sum of ``F.lit(1)`` (row_number when ``order`` is
    total); an exclusive offset is the inclusive sum minus the row's
    own value.  Every input column passes through; sums are LONG."""
    b = df.withColumn("_b", bucket)
    run = Window.unboundedPreceding
    w_in = (
        Window.partitionBy(*groups, "_b")
        .orderBy(*order)
        .rowsBetween(run, Window.currentRow)
    )
    local = b.select("*", *[F.sum(s).over(w_in).alias(o) for s, o in sums])
    totals = b.groupBy(*groups, "_b").agg(
        *[F.sum(s).alias(f"_t{i}") for i, (s, _) in enumerate(sums)]
    )
    # the only window not partitioned on the bucket: over the totals
    w_pfx = Window.partitionBy(*groups).orderBy("_b").rowsBetween(run, -1)
    offsets = [
        F.coalesce(F.sum(f"_t{i}").over(w_pfx), F.lit(0)).alias(f"_o{i}")
        for i in range(len(sums))
    ]
    prefix = totals.select(*groups, "_b", *offsets)
    return local.join(F.broadcast(prefix), [*groups, "_b"]).select(
        *df.columns,
        *[
            (F.col(o) + F.col(f"_o{i}")).cast("long").alias(o)
            for i, (_, o) in enumerate(sums)
        ],
    )


def ntile_from_rank(rn: Column, n_rows: Column, k: int) -> Column:
    """NTILE(k) computed arithmetically from a global rank: the first
    (n mod k) buckets take ceil(n/k) rows, the rest floor(n/k) --
    exactly SQL NTILE semantics, no sort needed once the rank exists."""
    q = F.floor(n_rows / k)
    r = n_rows % k
    big = q + 1
    cut = r * big
    return (
        F.when(rn <= cut, F.ceil(rn / big))
        .otherwise(r + F.ceil((rn - cut) / q))
        .cast("int")
    )


def bitlen(col: Column) -> Column:
    """Bit length of a non-negative integral column -- the zero-tuning
    monotone coarse bucket for SKEWED domains (frequency tables, gap
    seconds, residuals): <= 64 log-scaled buckets, pure integer (no
    float log whose rounding could tie-break differently)."""
    return F.length(F.conv(col.cast("string"), 10, 2))
