"""Segment/bucket normalization and capacity lookup as pure column
expressions -- zero Python UDFs (SURVEY.md par.2.10).

The reference buckets companies by ``employee_range`` with three
special cases (src/app/api/companies/route.ts:56-79):

* NULL           -> the "unknown" bucket (route.ts:69,78)
* fuzzy match    -> ILIKE '%not sure%' collapses free-text variants
                    into the 'not sure' bucket (route.ts:21,72)
* anything else  -> the literal range value

Capacity per bucket is ``floor(SAFE_PEOPLE_LIMIT / max_employees)`` with
a default max of 10 for unknown ranges (src/types/index.ts:82-85).

On the test fixtures ``customer.c_mktsegment`` role-plays
``employee_range`` (FIXTURES.md section C); SEGMENT_MAX below role-plays
EMPLOYEE_RANGE_MAX over the 5-value market-segment domain.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..schemas import DEFAULT_RANGE_MAX, SAFE_PEOPLE_LIMIT
from ..session import sql_string

UNKNOWN_BUCKET = "unknown"
NOT_SURE_BUCKET = "not sure"

#: fixture stand-in for EMPLOYEE_RANGE_MAX keyed by c_mktsegment
SEGMENT_MAX = {
    "AUTOMOBILE": 10,
    "BUILDING": 50,
    "FURNITURE": 100,
    "HOUSEHOLD": 250,
    "MACHINERY": 500,
}


def segment_bucket(col: Column) -> Column:
    """Bucket-normalization expression (SURVEY op A1).

    One whole-stage-codegen'd CASE expression replaces the reference's
    11-iteration loop of filtered COUNT queries.
    """
    return (
        F.when(col.isNull(), F.lit(UNKNOWN_BUCKET))
        .when(F.lower(col).contains(NOT_SURE_BUCKET), F.lit(NOT_SURE_BUCKET))
        .otherwise(col)
    )


def segment_bucket_sql(col: str) -> str:
    """ANSI-SQL twin of :func:`segment_bucket` for the DuckDB oracle."""
    return (
        f"CASE WHEN {col} IS NULL THEN '{UNKNOWN_BUCKET}' "
        f"WHEN lower({col}) LIKE '%{NOT_SURE_BUCKET}%' THEN '{NOT_SURE_BUCKET}' "
        f"ELSE {col} END"
    )


def capacity_for_segment(col: Column) -> Column:
    """Max companies per webhook for a bucket (SURVEY op C13).

    ``floor(40000 / max)`` with default max 10, the max looked up in a
    ``SEGMENT_MAX`` map literal -- no join, no UDF.  A missing or NULL
    key reads NULL and takes the default.  The map is one SQL string:
    the Column API pays several py4j calls per operator, four
    operators per segment for a ``when`` chain.
    """
    pairs = ", ".join(
        f"{sql_string(s)}, {mx}" for s, mx in SEGMENT_MAX.items()
    )
    max_col = F.coalesce(
        F.expr(f"map({pairs})")[col], F.lit(DEFAULT_RANGE_MAX)
    )
    return F.floor(F.lit(SAFE_PEOPLE_LIMIT) / max_col).cast("int")


def capacity_sql(col: str) -> str:
    """ANSI-SQL twin of :func:`capacity_for_segment`."""
    whens = " ".join(
        f"WHEN {col} = '{seg}' THEN {mx}" for seg, mx in SEGMENT_MAX.items()
    )
    return (
        f"CAST(FLOOR({SAFE_PEOPLE_LIMIT} / "
        f"(CASE {whens} ELSE {DEFAULT_RANGE_MAX} END)) AS INT)"
    )
