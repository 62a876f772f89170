"""JSON ingest source family (SURVEY ops S10, F8, C10 + U1 explode).

The reference's ingest webhook parses a JSON body that may be a single
object or an array, normalizes it to a record list
(clay-webhook/index.ts:47-50), and whitelist-projects each record onto
14 allowed fields with null-coalescing (:76-91).

Spark: ``from_json`` with an explicit schema (schema-on-write, like the
reference's whitelist map), scalar-vs-array polymorphism handled by
parsing both ways and coalescing, then ``explode``.  Batch mode reads
dropped JSON files; streaming mode is the same plan under
``readStream`` (see streaming.jobs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..matcache import staged, table_sig
from ..registry import query
from ..schemas import PEOPLE_FIELDS
from .loaders import load_table


# -- C10/S10: parse embedded JSON with an explicit schema.  The
#    ``events.props`` column plays the webhook payload body.
@query(
    "ingest_json_parse",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INT) AS k,
           CAST(json_extract_string(props, '$.missing') AS VARCHAR)
               AS missing_field
    FROM events
    """,
)
def ingest_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    parsed = events.select(
        "event_id",
        F.from_json("props", "k INT, missing STRING").alias("p"),
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        F.col("p.missing").alias("missing_field"),
    )


# -- S10 normalization: scalar-vs-array polymorphism + explode.  The
#    split/explode shape also covers U1-style row multiplication.
@query(
    "ingest_explode_records",
    oracle="""
    SELECT o_orderkey,
           unnest(string_split(o_orderpriority, '-')) AS part
    FROM orders
    """,
)
def ingest_explode_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.explode(F.split("o_orderpriority", "-")).alias("part"),
    )


def normalize_payload(raw: DataFrame, payload_col: str = "value") -> DataFrame:
    """Scalar-or-array JSON payload -> one row per person record with
    the 14-field whitelist projection (clay-webhook/index.ts:47-50 +
    76-91).

    ``raw`` holds one JSON document per row (e.g. from
    ``spark.read.text`` over a webhook drop directory).  Documents that
    parse as arrays explode to N rows; documents that parse as single
    objects contribute one row; unknown fields are dropped by the
    explicit schema; absent fields surface as NULL.  The JS ``|| null``
    also nullifies empty strings -- matched via the trim-length guard.

    A document that is not valid JSON, or is JSON ``null``, yields no
    row: the reference sends both down its catch-all error path
    (index.ts:131-141) and inserts nothing.  The check costs one more
    parse per document (``try_parse_json``).

    Built from two ``selectExpr`` strings: the same projections through
    the Column API cost ~2,000 py4j calls.
    """
    person = ", ".join(f"{f} STRING" for f in PEOPLE_FIELDS)
    as_array = f"from_json({payload_col}, 'ARRAY<STRUCT<{person}>>')"
    as_object = f"from_json({payload_col}, 'STRUCT<{person}>')"
    # invalid JSON -> NULL -> coalesced to a variant null, like JSON null
    parsed = f"coalesce(try_parse_json({payload_col}), parse_json('null'))"
    records = raw.selectExpr(
        f"explode(CASE WHEN is_variant_null({parsed}) THEN NULL "
        f"ELSE coalesce({as_array}, array({as_object})) END) AS rec"
    )
    return records.selectExpr(
        *[
            f"CASE WHEN length(trim(rec.{f})) = 0 THEN NULL "
            f"ELSE rec.{f} END AS {f}"
            for f in PEOPLE_FIELDS
        ]
    )


QUARANTINE_BAD_ROWS = 7


@query(
    "ingest_quarantine_bad_records",
    # The staged feed is every events row serialized as JSON plus
    # QUARANTINE_BAD_ROWS corrupt lines, so the outcome counts are a
    # SQL-statable invariant: the Spark side must recover EXACTLY the
    # event count as clean and exactly the injected bad lines as
    # quarantined -- a real differential on the permissive parse.
    oracle=f"""
    SELECT 'clean' AS outcome, COUNT(*) AS n FROM events
    UNION ALL
    SELECT 'quarantined', {QUARANTINE_BAD_ROWS}
    """,
)
def ingest_quarantine_bad_records(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bad-record quarantine: a JSONL feed with deliberately corrupt
    lines read in PERMISSIVE mode with ``columnNameOfCorruptRecord``,
    then split into clean rows vs a quarantine count -- the
    poison-pill handling every production ingest needs (FAILFAST
    aborts a 1000-executor job for one bad byte; DROPMALFORMED loses
    evidence).  Returns one row per outcome with counts; the parity
    pytest pins exact clean/quarantined numbers."""

    def build_into(tmp: str) -> None:
        # Stage the feed DISTRIBUTED (df.write, not a driver collect
        # loop): clean rows land as executor-written part files; the
        # poison-pill lines are appended as one extra small file in
        # the same directory -- the JSON reader lists the directory,
        # so the union is the feed.
        load_table(spark, sf_dir, "events").select(
            F.to_json(F.struct("event_id", "user_id", "event_type"))
        ).write.text(tmp)
        with open(f"{tmp}/bad_records.jsonl", "w") as f:
            for _ in range(QUARANTINE_BAD_ROWS):
                f.write('{"event_id": 12, "user_id": ???}\n')

    path = staged("quarantine", [table_sig(sf_dir, "events")], build_into)
    feed = (
        spark.read.schema(
            "event_id BIGINT, user_id BIGINT, event_type STRING, "
            "_corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        # Spark disallows referencing ONLY the corrupt-record column
        # of a raw file scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN);
        # caching materializes the parse first, per its own guidance.
        .cache()
    )
    return feed.select(
        F.when(F.col("_corrupt_record").isNull(), "clean")
        .otherwise("quarantined")
        .alias("outcome")
    ).groupBy("outcome").agg(F.count("*").alias("n"))
