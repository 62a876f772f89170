"""End-to-end corpus-curation pipeline (north-star flagship for the
LLM-data-pipeline surface): exact dedup → quality filter → stable
train/holdout split → per-(split, lang) corpus stats, composed from
the individual operators as ONE declarative plan.

Every stage is deterministic (md5 fingerprints, expression-based
quality score, md5 split), so the whole pipeline is oracle-checked in
a single SQL twin -- the differential test covers the composition, not
just the pieces.

Scale shape: one scan of the corpus; dedup is a partitioned window on
the fingerprint (shuffle 1); the final stats aggregate is shuffle 2.
Quality scoring and splitting are pure projections fused into
whichever stage reads them -- nothing materializes between stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.prefix import ntile_from_rank, prefix_scan
from ..operators.dedup import CANONICAL_SQL, _shingles, canonical_text
from ..operators.text import (
    PACK_BUDGET,
    _QUALITY_SCORE_SQL,
    _tokens,
    pack_nextfit,
    quality_raw_score,
)
from ..operators.sampling import SPLIT_CUT, hash_split
from ..registry import query
from ..sources.loaders import load_table

QUALITY_CUT = 0.5


@query(
    "pipeline_corpus_curation",
    oracle=f"""
    WITH deduped AS (
        SELECT doc_id, text, lang
        FROM (
            SELECT doc_id, text, lang,
                   row_number() OVER (
                       PARTITION BY md5({CANONICAL_SQL})
                       ORDER BY doc_id
                   ) AS rn
            FROM documents
        ) WHERE rn = 1
    ),
    scored AS (
        SELECT doc_id, lang,
               length(text) AS n_chars_kept
        FROM deduped
        WHERE {_QUALITY_SCORE_SQL} >= {QUALITY_CUT}
    )
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                     < '{SPLIT_CUT}'
                THEN 'train' ELSE 'holdout' END AS split,
           lang,
           COUNT(*) AS n_docs,
           -- CAST: DuckDB SUM(BIGINT) -> HUGEINT -> pandas float64;
           -- keep both engines on int64 so the value hash agrees.
           CAST(SUM(n_chars_kept) AS BIGINT) AS total_chars
    FROM scored
    GROUP BY 1, 2
    """,
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(canonical_text(F.col("text")))
    w = Window.partitionBy(fp).orderBy("doc_id")
    deduped = (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    scored = deduped.filter(
        quality_raw_score(F.col("text")) >= QUALITY_CUT
    )
    return (
        hash_split(scored, "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
        )
    )


PIPE_MIN_TOKENS = 20


# -- pretraining-prep pipeline (the second flagship composition):
#    length filter -> exact dedup -> stable split -> decontaminate the
#    train side against the holdout's word 5-grams -> next-fit token
#    packing of the survivors.  One corpus scan feeds every stage;
#    shuffles are (1) the dedup group, (2) the gram semi-join keyed on
#    the gram, (3) the pack bucket window -- each on a real key, no
#    global sort (the pack offset is the two-pass prefix sum from
#    operators/text.py).  The oracle restates all six stages as one
#    SQL composition, so the differential covers stage WIRING, not
#    just the pieces.
@query(
    "pipeline_pretraining_pack",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text,
               md5({CANONICAL_SQL}) AS h_text,
               md5(CAST(doc_id AS VARCHAR)) AS h_id,
               string_split({CANONICAL_SQL}, ' ') AS toks
        FROM documents
    ),
    kept AS (
        SELECT * FROM base WHERE len(toks) >= {PIPE_MIN_TOKENS}
    ),
    dedup AS (
        SELECT doc_id, h_id, toks,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CASE WHEN substr(h_id, 1, 2) < '{SPLIT_CUT}'
                    THEN 'train' ELSE 'holdout' END AS split
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY h_text ORDER BY doc_id
            ) AS rn FROM kept
        ) WHERE rn = 1
    ),
    grams AS (
        SELECT doc_id, split,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(toks) - 4),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        || ' ' || toks[i+3] || ' ' || toks[i+4]
               ))) AS gram
        FROM dedup
    ),
    contaminated AS (
        SELECT DISTINCT t.doc_id
        FROM (SELECT doc_id, gram FROM grams WHERE split = 'train') t
        JOIN (SELECT DISTINCT gram FROM grams WHERE split = 'holdout') h
          ON t.gram = h.gram
    ),
    clean AS (
        SELECT doc_id, h_id, n_tokens FROM dedup
        WHERE split = 'train'
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT doc_id, n_tokens,
           -- CAST: window SUM(BIGINT) -> HUGEINT -> pandas float64.
           CAST(SUM(n_tokens) OVER (
               ORDER BY h_id, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tokens AS BIGINT) AS offset,
           CAST(FLOOR((SUM(n_tokens) OVER (
               ORDER BY h_id, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tokens) / {PACK_BUDGET}) AS BIGINT) AS pack_id
    FROM clean
    """,
)
def pipeline_pretraining_pack(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.md5(canonical_text(F.col("text"))).alias("h_text"),
        F.md5(F.col("doc_id").cast("string")).alias("h_id"),
        _tokens(F.col("text")).alias("toks"),
    )
    kept = docs.filter(F.size("toks") >= PIPE_MIN_TOKENS)
    w = Window.partitionBy("h_text").orderBy("doc_id")
    # dedup fans out to three consumers (train grams, holdout grams,
    # pack input) -- cache it or every branch re-scans the corpus and
    # re-runs the dedup window (12 parquet scans -> 2, ~11 s -> ~3 s
    # at sf0.1).  At 100 TB this persist goes to disk/checkpoint, but
    # the DAG shape is the same.
    dedup = (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "h_id",
            "text",
            F.size("toks").cast("long").alias("n_tokens"),
            F.when(
                F.substring("h_id", 1, 2) < SPLIT_CUT, "train"
            ).otherwise("holdout").alias("split"),
        )
        .cache()
    )
    grams = dedup.select(
        "doc_id",
        "split",
        F.explode_outer(_shingles(F.col("text"), 5)).alias("gram"),
    )
    train_g = grams.filter(
        (F.col("split") == "train") & F.col("gram").isNotNull()
    )
    hold_g = grams.filter(F.col("split") == "holdout").select("gram")
    contaminated = (
        train_g.join(hold_g.distinct(), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = (
        dedup.filter(F.col("split") == "train")
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", F.col("h_id").alias("h"), "n_tokens")
    )
    return pack_nextfit(clean)


# -- curriculum ordering (third flagship composition): score every
#    document with the composite quality heuristic, rank the corpus
#    globally WITHOUT a single-partition sort (the bucketed two-pass
#    rank from operators.analytics -- quality-band buckets, local rank,
#    broadcast prefix offsets), and cut into 4 curriculum stages via
#    arithmetic NTILE -- highest-quality quartile first, the staged-
#    training data layout.  The oracle states a plain global NTILE;
#    values match because the two-pass rank IS the global rank.
@query(
    "pipeline_quality_curriculum",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, {_QUALITY_SCORE_SQL} AS q FROM documents
    )
    SELECT doc_id,
           ROUND(q, 6) AS quality,
           CAST(NTILE(4) OVER (ORDER BY q DESC, doc_id) AS INT)
               AS curriculum_stage
    FROM scored
    """,
)
def pipeline_quality_curriculum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", quality_raw_score(F.col("text")).alias("q")
    )
    ranked = prefix_scan(
        scored,
        -F.floor(F.col("q") * 10),  # ~10 quality bands, monotone with q
        [F.col("q").desc(), F.col("doc_id")],
        [(F.lit(1), "_rn")],
    )
    total = scored.agg(F.count("*").alias("_n"))
    return ranked.crossJoin(F.broadcast(total)).select(
        "doc_id",
        F.round(F.col("q"), 6).alias("quality"),
        ntile_from_rank(F.col("_rn"), F.col("_n"), 4).alias(
            "curriculum_stage"
        ),
    )


# -- cluster-representative selection (curation policy): real
#    pipelines keep the BEST-QUALITY member of each near-dup cluster,
#    not the lowest id.  Composes the Jaccard pair graph -> connected
#    components (pointer-jumping, operators.dedup) -> per-cluster
#    argmax by (quality DESC, doc_id) via a component-partitioned
#    window.  The oracle recomputes components with a recursive CTE
#    and the same argmax, so the selection itself is differentially
#    checked.
from ..operators.dedup import (  # noqa: E402
    _PAIR_JACCARD_SQL,
    ngram_cc_labels,
)


@query(
    "dedup_cluster_representatives",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({_PAIR_JACCARD_SQL}) t
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.r FROM edges e JOIN reach r ON r.node = e.dst
    ),
    comp AS (
        SELECT node, MIN(r) AS component FROM reach GROUP BY node
    ),
    q AS (
        SELECT doc_id, {_QUALITY_SCORE_SQL} AS quality FROM documents
    ),
    scored AS (
        SELECT c.node AS doc_id, c.component, q.quality
        FROM comp c JOIN q ON q.doc_id = c.node
    )
    SELECT component,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(MAX(doc_id) FILTER (WHERE rn = 1) AS BIGINT)
               AS keeper_doc_id,
           ROUND(MAX(quality) FILTER (WHERE rn = 1), 6)
               AS keeper_quality
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY component
                   ORDER BY quality DESC, doc_id
               ) AS rn
        FROM scored
    )
    GROUP BY component
    """,
)
def dedup_cluster_representatives(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    labels = ngram_cc_labels(spark, sf_dir)
    scored = labels.join(
        docs.select(
            F.col("doc_id").alias("node"),
            quality_raw_score(F.col("text")).alias("quality"),
        ),
        "node",
    )
    w = Window.partitionBy("comp").orderBy(
        F.desc("quality"), F.asc("node")
    )
    ranked = scored.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy(F.col("comp").alias("component")).agg(
        F.count("*").alias("cluster_size"),
        F.max(F.when(F.col("rn") == 1, F.col("node")))
        .cast("long")
        .alias("keeper_doc_id"),
        F.round(
            F.max(F.when(F.col("rn") == 1, F.col("quality"))), 6
        ).alias("keeper_quality"),
    )
