"""In-warehouse model scoring (engine surface): linear-model margin
over the embedding column, the feature-hashing trick over tokens, and
a confusion-matrix evaluation -- the batch-inference shapes that run
beside analytics at corpus scale (score, bucket, evaluate), all as
pure column expressions.

The model weights are deterministic literals (production would load a
small weights table and broadcast it); scoring is an element-wise fold
identical in structure to the cosine kernel in operators/similarity.py,
so it is a no-shuffle map stage end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.prefix import ntile_from_rank, prefix_scan
from ..registry import query
from ..sources.loaders import load_table
from .text import _TOKENS_SQL, _tokens

EMB_DIM = 64

#: deterministic toy weights in [-1, 1]; bias term separate.
WEIGHTS = [((i * 37) % 21 - 10) / 10.0 for i in range(EMB_DIM)]
BIAS = 0.05

_W_SQL = "[" + ", ".join(repr(w) for w in WEIGHTS) + "]"


def _margin_expr():
    """The linear margin as ONE SQL-parsed expression.

    Identical math to the previous Column-DSL block (zip_with the
    double weight array, double fold, + BIAS) -- each of the 14 call
    sites used to issue ~70 py4j round trips rebuilding the 64-lit
    weight array per construction (r13).  Literals carry the D
    suffix so they parse as DOUBLE (same bits as Python floats via
    Double.parseDouble), not DECIMAL."""
    arr = "array(" + ", ".join(f"{w!r}D" for w in WEIGHTS) + ")"
    return F.expr(
        f"aggregate(zip_with(embedding, {arr},"
        " (x, y) -> CAST(x AS DOUBLE) * y),"
        f" 0.0D, (acc, v) -> acc + v) + {BIAS!r}D"
    )

HASH_DIM = 64


# -- linear margin scoring: margin = w . x + b computed as a
#    double-precision fold over zip_with (identical op order in both
#    engines -> bit-identical doubles, same as the cosine kernel).
@query(
    "ml_linear_margin",
    oracle=f"""
    SELECT vec_id, label,
           ROUND(list_sum(list_transform(
               generate_series(1, {EMB_DIM}),
               i -> CAST(embedding[i] AS DOUBLE) * ({_W_SQL})[i]
           )) + {BIAS!r}, 6) AS margin,
           (list_sum(list_transform(
               generate_series(1, {EMB_DIM}),
               i -> CAST(embedding[i] AS DOUBLE) * ({_W_SQL})[i]
           )) + {BIAS!r} > 0) AS predicted
    FROM embeddings
    """,
)
def ml_linear_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    margin = _margin_expr()
    return emb.select(
        "vec_id",
        "label",
        F.round(margin, 6).alias("margin"),
        (margin > 0).alias("predicted"),
    )


# -- confusion matrix: the margin predictions evaluated against a
#    deterministic binary target (label parity stands in for ground
#    truth).  One grouped count over the scored set.
@query(
    "ml_confusion_matrix",
    oracle=f"""
    WITH scored AS (
        SELECT label % 2 = 1 AS actual,
               list_sum(list_transform(
                   generate_series(1, {EMB_DIM}),
                   i -> CAST(embedding[i] AS DOUBLE) * ({_W_SQL})[i]
               )) + {BIAS!r} > 0 AS predicted
        FROM embeddings
    )
    SELECT actual, predicted, COUNT(*) AS n
    FROM scored GROUP BY actual, predicted
    """,
)
def ml_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    margin = _margin_expr()
    return (
        emb.select(
            (F.col("label") % 2 == 1).alias("actual"),
            (margin > 0).alias("predicted"),
        )
        .groupBy("actual", "predicted")
        .agg(F.count("*").alias("n"))
    )


# -- feature hashing (the hashing trick): tokens bucketed by 32 bits
#    of md5 into a fixed HASH_DIM space; per-doc sparse vector encoded
#    as sorted 'bucket:count' strings (strings, not structs, so both
#    engines normalize identically).  Explode + two grouped
#    aggregates; the fixed dimensionality is what makes downstream
#    models schema-stable no matter how the vocabulary grows.
@query(
    "ml_feature_hashing",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    ),
    b AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
                   % {HASH_DIM} AS bucket
        FROM t
    ),
    c AS (
        SELECT doc_id, bucket, COUNT(*) AS cnt
        FROM b GROUP BY doc_id, bucket
    )
    SELECT doc_id,
           COUNT(*) AS nnz,
           -- string-encoded: list cells crash the gate's canonicalizer
           array_to_string(list_sort(list(bucket || ':' || cnt)), ',')
               AS features
    FROM c GROUP BY doc_id
    """,
)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    )
    b = docs.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast(
                "long"
            )
            % HASH_DIM
        ).alias("bucket"),
    )
    c = b.groupBy("doc_id", "bucket").agg(F.count("*").alias("cnt"))
    return c.groupBy("doc_id").agg(
        F.count("*").alias("nnz"),
        F.array_join(
            F.sort_array(
                F.collect_list(F.concat_ws(":", "bucket", "cnt"))
            ),
            ",",
        ).alias("features"),
    )


# -- rank-based AUC (Mann-Whitney U): the threshold-free evaluation of
#    the margin scorer against the parity target -- the metric every
#    training pipeline reports beside the confusion matrix.  The
#    global score rank comes from the bucketed two-pass prefix_scan
#    (margin-band buckets), NOT a single-partition window, so the
#    evaluation scales with the corpus; ties are broken by vec_id so
#    both engines rank identically (margins are bit-identical doubles
#    by the fold-order convention above).
@query(
    "ml_auc_rank",
    oracle=f"""
    WITH m AS (
        SELECT vec_id,
               label % 2 = 1 AS pos,
               list_sum(list_transform(
                   generate_series(1, {EMB_DIM}),
                   i -> CAST(embedding[i] AS DOUBLE) * ({_W_SQL})[i]
               )) + {BIAS!r} AS margin
        FROM embeddings
    ),
    r AS (
        SELECT pos,
               CAST(row_number() OVER (ORDER BY margin, vec_id)
                    AS BIGINT) AS rk
        FROM m
    )
    SELECT CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
           CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT)
               AS n_neg,
           ROUND((CAST(SUM(CASE WHEN pos THEN rk ELSE 0 END)
                       AS DOUBLE)
                  - CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END)
                         AS DOUBLE)
                    * (CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END)
                            AS DOUBLE) + 1) / 2.0)
                 / (CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END)
                         AS DOUBLE)
                    * CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END)
                           AS DOUBLE)), 6) AS auc
    FROM r
    """,
)
def ml_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    margin = _margin_expr()
    m = emb.select(
        "vec_id",
        (F.col("label") % 2 == 1).alias("pos"),
        margin.alias("margin"),
    )
    ranked = prefix_scan(
        m,
        F.floor(F.col("margin")),
        [F.col("margin"), F.col("vec_id")],
        [(F.lit(1), "rk")],
    )
    pos_rk = F.sum(F.when(F.col("pos"), F.col("rk")).otherwise(0)).cast(
        "double"
    )
    n_pos = F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("long")
    n_neg = F.sum(F.when(~F.col("pos"), 1).otherwise(0)).cast("long")
    return ranked.agg(
        n_pos.alias("n_pos"),
        n_neg.alias("n_neg"),
        F.round(
            (pos_rk - n_pos.cast("double") * (n_pos.cast("double") + 1) / 2.0)
            / (n_pos.cast("double") * n_neg.cast("double")),
            6,
        ).alias("auc"),
    )


# -- calibration (reliability) bins: the margin scorer's scores bucketed
#    into unit-wide margin bins, each bin reporting count, empirical
#    positive rate, and mean margin -- the reliability-diagram input
#    every scored-corpus pipeline reports beside AUC.  The bin key is
#    pure arithmetic on the bit-identical margin (no exp/sigmoid, whose
#    last-ULP behavior is libm-dependent and could flip a boundary
#    row's bin between engines); mean margins go through exact
#    DECIMAL(18,6) sums of per-row rounded margins so the aggregate is
#    order-independent.  One grouped aggregate over a map stage: scales.
@query(
    "ml_calibration_bins",
    oracle=f"""
    WITH m AS (
        SELECT label % 2 = 1 AS pos,
               list_sum(list_transform(
                   generate_series(1, {EMB_DIM}),
                   i -> CAST(embedding[i] AS DOUBLE) * ({_W_SQL})[i]
               )) + {BIAS!r} AS margin
        FROM embeddings
    )
    SELECT CAST(LEAST(GREATEST(FLOOR(margin + 5), 0), 9) AS INT)
               AS bin,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS pos_rate,
           ROUND(CAST(SUM(CAST(ROUND(margin, 6) AS DECIMAL(18,6)))
                      AS DOUBLE) / COUNT(*), 6) AS avg_margin
    FROM m GROUP BY 1
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    margin = _margin_expr()
    scored = emb.select(
        F.least(F.greatest(F.floor(margin + 5), F.lit(0)), F.lit(9))
        .cast("int")
        .alias("bin"),
        (F.col("label") % 2 == 1).alias("pos"),
        F.round(margin, 6).cast("decimal(18,6)").alias("m6"),
    )
    n = F.count("*")
    return scored.groupBy("bin").agg(
        n.alias("n"),
        F.round(
            F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("double")
            / n,
            6,
        ).alias("pos_rate"),
        F.round(F.sum("m6").cast("double") / n, 6).alias("avg_margin"),
    )


# -- Kolmogorov-Smirnov statistic of the margin scorer: the maximum
#    gap between the positive and negative score CDFs.  ONE bucketed
#    two-pass prefix_scan (margin-band buckets), never a
#    single-partition window, carries two running counts: the global
#    rank (cum_total at each row) and the running count of positives;
#    the negatives' count falls out as rk - cum_pos -- so both
#    empirical CDFs are known at every row without any table-sized
#    unpartitioned Exchange.  Ties broken by vec_id so both engines
#    rank identically.
@query(
    "ml_ks_statistic",
    oracle=f"""
    WITH m AS (
        SELECT vec_id,
               label % 2 = 1 AS pos,
               list_sum(list_transform(
                   generate_series(1, {EMB_DIM}),
                   i -> CAST(embedding[i] AS DOUBLE) * ({_W_SQL})[i]
               )) + {BIAS!r} AS margin
        FROM embeddings
    ),
    r AS (
        SELECT pos,
               row_number() OVER (ORDER BY margin, vec_id) AS rk,
               row_number() OVER (
                   PARTITION BY pos ORDER BY margin, vec_id
               ) AS rk_in
        FROM m
    ),
    t AS (
        SELECT CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos,
               CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_neg
        FROM m
    )
    SELECT t.n_pos, t.n_neg,
           ROUND(MAX(ABS(
               CAST(CASE WHEN pos THEN rk_in ELSE rk - rk_in END
                    AS DOUBLE) / t.n_pos
               - CAST(CASE WHEN pos THEN rk - rk_in ELSE rk_in END
                      AS DOUBLE) / t.n_neg
           )), 6) AS ks
    FROM r CROSS JOIN t
    GROUP BY t.n_pos, t.n_neg
    """,
)
def ml_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    margin = _margin_expr()
    m = emb.select(
        "vec_id",
        (F.col("label") % 2 == 1).alias("pos"),
        margin.alias("margin"),
    ).cache()
    ranked = prefix_scan(
        m,
        F.floor(F.col("margin")),
        [F.col("margin"), F.col("vec_id")],
        [
            (F.lit(1), "rk"),
            (F.when(F.col("pos"), 1).otherwise(0), "cum_pos"),
        ],
    )
    tot = m.agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.sum(F.when(~F.col("pos"), 1).otherwise(0))
        .cast("long")
        .alias("n_neg"),
    )
    j = ranked.crossJoin(F.broadcast(tot))
    cum_neg = F.col("rk") - F.col("cum_pos")
    gap = F.abs(
        F.col("cum_pos").cast("double") / F.col("n_pos")
        - cum_neg.cast("double") / F.col("n_neg")
    )
    return j.groupBy("n_pos", "n_neg").agg(
        F.round(F.max(gap), 6).alias("ks")
    )


# -- average precision (area under the PR curve, the retrieval-eval
#    twin of ml_auc_rank): rank all items by margin descending; AP =
#    mean over positives of precision@rank.  Both global ranks (items
#    by score, positives by rank) go through the two-pass
#    prefix_scan; precision terms are exact-integer ratios j/rk and
#    only their SUM is floating -- the ROUND(5) quantum sits ~7
#    orders of magnitude above the worst-case summation ULP drift.
@query(
    "ml_average_precision",
    oracle=f"""
    WITH m AS (
        SELECT vec_id,
               label % 2 = 1 AS pos,
               list_sum(list_transform(
                   generate_series(1, {EMB_DIM}),
                   i -> CAST(embedding[i] AS DOUBLE) * ({_W_SQL})[i]
               )) + {BIAS!r} AS margin
        FROM embeddings
    ),
    r AS (
        SELECT pos,
               CAST(row_number() OVER (ORDER BY margin DESC, vec_id)
                    AS BIGINT) AS rk
        FROM m
    ),
    p AS (
        SELECT rk,
               CAST(row_number() OVER (ORDER BY rk) AS BIGINT) AS j
        FROM r WHERE pos
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pos,
           ROUND(SUM(CAST(j AS DOUBLE) / rk) / COUNT(*), 5)
               AS avg_precision
    FROM p
    """,
)
def ml_average_precision(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    margin = _margin_expr()
    m = emb.select(
        "vec_id",
        (F.col("label") % 2 == 1).alias("pos"),
        margin.alias("margin"),
    ).cache()  # prefix_scan consumes its input twice
    ranked = prefix_scan(
        m,
        -F.floor(F.col("margin")),
        [F.col("margin").desc(), F.col("vec_id")],
        [(F.lit(1), "rk")],
    )
    positives = ranked.filter(F.col("pos")).select("rk").cache()
    indexed = prefix_scan(
        positives,
        F.floor(F.col("rk") / 4096),
        [F.col("rk")],
        [(F.lit(1), "j")],
    )
    return indexed.agg(
        F.count("*").cast("long").alias("n_pos"),
        F.round(
            F.sum(F.col("j").cast("double") / F.col("rk"))
            / F.count("*"),
            5,
        ).alias("avg_precision"),
    )


# -- exact linear-SHAP feature attribution: for a linear scorer the
#    Shapley value of feature i on a row is phi_i = w_i*(x_i - mu_i)
#    EXACTLY (no sampling -- the interventional Shapley value of a
#    linear model has a closed form).  Global importance = mean |phi|
#    per feature.  Components are quantized to exact 1e-6 integer
#    units so every aggregate (per-dim sums, the dispersion
#    sum |n*x_i - S_i|) is an exact integer -- the only floating
#    step is one identical final expression per FEATURE, so engines
#    cannot drift.  Plan: posexplode -> two grouped aggregates over
#    (dim) keys with the 64-row dim summary broadcast back.  Scales.
@query(
    "ml_shap_linear_attribution",
    oracle=f"""
    WITH m AS (
        SELECT t.i AS i,
               CAST(ROUND(CAST(embedding[t.i] AS DOUBLE) * 1000000)
                    AS BIGINT) AS xq
        FROM embeddings
        CROSS JOIN (SELECT unnest(generate_series(1, {EMB_DIM}))
                    AS i) t
    ),
    s AS (
        SELECT i, CAST(SUM(xq) AS BIGINT) AS sv,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM m GROUP BY i
    ),
    d AS (
        SELECT m.i,
               CAST(SUM(ABS(s.n * m.xq - s.sv)) AS BIGINT) AS disp,
               MIN(s.n) AS n
        FROM m JOIN s USING (i) GROUP BY m.i
    )
    SELECT i - 1 AS feature,
           CAST(({_W_SQL})[i] AS DOUBLE) AS weight,
           ROUND(ABS(CAST(({_W_SQL})[i] AS DOUBLE)) * disp
                 / (CAST(n AS DOUBLE) * n * 1000000.0), 6)
               AS mean_abs_phi
    FROM d
    ORDER BY mean_abs_phi DESC, feature
    LIMIT 10
    """,
)
def ml_shap_linear_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-10 features of the linear margin scorer by exact mean
    absolute Shapley value."""
    exploded = (
        load_table(spark, sf_dir, "embeddings")
        .select(F.posexplode("embedding").alias("pos", "x"))
        .select(
            "pos",
            F.round(F.col("x").cast("double") * 1000000)
            .cast("long")
            .alias("xq"),
        )
        .cache()  # feeds the per-dim sums AND the dispersion pass
    )
    s = exploded.groupBy("pos").agg(
        F.sum("xq").alias("sv"), F.count("*").alias("n")
    )
    d = (
        exploded.join(F.broadcast(s), "pos")
        .groupBy("pos")
        .agg(
            F.sum(
                F.abs(F.col("n") * F.col("xq") - F.col("sv"))
            ).alias("disp"),
            F.min("n").alias("n"),
        )
    )
    w_arr = F.array(*[F.lit(x) for x in WEIGHTS])
    weight = F.element_at(w_arr, F.col("pos") + 1)
    return (
        d.select(
            F.col("pos").alias("feature"),
            weight.alias("weight"),
            F.round(
                F.abs(weight)
                * F.col("disp")
                / (
                    F.col("n").cast("double")
                    * F.col("n")
                    * 1000000.0
                ),
                6,
            ).alias("mean_abs_phi"),
        )
        .orderBy(F.col("mean_abs_phi").desc(), "feature")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# NDCG@k and the scalar classification report
# ---------------------------------------------------------------------------

NDCG_K = 10

#: 1/log2(i+1) discount for positions 1..k, quantized to 9-dp decimal
#: literals shared by both engines (the quantized discount IS the
#: metric definition -- same discipline as the SES/Holt/decay weight
#: tables; no transcendental is evaluated at query time).
import math  # noqa: E402
from decimal import Decimal as _NDec  # noqa: E402

_NDCG_DISC = [
    _NDec(f"{1.0 / math.log2(i + 1):.9f}") for i in range(1, NDCG_K + 1)
]
_NDCG_DISC_SQL = (
    "["
    + ", ".join(f"CAST({d} AS DECIMAL(10,9))" for d in _NDCG_DISC)
    + "]"
)


# -- NDCG@10 of the margin ranking against a graded relevance target
#    (label mod 4 -> gain 2^rel - 1).  Both the model ranking and the
#    ideal ranking are top-k cuts (distributed TakeOrdered -- no
#    global sort materializes); the discounted sums multiply integer
#    gains by the decimal discount table, so DCG/IDCG are exact and
#    the final ratio is one double division.
@query(
    "ml_ndcg_at_k",
    oracle=f"""
    WITH m AS (
        SELECT vec_id,
               CAST(pow(2, label % 4) AS BIGINT) - 1 AS gain,
               list_sum(list_transform(
                   generate_series(1, {EMB_DIM}),
                   i -> CAST(embedding[i] AS DOUBLE) * ({_W_SQL})[i]
               )) + {BIAS!r} AS margin
        FROM embeddings
    ),
    model AS (
        SELECT gain, ROW_NUMBER() OVER (ORDER BY margin DESC, vec_id)
                   AS pos
        FROM m QUALIFY pos <= {NDCG_K}
    ),
    ideal AS (
        SELECT gain, ROW_NUMBER() OVER (ORDER BY gain DESC, vec_id)
                   AS pos
        FROM m QUALIFY pos <= {NDCG_K}
    ),
    s AS (
        SELECT (SELECT SUM(CAST(gain AS DECIMAL(20,0))
                           * ({_NDCG_DISC_SQL})[pos]) FROM model)
                   AS dcg,
               (SELECT SUM(CAST(gain AS DECIMAL(20,0))
                           * ({_NDCG_DISC_SQL})[pos]) FROM ideal)
                   AS idcg
    )
    SELECT CAST(dcg AS DOUBLE) AS dcg_at_k,
           CAST(idcg AS DOUBLE) AS idcg_at_k,
           ROUND(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6)
               AS ndcg_at_k
    FROM s
    """,
)
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    margin = _margin_expr()
    m = emb.select(
        "vec_id",
        (
            F.pow(F.lit(2), (F.col("label") % 4)).cast("long") - 1
        ).alias("gain"),
        margin.alias("margin"),
    )
    disc = F.array(
        *[F.lit(d).cast("decimal(10,9)") for d in _NDCG_DISC]
    )

    def topk_dcg(df, order_cols, alias):
        top = df.orderBy(*order_cols).limit(NDCG_K)
        ranked = top.withColumn(
            "pos", F.row_number().over(Window.orderBy(*order_cols))
        )
        return ranked.agg(
            F.sum(
                F.col("gain").cast("decimal(20,0)")
                * F.element_at(disc, F.col("pos"))
            ).alias(alias)
        )

    dcg = topk_dcg(
        m, [F.desc("margin"), F.asc("vec_id")], "dcg"
    )
    idcg = topk_dcg(m, [F.desc("gain"), F.asc("vec_id")], "idcg")
    j = dcg.crossJoin(F.broadcast(idcg))
    return j.select(
        F.col("dcg").cast("double").alias("dcg_at_k"),
        F.col("idcg").cast("double").alias("idcg_at_k"),
        F.round(
            F.col("dcg").cast("double") / F.col("idcg").cast("double"),
            6,
        ).alias("ndcg_at_k"),
    )


# -- Mean-reciprocal-rank companion to NDCG@k (r8): the per-QUERY
#    retrieval-eval shape NDCG's single global ranking stops short
#    of.  vec_id % MRR_QUERIES buckets the corpus into query groups;
#    within each, documents rank by the shared margin model
#    (deterministic tie-break margin DESC, vec_id), and the first
#    top-grade document (label % 4 == 3) yields the reciprocal rank.
#    Exactness discipline: RR is emitted in integer MICRO-UNITS
#    (1e6 DIV pos) -- no per-engine double reciprocal sums -- and the
#    margin reuses the NDCG fold whose cross-engine bit-equality is
#    already proven.  Per-query rows only: the mean is one exact
#    integer sum away for any consumer (and the replay pytest).
MRR_QUERIES = 8


@query(
    "ml_mrr_reciprocal_ranks",
    oracle=f"""
    WITH m AS (
        SELECT vec_id,
               vec_id % {MRR_QUERIES} AS query_id,
               label % 4 = 3 AS rel,
               list_sum(list_transform(
                   generate_series(1, {EMB_DIM}),
                   i -> CAST(embedding[i] AS DOUBLE) * ({_W_SQL})[i]
               )) + {BIAS!r} AS margin
        FROM embeddings
    ),
    ranked AS (
        SELECT query_id, rel,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY margin DESC, vec_id)
                   AS pos
        FROM m
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT)
               AS n_relevant,
           MIN(CASE WHEN rel THEN pos END) AS first_rel_pos,
           CAST(COALESCE(1000000 // MIN(CASE WHEN rel THEN pos END),
                         0) AS BIGINT) AS rr_micro
    FROM ranked
    GROUP BY query_id
    """,
)
def ml_mrr_reciprocal_ranks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    margin = _margin_expr()
    m = emb.select(
        "vec_id",
        (F.col("vec_id") % MRR_QUERIES).alias("query_id"),
        (F.col("label") % 4 == 3).alias("rel"),
        margin.alias("margin"),
    )
    win = Window.partitionBy("query_id").orderBy(
        F.desc("margin"), F.asc("vec_id")
    )
    ranked = m.withColumn("pos", F.row_number().over(win))
    return (
        ranked.groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("rel").cast("int"))
            .cast("long")
            .alias("n_relevant"),
            F.min(F.when(F.col("rel"), F.col("pos"))).alias(
                "first_rel_pos"
            ),
        )
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "n_docs",
            "n_relevant",
            "first_rel_pos",
            F.coalesce(
                F.expr("1000000 DIV first_rel_pos"), F.lit(0)
            )
            .cast("long")
            .alias("rr_micro"),
        )
    )


# -- Closed-form ridge regression (r8): the regularized member of
#    the regression family (OLS slope = window_rolling_ols_slope,
#    robust = orders_theilsen_trend, 2-regressor closed form =
#    events_granger_causality).  y = line revenue in cents on
#    x1 = quantity, x2 = discount basis points; the centered 2x2
#    normal equations get lambda*n added to the diagonal (scaling
#    the penalty with n keeps the shrinkage strength
#    size-independent), then one cofactor solve.  Exactness: all
#    moments are DECIMAL(38,0) integer sums (cents^2 overflows
#    BIGINT past ~sf0.05 -- the tfidf lesson), and the solve is a
#    fixed double expression tree identical in both engines; OLS
#    coefficients ship alongside so the shrinkage is visible.
RIDGE_LAMBDA = 1000.0  # per-row penalty, cents^2-scale units


@query(
    "ml_ridge_regression_closed_form",
    oracle=f"""
    WITH base AS (
        SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y,
               CAST(l_quantity AS BIGINT) AS x1,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS x2
        FROM lineitem
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(CAST(x1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s1,
               CAST(SUM(CAST(x2 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s2,
               CAST(SUM(CAST(x1 AS DECIMAL(19,0))
                        * CAST(x1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s11,
               CAST(SUM(CAST(x1 AS DECIMAL(19,0))
                        * CAST(x2 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s12,
               CAST(SUM(CAST(x2 AS DECIMAL(19,0))
                        * CAST(x2 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s22,
               CAST(SUM(CAST(x1 AS DECIMAL(19,0))
                        * CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s1y,
               CAST(SUM(CAST(x2 AS DECIMAL(19,0))
                        * CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s2y
        FROM base
    ),
    c AS (
        SELECT n,
               CAST(sy AS DOUBLE) AS sy_d,
               CAST(s1 AS DOUBLE) AS s1_d,
               CAST(s2 AS DOUBLE) AS s2_d,
               CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n AS c11,
               CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / n AS c12,
               CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n AS c22,
               CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) / n AS c1y,
               CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) / n AS c2y
        FROM m
    ),
    solved AS (
        SELECT n, sy_d, s1_d, s2_d, c11, c12, c22, c1y, c2y,
               (c11 + {RIDGE_LAMBDA!r} * n) * (c22 + {RIDGE_LAMBDA!r} * n)
                   - c12 * c12 AS det_r,
               c11 * c22 - c12 * c12 AS det_o
        FROM c
    )
    SELECT n,
           ROUND(((c22 + {RIDGE_LAMBDA!r} * n) * c1y - c12 * c2y)
                 / det_r, 8) AS ridge_b1,
           ROUND(((c11 + {RIDGE_LAMBDA!r} * n) * c2y - c12 * c1y)
                 / det_r, 8) AS ridge_b2,
           ROUND((sy_d
                  - ((c22 + {RIDGE_LAMBDA!r} * n) * c1y - c12 * c2y)
                    / det_r * s1_d
                  - ((c11 + {RIDGE_LAMBDA!r} * n) * c2y - c12 * c1y)
                    / det_r * s2_d) / n / 100, 6) AS ridge_intercept,
           ROUND((c22 * c1y - c12 * c2y) / det_o, 8) AS ols_b1,
           ROUND((c11 * c2y - c12 * c1y) / det_o, 8) AS ols_b2
    FROM solved
    """,
)
def ml_ridge_regression_closed_form(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    base = li.select(
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("y"),
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
    )
    m = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(d19("y")).cast("decimal(38,0)").alias("sy"),
        F.sum(d19("x1")).cast("decimal(38,0)").alias("s1"),
        F.sum(d19("x2")).cast("decimal(38,0)").alias("s2"),
        F.sum(d19("x1") * d19("x1")).cast("decimal(38,0)").alias("s11"),
        F.sum(d19("x1") * d19("x2")).cast("decimal(38,0)").alias("s12"),
        F.sum(d19("x2") * d19("x2")).cast("decimal(38,0)").alias("s22"),
        F.sum(d19("x1") * d19("y")).cast("decimal(38,0)").alias("s1y"),
        F.sum(d19("x2") * d19("y")).cast("decimal(38,0)").alias("s2y"),
    )
    n = F.col("n")
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    c = m.select(
        "n",
        dd("sy").alias("sy_d"),
        dd("s1").alias("s1_d"),
        dd("s2").alias("s2_d"),
        (dd("s11") - dd("s1") * dd("s1") / n).alias("c11"),
        (dd("s12") - dd("s1") * dd("s2") / n).alias("c12"),
        (dd("s22") - dd("s2") * dd("s2") / n).alias("c22"),
        (dd("s1y") - dd("s1") * dd("sy") / n).alias("c1y"),
        (dd("s2y") - dd("s2") * dd("sy") / n).alias("c2y"),
    )
    lam_n = F.lit(RIDGE_LAMBDA) * F.col("n")
    det_r = (F.col("c11") + lam_n) * (F.col("c22") + lam_n) - F.col(
        "c12"
    ) * F.col("c12")
    det_o = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    rb1 = (
        (F.col("c22") + lam_n) * F.col("c1y")
        - F.col("c12") * F.col("c2y")
    ) / det_r
    rb2 = (
        (F.col("c11") + lam_n) * F.col("c2y")
        - F.col("c12") * F.col("c1y")
    ) / det_r
    return c.select(
        "n",
        F.round(rb1, 8).alias("ridge_b1"),
        F.round(rb2, 8).alias("ridge_b2"),
        F.round(
            (
                F.col("sy_d")
                - rb1 * F.col("s1_d")
                - rb2 * F.col("s2_d")
            )
            / F.col("n")
            / 100,
            6,
        ).alias("ridge_intercept"),
        F.round(
            (
                F.col("c22") * F.col("c1y")
                - F.col("c12") * F.col("c2y")
            )
            / det_o,
            8,
        ).alias("ols_b1"),
        F.round(
            (
                F.col("c11") * F.col("c2y")
                - F.col("c12") * F.col("c1y")
            )
            / det_o,
            8,
        ).alias("ols_b2"),
    )


# -- Precision@k / Recall@k per query (r8): completes the retrieval
#    battery (NDCG = graded, MRR = first-hit, P/R@k = set overlap).
#    Same query buckets and bit-exact margin ranking as MRR; every
#    output is an integer count or an integer ppm ratio
#    (x * 1e6 DIV y), so there is no float anywhere past the proven
#    margin fold.
PRK_K = 10


@query(
    "ml_precision_recall_at_k",
    oracle=f"""
    WITH m AS (
        SELECT vec_id,
               vec_id % {MRR_QUERIES} AS query_id,
               label % 4 = 3 AS rel,
               list_sum(list_transform(
                   generate_series(1, {EMB_DIM}),
                   i -> CAST(embedding[i] AS DOUBLE) * ({_W_SQL})[i]
               )) + {BIAS!r} AS margin
        FROM embeddings
    ),
    ranked AS (
        SELECT query_id, rel,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY margin DESC, vec_id)
                   AS pos
        FROM m
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT)
               AS n_relevant,
           CAST(SUM(CASE WHEN rel AND pos <= {PRK_K}
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS rel_in_topk,
           CAST(SUM(CASE WHEN rel AND pos <= {PRK_K}
                         THEN 1 ELSE 0 END) * 1000000 // {PRK_K}
                AS BIGINT) AS precision_ppm,
           CAST(COALESCE(SUM(CASE WHEN rel AND pos <= {PRK_K}
                                  THEN 1 ELSE 0 END) * 1000000
                         // NULLIF(SUM(CASE WHEN rel THEN 1
                                            ELSE 0 END), 0),
                         0) AS BIGINT) AS recall_ppm
    FROM ranked
    GROUP BY query_id
    """,
)
def ml_precision_recall_at_k(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    margin = _margin_expr()
    m = emb.select(
        "vec_id",
        (F.col("vec_id") % MRR_QUERIES).alias("query_id"),
        (F.col("label") % 4 == 3).alias("rel"),
        margin.alias("margin"),
    )
    win = Window.partitionBy("query_id").orderBy(
        F.desc("margin"), F.asc("vec_id")
    )
    ranked = m.withColumn("pos", F.row_number().over(win))
    hit = F.col("rel") & (F.col("pos") <= PRK_K)
    return (
        ranked.groupBy("query_id")
        .agg(
            F.sum(F.col("rel").cast("int"))
            .cast("long")
            .alias("n_relevant"),
            F.sum(hit.cast("int")).cast("long").alias("rel_in_topk"),
        )
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "n_relevant",
            "rel_in_topk",
            F.expr(
                f"CAST(rel_in_topk * 1000000 DIV {PRK_K} AS BIGINT)"
            ).alias("precision_ppm"),
            F.coalesce(
                F.expr(
                    "CAST(rel_in_topk * 1000000"
                    " DIV NULLIF(n_relevant, 0) AS BIGINT)"
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("recall_ppm"),
        )
    )


# -- scalar classification report: precision / recall / F1 / MCC /
#    Cohen's kappa from the four exact confusion counts in ONE
#    aggregation pass -- the derived metrics the confusion-matrix
#    query (above) stops short of.  Every statistic is a fixed double
#    expression over exact integers; degenerate denominators go NULL
#    via NULLIF in both engines.
@query(
    "ml_classification_report",
    oracle=f"""
    WITH scored AS (
        SELECT label % 2 = 1 AS actual,
               list_sum(list_transform(
                   generate_series(1, {EMB_DIM}),
                   i -> CAST(embedding[i] AS DOUBLE) * ({_W_SQL})[i]
               )) + {BIAS!r} > 0 AS predicted
        FROM embeddings
    ),
    c AS (
        SELECT CAST(SUM(CASE WHEN actual AND predicted THEN 1
                             ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN NOT actual AND predicted THEN 1
                             ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN actual AND NOT predicted THEN 1
                             ELSE 0 END) AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN NOT actual AND NOT predicted THEN 1
                             ELSE 0 END) AS BIGINT) AS tn
        FROM scored
    )
    SELECT tp, fp, fn, tn,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 6)
               AS precision_,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 6)
               AS recall_,
           ROUND(2.0 * tp / NULLIF(2 * tp + fp + fn, 0), 6) AS f1,
           ROUND((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                 / NULLIF(sqrt(CAST(tp + fp AS DOUBLE))
                          * sqrt(CAST(tp + fn AS DOUBLE))
                          * sqrt(CAST(tn + fp AS DOUBLE))
                          * sqrt(CAST(tn + fn AS DOUBLE)), 0), 6)
               AS mcc,
           ROUND((2.0 * (CAST(tp AS DOUBLE) * tn
                         - CAST(fp AS DOUBLE) * fn))
                 / NULLIF(CAST(tp + fp AS DOUBLE) * (fp + tn)
                          + CAST(tp + fn AS DOUBLE) * (fn + tn), 0), 6)
               AS kappa
    FROM c
    """,
)
def ml_classification_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    margin = _margin_expr()
    scored = emb.select(
        (F.col("label") % 2 == 1).alias("actual"),
        (margin > 0).alias("predicted"),
    )
    a, p = F.col("actual"), F.col("predicted")
    c = scored.agg(
        F.sum(F.when(a & p, 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(~a & p, 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(a & ~p, 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when(~a & ~p, 1).otherwise(0)).cast("long").alias("tn"),
    )
    tp, fp = F.col("tp").cast("double"), F.col("fp").cast("double")
    fn, tn = F.col("fn").cast("double"), F.col("tn").cast("double")

    def _nz(x):
        return F.nullif(x, F.lit(0.0))

    mcc = (tp * tn - fp * fn) / _nz(
        F.sqrt(tp + fp) * F.sqrt(tp + fn) * F.sqrt(tn + fp)
        * F.sqrt(tn + fn)
    )
    kappa = (2.0 * (tp * tn - fp * fn)) / _nz(
        (tp + fp) * (fp + tn) + (tp + fn) * (fn + tn)
    )
    return c.select(
        "tp", "fp", "fn", "tn",
        F.round(tp / _nz(tp + fp), 6).alias("precision_"),
        F.round(tp / _nz(tp + fn), 6).alias("recall_"),
        F.round(2.0 * tp / _nz(2 * tp + fp + fn), 6).alias("f1"),
        F.round(mcc, 6).alias("mcc"),
        F.round(kappa, 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Power-iteration PCA (top principal direction) with an exact oracle
# ---------------------------------------------------------------------------
# Iterative linear algebra on the engine: K rounds of
#     v  <-  normalize( E^T (E v) )
# over the embedding matrix.  Each matvec is TWO grouped-sum
# aggregations (rows x dims long format) -- the canonical distributed
# shape; the 64-row state vector broadcasts, the data never
# re-shuffles.  Exact cross-engine equality for an ITERATIVE float
# algorithm comes from quantizing every intermediate to scaled
# integers: embeddings enter as round(e * 1e6) units, each iteration
# re-quantizes the direction to 1e6-scaled ints after a double
# max-rescale + unit-normalize, and every SUM runs over exact
# integers (HUGEINT / decimal(38)).  A double x 10^k can never land
# exactly on .5 (that would need a 5-adic denominator, impossible for
# dyadic doubles), so every round() is tie-free and the unrolled
# DuckDB CTE chain reproduces the Spark result bit-for-bit.
# (Spark's own iterative path is the same plan Catalyst sees from the
# unrolled loop -- no driver-side collect of data, only the bounded
# 64-row state flows between stages.)

PCA_ITERS = 4
PCA_OUT_DIMS = 8
_PCA_SE = 10**6  # embedding unit scale
_PCA_SV = 10**6  # direction component scale
_PCA_V0 = 125000  # 1/sqrt(64) at scale 1e6


def _pca_oracle() -> str:
    ctes = [
        f"""base AS MATERIALIZED (
        SELECT vec_id, i AS dim,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {_PCA_SE})
                    AS BIGINT) AS units
        FROM embeddings CROSS JOIN generate_series(1, {EMB_DIM}) g(i)
    )""",
        f"""v0 AS MATERIALIZED (
        SELECT i AS dim, CAST({_PCA_V0} AS BIGINT) AS val
        FROM generate_series(1, {EMB_DIM}) g(i)
    )""",
    ]
    for k in range(1, PCA_ITERS + 1):
        p = k - 1
        ctes.append(f"""dot{k} AS MATERIALIZED (
        SELECT b.vec_id, CAST(SUM(b.units * v.val) AS BIGINT) AS dot
        FROM base b JOIN v{p} v ON v.dim = b.dim GROUP BY 1
    )""")
        ctes.append(f"""w{k} AS MATERIALIZED (
        SELECT b.dim, SUM(CAST(b.units AS HUGEINT) * d.dot) AS w
        FROM base b JOIN dot{k} d ON d.vec_id = b.vec_id GROUP BY 1
    )""")
        ctes.append(
            f"m{k} AS MATERIALIZED (SELECT MAX(ABS(w)) AS m FROM w{k})"
        )
        ctes.append(f"""vp{k} AS MATERIALIZED (
        SELECT dim, CAST(ROUND(CAST(w AS DOUBLE) / CAST(m AS DOUBLE)
                               * {_PCA_SV}) AS BIGINT) AS val
        FROM w{k} CROSS JOIN m{k}
    )""")
        ctes.append(
            f"n{k} AS MATERIALIZED (SELECT SUM(val * val) AS n2 FROM vp{k})"
        )
        ctes.append(f"""v{k} AS MATERIALIZED (
        SELECT dim, CAST(ROUND(val / sqrt(CAST(n2 AS DOUBLE))
                               * {_PCA_SV}) AS BIGINT) AS val
        FROM vp{k} CROSS JOIN n{k}
    )""")
    K = PCA_ITERS
    ctes.append(f"""dotF AS MATERIALIZED (
        SELECT b.vec_id, CAST(SUM(b.units * v.val) AS BIGINT) AS dot
        FROM base b JOIN v{K} v ON v.dim = b.dim GROUP BY 1
    )""")
    ctes.append(f"""ray AS MATERIALIZED (
        SELECT SUM(CAST(CAST(ROUND(CAST(dot AS DOUBLE) / {_PCA_SE})
                             AS BIGINT) AS HUGEINT)
                   * CAST(ROUND(CAST(dot AS DOUBLE) / {_PCA_SE})
                          AS BIGINT)) AS s
        FROM dotF
    )""")
    ctes.append(
        f"nv AS MATERIALIZED (SELECT SUM(val * val) AS n2 FROM v{K})"
    )
    comps = ",\n           ".join(
        f"ROUND(CAST(MAX(CASE WHEN dim = {d} THEN val END) AS DOUBLE)"
        f" / {_PCA_SV}, 6) AS c{d}"
        for d in range(1, PCA_OUT_DIMS + 1)
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT ROUND((SELECT CAST(s AS DOUBLE) FROM ray)
                 / (SELECT CAST(n2 AS DOUBLE) FROM nv), 4)
               AS eigenvalue,
           {comps}
    FROM v{K}
    """


@query("ml_pca_power_iteration", oracle=_pca_oracle())
def ml_pca_power_iteration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "e")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("e").cast("double") * _PCA_SE)
        .cast("long")
        .alias("units"),
    )
    base = base.cache()
    spark_range = spark.range(1, EMB_DIM + 1)
    v = spark_range.select(
        F.col("id").cast("int").alias("dim"),
        F.lit(_PCA_V0).cast("long").alias("val"),
    )
    for _ in range(PCA_ITERS):
        dot = (
            base.join(F.broadcast(v), "dim")
            .groupBy("vec_id")
            .agg(
                F.sum(F.col("units") * F.col("val"))
                .cast("long")
                .alias("dot")
            )
        )
        w = (
            base.join(F.broadcast(dot), "vec_id")
            .groupBy("dim")
            .agg(
                F.sum(
                    (
                        F.col("units").cast("decimal(20,0)")
                        * F.col("dot")
                    ).cast("decimal(38,0)")
                ).alias("w")
            )
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        vp = w.crossJoin(F.broadcast(m)).select(
            "dim",
            F.round(
                F.col("w").cast("double")
                / F.col("m").cast("double")
                * _PCA_SV
            )
            .cast("long")
            .alias("val"),
        )
        n2 = vp.agg(
            F.sum(F.col("val") * F.col("val")).alias("n2")
        )
        v = vp.crossJoin(F.broadcast(n2)).select(
            "dim",
            F.round(
                F.col("val")
                / F.sqrt(F.col("n2").cast("double"))
                * _PCA_SV
            )
            .cast("long")
            .alias("val"),
        )
        # the 64-row state is re-read by THREE branches next
        # iteration (dot, then transitively m/n2); without cutting
        # lineage here Spark re-executes the whole prior chain per
        # branch -- exponential in the iteration count (the DuckDB
        # twin needs AS MATERIALIZED for the same reason).  A
        # localCheckpoint of 64 rows is the bounded-state analogue of
        # the graph family's iteration checkpointing.
        v = v.localCheckpoint(eager=True)
    dot_f = (
        base.join(F.broadcast(v), "dim")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("units") * F.col("val"))
            .cast("long")
            .alias("dot")
        )
    )
    dr = F.round(F.col("dot").cast("double") / _PCA_SE).cast("long")
    ray = dot_f.agg(
        F.sum((dr.cast("decimal(20,0)") * dr).cast("decimal(38,0)"))
        .alias("s")
    )
    nv = v.agg(F.sum(F.col("val") * F.col("val")).alias("n2"))
    comps = v.groupBy().agg(
        *[
            F.round(
                F.max(
                    F.when(F.col("dim") == d, F.col("val"))
                ).cast("double")
                / _PCA_SV,
                6,
            ).alias(f"c{d}")
            for d in range(1, PCA_OUT_DIMS + 1)
        ]
    )
    lam = ray.crossJoin(F.broadcast(nv)).select(
        F.round(
            F.col("s").cast("double") / F.col("n2").cast("double"), 4
        ).alias("eigenvalue")
    )
    return lam.crossJoin(F.broadcast(comps))


# ---------------------------------------------------------------------------
# Decision stump (one boosting round)
# ---------------------------------------------------------------------------
# Supervised split search, the inner loop of every tree learner: find
# the threshold on order value that best separates finished orders by
# weighted Gini.  Distributed shape: ONE aggregation folds the fact
# table to per-band (n, positives) counts over a bounded band domain;
# candidate splits are prefix sums over that ~60-row table (window on
# a bounded domain, the audited pattern); the winner is a
# deterministic argmin (score, then band) on doubles computed by one
# fixed expression from exact integers.
STUMP_BAND = 8000  # dollars per candidate-threshold band


@query(
    "ml_decision_stump",
    oracle=f"""
    WITH r AS (
        SELECT CAST(FLOOR(o_totalprice / {STUMP_BAND}) AS BIGINT)
                   AS band,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
        FROM orders
    ),
    bands AS (
        SELECT band, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS p
        FROM r GROUP BY band
    ),
    pref AS (
        SELECT band,
               SUM(n) OVER w AS nl, SUM(p) OVER w AS pl,
               (SELECT SUM(n) FROM bands) AS nt,
               (SELECT SUM(p) FROM bands) AS pt
        FROM bands
        WINDOW w AS (ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    scored AS (
        SELECT band, nl, pl, nt - nl AS nr, pt - pl AS pr,
               (nl * (1 - (CAST(pl AS DOUBLE) / nl)
                          * (CAST(pl AS DOUBLE) / nl)
                      - (CAST(nl - pl AS DOUBLE) / nl)
                        * (CAST(nl - pl AS DOUBLE) / nl))
                + (nt - nl)
                  * (1 - (CAST(pt - pl AS DOUBLE) / (nt - nl))
                         * (CAST(pt - pl AS DOUBLE) / (nt - nl))
                     - (CAST((nt - nl) - (pt - pl) AS DOUBLE)
                        / (nt - nl))
                       * (CAST((nt - nl) - (pt - pl) AS DOUBLE)
                          / (nt - nl))))
               / nt AS score,
               1 - (CAST(pt AS DOUBLE) / nt)
                   * (CAST(pt AS DOUBLE) / nt)
                 - (CAST(nt - pt AS DOUBLE) / nt)
                   * (CAST(nt - pt AS DOUBLE) / nt) AS gini_root
        FROM pref
        WHERE nl > 0 AND nt - nl > 0
    )
    SELECT CAST(band AS BIGINT) AS split_band,
           CAST((band + 1) * {STUMP_BAND} AS BIGINT)
               AS threshold_dollars,
           CAST(nl AS BIGINT) AS n_left,
           CAST(pl AS BIGINT) AS pos_left,
           CAST(nr AS BIGINT) AS n_right,
           CAST(pr AS BIGINT) AS pos_right,
           ROUND(score, 6) AS gini_split,
           ROUND(gini_root, 6) AS gini_root
    FROM scored
    ORDER BY score, band
    LIMIT 1
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    r = orders.select(
        F.floor(F.col("o_totalprice") / STUMP_BAND)
        .cast("long")
        .alias("band"),
        F.when(F.col("o_orderstatus") == "F", 1)
        .otherwise(0)
        .alias("pos"),
    )
    bands = r.groupBy("band").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("p"),
    )
    wpre = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = bands.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("p").cast("long").alias("pt"),
    )
    pref = (
        bands.select(
            "band",
            F.sum("n").over(wpre).alias("nl"),
            F.sum("p").over(wpre).alias("pl"),
        )
        .crossJoin(F.broadcast(tot))
        .filter(
            (F.col("nl") > 0) & ((F.col("nt") - F.col("nl")) > 0)
        )
    )
    nl, pl = F.col("nl").cast("double"), F.col("pl").cast("double")
    nt, pt = F.col("nt").cast("double"), F.col("pt").cast("double")
    nr, pr = nt - nl, pt - pl

    def gini(n, p):
        return 1 - (p / n) * (p / n) - ((n - p) / n) * ((n - p) / n)

    score = (nl * gini(nl, pl) + nr * gini(nr, pr)) / nt
    scored = pref.select(
        "band",
        F.col("nl"),
        F.col("pl"),
        (F.col("nt") - F.col("nl")).alias("nr_i"),
        (F.col("pt") - F.col("pl")).alias("pr_i"),
        score.alias("score"),
        gini(nt, pt).alias("gini_root"),
    )
    best = scored.orderBy("score", "band").limit(1)
    return best.select(
        F.col("band").alias("split_band"),
        ((F.col("band") + 1) * STUMP_BAND)
        .cast("long")
        .alias("threshold_dollars"),
        F.col("nl").alias("n_left"),
        F.col("pl").alias("pos_left"),
        F.col("nr_i").alias("n_right"),
        F.col("pr_i").alias("pos_right"),
        F.round("score", 6).alias("gini_split"),
        F.round("gini_root", 6).alias("gini_root"),
    )


# ---------------------------------------------------------------------------
# Lloyd k-means (exact quantized iterations)
# ---------------------------------------------------------------------------
# The iterative companion to similarity_kmeans_assign (fixed
# centroids): K=4 centroids actually MOVE for 2 Lloyd rounds.  Same
# exactness discipline as the PCA above: embeddings enter as integer
# units, distances are exact integer sums (so argmin assignment with
# a (dist, cluster) tie-break is unambiguous), and the centroid
# update rounds mean = S/C half-up via pure FLOOR((2S + C) / (2C))
# -- no double .5 tie can exist and both engines share the formula.
# Per iteration: one broadcast join for assignment (the K x 64
# centroid table is tiny), one grouped sum for the update; empty
# clusters keep their previous centroid via COALESCE.
KMEANS_K = 4
KMEANS_ITERS = 2


def _kmeans_oracle() -> str:
    ctes = [
        f"""base AS MATERIALIZED (
        SELECT vec_id, i AS dim,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {_PCA_SE})
                    AS BIGINT) AS u
        FROM embeddings CROSS JOIN generate_series(1, {EMB_DIM}) g(i)
    )""",
        f"""c0 AS MATERIALIZED (
        SELECT vec_id AS cl, dim, u AS c
        FROM base WHERE vec_id < {KMEANS_K}
    )""",
    ]
    for k in range(1, KMEANS_ITERS + 1):
        p = k - 1
        ctes.append(f"""d{k} AS MATERIALIZED (
        SELECT b.vec_id, c.cl,
               SUM((b.u - c.c) * (b.u - c.c)) AS dist
        FROM base b JOIN c{p} c ON c.dim = b.dim
        GROUP BY 1, 2
    )""")
        ctes.append(f"""a{k} AS MATERIALIZED (
        SELECT vec_id, cl FROM (
            SELECT vec_id, cl,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cl) AS rn
            FROM d{k}
        ) WHERE rn = 1
    )""")
        ctes.append(f"""u{k} AS MATERIALIZED (
        SELECT a.cl, b.dim,
               CAST(FLOOR((2 * SUM(b.u) + COUNT(*))
                          / (2.0 * COUNT(*))) AS BIGINT) AS c
        FROM a{k} a JOIN base b ON b.vec_id = a.vec_id
        GROUP BY 1, 2
    )""")
        ctes.append(f"""c{k} AS MATERIALIZED (
        SELECT o.cl, o.dim, COALESCE(u.c, o.c) AS c
        FROM c{p} o LEFT JOIN u{k} u
          ON u.cl = o.cl AND u.dim = o.dim
    )""")
    K = KMEANS_ITERS
    ctes.append(f"""df AS MATERIALIZED (
        SELECT b.vec_id, c.cl,
               SUM((b.u - c.c) * (b.u - c.c)) AS dist
        FROM base b JOIN c{K} c ON c.dim = b.dim
        GROUP BY 1, 2
    )""")
    ctes.append("""af AS MATERIALIZED (
        SELECT vec_id, cl, dist FROM (
            SELECT vec_id, cl, dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cl) AS rn
            FROM df
        ) WHERE rn = 1
    )""")
    ctes.append("""st AS MATERIALIZED (
        SELECT cl, CAST(COUNT(*) AS BIGINT) AS n_members,
               ROUND(CAST(SUM(dist) AS DOUBLE) / 1e12, 4) AS inertia
        FROM af GROUP BY cl
    )""")
    ctes.append(f"""hd AS MATERIALIZED (
        SELECT cl,
               ROUND(CAST(MAX(CASE WHEN dim = 1 THEN c END)
                          AS DOUBLE) / {_PCA_SE}, 6) AS c1,
               ROUND(CAST(MAX(CASE WHEN dim = 2 THEN c END)
                          AS DOUBLE) / {_PCA_SE}, 6) AS c2
        FROM c{K} WHERE dim <= 2 GROUP BY cl
    )""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT st.cl AS cluster, st.n_members, st.inertia, hd.c1, hd.c2
    FROM st JOIN hd ON hd.cl = st.cl
    """


@query("ml_kmeans_lloyd", oracle=_kmeans_oracle())
def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    base = (
        emb.select(
            "vec_id", F.posexplode("embedding").alias("pos", "e")
        )
        .select(
            "vec_id",
            (F.col("pos") + 1).alias("dim"),
            F.round(F.col("e").cast("double") * _PCA_SE)
            .cast("long")
            .alias("u"),
        )
        .cache()
    )
    cent = base.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cl"), "dim", F.col("u").alias("c")
    )

    def assign(centroids):
        d = (
            base.join(F.broadcast(centroids), "dim")
            .groupBy("vec_id", "cl")
            .agg(
                F.sum(
                    (F.col("u") - F.col("c"))
                    * (F.col("u") - F.col("c"))
                ).alias("dist")
            )
        )
        w = Window.partitionBy("vec_id").orderBy("dist", "cl")
        return (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    for _ in range(KMEANS_ITERS):
        a = assign(cent).select("vec_id", "cl")
        upd = (
            a.join(base, "vec_id")
            .groupBy("cl", "dim")
            .agg(
                F.floor(
                    (2 * F.sum("u") + F.count("*"))
                    / (2.0 * F.count("*"))
                )
                .cast("long")
                .alias("cn")
            )
        )
        cent = (
            cent.join(upd, ["cl", "dim"], "left")
            .select(
                "cl",
                "dim",
                F.coalesce(F.col("cn"), F.col("c")).alias("c"),
            )
            .localCheckpoint(eager=True)
        )
    final = assign(cent)
    stats = final.groupBy("cl").agg(
        F.count("*").cast("long").alias("n_members"),
        F.round(F.sum("dist").cast("double") / 1e12, 4).alias(
            "inertia"
        ),
    )
    heads = (
        cent.filter(F.col("dim") <= 2)
        .groupBy("cl")
        .agg(
            F.round(
                F.max(
                    F.when(F.col("dim") == 1, F.col("c"))
                ).cast("double")
                / _PCA_SE,
                6,
            ).alias("c1"),
            F.round(
                F.max(
                    F.when(F.col("dim") == 2, F.col("c"))
                ).cast("double")
                / _PCA_SE,
                6,
            ).alias("c2"),
        )
    )
    return stats.join(F.broadcast(heads), "cl").select(
        F.col("cl").alias("cluster"),
        "n_members",
        "inertia",
        "c1",
        "c2",
    )


# -- lift & gains table: the model-evaluation report sales/marketing
#    actually reads -- score deciles (best first), cumulative capture
#    of positives, and lift over the base rate.  Deciles come from
#    the distributed two-pass prefix_scan (margin-band buckets,
#    best-first), never a single-partition NTILE sort; cumulative
#    sums run over the bounded 10-row decile table.  Counts exact;
#    lift/gains are fixed double ratios.
@query(
    "ml_lift_gains_table",
    oracle=f"""
    WITH m AS (
        SELECT vec_id,
               CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos,
               list_sum(list_transform(
                   generate_series(1, {EMB_DIM}),
                   i -> CAST(embedding[i] AS DOUBLE) * ({_W_SQL})[i]
               )) + {BIAS!r} AS margin
        FROM embeddings
    ),
    ranked AS (
        SELECT pos, NTILE(10) OVER (ORDER BY margin DESC, vec_id)
                   AS decile
        FROM m
    ),
    d AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS p
        FROM ranked GROUP BY decile
    ),
    c AS (
        SELECT decile, n, p,
               CAST(SUM(n) OVER w AS BIGINT) AS cn,
               CAST(SUM(p) OVER w AS BIGINT) AS cp,
               (SELECT CAST(SUM(n) AS BIGINT) FROM d) AS tn,
               (SELECT CAST(SUM(p) AS BIGINT) FROM d) AS tp
        FROM d
        WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW)
    )
    SELECT decile, n, p,
           ROUND(CAST(cp AS DOUBLE) / tp, 6) AS cum_gain,
           ROUND((CAST(cp AS DOUBLE) / cn)
                 / (CAST(tp AS DOUBLE) / tn), 6) AS cum_lift
    FROM c
    """,
)
def ml_lift_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    margin = _margin_expr()
    m = emb.select(
        "vec_id",
        F.when(F.col("label") % 2 == 1, 1).otherwise(0).alias("pos"),
        margin.alias("margin"),
    )
    # best-first global rank: coarse margin band as the monotone
    # bucket (descending), exact (margin DESC, vec_id) order within
    ranked = prefix_scan(
        m,
        -F.floor(F.col("margin") * 4),
        [F.desc("margin"), F.asc("vec_id")],
        [(F.lit(1), "rn")],
    )
    total = m.agg(F.count("*").alias("n_rows"))
    ranked = ranked.crossJoin(F.broadcast(total)).withColumn(
        "decile", ntile_from_rank(F.col("rn"), F.col("n_rows"), 10)
    )
    d = ranked.groupBy("decile").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("p"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = d.agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("p").cast("long").alias("tp"),
    )
    c = d.select(
        "decile",
        "n",
        "p",
        F.sum("n").over(wc).cast("long").alias("cn"),
        F.sum("p").over(wc).cast("long").alias("cp"),
    ).crossJoin(F.broadcast(tot))
    return c.select(
        "decile",
        "n",
        "p",
        F.round(
            F.col("cp").cast("double") / F.col("tp"), 6
        ).alias("cum_gain"),
        F.round(
            (F.col("cp").cast("double") / F.col("cn"))
            / (F.col("tp").cast("double") / F.col("tn")),
            6,
        ).alias("cum_lift"),
    )


# -- feature-store lag features: the per-(user, day) training-table
#    backfill every online model needs -- same-day activity, trailing
#    7-day counts, and recency of the last purchase.  All windows are
#    PARTITIONED by user and RANGE-framed on the integer day index
#    (gap-correct on sparse activity), so the shuffle key is the
#    entity key and state never exceeds a user's active days.  Exact
#    integer features only.
@query(
    "ml_feature_store_lags",
    oracle="""
    WITH ud AS (
        SELECT user_id,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS d,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_purchases
        FROM events GROUP BY user_id, d
    )
    SELECT user_id, d AS day_index, n_events,
           CAST(SUM(n_events) OVER w7 AS BIGINT) AS n_events_7d,
           CAST(SUM(n_purchases) OVER w7 AS BIGINT)
               AS n_purchases_7d,
           d - MAX(CASE WHEN n_purchases > 0 THEN d END) OVER wall
               AS days_since_purchase
    FROM ud
    WINDOW w7 AS (PARTITION BY user_id ORDER BY d
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW),
           wall AS (PARTITION BY user_id ORDER BY d
                    RANGE BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW)
    """,
)
def ml_feature_store_lags(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    ud = events.groupBy(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("long")
        .alias("d"),
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("n_purchases"),
    )
    w7 = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rangeBetween(-6, Window.currentRow)
    )
    wall = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ud.select(
        "user_id",
        F.col("d").alias("day_index"),
        "n_events",
        F.sum("n_events").over(w7).cast("long").alias("n_events_7d"),
        F.sum("n_purchases")
        .over(w7)
        .cast("long")
        .alias("n_purchases_7d"),
        (
            F.col("d")
            - F.max(
                F.when(F.col("n_purchases") > 0, F.col("d"))
            ).over(wall)
        ).alias("days_since_purchase"),
    )


# -- simplified silhouette of the fixed-centroid clustering
#    (similarity_kmeans_assign's centroids): per point,
#    s = (b - a) / max(a, b) with a = distance to the assigned
#    centroid and b = the best other centroid -- the centroid-based
#    variant that avoids the O(n^2) pairwise matrix entirely.
#    Distances are exact integer unit sums quantized to a coarser
#    grid so the per-point score is computed by the all-integer
#    half-up formula (the double quotient's gap to any integer
#    exceeds its rounding error by construction); per-cluster means
#    divide two exact integers.
SIL_K = 4
_SIL_SE = 10**6  # embedding unit scale
_SIL_DQ = 10**6  # distance quantization divisor
_SIL_S = 10**6  # silhouette output scale


@query(
    "ml_silhouette_simplified",
    oracle=f"""
    WITH base AS MATERIALIZED (
        SELECT vec_id, i AS dim,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {_SIL_SE})
                    AS BIGINT) AS u
        FROM embeddings CROSS JOIN generate_series(1, {EMB_DIM}) g(i)
    ),
    cent AS MATERIALIZED (
        SELECT vec_id AS cl, dim, u AS c FROM base
        WHERE vec_id < {SIL_K}
    ),
    dist AS MATERIALIZED (
        SELECT b.vec_id, c.cl,
               CAST(FLOOR(CAST(SUM((b.u - c.c) * (b.u - c.c))
                               AS DOUBLE) / {_SIL_DQ}) AS BIGINT)
                   AS dq
        FROM base b JOIN cent c ON c.dim = b.dim
        GROUP BY 1, 2
    ),
    ranked AS MATERIALIZED (
        SELECT vec_id, cl, dq,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dq, cl) AS rn
        FROM dist
    ),
    ab AS MATERIALIZED (
        SELECT r1.vec_id, r1.cl, r1.dq AS a, r2.dq AS b
        FROM ranked r1 JOIN ranked r2
          ON r2.vec_id = r1.vec_id AND r2.rn = 2
        WHERE r1.rn = 1
    ),
    s AS MATERIALIZED (
        SELECT vec_id, cl,
               CASE WHEN a = 0 AND b = 0 THEN 0
                    ELSE CAST(FLOOR((2 * (b - a) * {_SIL_S}
                                     + GREATEST(a, b))
                                    / (2.0 * GREATEST(a, b)))
                         AS BIGINT) END AS sil
        FROM ab
    )
    SELECT cl AS cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(CAST(SUM(sil) AS DOUBLE) / COUNT(*) / {_SIL_S}, 6)
               AS mean_silhouette
    FROM s GROUP BY cl
    """,
)
def ml_silhouette_simplified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "e")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("e").cast("double") * _SIL_SE)
        .cast("long")
        .alias("u"),
    )
    cent = base.filter(F.col("vec_id") < SIL_K).select(
        F.col("vec_id").alias("cl"), "dim", F.col("u").alias("c")
    )
    dist = (
        base.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "cl")
        .agg(
            F.floor(
                F.sum(
                    (F.col("u") - F.col("c"))
                    * (F.col("u") - F.col("c"))
                ).cast("double")
                / _SIL_DQ
            )
            .cast("long")
            .alias("dq")
        )
    )
    w = Window.partitionBy("vec_id").orderBy("dq", "cl")
    ranked = dist.withColumn("rn", F.row_number().over(w))
    r1 = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "cl", F.col("dq").alias("a")
    )
    r2 = ranked.filter(F.col("rn") == 2).select(
        "vec_id", F.col("dq").alias("b")
    )
    ab = r1.join(r2, "vec_id")
    mx = F.greatest(F.col("a"), F.col("b"))
    sil = F.when(
        (F.col("a") == 0) & (F.col("b") == 0), F.lit(0)
    ).otherwise(
        F.floor(
            (2 * (F.col("b") - F.col("a")) * _SIL_S + mx)
            / (2.0 * mx)
        ).cast("long")
    )
    s = ab.select("vec_id", "cl", sil.alias("sil"))
    return s.groupBy(F.col("cl").alias("cluster")).agg(
        F.count("*").cast("long").alias("n_points"),
        F.round(
            F.sum("sil").cast("double") / F.count("*") / _SIL_S, 6
        ).alias("mean_silhouette"),
    )


# -- exact ROC AUC via the Mann-Whitney rank-sum identity:
#    AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg), where R_pos
#    is the sum of the positives' ranks under (margin ASC, vec_id)
#    -- the engine's established deterministic ordering for the toy
#    linear margin (same convention as ml_lift_gains_table).  Ranks
#    and rank sums are exact integers, so the statistic is ONE double
#    division of exact longs -- bit-identical cross-engine with no
#    quantization step at all.  The eval-set rank runs through the
#    distributed two-pass prefix_scan (margin-band buckets, the
#    orders_rfm_scores shape) -- no single-partition WindowExec even
#    on 100x eval sets (VERDICT r10 item 4).
@query(
    "ml_roc_auc_exact",
    oracle=f"""
    WITH m AS (
        SELECT vec_id,
               CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos,
               list_sum(list_transform(
                   generate_series(1, {EMB_DIM}),
                   i -> CAST(embedding[i] AS DOUBLE) * ({_W_SQL})[i]
               )) + {BIAS!r} AS margin
        FROM embeddings
    ),
    ranked AS (
        SELECT pos,
               ROW_NUMBER() OVER (ORDER BY margin ASC, vec_id ASC)
                   AS rnk
        FROM m
    ),
    s AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n_neg,
               CAST(SUM(CASE WHEN pos = 1 THEN rnk ELSE 0 END)
                    AS BIGINT) AS rank_sum_pos
        FROM ranked
    )
    SELECT n_pos, n_neg, rank_sum_pos,
           ROUND((rank_sum_pos - n_pos * (n_pos + 1) / 2.0)
                 / (n_pos * n_neg), 6) AS auc
    FROM s
    """,
)
def ml_roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    margin = _margin_expr()
    m = emb.select(
        "vec_id",
        (F.col("label") % 2 == 1).cast("int").alias("pos"),
        margin.alias("margin"),
    )
    ranked = prefix_scan(
        m,
        F.floor(F.col("margin")),
        [F.asc("margin"), F.asc("vec_id")],
        [(F.lit(1), "rnk")],
    )
    s = ranked.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        (F.count("*") - F.sum("pos")).cast("long").alias("n_neg"),
        F.sum(F.when(F.col("pos") == 1, F.col("rnk")).otherwise(0))
        .cast("long")
        .alias("rank_sum_pos"),
    )
    return s.select(
        "n_pos",
        "n_neg",
        "rank_sum_pos",
        F.round(
            (
                F.col("rank_sum_pos")
                - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0
            )
            / (F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


# -- isotonic calibration (pool-adjacent-violators) over the bounded
#    calibration bins: the monotone-regression step that turns
#    ml_calibration_bins' raw per-bin positive rates into the
#    non-decreasing calibration map production scorers deploy.  PAV
#    has the minimax closed form
#        fitted_i = max_{j<=i} min_{k>=i} avg(pos over bins j..k),
#    and on the BOUNDED 10-bin table the O(bins^3) minimax is a
#    couple of broadcast joins over <=55 range rows -- range averages
#    are ratios of exact integer prefix sums (one double division
#    each), so both engines agree bit-for-bit.  The weighted-PAV
#    sequential algorithm is replayed in the pytest as the
#    independent check.
@query(
    "ml_isotonic_calibration",
    oracle=f"""
    WITH m AS (
        SELECT CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos,
               list_sum(list_transform(
                   generate_series(1, {EMB_DIM}),
                   i -> CAST(embedding[i] AS DOUBLE) * ({_W_SQL})[i]
               )) + {BIAS!r} AS margin
        FROM embeddings
    ),
    b AS (
        SELECT CAST(LEAST(GREATEST(FLOOR(margin + 5), 0), 9) AS INT)
                   AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS p
        FROM m GROUP BY 1
    ),
    pfx AS (
        SELECT bin, n, p,
               SUM(n) OVER w AS cn, SUM(p) OVER w AS cp
        FROM b WINDOW w AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)
    ),
    ranges AS (
        SELECT lo.bin AS j, hi.bin AS k,
               CAST(hi.cp - (lo.cp - lo.p) AS DOUBLE)
                   / (hi.cn - (lo.cn - lo.n)) AS s
        FROM pfx lo JOIN pfx hi ON lo.bin <= hi.bin
    ),
    inner_min AS (
        SELECT b.bin, r.j, MIN(r.s) AS min_s
        FROM b JOIN ranges r
          ON r.j <= b.bin AND b.bin <= r.k
        GROUP BY b.bin, r.j
    )
    SELECT i.bin, b.n,
           ROUND(CAST(b.p AS DOUBLE) / b.n, 6) AS pos_rate,
           ROUND(MAX(i.min_s), 6) AS iso_rate
    FROM inner_min i JOIN b USING (bin)
    GROUP BY i.bin, b.n, b.p
    """,
)
def ml_isotonic_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    margin = _margin_expr()
    from pyspark.sql.window import Window

    b = (
        emb.select(
            F.least(
                F.greatest(F.floor(margin + 5), F.lit(0)), F.lit(9)
            )
            .cast("int")
            .alias("bin"),
            (F.col("label") % 2 == 1).cast("int").alias("pos"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("pos").cast("long").alias("p"),
        )
        .cache()  # bounded 10-row table driving every stage below
    )
    wp = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pfx = b.select(
        "bin",
        "n",
        "p",
        F.sum("n").over(wp).alias("cn"),
        F.sum("p").over(wp).alias("cp"),
    )
    lo = pfx.select(
        F.col("bin").alias("j"),
        (F.col("cn") - F.col("n")).alias("cn0"),
        (F.col("cp") - F.col("p")).alias("cp0"),
    )
    hi = pfx.select(
        F.col("bin").alias("k"),
        F.col("cn").alias("cn1"),
        F.col("cp").alias("cp1"),
    )
    ranges = (
        lo.join(F.broadcast(hi), F.col("j") <= F.col("k"))
        .select(
            "j",
            "k",
            (
                (F.col("cp1") - F.col("cp0")).cast("double")
                / (F.col("cn1") - F.col("cn0"))
            ).alias("s"),
        )
    )
    inner = (
        b.select("bin", "n", "p")
        .join(
            F.broadcast(ranges),
            (F.col("j") <= F.col("bin"))
            & (F.col("bin") <= F.col("k")),
        )
        .groupBy("bin", "n", "p", "j")
        .agg(F.min("s").alias("min_s"))
    )
    return (
        inner.groupBy("bin", "n", "p")
        .agg(F.max("min_s").alias("fit"))
        .select(
            "bin",
            "n",
            F.round(F.col("p").cast("double") / F.col("n"), 6).alias(
                "pos_rate"
            ),
            F.round(F.col("fit"), 6).alias("iso_rate"),
        )
    )


# -- Brier score decomposition (Murphy 1973): over the calibration
#    bins, Brier = reliability - resolution + uncertainty, where
#    reliability penalizes miscalibrated bins, resolution rewards
#    bins that separate from the base rate, and uncertainty is the
#    irreducible base-rate variance.  The forecast probability per
#    bin is its rounded average margin squashed to [0,1] by the same
#    clamp as the bin index -- deterministic and shared by both
#    engines.  All moments are exact integer counts; every term is a
#    bounded-bin sum of fixed double expressions (the ECE/calibration
#    discipline), rounded once at the end.
@query(
    "ml_brier_decomposition",
    oracle=f"""
    WITH m AS (
        SELECT CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos,
               list_sum(list_transform(
                   generate_series(1, {EMB_DIM}),
                   i -> CAST(embedding[i] AS DOUBLE) * ({_W_SQL})[i]
               )) + {BIAS!r} AS margin
        FROM embeddings
    ),
    b AS (
        SELECT CAST(LEAST(GREATEST(FLOOR(margin + 5), 0), 9) AS INT)
                   AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS p
        FROM m GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(p) AS BIGINT) AS pt
        FROM b
    ),
    terms AS (
        SELECT
            SUM(b.n * POWER((b.bin + 0.5) / 10.0
                            - CAST(b.p AS DOUBLE) / b.n, 2))
                / MAX(tot.nt) AS reliability,
            SUM(b.n * POWER(CAST(b.p AS DOUBLE) / b.n
                            - CAST(tot.pt AS DOUBLE) / tot.nt, 2))
                / MAX(tot.nt) AS resolution,
            MAX((CAST(tot.pt AS DOUBLE) / tot.nt)
                * (1 - CAST(tot.pt AS DOUBLE) / tot.nt))
                AS uncertainty
        FROM b CROSS JOIN tot
    )
    SELECT ROUND(reliability, 6) AS reliability,
           ROUND(resolution, 6) AS resolution,
           ROUND(uncertainty, 6) AS uncertainty,
           ROUND(reliability - resolution + uncertainty, 6)
               AS brier_score
    FROM terms
    """,
)
def ml_brier_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    margin = _margin_expr()
    b = (
        emb.select(
            F.least(
                F.greatest(F.floor(margin + 5), F.lit(0)), F.lit(9)
            )
            .cast("int")
            .alias("bin"),
            (F.col("label") % 2 == 1).cast("int").alias("pos"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("pos").cast("long").alias("p"),
        )
    )
    tot = b.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("p").cast("long").alias("pt"),
    )
    j = b.crossJoin(F.broadcast(tot))
    fc = (F.col("bin") + 0.5) / 10.0  # forecast prob per bin
    ob = F.col("p").cast("double") / F.col("n")
    base = F.col("pt").cast("double") / F.col("nt")
    terms = j.agg(
        (
            F.sum(F.col("n") * F.pow(fc - ob, 2)) / F.max("nt")
        ).alias("reliability"),
        (
            F.sum(F.col("n") * F.pow(ob - base, 2)) / F.max("nt")
        ).alias("resolution"),
        (F.max(base) * (1 - F.max(base))).alias("uncertainty"),
    )
    return terms.select(
        F.round("reliability", 6).alias("reliability"),
        F.round("resolution", 6).alias("resolution"),
        F.round("uncertainty", 6).alias("uncertainty"),
        F.round(
            F.col("reliability")
            - F.col("resolution")
            + F.col("uncertainty"),
            6,
        ).alias("brier_score"),
    )


# ---------------------------------------------------------------------------
# AdaBoost over decision stumps (2 rounds, exact integer weights)
# ---------------------------------------------------------------------------
# Discrete AdaBoost composed entirely of scalar aggregates: the
# target is the high-value flag (cents > ADA_TARGET), the weak
# learners a fixed stump pool (two shifted price thresholds that
# genuinely carry signal + two noise features boosting must reject).
# Exactness discipline: the multiplicative weight update
# w <- w * exp(+-alpha) is replayed as INTEGER scaling -- misses
# scale by (W - err), hits by err, which realizes exactly
# exp(2*alpha) = (W - err)/err without ever normalizing -- so every
# weighted error in every round is an exact integer and the argmin
# pick is engine-independent (ties break on stump index).  alpha and
# the final sign(alpha1*h1 + alpha2*h2) accuracy are fixed double
# expressions over those integers.  100 TB shape: T+1 linear scans
# (one grouped-to-one-row agg per round + one accuracy pass), scalar
# picks broadcast back -- no shuffle wider than a 1-row aggregate.
ADA_TARGET = 25_000_000  # cents: the +1 class is orders > $250k
ADA_STUMPS = (
    ("price_gt_150k", "cents > 15000000"),
    ("price_gt_350k", "cents > 35000000"),
    ("priority_hi",
     "o_orderpriority IN ('1-URGENT', '2-HIGH')"),
    ("year_le_1996", "oyear <= 1996"),
)


def _ada_base_sql() -> str:
    hs = ", ".join(
        f"CASE WHEN {cond} THEN 1 ELSE -1 END AS h{i + 1}"
        for i, (_, cond) in enumerate(ADA_STUMPS)
    )
    return f"""
    base AS (
        SELECT CASE WHEN cents > {ADA_TARGET} THEN 1 ELSE -1 END AS y,
               {hs}
        FROM (
            SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
                   o_orderpriority,
                   year(CAST(o_orderdate AS DATE)) AS oyear
            FROM orders
        )
    )
    """


def _ada_pick_sql(err_cols: list[str], e: str, j: str) -> str:
    least = f"LEAST({', '.join(err_cols)})"
    case = " ".join(
        f"WHEN {c} = {least} THEN {i + 1}"
        for i, c in enumerate(err_cols)
    )
    return f"{least} AS {e}, CASE {case} END AS {j}"


def _ada_oracle() -> str:
    k = len(ADA_STUMPS)
    err1 = ", ".join(
        f"CAST(SUM(CASE WHEN h{i + 1} <> y THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS e1_{i + 1}"
        for i in range(k)
    )
    err2 = ", ".join(
        f"CAST(SUM(CASE WHEN h{i + 1} <> y THEN w1 ELSE 0 END)"
        f" AS BIGINT) AS e2_{i + 1}"
        for i in range(k)
    )
    hj = lambda j: (  # noqa: E731
        "CASE "
        + " ".join(
            f"WHEN {j} = {i + 1} THEN h{i + 1}" for i in range(k)
        )
        + " END"
    )
    name_of = lambda j: (  # noqa: E731
        "CASE "
        + " ".join(
            f"WHEN {j} = {i + 1} THEN '{ADA_STUMPS[i][0]}'"
            for i in range(k)
        )
        + " END"
    )
    return f"""
    WITH {_ada_base_sql()},
    agg1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS w0, {err1} FROM base
    ),
    pick1 AS (
        SELECT w0,
               {_ada_pick_sql([f"e1_{i + 1}" for i in range(k)],
                              "e1", "j1")}
        FROM agg1
    ),
    w1t AS (
        SELECT base.*, 
               CASE WHEN {hj("pick1.j1")} <> y
                    THEN pick1.w0 - pick1.e1 ELSE pick1.e1
               END AS w1
        FROM base CROSS JOIN pick1
    ),
    agg2 AS (
        SELECT CAST(SUM(w1) AS BIGINT) AS w1s, {err2} FROM w1t
    ),
    pick2 AS (
        SELECT w1s,
               {_ada_pick_sql([f"e2_{i + 1}" for i in range(k)],
                              "e2", "j2")}
        FROM agg2
    ),
    alphas AS (
        SELECT pick1.j1, pick1.e1, pick1.w0,
               pick2.j2, pick2.e2, pick2.w1s,
               0.5 * ln((pick1.w0 - pick1.e1)
                        / CAST(pick1.e1 AS DOUBLE)) AS a1,
               0.5 * ln((pick2.w1s - pick2.e2)
                        / CAST(pick2.e2 AS DOUBLE)) AS a2
        FROM pick1 CROSS JOIN pick2
    ),
    acc AS (
        SELECT CAST(SUM(CASE WHEN (CASE WHEN
                   a.a1 * ({hj("a.j1")})
                   + a.a2 * ({hj("a.j2")}) >= 0
                   THEN 1 ELSE -1 END) = y THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_correct,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM base CROSS JOIN alphas a
    )
    SELECT 1 AS round, {name_of("a.j1")} AS stump,
           ROUND(CAST(a.e1 AS DOUBLE) / a.w0, 6) AS weighted_eps,
           ROUND(a.a1, 6) AS alpha,
           acc.n_rows,
           ROUND(CAST(acc.n_correct AS DOUBLE) / acc.n_rows, 6)
               AS train_accuracy
    FROM alphas a CROSS JOIN acc
    UNION ALL
    SELECT 2, {name_of("a.j2")},
           ROUND(CAST(a.e2 AS DOUBLE) / a.w1s, 6),
           ROUND(a.a2, 6),
           acc.n_rows,
           ROUND(CAST(acc.n_correct AS DOUBLE) / acc.n_rows, 6)
    FROM alphas a CROSS JOIN acc
    """


@query("ml_adaboost_stumps", oracle=_ada_oracle())
def ml_adaboost_stumps(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    k = len(ADA_STUMPS)
    orders = load_table(spark, sf_dir, "orders")
    pre = orders.select(
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("cents"),
        "o_orderpriority",
        F.year(F.to_date("o_orderdate")).alias("oyear"),
    )
    # Expressions parsed from SQL strings (r13): the Column-DSL form
    # of this function issued ~3,300 py4j round trips per
    # construction (cProfile: 9,852 send_commands / 3 builds, ~0.7 s
    # of the cell).  The strings mirror the oracle's _ada_pick_sql /
    # CASE builders term for term; the CASE argmin scans
    # left-to-right, so ties resolve to the LOWEST stump index in
    # both engines, exactly as the reversed when/otherwise chain did.
    conds = [
        f"cents > {ADA_TARGET}",
        "cents > 15000000",
        "cents > 35000000",
        "o_orderpriority IN ('1-URGENT', '2-HIGH')",
        "oyear <= 1996",
    ]
    base = pre.selectExpr(
        f"IF({conds[0]}, 1, -1) AS y",
        *[
            f"IF({c}, 1, -1) AS h{i + 1}"
            for i, c in enumerate(conds[1:])
        ],
    ).cache()

    def _least_sql(cols):
        return "least(" + ", ".join(cols) + ")"

    def _argmin_sql(cols):
        least = _least_sql(cols)
        arms = " ".join(
            f"WHEN {c} = {least} THEN {i + 1}"
            for i, c in enumerate(cols)
        )
        return f"CASE {arms} END"

    def _pick_sql(j_col, per_index):
        arms = " ".join(
            f"WHEN {j_col} = {i} THEN {per_index(i)}"
            for i in range(1, k + 1)
        )
        return f"CASE {arms} END"

    agg1 = base.agg(
        F.expr("CAST(count(*) AS BIGINT) AS w0"),
        *[
            F.expr(
                f"CAST(sum(CAST((h{i + 1} != y) AS INT)) AS BIGINT)"
                f" AS e1_{i + 1}"
            )
            for i in range(k)
        ],
    )
    c1 = [f"e1_{i + 1}" for i in range(k)]
    pick1 = agg1.selectExpr(
        "w0",
        f"{_least_sql(c1)} AS e1",
        f"{_argmin_sql(c1)} AS j1",
    )
    h_of_j1 = _pick_sql("j1", lambda i: f"h{i}")
    w1t = base.crossJoin(F.broadcast(pick1)).withColumn(
        "w1",
        F.expr(f"IF(({h_of_j1}) != y, w0 - e1, e1)"),
    )
    agg2 = w1t.agg(
        F.expr("CAST(sum(w1) AS BIGINT) AS w1s"),
        *[
            F.expr(
                f"CAST(sum(IF(h{i + 1} != y, w1, 0)) AS BIGINT)"
                f" AS e2_{i + 1}"
            )
            for i in range(k)
        ],
    )
    c2 = [f"e2_{i + 1}" for i in range(k)]
    pick2 = agg2.selectExpr(
        "w1s",
        f"{_least_sql(c2)} AS e2",
        f"{_argmin_sql(c2)} AS j2",
    )
    alphas = pick1.crossJoin(F.broadcast(pick2)).selectExpr(
        "j1",
        "e1",
        "w0",
        "j2",
        "e2",
        "w1s",
        "0.5 * ln((w0 - e1) / CAST(e1 AS DOUBLE)) AS a1",
        "0.5 * ln((w1s - e2) / CAST(e2 AS DOUBLE)) AS a2",
    )
    hj1 = _pick_sql("j1", lambda i: f"h{i}")
    hj2 = _pick_sql("j2", lambda i: f"h{i}")
    acc = base.crossJoin(F.broadcast(alphas)).agg(
        F.expr(
            f"CAST(sum(CAST((IF(a1 * ({hj1}) + a2 * ({hj2}) >= 0,"
            " 1, -1) = y) AS INT)) AS BIGINT) AS n_correct"
        ),
        F.expr("CAST(count(*) AS BIGINT) AS n_rows"),
    )
    name1 = _pick_sql(
        "j1", lambda i: f"'{ADA_STUMPS[i - 1][0]}'"
    )
    name2 = _pick_sql(
        "j2", lambda i: f"'{ADA_STUMPS[i - 1][0]}'"
    )
    both = alphas.crossJoin(F.broadcast(acc))
    r1 = both.selectExpr(
        "1 AS round",
        f"{name1} AS stump",
        "round(CAST(e1 AS DOUBLE) / w0, 6) AS weighted_eps",
        "round(a1, 6) AS alpha",
        "n_rows",
        "round(CAST(n_correct AS DOUBLE) / n_rows, 6)"
        " AS train_accuracy",
    )
    r2 = both.selectExpr(
        "2 AS round",
        f"{name2} AS stump",
        "round(CAST(e2 AS DOUBLE) / w1s, 6) AS weighted_eps",
        "round(a2, 6) AS alpha",
        "n_rows",
        "round(CAST(n_correct AS DOUBLE) / n_rows, 6)"
        " AS train_accuracy",
    )
    return r1.unionByName(r2)
