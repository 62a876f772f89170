"""Similarity search over embedding columns (SURVEY.md par.2.11).

Two tiers, as the north star requires:

* brute-force cosine top-k -- the exact baseline.  Dot products run
  JVM-side via higher-order array functions (``zip_with`` +
  ``aggregate``), floats widened to double before accumulation so the
  result is bit-identical to the DuckDB oracle;
* random-hyperplane LSH -- the scale path.  16 fixed +-1 hyperplanes
  (deterministically derived from sha256, embedded as literal arrays)
  hash each vector to a sign-pattern bucket; candidates share a
  bucket, then exact cosine verifies.  At 100 TB the bucket join
  replaces the O(n^2) cross join; recall is tunable via multiple
  bucket tables (here: 4 bands of 4 planes).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import fan_out_scan, local_df
from ..sources.loaders import load_table
from .text import _TOKENS_SQL as _RRF_TOKENS_SQL

EMB_DIM = 64


def cosine_expr(a: Column, b: Column) -> Column:
    """Exact cosine similarity of two array<float> columns, computed in
    double precision JVM-side (no UDF)."""
    prod = F.zip_with(
        a, b, lambda x, y: x.cast("double") * y.cast("double")
    )
    dot = F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    nb = F.sqrt(
        F.aggregate(
            b,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return dot / (na * nb)


# -- exact top-k against a fixed query vector (the vector of vec_id 0),
#    tie-broken by vec_id for cross-engine determinism.
@query(
    "similarity_cosine_topk",
    oracle="""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           ROUND(list_cosine_similarity(
               list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(q.qe, x -> CAST(x AS DOUBLE))
           ), 6) AS cosine
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> 0
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT 10
    """,
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    cos = F.round(cosine_expr(F.col("embedding"), F.col("qe")), 6)
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


# -- centroid similarity per label: grouped vector arithmetic done with
#    posexplode + re-aggregation (the distributed way to average
#    vectors; no driver-side numpy).
@query(
    "similarity_label_centroid_norms",
    oracle="""
    WITH elems AS (
        SELECT label,
               unnest(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                   AS v,
               unnest(generate_series(1, len(embedding))) AS pos
        FROM embeddings
    ),
    centroid AS (
        SELECT label, pos, AVG(v) AS cv
        FROM elems GROUP BY label, pos
    )
    SELECT label,
           ROUND(SQRT(SUM(cv * cv)), 6) AS centroid_norm,
           COUNT(*) AS dim
    FROM centroid
    GROUP BY label
    """,
)
def similarity_label_centroid_norms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos0", "v"
        ),
    ).select("label", (F.col("pos0") + 1).alias("pos"), "v")
    centroid = elems.groupBy("label", "pos").agg(F.avg("v").alias("cv"))
    return centroid.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("cv") * F.col("cv"))), 6).alias(
            "centroid_norm"
        ),
        F.count("*").alias("dim"),
    )


# -- random-hyperplane LSH buckets -> candidate pairs -> exact verify.
N_PLANES = 16
PLANE_BANDS = 4
ANN_THRESHOLD = 0.35


def _planes() -> list[list[int]]:
    """16 deterministic +-1 hyperplanes from sha256 -- no RNG state,
    reproducible across sessions/engines."""
    planes = []
    for p in range(N_PLANES):
        bits: list[int] = []
        counter = 0
        while len(bits) < EMB_DIM:
            digest = hashlib.sha256(f"plane{p}:{counter}".encode()).digest()
            bits.extend(1 if byte & 1 else -1 for byte in digest)
            counter += 1
        planes.append(bits[:EMB_DIM])
    return planes


def _chain_dot_sql(a: str, b: str | None = None) -> str:
    """``sum_i a[i]*b[i]`` (or ``a[i]^2``) as an EXPLICIT left-
    associative chain -- the exact IEEE operation sequence of Spark's
    ``F.aggregate(zip_with(...), 0.0, acc + x)`` fold, so DuckDB
    reproduces the double result BIT-FOR-BIT (float addition is not
    associative; a set-based SUM() could land one ULP away and flip a
    hyperplane sign or a rank).  float32 inputs cast to double are
    exact, products of separate * and + operators are never
    FMA-fused by either engine's vectorized kernels."""
    terms = "0.0"
    for i in range(1, EMB_DIM + 1):
        x = f"CAST({a}[{i}] AS DOUBLE)"
        y = x if b is None else f"CAST({b}[{i}] AS DOUBLE)"
        terms += f" + {x} * {y}"
    return f"({terms})"


def _chain_cosine_sql(a: str, b: str) -> str:
    """Bit-identical SQL twin of ``cosine_expr`` (same chain folds,
    same dot/(sqrt*sqrt) shape; sqrt and / are exactly rounded in
    IEEE-754, so equality of the folds gives equality of the
    cosine)."""
    return (
        f"({_chain_dot_sql(a, b)} / "
        f"(sqrt({_chain_dot_sql(a)}) * sqrt({_chain_dot_sql(b)})))"
    )


def _ann_lsh_oracle() -> str:
    """DuckDB twin of the full hyperplane-LSH pipeline (VERDICT r8
    item 7): the +-1 planes are deterministic constants, so the sign
    bits inline as literal add/subtract chains; bands, candidate
    join, and the exact-cosine verify replay exactly."""
    per_band = N_PLANES // PLANE_BANDS
    sign_exprs = []
    for p, plane in enumerate(_planes()):
        chain = "0.0"
        for i, v in enumerate(plane):
            op = "+" if v > 0 else "-"
            chain += f" {op} CAST(embedding[{i + 1}] AS DOUBLE)"
        sign_exprs.append(
            f"CASE WHEN ({chain}) >= 0 THEN 1 ELSE 0 END AS s{p}"
        )
    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT vec_id, embedding, {b} AS band, "
        + " || ".join(
            f"CAST(s{b * per_band + i} AS VARCHAR)"
            for i in range(per_band)
        )
        + " AS key FROM s"
        for b in range(PLANE_BANDS)
    )
    cos = _chain_cosine_sql("a.embedding", "b.embedding")
    signs = ",\n               ".join(sign_exprs)
    return f"""
    WITH s AS (
        SELECT vec_id, embedding,
               {signs}
        FROM embeddings
    ),
    bands AS (
        {band_selects}
    ),
    pairs AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND({cos}, 6) AS cosine
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.key = b.key
         AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM pairs
    WHERE cosine >= {ANN_THRESHOLD}
    """


@query("similarity_ann_lsh", oracle=_ann_lsh_oracle())
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via sign-pattern bucketing: bucket key per band = the sign
    bits of 4 hyperplane dot products; pairs sharing any band's bucket
    are candidates; exact cosine >= threshold verifies.  Bucket join is
    linear-ish in corpus size; recall rises with more bands.

    r14 (guide par.2.5, one-unsplittable-file skew): the whole
    sign->explode->bucket-join->per-pair-cosine pipeline is ONE fused
    stage whose parallelism equals the scan's split count -- measured
    at sf0.1 as a single task burning 10.3 s of CPU (the cell's
    entire 11.5 s wall) because the fixture ships one parquet file.
    ``fan_out_scan`` on the two-column scan projection repartitions
    to core count ONLY when splits < cores, so the verify runs wide
    locally and the helper is a no-op at production split counts."""
    emb = fan_out_scan(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
    )
    planes = _planes()

    sign_cols = []
    for p, plane in enumerate(planes):
        plane_lit = F.array(*[F.lit(float(v)) for v in plane])
        dot = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                plane_lit,
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sign_cols.append(F.when(dot >= 0, 1).otherwise(0).alias(f"s{p}"))

    signed = emb.select("vec_id", "embedding", *sign_cols)
    per_band = N_PLANES // PLANE_BANDS
    bands = signed.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "",
                            *[
                                F.col(f"s{b * per_band + i}")
                                for i in range(per_band)
                            ],
                        ).alias("key"),
                    )
                    for b in range(PLANE_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", "embedding", "bk.band", "bk.key")

    left = bands.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        "band",
        "key",
    )
    right = bands.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        "band",
        "key",
    )
    cos = F.round(cosine_expr(F.col("ea"), F.col("eb")), 6)
    return (
        left.join(right, on=["band", "key"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .distinct()
        .filter(F.col("cosine") >= ANN_THRESHOLD)
    )


# -- IVF-style ANN: the second scale path the north star names
#    ("an IVF or LSH-bucketed variant").  One-shot inverted-file
#    index: K deterministic seed centroids (production would k-means
#    them with MLlib), every vector assigned to its nearest centroid
#    (the "inverted list"), a query probed against only the NPROBE
#    nearest lists.  The cross join is vectors x K-centroids with K
#    constant, so assignment is linear in corpus size and shuffles
#    once on the argmax groupBy; search touches ~NPROBE/K of the
#    corpus instead of all of it.
K_CENTROIDS = 8
NPROBE = 3
IVF_TOPK = 10


def _assigned(emb: DataFrame) -> DataFrame:
    """Each vector joined to its nearest seed centroid (argmax cosine
    via max-of-struct -- one shuffle, no window)."""
    centroids = F.broadcast(
        emb.filter(F.col("vec_id") < K_CENTROIDS).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("ce"),
        )
    )
    # r14: the K-per-row assignment cosines run in the scan stage --
    # single-split at fixture scale (guide par.2.5); no-op otherwise
    scored = fan_out_scan(emb).crossJoin(centroids).select(
        "vec_id",
        "embedding",
        "label",
        F.struct(
            cosine_expr(F.col("embedding"), F.col("ce")).alias("cos"),
            F.col("centroid_id").alias("cid"),
        ).alias("sc"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.first("embedding").alias("embedding"),
            F.first("label").alias("label"),
            F.max("sc").alias("best"),
        )
        .select("vec_id", "embedding", "label", F.col("best.cid").alias("list_id"))
    )


def _ivf_oracle() -> str:
    """DuckDB twin of the IVF index + probe (VERDICT r8 item 7).
    Every ranking that shapes the result -- nearest-centroid
    assignment (max of struct(cos, cid) == ORDER BY cos DESC, cid
    DESC), probe-list selection, and the final top-k -- runs on the
    bit-identical chain cosine, so the index layout and the search
    replay exactly."""
    assign_cos = _chain_cosine_sql("e.embedding", "c.ce")
    probe_cos = _chain_cosine_sql("c.ce", "q.qe")
    out_cos = _chain_cosine_sql("e.embedding", "q.qe")
    return f"""
    WITH q AS (
        SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
    ),
    cent AS (
        SELECT vec_id AS centroid_id, embedding AS ce
        FROM embeddings WHERE vec_id < {K_CENTROIDS}
    ),
    assigned AS (
        SELECT e.vec_id, e.embedding, e.label, c.centroid_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {assign_cos} DESC, c.centroid_id DESC
               ) AS rn
        FROM embeddings e CROSS JOIN cent c
    ),
    probe AS (
        SELECT c.centroid_id AS list_id
        FROM cent c CROSS JOIN q
        ORDER BY {probe_cos} DESC, c.centroid_id ASC
        LIMIT {NPROBE}
    )
    SELECT e.vec_id, e.label, ROUND({out_cos}, 6) AS cosine
    FROM assigned e CROSS JOIN q
    WHERE e.rn = 1
      AND e.centroid_id IN (SELECT list_id FROM probe)
      AND e.vec_id <> 0
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT {IVF_TOPK}
    """


@query("similarity_ivf_topk", oracle=_ivf_oracle())
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k neighbours of the vec_id-0 query via IVF probing: rank
    centroids by query cosine, search only the NPROBE best inverted
    lists with exact cosine, tie-break by vec_id."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _assigned(emb)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    centroids = emb.filter(F.col("vec_id") < K_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("ce"),
    )
    probe = (
        centroids.crossJoin(F.broadcast(q))
        .select(
            "centroid_id",
            cosine_expr(F.col("ce"), F.col("qe")).alias("qcos"),
        )
        .orderBy(F.desc("qcos"), F.asc("centroid_id"))
        .limit(NPROBE)
        .select(F.col("centroid_id").alias("list_id"))
    )
    cos = F.round(cosine_expr(F.col("embedding"), F.col("qe")), 6)
    return (
        assigned.join(F.broadcast(probe), "list_id", "left_semi")
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(IVF_TOPK)
    )


# -- k-means assignment step (engine surface): one Lloyd iteration's
#    E-step as a pure DataFrame plan.  Centroids are the K lowest
#    vec_ids (deterministic seeding; k-means|| in production), the
#    corpus crossJoins the BROADCAST centroid set (K rows -- the only
#    sanctioned cross join shape), per-pair squared L2 runs in a JVM
#    zip_with fold, and the argmin is a window ordered by (rounded
#    distance, centroid_id) so both engines break ties identically.
#    The M-step (new centroids) is the same plan + posexplode(emb) +
#    groupBy(centroid, dim) -- omitted here to keep the oracle exact.
#    Inertia sums per-row ROUNDED distances in decimal, so the
#    reported objective is partition-order independent.
KMEANS_K = 8


@query(
    "similarity_kmeans_assign",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS cemb
        FROM embeddings WHERE vec_id < {KMEANS_K}
    ),
    dists AS (
        SELECT e.vec_id, c.centroid_id,
               ROUND(list_aggregate(list_transform(
                   generate_series(1, len(e.embedding)),
                   i -> (CAST(e.embedding[i] AS DOUBLE)
                         - CAST(c.cemb[i] AS DOUBLE)) ^ 2
               ), 'sum'), 6) AS d2
        FROM embeddings e CROSS JOIN cent c
    ),
    assigned AS (
        SELECT vec_id, centroid_id, d2,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY d2, centroid_id
               ) AS rn
        FROM dists
    )
    SELECT centroid_id, COUNT(*) AS n_assigned,
           CAST(SUM(CAST(d2 AS DECIMAL(20,6))) AS DOUBLE) AS inertia
    FROM assigned WHERE rn = 1
    GROUP BY centroid_id
    """,
)
def similarity_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cemb"),
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.col("cemb"),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "centroid_id")
    return (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "centroid_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("centroid_id")
        .agg(
            F.count("*").alias("n_assigned"),
            F.sum(F.col("d2").cast("decimal(20,6)"))
            .cast("double")
            .alias("inertia"),
        )
    )


# -- int8 scalar quantization of embeddings (vector-store compression:
#    4x smaller than float32, the standard serving trade-off).  Each
#    vector is min-max quantized to codes in [0,255] plus (mn, rng)
#    reconstruction params.  All arithmetic is element-wise
#    higher-order functions over the array column -- no shuffle at
#    all, a pure map stage that scales linearly.  Floats are widened
#    to double BEFORE any arithmetic and the code rounding is
#    FLOOR(x + 0.5) on both engines (identical IEEE ops in identical
#    order -> bit-equal codes cross-engine).  The reconstruction
#    check is a BOOLEAN bound (max abs error <= half a quantization
#    step + 1e-12) rather than a rounded rmse: Spark's computed sum
#    is plan-shape-dependent at the e-10 level, so any fixed-decimal
#    rounding of it sits one ULP from a grid boundary on some row.
@query(
    "embedding_quantize_int8",
    oracle="""
    WITH b AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, label, e,
               list_min(e) AS mn,
               list_max(e) - list_min(e) AS rng
        FROM b
    ),
    q AS (
        SELECT vec_id, label, e, mn, rng,
               list_transform(e, x ->
                   CASE WHEN rng = 0 THEN CAST(0 AS INT)
                        ELSE CAST(FLOOR((x - mn) * 255.0 / rng + 0.5)
                                  AS INT) END) AS codes
        FROM s
    ),
    f AS (
        SELECT vec_id, label, codes, mn, rng,
               (list_max(list_transform(
                   generate_series(1, len(e)),
                   i -> abs(e[i] - (mn + codes[i] * rng / 255.0))
               )) <= rng / 255.0 * 0.5 + 1e-12) AS recon_ok
        FROM q
    )
    SELECT vec_id, label,
           -- string-encoded: the gate's canonicalizer cannot hash
           -- list cells (same class as text_inverted_index r1 crash)
           array_to_string(codes, ',') AS codes,
           ROUND(mn, 6) AS mn,
           ROUND(rng, 6) AS rng,
           recon_ok
    FROM f
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    s = emb.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("e"),
    ).select(
        "vec_id",
        "label",
        "e",
        F.array_min("e").alias("mn"),
        (F.array_max("e") - F.array_min("e")).alias("rng"),
    )
    mn, rng = F.col("mn"), F.col("rng")
    q = s.withColumn(
        "codes",
        F.transform(
            "e",
            lambda x: F.when(rng == 0, F.lit(0).cast("int")).otherwise(
                F.floor((x - mn) * 255.0 / rng + 0.5).cast("int")
            ),
        ),
    )
    err = F.zip_with(
        "e",
        "codes",
        lambda x, c: F.abs(x - (mn + c * rng / 255.0)),
    )
    # recon_ok is computed BEFORE mn/rng are renamed to their rounded
    # forms: aliasing round(mn) AS mn in the same select would make
    # Spark's lateral-column-alias resolution bind the err lambda to
    # the ROUNDED values (DuckDB binds to the source column), silently
    # skewing the reconstruction by up to 5e-7.
    flagged = q.withColumn(
        "recon_ok", F.array_max(err) <= rng / 255.0 * 0.5 + 1e-12
    )
    return flagged.select(
        "vec_id",
        "label",
        # comma-joined int codes: hashable by the driver's canonicalizer
        F.array_join(F.col("codes").cast("array<string>"), ",").alias(
            "codes"
        ),
        F.round(mn, 6).alias("mn"),
        F.round(rng, 6).alias("rng"),
        "recon_ok",
    )


# -- batched retrieval: top-k per QUERY BATCH (vec_id < 5 as the query
#    set), the shape real retrieval runs -- Q queries scored against
#    the corpus in ONE pass, not Q sequential scans.  The query side
#    broadcasts (Q x dim is KBs); per-query top-k is a window
#    partitioned BY QUERY, so parallelism scales with Q x corpus
#    partitions and no global sort exists anywhere.  At production
#    scale the corpus side switches to the IVF/LSH candidate
#    generation above -- the batching and ranking stay identical.
BATCH_K = 5


@query(
    "similarity_batch_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings
        WHERE vec_id < 5
    )
    SELECT qid, vec_id, rnk, cosine FROM (
        SELECT q.qid, e.vec_id,
               ROUND(list_cosine_similarity(
                   list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(q.qe, x -> CAST(x AS DOUBLE))
               ), 6) AS cosine,
               CAST(row_number() OVER (
                   PARTITION BY q.qid
                   ORDER BY ROUND(list_cosine_similarity(
                       list_transform(e.embedding,
                                      x -> CAST(x AS DOUBLE)),
                       list_transform(q.qe, x -> CAST(x AS DOUBLE))
                   ), 6) DESC, e.vec_id
               ) AS INT) AS rnk
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.qid
    ) WHERE rnk <= {BATCH_K}
    """,
)
def similarity_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cos = F.round(cosine_expr(F.col("embedding"), F.col("qe")), 6)
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= BATCH_K)
        .select("qid", "vec_id", "rnk", "cosine")
    )


#: matryoshka truncation width (MRL-style embeddings expose usable
#: prefixes; 16 of 64 dims is the standard 4x storage cut)
MAT_DIM = 16


@query(
    "embedding_matryoshka_truncate",
    oracle=f"""
    SELECT vec_id,
           ROUND(sqrt(list_sum(list_transform(
               embedding[1:{MAT_DIM}],
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
           ))), 6) AS norm{MAT_DIM},
           ROUND(CASE WHEN list_sum(list_transform(
                     embedding[1:{MAT_DIM}],
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                 )) = 0 THEN 0.0
                 ELSE CAST(embedding[1] AS DOUBLE)
                      / sqrt(list_sum(list_transform(
                            embedding[1:{MAT_DIM}],
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                        )))
            END, 6) AS c0_renorm
    FROM embeddings
    """,
)
def embedding_matryoshka_truncate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka-style embedding truncation: keep the first MAT_DIM
    dims and L2-renormalize -- the storage/recall trade every
    embedding store ships (prefix dims carry most of the signal in
    MRL-trained models).  Pure map stage, zero shuffle, JVM
    higher-order fold (same sequential order as DuckDB's list_sum, so
    doubles are bit-identical pre-round); zero-norm prefixes
    renormalize to 0 by convention, matching the cosine kernel's
    zero-vector guard."""
    emb = load_table(spark, sf_dir, "embeddings")
    prefix = F.slice(F.col("embedding"), 1, MAT_DIM)
    sq = F.aggregate(
        prefix,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norm = F.sqrt(sq)
    c0 = F.element_at(F.col("embedding"), 1).cast("double")
    return emb.select(
        "vec_id",
        F.round(norm, 6).alias(f"norm{MAT_DIM}"),
        F.round(
            F.when(sq == 0, F.lit(0.0)).otherwise(c0 / norm), 6
        ).alias("c0_renorm"),
    )


# -- ANN quality evaluation (VERDICT r5 item 4): recall of both ANN
#    paths against exact ground truth, as an ORACLE-BACKED query so
#    the recall number itself is driver-checkable.  DuckDB reproduces
#    the deterministic sha256 hyperplane family bit-for-bit (low bit
#    of digest byte i == parity of hex digit 2i+2), so both engines
#    build the same buckets; the ground-truth denominators are the
#    exact blocked-GEMM pair set (dedup.exact_cosine_pairs) and the
#    exact brute-force top-k.  Cosines feeding every ranking/argmax
#    decision are rounded to 6 dp on BOTH sides so a cross-engine ULP
#    cannot flip an assignment (same device as the kmeans oracle).
_ANN_EVAL_PLANE_SQL = """
    SELECT p,
           list_transform(range(0, 64), i ->
             CASE WHEN substr(
                    CASE WHEN i < 32
                         THEN sha256('plane' || p || ':0')
                         ELSE sha256('plane' || p || ':1') END,
                    2 * (CASE WHEN i < 32 THEN i ELSE i - 32 END) + 2,
                    1)
                  IN ('1','3','5','7','9','b','d','f')
                  THEN 1.0 ELSE -1.0 END) AS plane
    FROM range(0, 16) t(p)
"""


@query(
    "similarity_ann_recall_eval",
    oracle=f"""
    WITH planes AS ({_ANN_EVAL_PLANE_SQL}),
    signs AS (
        SELECT e.vec_id, p.p,
               CASE WHEN list_aggregate(
                        list_transform(range(1, 65), i ->
                            CAST(e.embedding[i] AS DOUBLE) * p.plane[i]),
                        'sum') >= 0 THEN '1' ELSE '0' END AS s
        FROM embeddings e CROSS JOIN planes p
    ),
    bands AS (
        SELECT vec_id, CAST(p // {N_PLANES // PLANE_BANDS} AS INT) AS band,
               string_agg(s, '' ORDER BY p) AS key
        FROM signs GROUP BY vec_id, p // {N_PLANES // PLANE_BANDS}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
    ),
    lsh_pairs AS (
        SELECT c.vec_a
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.vec_a
        JOIN embeddings eb ON eb.vec_id = c.vec_b
        WHERE ROUND(list_cosine_similarity(
                  list_transform(ea.embedding, x -> CAST(x AS DOUBLE)),
                  list_transform(eb.embedding, x -> CAST(x AS DOUBLE))
              ), 6) >= {ANN_THRESHOLD}
    ),
    exact_pairs AS (
        SELECT a.vec_id
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(
                  list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                  list_transform(b.embedding, x -> CAST(x AS DOUBLE))
              ), 6) >= {ANN_THRESHOLD}
    ),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    exact_topk AS (
        SELECT e.vec_id
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0
        ORDER BY ROUND(list_cosine_similarity(
                     list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                     list_transform(q.qe, x -> CAST(x AS DOUBLE))), 6)
                 DESC,
                 e.vec_id ASC
        LIMIT {IVF_TOPK}
    ),
    cent AS (
        SELECT vec_id AS centroid_id, embedding AS ce
        FROM embeddings WHERE vec_id < {K_CENTROIDS}
    ),
    assigned AS (
        SELECT vec_id, centroid_id AS list_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND(list_cosine_similarity(
                           list_transform(e.embedding,
                                          x -> CAST(x AS DOUBLE)),
                           list_transform(c.ce,
                                          x -> CAST(x AS DOUBLE))), 6)
                           DESC,
                       c.centroid_id DESC
                   ) AS rn
            FROM embeddings e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT c.centroid_id AS list_id
        FROM cent c CROSS JOIN q
        ORDER BY ROUND(list_cosine_similarity(
                     list_transform(c.ce, x -> CAST(x AS DOUBLE)),
                     list_transform(q.qe, x -> CAST(x AS DOUBLE))), 6)
                 DESC,
                 c.centroid_id ASC
        LIMIT {NPROBE}
    ),
    ivf_topk AS (
        SELECT e.vec_id
        FROM assigned a
        JOIN probe p ON a.list_id = p.list_id
        JOIN embeddings e ON e.vec_id = a.vec_id
        CROSS JOIN q
        WHERE e.vec_id <> 0
        ORDER BY ROUND(list_cosine_similarity(
                     list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                     list_transform(q.qe, x -> CAST(x AS DOUBLE))), 6)
                 DESC,
                 e.vec_id ASC
        LIMIT {IVF_TOPK}
    )
    SELECT method, hits, denom,
           ROUND(CAST(hits AS DOUBLE) / denom, 4) AS recall
    FROM (
        SELECT 'ivf_top10' AS method,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ivf_topk
                 WHERE vec_id IN (SELECT vec_id FROM exact_topk))
                   AS hits,
               CAST({IVF_TOPK} AS BIGINT) AS denom
        UNION ALL
        SELECT 'lsh_pairs' AS method,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lsh_pairs) AS hits,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM exact_pairs)
                   AS denom
    )
    ORDER BY method
    """,
)
def similarity_ann_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall of the two ANN paths vs exact ground truth, one row per
    method:

    * ``ivf_top10`` -- recall@10 of IVF probing (rounded-cosine
      variant of similarity_ivf_topk, so rankings are cross-engine
      deterministic) against the exact brute-force top-10;
    * ``lsh_pairs`` -- pair recall of similarity_ann_lsh against the
      exact all-pairs set at the same threshold (LSH verified pairs
      are a subset of the exact set by construction, so recall =
      |LSH| / |exact|).

    The denominators come from exact computations (brute-force top-k;
    blocked-GEMM all-pairs), which is what makes this an evaluation
    rather than a self-comparison.  At 100 TB this runs on a sampled
    slice -- the eval is O(sample^2) by design, while the ANN paths
    under test stay sub-quadratic on the full corpus."""
    from .dedup import exact_cosine_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    rcos = lambda a, b: F.round(cosine_expr(a, b), 6)  # noqa: E731

    exact_ids = similarity_cosine_topk(spark, sf_dir).select("vec_id")

    # IVF with every ranking decision on 6-dp-rounded cosine
    centroids = emb.filter(F.col("vec_id") < K_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("ce"),
    )
    # r14: same single-split fan-out as _assigned (guide par.2.5)
    scored = (
        fan_out_scan(emb.select("vec_id", "embedding"))
        .crossJoin(F.broadcast(centroids))
        .select(
            "vec_id",
            "embedding",
            F.struct(
                rcos(F.col("embedding"), F.col("ce")).alias("cos"),
                F.col("centroid_id").alias("cid"),
            ).alias("sc"),
        )
    )
    assigned = (
        scored.groupBy("vec_id")
        .agg(
            F.first("embedding").alias("embedding"),
            F.max("sc").alias("best"),
        )
        .select("vec_id", "embedding", F.col("best.cid").alias("list_id"))
    )
    probe = (
        centroids.crossJoin(F.broadcast(q))
        .select("centroid_id", rcos(F.col("ce"), F.col("qe")).alias("qcos"))
        .orderBy(F.desc("qcos"), F.asc("centroid_id"))
        .limit(NPROBE)
        .select(F.col("centroid_id").alias("list_id"))
    )
    ivf_ids = (
        assigned.join(F.broadcast(probe), "list_id", "left_semi")
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", rcos(F.col("embedding"), F.col("qe")).alias("cosine")
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(IVF_TOPK)
        .select("vec_id")
    )
    ivf_row = (
        ivf_ids.join(exact_ids, "vec_id", "left_semi")
        .agg(F.count("*").alias("hits"))
        .select(
            F.lit("ivf_top10").alias("method"),
            "hits",
            F.lit(IVF_TOPK).cast("long").alias("denom"),
        )
    )

    lsh_hits = similarity_ann_lsh(spark, sf_dir).agg(
        F.count("*").alias("hits")
    )
    lsh_denom = exact_cosine_pairs(spark, sf_dir, ANN_THRESHOLD).agg(
        F.count("*").alias("denom")
    )
    lsh_row = lsh_hits.crossJoin(F.broadcast(lsh_denom)).select(
        F.lit("lsh_pairs").alias("method"), "hits", "denom"
    )

    return (
        ivf_row.unionByName(lsh_row)
        .select(
            "method",
            "hits",
            "denom",
            F.round(F.col("hits") / F.col("denom"), 4).alias("recall"),
        )
        .orderBy("method")
    )


MMR_LAMBDA = 0.7
MMR_K = 10
MMR_CANDIDATES = 50


def _mmr_oracle() -> str:
    """Value-level replay of the greedy MMR selection (r10 oracle
    conversion, VERDICT r9 item 4): the recursive CTE carries the
    selected set as a list and re-derives each step's argmax of
    ``lambda*rel - (1-lambda)*max_sim_to_selected`` with the same
    ROUND(cos, 6) inputs and (score DESC, vec_id) tie-break the
    operator uses.  Works because the chain-fold cosine is bit-exact
    between engines (the r9 ANN-oracle result) and all downstream
    arithmetic runs on identical rounded doubles."""
    cos = (
        "ROUND(list_cosine_similarity("
        "list_transform({a}, x -> CAST(x AS DOUBLE)), "
        "list_transform({b}, x -> CAST(x AS DOUBLE))), 6)"
    )
    lam, oml = MMR_LAMBDA, 1 - MMR_LAMBDA
    return f"""
    WITH RECURSIVE q AS (
        SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
    ),
    cand AS (
        SELECT e.vec_id, e.embedding,
               {cos.format(a="e.embedding", b="q.qe")} AS rel
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0
        ORDER BY rel DESC, e.vec_id
        LIMIT {MMR_CANDIDATES}
    ),
    sims AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               {cos.format(a="a.embedding", b="b.embedding")} AS sim
        FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    mmr(rank, vec_id, rel, mmr_score, sel) AS (
        SELECT 1, vec_id, rel, rel, [vec_id]
        FROM (SELECT * FROM cand ORDER BY rel DESC, vec_id LIMIT 1)
        UNION ALL
        SELECT rank, vec_id, rel, score, list_append(sel, vec_id)
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                       ORDER BY score DESC, vec_id) AS rn
            FROM (
                SELECT DISTINCT m.rank + 1 AS rank, c.vec_id, c.rel,
                       m.sel AS sel,
                       {lam} * c.rel - {oml} * MAX(s.sim) OVER (
                           PARTITION BY c.vec_id) AS score
                FROM mmr m
                JOIN cand c ON NOT list_contains(m.sel, c.vec_id)
                JOIN sims s ON s.ia = c.vec_id
                           AND list_contains(m.sel, s.ib)
                WHERE m.rank < {MMR_K}
            )
        ) WHERE rn = 1
    )
    SELECT CAST(rank AS INTEGER) AS rank, vec_id, rel, mmr_score
    FROM mmr
    """


@query("similarity_mmr_diversify", oracle=_mmr_oracle())
def similarity_mmr_diversify(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: pick MMR_K results that
    trade query relevance against redundancy, argmax of
    ``lambda*rel - (1-lambda)*max_sim_to_selected`` at each step.

    Scale shape: the expensive stage -- scoring the corpus against the
    query -- is the fully distributed exact top-k; MMR itself re-ranks
    only the MMR_CANDIDATES-row head, a bounded O(k * c^2 * dim)
    driver loop (the standard reranker contract: rerankers run on the
    retrieved head, never the corpus).  The bounded head collect is
    the same sanctioned pattern as the convergence probes in
    connected components.

    Cross-engine determinism (what made the oracle possible): the
    head's rel comes from the Spark chain-fold cosine ROUND 6; the
    pairwise sims are computed on the driver with the SAME
    left-associated dot/(sqrt*sqrt) order as cosine_expr and the same
    half-away-from-zero 6-dp rounding DuckDB's ROUND uses (never
    np.round: banker's rounding diverges at the .5 boundary) -- so
    every number entering the greedy argmax is the identical double
    in both engines, and ties break on vec_id."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    cos = F.round(cosine_expr(F.col("embedding"), F.col("qe")), 6)
    head = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "embedding", cos.alias("rel"))
        .orderBy(F.col("rel").desc(), F.col("vec_id"))
        .limit(MMR_CANDIDATES)
        .collect()
    )
    ids = [int(r.vec_id) for r in head]
    rel = [float(r.rel) for r in head]
    V = [[float(x) for x in r.embedding] for r in head]

    def r6(x: float) -> float:
        return math.copysign(
            math.floor(abs(x) * 1e6 + 0.5) / 1e6, x
        )

    def dot(a: list, b: list) -> float:
        acc = 0.0
        for x, y in zip(a, b):  # left-assoc, as F.aggregate folds
            acc = acc + x * y
        return acc

    norm = [math.sqrt(dot(v, v)) for v in V]
    n = len(head)
    sims = [
        [
            r6(dot(V[i], V[j]) / (norm[i] * norm[j]))
            if i != j
            else 1.0
            for j in range(n)
        ]
        for i in range(n)
    ]
    remaining = list(range(n))
    # -inf, not 0: every remaining row gets a real max after the
    # first pick, and an all-negative sim column must not clamp at 0
    max_sim = [float("-inf")] * n
    out = []
    for step in range(min(MMR_K, n)):
        if step == 0:
            score = rel
        else:
            score = [
                MMR_LAMBDA * rel[i]
                - (1 - MMR_LAMBDA) * max_sim[i]
                for i in range(n)
            ]
        best = min(remaining, key=lambda i: (-score[i], ids[i]))
        remaining.remove(best)
        for i in remaining:
            if sims[best][i] > max_sim[i]:
                max_sim[i] = sims[best][i]
        out.append((step + 1, ids[best], rel[best], score[best]))
    return local_df(
        spark, out, "rank int, vec_id long, rel double, mmr_score double"
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion (hybrid search)
# ---------------------------------------------------------------------------
# The standard way to combine a lexical and a semantic retriever
# without score calibration: each candidate contributes
# 1/(60 + rank_i) per list it appears in, which only consumes RANKS
# -- so BM25-vs-cosine scale mismatch is irrelevant.  Both input
# rankings are cut to their top-K *before* fusion (orderBy+limit is a
# distributed TakeOrdered -- no global sort materializes), so the
# fusion join touches 2K rows no matter the corpus size.  The lexical
# ranking here is exact-integer (matched query terms, then total term
# frequency, then doc id), the semantic ranking orders the ROUNDED
# cosine -- both totally ordered with deterministic tie-breaks, so
# ranks and the fused list match the oracle exactly.

RRF_K = 60
RRF_TOPK = 50
RRF_TERMS = ("data", "spark", "table")


@query(
    "similarity_rerank_rrf",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, tok
        FROM (SELECT doc_id, unnest({_RRF_TOKENS_SQL}) AS tok
              FROM documents)
        WHERE tok IN {RRF_TERMS!r}
    ),
    lexs AS (
        SELECT doc_id, COUNT(DISTINCT tok) AS n_terms,
               COUNT(*) AS tf_total
        FROM tf GROUP BY doc_id
    ),
    lexr AS (
        SELECT doc_id, lex_rank FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY n_terms DESC,
                                      tf_total DESC, doc_id)
                       AS lex_rank
            FROM lexs
        ) WHERE lex_rank <= {RRF_TOPK}
    ),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    sems AS (
        SELECT e.vec_id AS doc_id,
               ROUND(list_cosine_similarity(
                   list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(q.qe, x -> CAST(x AS DOUBLE))
               ), 6) AS cosine
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0
    ),
    semr AS (
        SELECT doc_id, sem_rank FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id)
                       AS sem_rank
            FROM sems
        ) WHERE sem_rank <= {RRF_TOPK}
    ),
    fused AS (
        SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
               l.lex_rank, s.sem_rank,
               ROUND(COALESCE(1.0 / ({RRF_K} + l.lex_rank), 0)
                     + COALESCE(1.0 / ({RRF_K} + s.sem_rank), 0), 6)
                   AS rrf_score
        FROM lexr l FULL JOIN semr s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, lex_rank, sem_rank, rrf_score
    FROM fused
    ORDER BY rrf_score DESC, doc_id
    LIMIT 20
    """,
)
def similarity_rerank_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .text import _tokens

    docs = load_table(spark, sf_dir, "documents")
    lexs = (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok").isin(*RRF_TERMS))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("tok").alias("n_terms"),
            F.count("*").alias("tf_total"),
        )
    )
    # distributed TakeOrdered cut; the window after it ranks <= K rows
    lex_top = lexs.orderBy(
        F.desc("n_terms"), F.desc("tf_total"), F.asc("doc_id")
    ).limit(RRF_TOPK)
    lexr = lex_top.withColumn(
        "lex_rank",
        F.row_number().over(
            Window.orderBy(
                F.desc("n_terms"), F.desc("tf_total"), F.asc("doc_id")
            )
        ),
    ).select("doc_id", "lex_rank")
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    sems = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_expr(F.col("embedding"), F.col("qe")), 6
            ).alias("cosine"),
        )
    )
    sem_top = sems.orderBy(F.desc("cosine"), F.asc("doc_id")).limit(
        RRF_TOPK
    )
    semr = sem_top.withColumn(
        "sem_rank",
        F.row_number().over(
            Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
        ),
    ).select("doc_id", "sem_rank")
    fused = lexr.join(semr, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        F.round(
            F.coalesce(
                F.lit(1.0) / (RRF_K + F.col("lex_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (RRF_K + F.col("sem_rank")), F.lit(0.0)
            ),
            6,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(20)


# ---------------------------------------------------------------------------
# k-NN classifier over embeddings
# ---------------------------------------------------------------------------
# The eval-loop workhorse: classify held-out vectors (vec_id < 10) by
# majority label among their k=5 nearest neighbors (cosine) in the
# reference set (vec_id >= 10).  Ties: neighbors by (cosine DESC,
# vec_id ASC) -- the engine-wide rounded-cosine determinism rule --
# and the vote by (count DESC, label ASC).  Output also carries the
# query's true label and a correctness flag, so the driver record IS
# a measured k-NN accuracy eval.
#
# Scale shape: the probe batch is the SMALL side -- it broadcasts
# against one scan of the reference vectors, per-probe windows
# partition on query_id, and the vote reduces k rows per probe.
# For probe batches too large to broadcast, similarity_batch_topk
# (blocked GEMM) and the ANN family are the documented paths.
KNN_K = 5
KNN_N_QUERIES = 10


@query(
    "ml_knn_classifier",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, label AS true_label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
        FROM embeddings WHERE vec_id < {KNN_N_QUERIES}
    ),
    scored AS (
        SELECT q.query_id, q.true_label, e.vec_id, e.label,
               ROUND(list_cosine_similarity(
                   list_transform(e.embedding,
                                  x -> CAST(x AS DOUBLE)), q.qe),
                     6) AS sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id >= {KNN_N_QUERIES}
    ),
    topk AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY sim DESC, vec_id ASC) AS rnk
            FROM scored
        ) WHERE rnk <= {KNN_K}
    ),
    votes AS (
        SELECT query_id, true_label, label,
               CAST(COUNT(*) AS BIGINT) AS n_votes,
               ROUND(AVG(sim), 6) AS mean_sim
        FROM topk GROUP BY query_id, true_label, label
    )
    SELECT query_id, true_label,
           label AS predicted_label, n_votes, mean_sim,
           CAST(label = true_label AS BIGINT) AS is_correct
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY n_votes DESC, label ASC) AS vrnk
        FROM votes
    ) WHERE vrnk = 1
    """,
)
def ml_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < KNN_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qe"),
    )
    scored = (
        emb.filter(F.col("vec_id") >= KNN_N_QUERIES)
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "true_label",
            "vec_id",
            "label",
            F.round(
                cosine_expr(F.col("embedding"), F.col("qe")), 6
            ).alias("sim"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    topk = scored.withColumn("rnk", F.row_number().over(wk)).filter(
        F.col("rnk") <= KNN_K
    )
    votes = topk.groupBy("query_id", "true_label", "label").agg(
        F.count("*").cast("long").alias("n_votes"),
        F.round(F.avg("sim"), 6).alias("mean_sim"),
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("label")
    )
    return (
        votes.withColumn("vrnk", F.row_number().over(wv))
        .filter(F.col("vrnk") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("label").alias("predicted_label"),
            "n_votes",
            "mean_sim",
            (F.col("label") == F.col("true_label"))
            .cast("long")
            .alias("is_correct"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization with asymmetric distance (PQ-ADC)
# ---------------------------------------------------------------------------
# The third member of the embedding-compression family (int8
# quantization, matryoshka truncation): split each vector into
# PQ_M subspaces, learn PQ_K centroids per subspace with a FIXED
# 2-iteration Lloyd refinement from a hash-seeded init (deterministic
# -- no RNG, ties break on centroid id), encode every vector as M
# nibble codes, and answer queries through the classic ADC lookup
# table (per-query distances to centroids, summed along the code).
# Self-audited like sketch_approx_quantiles: each query row ships
# recall@10 of ADC top-10 vs the exact L2 top-10 computed alongside.
# Registered rows-only (iterative centroid training has no ANSI-SQL
# twin); tests replay the whole pipeline in numpy.  100 TB shape:
# codes are 4 bytes/vector (16x compression at 64 dims float32->
# nibbles), the codebook and LUTs are broadcast dims, encode/ADC are
# JVM array expressions -- the standard IVF-PQ memory contract.
PQ_M = 8
PQ_K = 16
PQ_ITERS = 2
PQ_QUERIES = 5
PQ_TOPK = 10
PQ_SHORTLIST = 50  # ADC candidates re-ranked exactly (IVF-PQ style)


def _pq_subvectors(df: DataFrame, dim: int) -> DataFrame:
    """(vec_id, m, sub) rows: the m-th slice of each embedding."""
    sub_dim = dim // PQ_M
    parts = [
        F.struct(
            F.lit(m).alias("m"),
            F.slice(F.col("embedding"), m * sub_dim + 1, sub_dim).alias(
                "sub"
            ),
        )
        for m in range(PQ_M)
    ]
    return df.select(
        "vec_id", F.explode(F.array(*parts)).alias("p")
    ).select("vec_id", F.col("p.m").alias("m"), F.col("p.sub").alias("sub"))


#: PQ trains and serves on PQ_Q-quantized components (the int8/int16
#: quantization standard practice applies BEFORE PQ at scale): every
#: distance, LUT cell and rank is then EXACT INTEGER arithmetic, and
#: the centroid update ROUND(SUM/COUNT) divides exact integers -- the
#: identical double in any engine -- so the whole iterative pipeline
#: replays bit-for-bit in DuckDB (r10 oracle conversion; the float
#: k-means it replaces was engine-specific by mean-summation order).
PQ_Q = 10_000


def _pq_quantize(col: Column) -> Column:
    """array<float> -> array<long> at PQ_Q scale (ROUND is
    half-away-from-zero in both engines)."""
    return F.transform(
        col,
        lambda x: F.round(x.cast("double") * PQ_Q).cast("long"),
    )


def _pq_l2i(a, b):
    """Exact integer squared L2 between two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _pq_dist_sql(a: str, b: str, n: int) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {n}), "
        f"j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j])))"
    )


def _pq_assign_sql(tag: str, cents: str) -> str:
    """One argmin-assignment CTE over the quantized subvectors."""
    d = _pq_dist_sql("s.sub", "c.center", 8)
    return f"""
    {tag} AS (
        SELECT vec_id, m, cid, d FROM (
            SELECT t.*, ROW_NUMBER() OVER (
                       PARTITION BY vec_id, m ORDER BY d, cid) AS rn
            FROM (
                SELECT s.vec_id, s.m, c.cid, {d} AS d
                FROM subs s JOIN {cents} c ON c.m = s.m
            ) t
        ) WHERE rn = 1
    )"""


def _pq_update_sql(utag: str, atag: str, prev: str, out: str) -> str:
    """Lloyd update: per-dim ROUND(SUM/COUNT) of the members (exact
    integers in, identical double division + half-away round in both
    engines, integer centroid out); empty cells keep the old
    center."""
    return f"""
    {utag} AS (
        SELECT m, cid, list(c ORDER BY j) AS center FROM (
            SELECT s.m, a.cid, jj.j,
                   CAST(ROUND(SUM(s.sub[jj.j]) / COUNT(*))
                        AS BIGINT) AS c
            FROM subs s
            JOIN {atag} a ON a.vec_id = s.vec_id AND a.m = s.m
            CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS j) jj
            GROUP BY s.m, a.cid, jj.j
        ) GROUP BY m, cid
    ),
    {out} AS (
        SELECT p.m, p.cid, COALESCE(u.center, p.center) AS center
        FROM {prev} p
        LEFT JOIN {utag} u ON u.m = p.m AND u.cid = p.cid
    )"""


def _pq_oracle() -> str:
    full = _pq_dist_sql("qv.qe", "ev.e", 64)
    lutd = _pq_dist_sql("qs2.qsub", "c.center", 8)
    return f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(ROUND(CAST(x AS DOUBLE) * {PQ_Q})
                             AS BIGINT)) AS e
        FROM embeddings
    ),
    subs AS (
        SELECT vec_id, m, e[(m*8+1):(m*8+8)] AS sub
        FROM q, (SELECT unnest(generate_series(0, {PQ_M - 1}))
                 AS m) mm
    ),
    seedh AS (
        SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h
        FROM embeddings ORDER BY h, vec_id LIMIT {PQ_K}
    ),
    c0 AS (
        SELECT s.m,
               ROW_NUMBER() OVER (
                   PARTITION BY s.m ORDER BY sh.h) - 1 AS cid,
               s.sub AS center
        FROM subs s JOIN seedh sh USING (vec_id)
    ),
    {_pq_assign_sql("a1", "c0")},
    {_pq_update_sql("u1", "a1", "c0", "c1")},
    {_pq_assign_sql("a2", "c1")},
    {_pq_update_sql("u2", "a2", "c1", "c2")},
    {_pq_assign_sql("codes", "c2")},
    qs AS (
        SELECT vec_id AS qid, e AS qe FROM q
        ORDER BY vec_id LIMIT {PQ_QUERIES}
    ),
    qsubs AS (
        SELECT qid, m, qe[(m*8+1):(m*8+8)] AS qsub
        FROM qs, (SELECT unnest(generate_series(0, {PQ_M - 1}))
                  AS m) mm
    ),
    lut AS (
        SELECT qs2.qid, c.m, c.cid, {lutd} AS d
        FROM qsubs qs2 JOIN c2 c ON c.m = qs2.m
    ),
    adc AS (
        SELECT l.qid, k.vec_id, SUM(l.d) AS adc
        FROM codes k
        JOIN lut l ON l.m = k.m AND l.cid = k.cid
        GROUP BY 1, 2
    ),
    short AS (
        SELECT qid, vec_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY qid ORDER BY adc, vec_id) AS rn
            FROM adc
        ) WHERE rn <= {PQ_SHORTLIST}
    ),
    rer AS (
        SELECT qid, vec_id FROM (
            SELECT t.qid, t.vec_id, ROW_NUMBER() OVER (
                       PARTITION BY t.qid
                       ORDER BY t.rd, t.vec_id) AS rn
            FROM (
                SELECT sh.qid, sh.vec_id, {full} AS rd
                FROM short sh
                JOIN qs qv ON qv.qid = sh.qid
                JOIN q ev ON ev.vec_id = sh.vec_id
            ) t
        ) WHERE rn <= {PQ_TOPK}
    ),
    ex AS (
        SELECT qid, vec_id FROM (
            SELECT t.qid, t.vec_id, ROW_NUMBER() OVER (
                       PARTITION BY t.qid
                       ORDER BY t.ed, t.vec_id) AS rn
            FROM (
                SELECT qv.qid, ev.vec_id, {full} AS ed
                FROM qs qv CROSS JOIN q ev
            ) t
        ) WHERE rn <= {PQ_TOPK}
    ),
    hits AS (
        SELECT r.qid, COUNT(*) AS n
        FROM rer r
        JOIN ex ON ex.qid = r.qid AND ex.vec_id = r.vec_id
        GROUP BY 1
    ),
    mse AS (
        SELECT CAST(SUM(d) AS DOUBLE) / COUNT(*)
               / {PQ_Q * PQ_Q}.0 AS mse
        FROM codes
    )
    SELECT qs.qid AS query_id,
           COALESCE(hits.n, 0) / {PQ_TOPK}.0 AS recall_at_10,
           ROUND(mse.mse, 8) AS mean_quantization_mse
    FROM qs LEFT JOIN hits ON hits.qid = qs.qid CROSS JOIN mse
    """


@query("similarity_pq_adc", oracle=_pq_oracle())
def similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization + asymmetric-distance serving, trained on
    PQ_Q-quantized components: hash-seeded init, PQ_ITERS Lloyd
    refinements (argmin by exact integer L2, ties to the lowest cid;
    centroid update = per-dim ROUND(SUM/COUNT), empty cells keep the
    old center), nibble codes, per-query LUT, ADC shortlist of
    PQ_SHORTLIST, exact integer rerank, and recall@{PQ_TOPK} against
    the exact integer top-{PQ_TOPK} -- with the mean quantization
    error riding along in float^2 units.

    Every number in the pipeline is either an exact integer or the
    result of the identical IEEE double op on exact integers, so the
    DuckDB oracle (unrolled CTE per iteration) replays training,
    encoding, serving, and the recall audit bit-for-bit -- the r10
    conversion of the one op whose float k-means was engine-specific
    by mean-summation order (VERDICT r9 item 4's last candidate)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _pq_quantize(F.col("embedding")).alias("e")
    )
    dim = 64
    # r14 note: widening the cached training substrate with
    # fan_out_scan was A/B'd and REJECTED -- ~20 downstream stages
    # read this tiny (n*PQ_M rows) cache, and 32 tasks per stage of
    # scheduling cost more than the three ~0.45 s single-task Lloyd
    # stages it parallelizes (measured 3.35 -> 4.58 s).
    subs = _pq_subvectors(
        emb.select("vec_id", F.col("e").alias("embedding")), dim
    ).cache()

    # hash-seeded init: the PQ_K vectors with smallest md5(vec_id)
    # seed every subspace's codebook (deterministic, no RNG)
    seed_ids = (
        emb.select(
            "vec_id",
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(PQ_K)
        .select("vec_id")
    )
    seeds = (
        subs.join(seed_ids, "vec_id")
        .select(
            "m",
            F.col("sub").alias("center"),
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
    )
    from pyspark.sql import Window

    wseed = Window.partitionBy("m").orderBy("h")
    centroids = (
        seeds.withColumn("cid", F.row_number().over(wseed) - 1)
        .select("m", "cid", "center")
        # lazy: lineage is truncated immediately, materialization
        # folds into the next action's job (r13, guide par.5 -- no
        # standalone checkpoint job per Lloyd round)
        .localCheckpoint(eager=False)
    )

    def assign(cents: DataFrame) -> DataFrame:
        """argmin centroid per (vec, m); ties -> lowest cid."""
        d = _pq_l2i(F.col("sub"), F.col("center"))
        return (
            subs.join(F.broadcast(cents), "m")
            .groupBy("vec_id", "m")
            .agg(
                F.min(F.struct(d.alias("d"), F.col("cid"))).alias(
                    "best"
                )
            )
            .select(
                "vec_id", "m", F.col("best.cid").alias("cid"),
                F.col("best.d").alias("qerr"),
            )
        )

    for _ in range(PQ_ITERS):
        asg = assign(centroids)
        # new centroid = per-dim ROUND(SUM/COUNT) of the members
        # (exact ints -> identical double division -> half-away
        # round -> integer centroid); empty cells keep their old
        # center via the left-join fallback
        exploded = (
            subs.join(asg.select("vec_id", "m", "cid"), ["vec_id", "m"])
            .select("m", "cid", F.posexplode("sub").alias("i", "x"))
            .groupBy("m", "cid", "i")
            .agg(
                F.round(
                    F.sum("x").cast("double") / F.count("*")
                )
                .cast("long")
                .alias("mx")
            )
            .groupBy("m", "cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("i", "mx"))
                ).alias("pairs")
            )
            .select(
                "m",
                "cid",
                F.transform(
                    F.col("pairs"), lambda s: s["mx"]
                ).alias("new_center"),
            )
        )
        centroids = (
            centroids.join(exploded, ["m", "cid"], "left")
            .select(
                "m",
                "cid",
                F.coalesce("new_center", "center").alias("center"),
            )
            .localCheckpoint(eager=False)
        )

    codes = assign(centroids).cache()

    # queries: the PQ_QUERIES smallest vec_ids
    queries = emb.orderBy("vec_id").limit(PQ_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("qe"),
    )
    qsubs = _pq_subvectors(
        queries.select(
            F.col("qid").alias("vec_id"),
            F.col("qe").alias("embedding"),
        ),
        dim,
    ).select(F.col("vec_id").alias("qid"), "m", F.col("sub").alias("qsub"))
    lut = (
        qsubs.join(F.broadcast(centroids), "m")
        .select(
            "qid",
            "m",
            "cid",
            _pq_l2i(F.col("qsub"), F.col("center")).alias("d"),
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "cid"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("d").alias("adc"))
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("adc").asc(), F.col("vec_id").asc()
    )
    # ADC gives a SHORTLIST; the exact rerank of that shortlist is
    # the standard IVF-PQ serving pipeline (compressed scan first,
    # full vectors touched only for PQ_SHORTLIST candidates)
    shortlist = (
        adc.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= PQ_SHORTLIST)
        .select("qid", "vec_id")
    )
    rerank = (
        shortlist.join(emb, "vec_id")
        .join(F.broadcast(queries), "qid")
        .select(
            "qid",
            "vec_id",
            _pq_l2i(F.col("qe"), F.col("e")).alias("rd"),
        )
    )
    wrr = Window.partitionBy("qid").orderBy(
        F.col("rd").asc(), F.col("vec_id").asc()
    )
    approx_top = (
        rerank.withColumn("rk", F.row_number().over(wrr))
        .filter(F.col("rk") <= PQ_TOPK)
        .select("qid", "vec_id")
    )
    exact = (
        queries.crossJoin(emb)
        .select(
            "qid",
            "vec_id",
            _pq_l2i(F.col("qe"), F.col("e")).alias("d"),
        )
    )
    we = Window.partitionBy("qid").orderBy(
        F.col("d").asc(), F.col("vec_id").asc()
    )
    exact_top = (
        exact.withColumn("rk", F.row_number().over(we))
        .filter(F.col("rk") <= PQ_TOPK)
        .select("qid", F.col("vec_id").alias("evid"))
    )
    hits = approx_top.join(
        exact_top,
        (approx_top["qid"] == exact_top["qid"])
        & (approx_top["vec_id"] == exact_top["evid"]),
    ).groupBy(approx_top["qid"].alias("qid")).agg(
        F.count("*").alias("n_hits")
    )
    qerr = codes.agg(
        (
            F.sum("qerr").cast("double")
            / F.count("*")
            / (PQ_Q * PQ_Q)
        ).alias("mse")
    )
    return (
        queries.select("qid")
        .join(hits, "qid", "left")
        .crossJoin(F.broadcast(qerr))
        .select(
            F.col("qid").alias("query_id"),
            (
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / PQ_TOPK
            ).alias("recall_at_10"),
            F.round(F.col("mse"), 8).alias("mean_quantization_mse"),
        )
    )
