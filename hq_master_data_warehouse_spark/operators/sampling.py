"""Dataset-splitting and mixing operators for training-data pipelines
(north-star surface; a 100 TB corpus is always consumed through a
deterministic split and a weighted source mix).

Two families:

* **hash splits** -- membership decided by a content-derived hash, so
  the split is stable across runs, engines, partitionings, and data
  re-orderings (never ``rand()``: a retry would re-split).  md5 is
  used (not xxhash64) because the oracle engine computes the identical
  digest, making the split itself differentially testable.
* **weighted source mixing** -- `sampleBy` stratified sampling with a
  fixed seed: each source (stratum) is downsampled to its mixing
  weight in one scan, the standard way to re-weight web/books/code
  proportions ahead of training.  Sampling is engine-specific, so the
  check is a pytest on achieved fractions, not a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.prefix import prefix_scan
from ..registry import query
from ..sources.loaders import load_table

#: md5-prefix cut for ~90/10: hex prefixes below 'e6' are train
#: (230/256 = 89.8% expected mass).
SPLIT_CUT = "e6"

#: per-source mixing weights (fractions kept), seeded deterministically;
#: fixture sources are src0..src19 -- downweight the even-numbered ones.
MIX_WEIGHTS = {f"src{i}": (0.25 if i % 2 == 0 else 1.0) for i in range(20)}
MIX_SEED = 42

#: 16-bit membership scale for the hash-weighted mix: a source keeps
#: rows whose md5-derived u16 < weight * MIX_HASH_SCALE.
MIX_HASH_SCALE = 65536


def _mix_weight_col() -> "F.Column":
    """Per-source weight as a Spark column, derived from MIX_WEIGHTS
    itself (ADVICE r10: the audit used to hard-code the parity rule a
    second time, so a MIX_WEIGHTS edit or an out-of-range source
    desynced sampler from audit).  Literal map + the same 1.0 default
    source_mix_sample applies to unknown sources."""
    pairs = []
    for s, w in sorted(MIX_WEIGHTS.items()):
        pairs += [F.lit(s), F.lit(float(w))]
    return F.coalesce(
        F.element_at(F.create_map(*pairs), F.col("source")),
        F.lit(1.0),
    )


def _mix_weight_sql() -> str:
    """The SAME weight rule as SQL, generated from the SAME dict."""
    cases = " ".join(
        f"WHEN '{s}' THEN {w!r}"
        for s, w in sorted(MIX_WEIGHTS.items())
    )
    return f"(CASE source {cases} ELSE 1.0 END)"


def _mix_threshold_sql() -> str:
    """Hash-membership thresholds (weight * MIX_HASH_SCALE), also
    generated from MIX_WEIGHTS."""
    cases = " ".join(
        f"WHEN '{s}' THEN {int(w * MIX_HASH_SCALE)}"
        for s, w in sorted(MIX_WEIGHTS.items())
    )
    return f"(CASE source {cases} ELSE {MIX_HASH_SCALE} END)"


def hash_split(df: DataFrame, key: str) -> DataFrame:
    """Stable 'train'/'holdout' assignment from the md5 of the key."""
    bucket = F.substring(F.md5(F.col(key).cast("string")), 1, 2)
    return df.withColumn(
        "split",
        F.when(bucket < SPLIT_CUT, "train").otherwise("holdout"),
    )


@query(
    "split_train_holdout",
    oracle=f"""
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{SPLIT_CUT}'
                THEN 'train' ELSE 'holdout' END AS split,
           lang,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
)
def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split sizes per language -- the oracle recomputes the identical
    md5 buckets, so the differential check covers membership itself,
    not just counts."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


#: audit tolerance for the achieved stratum fraction, in sigmas of
#: the Bernoulli count (plus a small-stratum absolute floor): wide
#: enough that any correct sampler passes w.h.p., tight enough that a
#: weight/stratum mix-up (25% vs 100%) fails by construction.
MIX_TOL_SIGMAS = 4.5
MIX_TOL_FLOOR = 8


def source_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seeded stratified sample itself (full rows) -- the
    production output; the registered query audits it."""
    docs = load_table(spark, sf_dir, "documents")
    sources = [r[0] for r in docs.select("source").distinct().collect()]
    fractions = {s: MIX_WEIGHTS.get(s, 1.0) for s in sources}
    return docs.sampleBy("source", fractions, seed=MIX_SEED)


@query(
    "sample_source_mix",
    oracle=f"""
    WITH per AS (
        SELECT source, COUNT(*) AS n_total,
               {_mix_weight_sql()} AS weight
        FROM documents GROUP BY source
    )
    SELECT source, n_total,
           ROUND(n_total * weight, 2) AS expected_n,
           CAST(GREATEST({MIX_TOL_FLOOR}, CEIL(
               {MIX_TOL_SIGMAS} * SQRT(n_total * weight * (1 - weight))
           )) AS BIGINT) AS tolerance,
           TRUE AS within_tol
    FROM per
    """,
)
def sample_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mix via seeded stratified sampling (sampleBy:
    one pass, each stratum kept at its MIX_WEIGHTS fraction), audited
    per stratum.  The kept COUNT is engine-specific (Spark's seeded
    Bernoulli), so the value-level contract is the engine-independent
    part (same conversion pattern as sketch_approx_quantiles' GK
    band): per source, the stratum size, the expected kept count, the
    binomial tolerance, and ``within_tol`` asserting the achieved
    count landed inside it -- the oracle recomputes size/expectation/
    tolerance exactly and emits TRUE, so a sampler bug (wrong weight,
    wrong stratum, double-sampling) turns the row red at the driver.
    A separate pytest pins run-to-run determinism of the sample
    itself; `sample_hash_weighted_mix` is the exact-membership
    complement."""
    docs = load_table(spark, sf_dir, "documents")
    kept = (
        source_mix_sample(spark, sf_dir)
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    per = docs.groupBy("source").agg(F.count("*").alias("n_total"))
    w = _mix_weight_col()
    tol = F.greatest(
        F.lit(MIX_TOL_FLOOR),
        F.ceil(
            MIX_TOL_SIGMAS
            * F.sqrt(F.col("n_total") * w * (1 - w))
        ),
    ).cast("long")
    return (
        per.join(kept, "source", "left")
        .select(
            "source",
            "n_total",
            F.round(F.col("n_total") * w, 2).alias("expected_n"),
            tol.alias("tolerance"),
            (
                F.abs(
                    F.coalesce("n_kept", F.lit(0))
                    - F.col("n_total") * w
                )
                <= tol
            ).alias("within_tol"),
        )
    )


# -- deterministic weighted source mix: the oracle-checkable
#    complement of sample_source_mix.  Membership = a 16-bit uniform
#    value from md5(doc_id) compared to the stratum's weight
#    threshold -- content-derived like hash_split, so the SAME rows
#    survive on any engine, partitioning, or retry, and DuckDB can
#    recompute membership row-by-row.  Even-numbered sources keep 25%
#    (threshold 16384/65536), odd keep all.  Pure map-side filter:
#    zero shuffles, trivially scale-safe.
@query(
    "sample_hash_weighted_mix",
    oracle=f"""
    SELECT doc_id, source
    FROM documents
    WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
               AS INT)
          < {_mix_threshold_sql()}
    """,
)
def sample_hash_weighted_mix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u16 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("int")
    # thresholds derived from MIX_WEIGHTS (same single source of
    # truth as the audit, ADVICE r10)
    threshold = (_mix_weight_col() * MIX_HASH_SCALE).cast("int")
    return docs.filter(u16 < threshold).select("doc_id", "source")


STRATUM_SAMPLE_N = 5


# -- stratified exact sampling: a deterministic n-per-stratum sample
#    ordered by a content hash -- reproducible across engines, runs
#    and cluster sizes (sampleBy is seeded but rows-only; this variant
#    is the oracle-checkable complement).  With ~20 sources a
#    stratum-partitioned window puts a twentieth of the corpus
#    through each task (r11): the per-stratum rank now runs through
#    a grouped prefix_scan on (source, first-hex-digit-of-hash) -- the
#    hash prefix is a monotone bucket of the sort key, so ranks are
#    identical and every bucket holds ~1/16 of a stratum.
@query(
    "sample_stratified_topn",
    oracle=f"""
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= {STRATUM_SAMPLE_N}
    """,
)
def sample_stratified_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("_h"),
    )
    ranked = prefix_scan(
        docs,
        F.substring("_h", 1, 1),
        [F.col("_h"), F.col("doc_id")],
        [(F.lit(1), "rn")],
        groups=["source"],
    )
    return (
        ranked.filter(F.col("rn") <= STRATUM_SAMPLE_N)
        .select("doc_id", "source")
    )


WEIGHTED_SAMPLE_K = 50


# -- weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES):
#    each row draws key = ln(u)/w from a hash-derived uniform u and
#    the k LARGEST keys are the sample -- inclusion probability
#    proportional to weight, one pass, and (because u comes from
#    md5(doc_id), not an RNG) the same sample on every engine, retry,
#    and partitioning.  orderBy+limit compiles to a distributed top-k
#    (TakeOrderedAndProject); no global sort, no driver-side state.
#    This is how a 100 TB corpus draws a length-weighted eval slice.
@query(
    "sample_weighted_no_replacement",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                1, 4)) AS INT) + 0.5) / 65536.0)
               / n_chars AS k
        FROM documents
        WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars, ROUND(k, 6) AS sample_key
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT {WEIGHTED_SAMPLE_K}
    """,
)
def sample_weighted_no_replacement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
            16,
            10,
        ).cast("int")
        + F.lit(0.5)
    ) / 65536.0
    k = F.log(u) / F.col("n_chars")
    return (
        docs.select(
            "doc_id", "source", "n_chars", k.alias("k")
        )
        .orderBy(F.desc("k"), F.asc("doc_id"))
        .limit(WEIGHTED_SAMPLE_K)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.round("k", 6).alias("sample_key"),
        )
    )


#: shard count for the deterministic corpus shuffle (training-shard
#: write path); production uses O(cluster cores) shards.
N_SHARDS = 8


@query(
    "pack_shuffle_shards",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hh
        FROM documents
    )
    SELECT doc_id,
           CAST(CAST(concat('0x', substr(hh, 1, 8)) AS BIGINT)
                % {N_SHARDS} AS INT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY CAST(concat('0x', substr(hh, 1, 8))
                                 AS BIGINT) % {N_SHARDS}
               ORDER BY hh, doc_id
           ) AS BIGINT) AS pos
    FROM h
    """,
)
def pack_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle into N training shards --
    the write path every pretraining run needs: reproducible
    (hash-derived, seed-free), uniform (md5 is uniform over doc_ids),
    and fully distributed.  Shard assignment is a pure map; the
    intra-shard position runs through a grouped prefix_scan on
    (shard, first-hex-digit-of-hash) (r11: a shard-partitioned
    window puts a whole shard's rows through one task each, and with
    N_SHARDS fixed a shard IS corpus/N rows -- the hash-prefix bucket
    splits each shard's sort 16 ways while leaving every rank
    identical, the two-pass analogue of repartition +
    sortWithinPartitions with an oracle-checkable (shard, pos) key).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("hh"),
    )
    shard = (
        F.conv(F.substring("hh", 1, 8), 16, 10).cast("long") % N_SHARDS
    ).cast("int")
    ranked = prefix_scan(
        docs.withColumn("shard", shard),
        F.substring("hh", 1, 1),
        [F.col("hh"), F.col("doc_id")],
        [(F.lit(1), "pos")],
        groups=["shard"],
    )
    return ranked.select("doc_id", "shard", "pos")


# -- leakage-safe split: hash-split by NEAR-DUP CLUSTER, not by doc.
#    A plain per-doc hash split puts near-identical documents on both
#    sides of a train/holdout cut, leaking training text into the
#    held-out set (the classic eval-contamination failure).  Here the
#    split key is the cluster REPRESENTATIVE -- the min doc_id of the
#    document's ngram-Jaccard duplicate cluster (the same pair graph
#    dedup_duplicate_clusters folds), singletons representing
#    themselves -- so a whole near-dup cluster always lands on one
#    side.  Scale shape: the pair graph + components are the existing
#    dedup machinery; the split itself is a map-side md5 on rep_id.
def _leakage_safe_oracle() -> str:
    from .dedup import _PAIR_JACCARD_SQL  # noqa: PLC0415

    return f"""
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
    )
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS rep_id,
           CASE WHEN substr(md5(CAST(COALESCE(c.component, d.doc_id)
                                     AS VARCHAR)), 1, 2) < '{SPLIT_CUT}'
                THEN 'train' ELSE 'holdout' END AS split
    FROM documents d
    LEFT JOIN comp c ON c.node = d.doc_id
    """


@query("split_leakage_safe", oracle=_leakage_safe_oracle())
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/holdout assignment keyed on the near-dup cluster
    representative: no near-duplicate pair ever spans the split
    (pinned by pytest), closing the contamination channel a per-doc
    hash split leaves open.  The component table comes from the
    dedup family's shared materialization (ngram_cc_labels), so the
    split is the stated map-side md5 on rep_id instead of re-deriving
    the pair graph from scratch (VERDICT r9 item 3)."""
    from .dedup import ngram_cc_labels

    labels = ngram_cc_labels(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("rep")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    rep = F.coalesce(F.col("rep"), F.col("doc_id"))
    bucket = F.substring(F.md5(rep.cast("string")), 1, 2)
    return (
        docs.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            rep.alias("rep_id"),
            F.when(bucket < SPLIT_CUT, "train")
            .otherwise("holdout")
            .alias("split"),
        )
    )
