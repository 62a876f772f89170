"""Deduplication suite for LLM-training-data pipelines (SURVEY.md
par.2.11, north-star requirement): exact, n-gram Jaccard, MinHash+LSH,
SimHash, and embedding-cosine near-dup.

Design for 100 TB:

* every variant is a pure DataFrame pipeline -- shingling and hashing
  are JVM expressions (xxhash64/md5, higher-order array functions), so
  the hot path stays in whole-stage codegen with zero Python;
* candidate generation is always a key-equality join (shingle match,
  LSH band bucket, SimHash band) -- never an O(n^2) cross join; the
  only cross join in the family is the small-fixture cosine baseline,
  whose scale path is the LSH variant;
* the frequent-shingle hazard (a stop-shingle appearing in every doc
  explodes the pair join) is handled by dropping shingles above a
  document-frequency cap before the join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import fan_out_scan
from ..session import DEFAULT_SHUFFLE_PARTITIONS
from ..sources.loaders import footer_stats, load_table

#: shingles appearing in more than this many docs are dropped before
#: the pair join (stop-shingle guard; tuned for the synthetic corpus's
#: tiny vocabulary -- production corpora use a relative cap).
MAX_SHINGLE_DF = 50

JACCARD_THRESHOLD = 0.30
COSINE_DUP_THRESHOLD = 0.50


def canonical_text(col: Column) -> Column:
    """Normalization shared by every textual dedup: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


CANONICAL_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _shingles(col: Column, n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingles as an array column (JVM-side higher-order
    functions; no UDF).  ``distinct=False`` keeps every occurrence
    (for repetition counting); the default dedups per document.

    Grams come from ``arrays_zip`` of n shifted ``slice`` views so the
    tokenization is an OUTER expression evaluated once per row.  The
    earlier formulation captured the split inside the transform lambda
    (``element_at(toks, i)``), and higher-order lambdas re-evaluate
    captured expressions per ELEMENT -- an O(tokens^2) blowup that made
    5-gram shingling ~20x slower than the rest of the suite."""
    toks = F.split(canonical_text(col), " ")
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, cnt) for i in range(n)])
    gram = F.transform(
        zipped,
        lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]),
    )
    return F.array_distinct(gram) if distinct else gram


_SHINGLES_SQL = f"""
    list_distinct(list_transform(
        generate_series(1, len(string_split({CANONICAL_SQL}, ' ')) - 2),
        i -> string_split({CANONICAL_SQL}, ' ')[i] || ' ' ||
             string_split({CANONICAL_SQL}, ' ')[i+1] || ' ' ||
             string_split({CANONICAL_SQL}, ' ')[i+2]
    ))
"""


def _shingle_rows(
    spark: SparkSession, sf_dir: str, by_sh: bool = True
) -> DataFrame:
    """(doc_id, shingle) exploded rows with the stop-shingle guard.

    The documents scan is a single small parquet split, so without an
    explicit spread the regex-canonicalize + shingle explode (the most
    expensive expression work in the dedup family) runs on ONE core
    and every downstream stage inherits that layout via AQE's
    byte-based coalescing -- bytes stay small here while ROW counts
    explode, exactly the case AQE cannot see.  Repartitioning the doc
    rows first parallelizes the explode.

    ``by_sh=True`` additionally repartitions the output on ``sh``,
    co-partitioning both sides of a downstream shingle self-join (one
    exchange, reused by both sides).  Consumers that next group by
    ``doc_id`` (MinHash signatures) pass ``by_sh=False`` -- for them
    the ``sh`` exchange is a pure extra shuffle that the doc_id
    groupBy immediately re-shuffles away (measured +0.5 s at sf0.1,
    VERDICT r7 item 3).

    The width is the SESSION's shuffle parallelism read at plan
    time, not the import-time default (VERDICT r7): a cluster
    submitting with its own spark.sql.shuffle.partitions gets that
    width.  It stays an EXPLICIT number -- an un-numbered
    repartition is fair game for AQE's byte-based coalescing, which
    would fold the explode back onto few cores precisely because
    shingle bytes are small while row counts explode."""
    width = int(
        spark.conf.get(
            "spark.sql.shuffle.partitions",
            str(DEFAULT_SHUFFLE_PARTITIONS),
        )
    )
    docs = load_table(spark, sf_dir, "documents").repartition(
        width, "doc_id"
    )
    rows = docs.select(
        "doc_id", F.explode(_shingles(F.col("text"))).alias("sh")
    )
    if by_sh:
        rows = rows.repartition(width, "sh")
    hot = (
        rows.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > MAX_SHINGLE_DF)
        .select("sh")
    )
    return rows.join(F.broadcast(hot), on="sh", how="left_anti")


_SHINGLE_ROWS_SQL = f"""
    WITH all_rows AS (
        SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM documents
    ), hot AS (
        SELECT sh FROM all_rows GROUP BY sh HAVING COUNT(*) > {MAX_SHINGLE_DF}
    )
    SELECT doc_id, sh FROM all_rows
    WHERE sh NOT IN (SELECT sh FROM hot)
"""


# -- exact dedup: hash-groupBy on canonical text (par.2.11 "exact").
@query(
    "dedup_exact",
    oracle=f"""
    SELECT md5({CANONICAL_SQL}) AS text_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS dup_cnt
    FROM documents
    GROUP BY md5({CANONICAL_SQL})
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeps the lowest doc_id per canonical-text hash --
    ``dropDuplicates`` generalized to report group sizes.  At scale
    this is one hash-shuffle on a 128-bit key; the md5 key (not the
    full text) is what shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.md5(canonical_text(F.col("text"))).alias("text_hash"),
            "doc_id",
        )
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("dup_cnt"),
        )
    )


# -- n-gram Jaccard near-dup: shingle-equality join generates
#    candidates, exact Jaccard verifies.  This is the un-hashed
#    skeleton of MinHash LSH and shares its shape.
_PAIR_JACCARD_SQL = f"""
    WITH rows_f AS ({_SHINGLE_ROWS_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM rows_f GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM rows_f a JOIN rows_f b
          ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6)
          >= {JACCARD_THRESHOLD}
"""


@query("dedup_ngram_jaccard", oracle=_PAIR_JACCARD_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = _shingle_rows(spark, sf_dir).cache()
    sizes = rows.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = rows.select(F.col("doc_id").alias("doc_a"), "sh")
    b = rows.select(F.col("doc_id").alias("doc_b"), "sh")
    common = (
        a.join(b, on="sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.round(
        F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c")),
        6,
    )
    return (
        common.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# -- duplicate clustering: connected components over the near-dup
#    pair graph.  Pairwise dedup is not enough at corpus scale -- if
#    A~B and B~C the keeper must be chosen once per CLUSTER, not per
#    pair, or A and C both survive.  Iterative min-label propagation
#    with pointer jumping (each round also relabels through the
#    current component assignment, halving paths), so convergence is
#    O(log diameter) rounds instead of O(diameter); each round is one
#    join + one aggregate, no driver-side data, and `localCheckpoint`
#    truncates the growing lineage.  Convergence is detected by the
#    monotone-decreasing sum of labels -- a scalar aggregate, not a
#    row diff.  The one connected-components loop of the engine: the
#    co-purchase graph (graph.copurchase_cc_labels) runs it too.
CC_MAX_ITERS = 20


def connected_components(edges: DataFrame) -> DataFrame:
    """(src, dst) undirected edge list -> (node, comp) with comp = min
    node id reachable.  Pure DataFrame loop; O(log diameter) rounds.
    Raises RuntimeError if CC_MAX_ITERS rounds end unconverged: capped
    labels would be silently wrong on deep components."""
    both = edges.unionByName(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    ).cache()
    labels = (
        both.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        # lazy: materializes inside the sum-probe job (r13)
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("comp")).collect()[0][0]
    for _ in range(CC_MAX_ITERS):
        nb = (
            both.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("comp").alias("nc")
                ),
                on="dst",
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("nc").alias("nb_comp"))
        )
        stepped = labels.join(nb, on="node", how="left").select(
            "node",
            F.least(
                F.col("comp"), F.coalesce("nb_comp", F.col("comp"))
            ).alias("comp"),
        )
        # pointer jumping: follow comp -> comp(comp) one hop.
        jumped = stepped.alias("l").join(
            stepped.select(
                F.col("node").alias("comp"), F.col("comp").alias("cc")
            ).alias("r"),
            on="comp",
            how="left",
        ).select(
            "node",
            F.least(F.col("comp"), F.coalesce("cc", F.col("comp"))).alias(
                "comp"
            ),
        )
        labels = jumped.localCheckpoint(eager=False)
        cur_sum = labels.agg(F.sum("comp")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected components did not converge within "
            f"{CC_MAX_ITERS} rounds; refusing to return unconverged "
            "labels"
        )
    both.unpersist()  # the checkpointed labels no longer read it
    return labels


def ngram_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, comp) connected components of the ngram-Jaccard pair
    graph, MATERIALIZED once per corpus snapshot (matcache): the same
    component table feeds `dedup_duplicate_clusters`,
    `dedup_cluster_representatives` and `split_leakage_safe`, so the
    iterative propagation runs once, not once per consumer (VERDICT
    r9 item 3).  Deterministic by construction -- comp = min reachable
    doc_id -- so materialization cannot change any consumer's result;
    the key carries the documents snapshot identity plus every
    parameter that shapes the pair graph."""
    from ..matcache import materialized, table_sig

    def build() -> DataFrame:
        pairs = dedup_ngram_jaccard(spark, sf_dir).select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        return connected_components(pairs)

    return materialized(
        spark,
        "ngramcc",
        [
            table_sig(sf_dir, "documents"),
            JACCARD_THRESHOLD,
            MAX_SHINGLE_DF,
            "3gram-cc-v1",
        ],
        build,
    )


@query(
    "dedup_duplicate_clusters",
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
    )
    SELECT node AS doc_id, component,
           COUNT(*) OVER (PARTITION BY component) AS cluster_size
    FROM comp
    """,
)
def dedup_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> transitive duplicate clusters; component id =
    min doc_id in the cluster (the canonical keeper)."""
    from pyspark.sql import Window

    labels = ngram_cc_labels(spark, sf_dir)
    w = Window.partitionBy("comp")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("component"),
        F.count("*").over(w).alias("cluster_size"),
    )


# -- MinHash + LSH banding (par.2.11 "fuzzy/near dedup" scale path).
N_HASHES = 16
N_BANDS = 4  # 4 rows per band


#: integer-exact threshold twin: a pair passes iff
#: inter * 1_000_000 >= JACCARD_THRESHOLD_PPM * union (pure BIGINT
#: predicate -- no float compare anywhere near the cut line).
JACCARD_THRESHOLD_PPM = 300_000
assert JACCARD_THRESHOLD_PPM == round(JACCARD_THRESHOLD * 1_000_000)

_MH_MOD = 1 << 32


def _minhash_signatures(rows: DataFrame) -> DataFrame:
    """One min-hash per derived hash function per doc.

    ONE md5 per shingle -- a digest both engines compute identically
    -- split into two 32-bit words h1/h2 (h2 forced odd), expanded to
    N_HASHES functions by Kirsch-Mitzenmacher double hashing
    h_s = (h1 + s*h2) mod 2^32.  Every step is exact BIGINT
    arithmetic, so the DuckDB oracle reproduces the signatures (and
    hence the LSH candidate set) bit-for-bit; the r8-era xxhash64
    family was Spark-only and forced the weaker rows-only record.
    16 min-aggregates in one pass; md5 runs once per row (projected
    before the groupBy), cheaper than the 16 xxhash64 calls it
    replaces."""
    hh = rows.select("doc_id", F.md5(F.col("sh").cast("binary")).alias("hh"))
    h1 = F.conv(F.substring("hh", 1, 8), 16, 10).cast("long")
    h2 = (
        F.conv(F.substring("hh", 9, 8), 16, 10)
        .cast("long")
        .bitwiseOR(1)
    )
    proj = hh.select("doc_id", h1.alias("h1"), h2.alias("h2"))
    # SQL-parsed (one py4j call per aggregate): same expressions as
    # the Column-DSL form, ~100 fewer driver round trips (r13)
    aggs = [
        F.expr(f"min((h1 + {s} * h2) % {_MH_MOD}) AS mh{s}")
        for s in range(N_HASHES)
    ]
    return proj.groupBy("doc_id").agg(*aggs)


def _mh_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band rows from a signature table.

    Band key = the band's minhash quadruple as a delimited string --
    identical across engines (BIGINT-to-decimal-text rendering), so
    the oracle's candidate set matches by construction.  ~40 bytes
    per key; a production run could hash it engine-side to 8 bytes,
    but only identically on both sides (md5) -- never xxhash64."""
    r = N_HASHES // N_BANDS
    structs = ", ".join(
        f"named_struct('band', {b}, 'key', concat_ws('|', "
        + ", ".join(f"mh{b * r + i}" for i in range(r))
        + "))"
        for b in range(N_BANDS)
    )
    return sigs.select(
        "doc_id",
        F.expr(f"explode(array({structs})) AS bk"),
    ).select("doc_id", "bk.band", "bk.key")


def _mh_shared_ctes() -> str:
    """The oracle CTE prefix shared by every MinHash-LSH query:
    filtered shingle rows, md5-derived hash words, signatures, band
    keys, and per-doc set sizes."""
    r = N_HASHES // N_BANDS
    sig_cols = ",\n               ".join(
        f"MIN((h1 + {s} * h2) % {_MH_MOD}) AS mh{s}"
        for s in range(N_HASHES)
    )
    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || '|' || ".join(
            f"mh{b * r + i}" for i in range(r)
        )
        + " AS key FROM sigs"
        for b in range(N_BANDS)
    )
    return f"""rows_f AS ({_SHINGLE_ROWS_SQL}),
    h AS (
        SELECT doc_id,
               ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h1,
               (('0x' || substr(md5(sh), 9, 8))::BIGINT | 1) AS h2
        FROM rows_f
    ),
    sigs AS (
        SELECT doc_id,
               {sig_cols}
        FROM h GROUP BY doc_id
    ),
    bands AS (
        {band_selects}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM rows_f GROUP BY doc_id)"""


def _minhash_oracle() -> str:
    """DuckDB twin of the full MinHash+LSH pipeline: same md5-derived
    signatures, same banded candidate join, same exact-Jaccard verify
    in integer ppm."""
    return f"""
    WITH {_mh_shared_ctes()},
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.key = b.key
         AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM rows_f a JOIN rows_f b
          ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT cd.doc_a, cd.doc_b,
           CAST(c AS BIGINT) AS inter_cnt,
           CAST(sa.n + sb.n - c AS BIGINT) AS union_cnt,
           CAST(c * 1000000 // (sa.n + sb.n - c) AS BIGINT)
               AS jaccard_ppm
    FROM cands cd
    JOIN common USING (doc_a, doc_b)
    JOIN sizes sa ON sa.doc_id = cd.doc_a
    JOIN sizes sb ON sb.doc_id = cd.doc_b
    WHERE c * 1000000 >= {JACCARD_THRESHOLD_PPM} * (sa.n + sb.n - c)
    """


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle -> 16 minhashes -> 4 LSH bands -> band-bucket join ->
    exact-Jaccard verification.  Candidate generation touches only
    docs sharing a full band (probability ~ j^4 per band), so the pair
    join stays near-linear at corpus scale; the final exact check
    removes false positives, giving precision 1.0 by construction.

    Value-level oracle (VERDICT r8 item 2): the md5-derived
    double-hashing family and integer-ppm Jaccard make every stage
    engine-independent, so DuckDB replays signatures, banding,
    candidates, AND the verify -- a full hash-compare, not the
    rows-only record this op carried through r8.
    """
    # by_sh=False: every consumer below groups by doc_id, so a
    # shingle-keyed exchange would be shuffled straight back.
    rows = _shingle_rows(spark, sf_dir, by_sh=False).cache()
    bands = _mh_bands(_minhash_signatures(rows))

    left = bands.select(
        F.col("doc_id").alias("doc_a"), "band", "key"
    )
    right = bands.select(
        F.col("doc_id").alias("doc_b"), "band", "key"
    )
    cands = (
        left.join(right, on=["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    # exact verification on CANDIDATES ONLY: join the few candidate
    # pairs to per-doc shingle sets and intersect JVM-side -- never
    # the all-pairs shingle self-join (that would redo the O(pairs)
    # work the banding exists to avoid).
    doc_sets = rows.groupBy("doc_id").agg(
        F.collect_set("sh").alias("shs")
    )
    sa = doc_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a")
    )
    sb = doc_sets.select(
        F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b")
    )
    c = F.size(F.array_intersect(F.col("shs_a"), F.col("shs_b"))).cast(
        "long"
    )
    union = (
        F.size("shs_a") + F.size("shs_b")
    ).cast("long") - c
    return (
        cands.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            c.alias("inter_cnt"),
            union.alias("union_cnt"),
        )
        .filter(
            F.col("inter_cnt") * 1_000_000
            >= JACCARD_THRESHOLD_PPM * F.col("union_cnt")
        )
        .withColumn(
            "jaccard_ppm",
            F.expr("inter_cnt * 1000000 DIV union_cnt"),
        )
    )


# -- incremental near-dup: new BATCH probed against the existing
#    CORPUS's band index (the production dedup shape -- a daily crawl
#    is deduped against the accumulated corpus WITHOUT recomputing
#    corpus-internal pairs).  Here docs with doc_id % INCR_BATCH_MOD
#    == 0 play the incoming batch; the rest are the corpus whose band
#    index a real deployment keeps PRECOMPUTED (signatures are
#    per-doc, so the index appends incrementally -- the whole point).
#    Work per increment = O(batch shingles) + band probes; never
#    O(corpus^2), never corpus re-shuffle.
INCR_BATCH_MOD = 10


def _incremental_oracle() -> str:
    return f"""
    WITH {_mh_shared_ctes()},
    cands AS (
        SELECT DISTINCT a.doc_id AS batch_doc, b.doc_id AS corpus_doc
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id % {INCR_BATCH_MOD} = 0
          AND b.doc_id % {INCR_BATCH_MOD} <> 0
    ),
    common AS (
        SELECT a.doc_id AS batch_doc, b.doc_id AS corpus_doc,
               COUNT(*) AS c
        FROM rows_f a JOIN rows_f b ON a.sh = b.sh
        WHERE a.doc_id % {INCR_BATCH_MOD} = 0
          AND b.doc_id % {INCR_BATCH_MOD} <> 0
        GROUP BY 1, 2
    )
    SELECT cd.batch_doc, cd.corpus_doc,
           CAST(c AS BIGINT) AS inter_cnt,
           CAST(sa.n + sb.n - c AS BIGINT) AS union_cnt,
           CAST(c * 1000000 // (sa.n + sb.n - c) AS BIGINT)
               AS jaccard_ppm
    FROM cands cd
    JOIN common USING (batch_doc, corpus_doc)
    JOIN sizes sa ON sa.doc_id = cd.batch_doc
    JOIN sizes sb ON sb.doc_id = cd.corpus_doc
    WHERE c * 1000000 >= {JACCARD_THRESHOLD_PPM} * (sa.n + sb.n - c)
    """


@query("dedup_incremental_lsh", oracle=_incremental_oracle())
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus MinHash-LSH near-dup: each incoming batch doc
    probes the corpus band index; exact Jaccard (integer ppm, same
    md5-derived machinery as dedup_minhash_lsh) verifies candidates.
    Reports the (batch_doc, corpus_doc) near-dup pairs an ingestion
    pipeline would drop or link before appending the batch."""
    rows = _shingle_rows(spark, sf_dir, by_sh=False).cache()
    bands = _mh_bands(_minhash_signatures(rows))
    is_batch = F.col("doc_id") % INCR_BATCH_MOD == 0
    batch = bands.filter(is_batch).select(
        F.col("doc_id").alias("batch_doc"), "band", "key"
    )
    corpus = bands.filter(~is_batch).select(
        F.col("doc_id").alias("corpus_doc"), "band", "key"
    )
    cands = (
        batch.join(corpus, on=["band", "key"])
        .select("batch_doc", "corpus_doc")
        .distinct()
    )
    doc_sets = rows.groupBy("doc_id").agg(
        F.collect_set("sh").alias("shs")
    )
    sa = doc_sets.select(
        F.col("doc_id").alias("batch_doc"), F.col("shs").alias("shs_a")
    )
    sb = doc_sets.select(
        F.col("doc_id").alias("corpus_doc"),
        F.col("shs").alias("shs_b"),
    )
    c = F.size(F.array_intersect(F.col("shs_a"), F.col("shs_b"))).cast(
        "long"
    )
    union = (F.size("shs_a") + F.size("shs_b")).cast("long") - c
    return (
        cands.join(sa, on="batch_doc")
        .join(sb, on="corpus_doc")
        .select(
            "batch_doc",
            "corpus_doc",
            c.alias("inter_cnt"),
            union.alias("union_cnt"),
        )
        .filter(
            F.col("inter_cnt") * 1_000_000
            >= JACCARD_THRESHOLD_PPM * F.col("union_cnt")
        )
        .withColumn(
            "jaccard_ppm",
            F.expr("inter_cnt * 1000000 DIV union_cnt"),
        )
    )


# -- SimHash near-dup (par.2.11): 60-bit fingerprint from token
#    hashes; banded hamming candidate join; bit_count verification.
#
#    Width is the SCALE knob (r9, measured): the original 32-bit
#    fingerprint gave 8-bit band keys = 256 buckets per band, so
#    bucket occupancy -- and the candidate join volume, which is
#    sum(bucket^2) -- grows quadratically with corpus size no matter
#    the data (at 50k sf1 docs: 564M candidate rows, one bucket of
#    13k docs, 22x runtime at 10x data).  60 bits / 4 bands = 15-bit
#    keys = 32768 buckets per band: incidental collisions vanish and
#    the candidate set collapses to genuine near-dup clusters, the
#    inherent output.  60 (not the literature's 64) keeps the
#    fingerprint positive in a SIGNED BIGINT so '0x'-cast, shifts,
#    xor, and bit_count behave identically in Spark and DuckDB; the
#    hamming<=3 contract over 60 bits matches the standard 64-bit
#    near-dup setting (Manku et al.) in selectivity.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
MAX_HAMMING = 3
_BAND_KEYS = ", ".join(
    f"named_struct('band', {b}, 'key', shiftrightunsigned(fingerprint,"
    f" {b * (SIMHASH_BITS // SIMHASH_BANDS)})"
    f" & {(1 << SIMHASH_BITS // SIMHASH_BANDS) - 1})"
    for b in range(SIMHASH_BANDS)
)


def _simhash_oracle() -> str:
    """DuckDB twin of the SimHash pipeline: same md5-derived 60-bit
    token hash, same bit votes, same banded hamming candidates."""
    votes = ",\n               ".join(
        f"SUM(CASE WHEN (v >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) "
        "ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << width) - 1
    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split({CANONICAL_SQL}, ' ')) AS tok
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT AS v
        FROM toks WHERE tok <> ''
    ),
    votes AS (
        SELECT doc_id,
               {votes}
        FROM h GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, {fp} AS fingerprint FROM votes),
    bands AS (
        SELECT doc_id, fingerprint, b.band,
               (fingerprint >> (b.band * {width})) & {mask} AS key
        FROM fp
        CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.fingerprint, b.fingerprint))
                AS INTEGER) AS hamming
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.key = b.key
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= {MAX_HAMMING}
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-token 60-bit hash votes each bit up or down; the sign
    vector is the fingerprint.  Near-dups = hamming <= 3, found via
    15-bit band equality (SIMHASH_BITS // SIMHASH_BANDS; a pair
    within hamming 3 must agree on at least one of 4 bands --
    pigeonhole), verified with bit_count.  Band width is the scale
    knob: the r9 bench caught 8-bit keys going quadratic at 10x data
    (BENCH_SF1.md), so the key space is sized to keep buckets sparse.

    Value-level oracle (VERDICT r8 item 2): the token hash is the
    first 60 bits of md5 -- identical in both engines -- so DuckDB
    replays fingerprints, bands, and hamming exactly (the r8-era
    xxhash64 hash was Spark-only and forced a rows-only record).
    The ``tok <> ''`` guard pins the one tokenizer divergence:
    Spark's split('') is [] while DuckDB's string_split('') is [''].

    The votes are two narrow aggregates over an exploded bit index
    (simhash_fingerprints), not 60 vote sums and a 60-term fingerprint:
    construction plus planning went 727 -> 216 ms at sf0.1 on 4 cores
    (plans/pr11), the fixed cost that dominates the curation corpus.
    The price is per token: 60 (doc, bit) rows each, so at 50,000
    documents on 4 cores the query ran 1.8x slower than one 60-sum
    aggregate (plans/pr11/simhash_scale.md; no benchmark workload runs
    a corpus that large).  The tokenize+md5 stage fans out from the
    fixture's single input split (fan_out_scan: a no-op at production
    split counts); integer sums are order-independent, so values
    cannot change."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = (
        fan_out_scan(docs.select("doc_id", "text"))
        .select(
            "doc_id",
            F.explode(
                F.split(canonical_text(F.col("text")), " ")
            ).alias("tok"),
        )
        .where("tok <> ''")
        .selectExpr(
            "doc_id",
            "CAST(conv(substring(md5(CAST(tok AS BINARY)), 1, 15), 16, 10)"
            " AS BIGINT) AS h",
        )
    )
    bands = simhash_fingerprints(hashes).selectExpr(
        "doc_id", "fingerprint", f"inline(array({_BAND_KEYS}))"
    )
    left = bands.selectExpr("doc_id AS doc_a", "fingerprint AS fp_a", "band", "key")
    right = bands.selectExpr("doc_id AS doc_b", "fingerprint AS fp_b", "band", "key")
    return (
        left.join(right, on=["band", "key"])
        .where("doc_a < doc_b")
        .selectExpr("doc_a", "doc_b", "bit_count(fp_a ^ fp_b) AS hamming")
        .distinct()
        .where(f"hamming <= {MAX_HAMMING}")
    )


def simhash_fingerprints(hashes: DataFrame) -> DataFrame:
    """(doc_id, h) token hashes -> (doc_id, fingerprint): bit i is set
    when more of the doc's tokens have bit i set than not (a tie
    leaves 0, as the oracle's ``> 0``).  Each token explodes into
    SIMHASH_BITS (doc, bit) rows; the +1/-1 votes are summed per bit,
    then the bits are set per doc."""
    return (
        hashes.selectExpr(
            "doc_id", "h", f"explode(sequence(0, {SIMHASH_BITS - 1})) AS i"
        )
        .groupBy("doc_id", "i")
        .agg(F.expr("sum(IF((shiftright(h, i) & 1) = 1, 1, -1))").alias("s"))
        .groupBy("doc_id")
        .agg(F.expr("sum(IF(s > 0, shiftleft(1L, i), 0L))").alias("fingerprint"))
    )


# -- embedding-cosine near-dup (par.2.11): EXACT pair join, re-planned
#    from a row-at-a-time crossJoin to a matrix-blocked design (r3).
#    Exact all-pairs is inherently O(n^2) similarity work -- at a 0.5
#    cosine threshold on 64-dim unit vectors NO blocking key preserves
#    recall (verified: sign-bit prefix blocking drops real pairs on the
#    test corpus), so the scale levers are memory-bounding and
#    vectorization, not pruning:
#      * vectors hash into chunks of <= EMB_BLOCK_ROWS rows;
#      * each side replicates to its row/column of the triangular
#        chunk-pair grid (ci <= cj) by exploding a sequence -- every
#        unordered vector pair meets in exactly ONE grid cell;
#      * cogroup + applyInPandas runs one numpy GEMM per cell
#        (Arrow-batched, BLAS -- ~100x the throughput of per-pair
#        fold expressions), verifying only within the cell, with
#        per-task memory capped at 2*EMB_BLOCK_ROWS vectors.
#    Shuffle volume is O(n * n/EMB_BLOCK_ROWS) -- the unavoidable cost
#    of exact all-pairs; the sub-quadratic path is the approximate
#    similarity_ann_lsh / dedup_minhash_lsh family.
EMB_BLOCK_ROWS = 8192

#: Hard cap on the chunk grid: the triangular chunk-pair grid has
#: c*(c+1)/2 cells, each side replicates every row to c cells, and
#: the whole plan is O(n^2) GEMM work by contract -- the exact
#: all-pairs anchor is only meant for oracle-scale labeling runs.
#: 512 chunks = ~4.2M vectors and ~131k cells; beyond that the exact
#: anchor refuses and the
#: caller must use the sub-quadratic ANN family
#: (similarity_ann_lsh / similarity_ivf_topk / dedup_minhash_lsh).
EMB_MAX_CHUNKS = 512

#: Minimum input size before the grid widens for parallelism (below
#: this, per-task Python-worker/Arrow startup dominates the GEMM and
#: one cell is cheapest) and the minimum rows a chunk should keep
#: when widening (so per-cell work stays >= ~512x512 dot products).
EMB_PAR_MIN_ROWS = 1024
EMB_ROWS_PER_CHUNK = 512


def _grid_chunks(n_rows: int, parallelism: int) -> int:
    """Chunk count for the triangular GEMM grid.

    Two constraints compose: the HARD memory floor (a chunk must fit
    per-task memory: ceil(n/EMB_BLOCK_ROWS)), and a parallelism floor
    once the input is big enough to amortize per-task startup -- c
    chunks give c(c+1)/2 grid cells, so c = ceil(sqrt(2*parallelism))
    puts at least one cell on every core (local[32] -> 8 chunks / 36
    cells; a 1000-core cluster -> 45 chunks / 1035 cells), capped so
    no chunk shrinks below EMB_ROWS_PER_CHUNK rows.  A single-cell
    plan is never acceptable above EMB_PAR_MIN_ROWS: it serializes
    the whole pairwise pass into one straggler-magnet task (measured
    bimodal 5.8 s median vs 1.65 s stable at 4 chunks on the same
    2k-vector input)."""
    import math

    n_chunks = max(math.ceil(n_rows / EMB_BLOCK_ROWS), 1)
    if n_rows >= EMB_PAR_MIN_ROWS:
        par_chunks = math.ceil(math.sqrt(2 * max(parallelism, 1)))
        n_chunks = max(
            n_chunks,
            min(par_chunks, math.ceil(n_rows / EMB_ROWS_PER_CHUNK)),
        )
    return n_chunks


def _grid_sides(
    left: DataFrame, right: DataFrame, n_chunks: int
) -> tuple[DataFrame, DataFrame]:
    """Each side's rows keyed by the grid cells (ci, cj), ci <= cj,
    that its chunk ``c`` joins: a left chunk c sits in row c of the
    triangle (cells (c, c..n-1)), a right chunk c in column c (cells
    (0..c, c)), so chunks a <= b meet in cell (a, b) alone.  Built by
    exploding a sequence, with no grid table to join or broadcast."""
    rest = [c for c in left.columns if c != "c"]
    return (
        left.selectExpr("c AS ci", f"explode(sequence(c, {n_chunks - 1})) AS cj", *rest),
        right.selectExpr("explode(sequence(0, c)) AS ci", "c AS cj", *rest),
    )


def exact_cosine_pairs(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """Exact all-pairs cosine >= ``threshold`` via the blocked
    triangular GEMM (the scale design documented above).  Shared by
    dedup_embedding_cosine (the near-dup anchor) and
    similarity_ann_recall_eval (the ANN ground-truth denominator)."""
    # the grid is sized from the footers' row count, read on the
    # driver (no Spark job); rationale and the measured single-task
    # stall live on _grid_chunks
    n_rows = footer_stats(spark, f"{sf_dir}/embeddings.parquet").rows
    n_chunks = _grid_chunks(
        n_rows, spark.sparkContext.defaultParallelism
    )
    if n_chunks > EMB_MAX_CHUNKS:
        raise ValueError(
            f"dedup_embedding_cosine is the exact O(n^2) oracle anchor "
            f"and is bounded to {EMB_MAX_CHUNKS * EMB_BLOCK_ROWS} "
            f"vectors ({EMB_MAX_CHUNKS} chunks; got {n_chunks}); for "
            "larger inputs use the sub-quadratic ANN family "
            "(similarity_ann_lsh, similarity_ivf_topk, dedup_minhash_lsh)"
        )

    def chunked() -> DataFrame:
        # fresh scan per side: the two cogroup inputs get independent
        # lineage (avoids Spark's ambiguous-self-join trap; fresh=True
        # bypasses the loader's plan memo for exactly this)
        return load_table(
            spark, sf_dir, "embeddings", fresh=True
        ).selectExpr(
            f"CAST(pmod(xxhash64(vec_id), {n_chunks}) AS INT) AS c",
            "vec_id",
            "embedding",
        )

    left, right = _grid_sides(chunked(), chunked(), n_chunks)

    def gemm_block(key, a_pdf, b_pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "vec_a": pd.Series(dtype="int64"),
                "vec_b": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        if a_pdf.empty or b_pdf.empty:
            return empty
        # float32 storage -> float64 math, mirroring the oracle's
        # CAST(x AS DOUBLE) before list_cosine_similarity.
        A = np.array(list(a_pdf["embedding"]), dtype=np.float64)
        B = np.array(list(b_pdf["embedding"]), dtype=np.float64)
        # zero-norm guard: an all-zero embedding gets cosine 0 to every
        # vector (dropped by the >= threshold mask), instead of NaN
        # rows whose NaN-comparison semantics could diverge from the
        # oracle's list_cosine_similarity NULL/NaN handling.
        na = np.linalg.norm(A, axis=1, keepdims=True)
        nb = np.linalg.norm(B, axis=1, keepdims=True)
        A /= np.where(na == 0, 1.0, na)
        B /= np.where(nb == 0, 1.0, nb)
        cos = A @ B.T
        # round half-away-from-zero to match DuckDB/Spark ROUND
        # (np.round is half-to-even)
        cos = np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6
        ids_a = a_pdf["vec_id"].to_numpy()
        ids_b = b_pdf["vec_id"].to_numpy()
        ia, ib = np.nonzero(cos >= threshold)
        la, lb = ids_a[ia], ids_b[ib]
        if key[0] == key[1]:
            # diagonal cell: both sides hold the same chunk, so each
            # pair shows up at (x,y) and (y,x); keep the upper triangle
            keep = la < lb
        else:
            # off-diagonal: every pair meets once; orient by id
            keep = la != lb
        la, lb, cv = la[keep], lb[keep], cos[ia, ib][keep]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(la, lb),
                "vec_b": np.maximum(la, lb),
                "cosine": cv,
            }
        )

    return (
        left.groupBy("ci", "cj")
        .cogroup(right.groupBy("ci", "cj"))
        .applyInPandas(
            gemm_block, "vec_a long, vec_b long, cosine double"
        )
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(
               list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(b.embedding, x -> CAST(x AS DOUBLE))
           ), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(
              list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              list_transform(b.embedding, x -> CAST(x AS DOUBLE))
          ), 6) >= {COSINE_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_cosine_pairs(spark, sf_dir, COSINE_DUP_THRESHOLD)


# -- pairwise edit-distance near-dup (SURVEY par.2.11 "SQL levenshtein
#    for pairwise").  Quadratic in block size, so candidates are
#    blocked on (lang, length band) before any distance runs -- the
#    100 TB pattern: cheap equality blocking keys bound the pair
#    explosion, expensive verification runs only inside blocks.
#    Distance runs on a fixed-length prefix: edit distance cost is
#    O(len^2) per pair and a 64-char prefix decides near-dups as well
#    as the full text for corpus-dedup purposes.
LEV_PREFIX = 48
LEV_BAND = 64
LEV_MAX_DIST = 24


@query(
    "dedup_levenshtein_pairs",
    oracle=f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(substr(a.text, 1, {LEV_PREFIX}),
                            substr(b.text, 1, {LEV_PREFIX})) AS INT)
               AS edit_dist
    FROM documents a JOIN documents b
      ON a.lang = b.lang
     AND CAST(floor(a.n_chars / {LEV_BAND}) AS INT)
         = CAST(floor(b.n_chars / {LEV_BAND}) AS INT)
     AND a.doc_id < b.doc_id
    WHERE levenshtein(substr(a.text, 1, {LEV_PREFIX}),
                      substr(b.text, 1, {LEV_PREFIX})) <= {LEV_MAX_DIST}
    """,
)
def dedup_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    band = F.floor(F.col("n_chars") / LEV_BAND).cast("int")
    sides = docs.select(
        "doc_id",
        "lang",
        band.alias("band"),
        F.substring("text", 1, LEV_PREFIX).alias("prefix"),
    )
    # r14 (guide par.2.5): the blocked pairwise levenshtein is one
    # fused scan->join->distance stage; at fixture split counts it ran
    # on a SINGLE task (8.1 s CPU = the whole 8.4 s cell).  Fanning
    # out the probe-side projection parallelizes the per-pair edit
    # distances; no-op when the scan already has >= cores splits.
    a = fan_out_scan(
        sides.select(
            F.col("doc_id").alias("doc_a"),
            "lang",
            "band",
            F.col("prefix").alias("pa"),
        )
    )
    b = sides.select(
        F.col("doc_id").alias("doc_b"),
        "lang",
        "band",
        F.col("prefix").alias("pb"),
    )
    dist = F.levenshtein(F.col("pa"), F.col("pb"))
    return (
        a.join(b, on=["lang", "band"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            dist.cast("int").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= LEV_MAX_DIST)
    )


# -- semantic dedup (SemDeDup, Abbas et al. 2023): cluster embeddings
#    around K seed centroids, then mark any vector whose within-cluster
#    cosine to a LOWER-id vector clears the threshold.  Clustering
#    bounds the pairwise stage to O(n^2/K) per cluster instead of a
#    corpus cross join; at 100 TB the pair join shuffles on cluster_id
#    (salt oversized clusters / cap cluster width before pairing).
#    Assignment argmax uses a window over (rounded cosine DESC,
#    centroid_id) so both engines break ties identically.
SEMDEDUP_K = 8
SEMDEDUP_THRESHOLD = 0.50


@query(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ),
    cent AS (
        SELECT vec_id AS cid, emb AS ce FROM e
        WHERE vec_id < {SEMDEDUP_K}
    ),
    scored AS (
        SELECT e.vec_id, e.emb, c.cid,
               ROUND(list_cosine_similarity(e.emb, c.ce), 6) AS cos
        FROM e CROSS JOIN cent c
    ),
    assign AS (
        SELECT vec_id, emb, cid FROM (
            SELECT vec_id, emb, cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY cos DESC, cid
                   ) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    dups AS (
        SELECT DISTINCT b.vec_id
        FROM assign a JOIN assign b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 6)
              >= {SEMDEDUP_THRESHOLD}
    )
    SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster_id,
           (d.vec_id IS NOT NULL) AS is_dup
    FROM assign a LEFT JOIN dups d ON d.vec_id = a.vec_id
    """,
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .similarity import cosine_expr

    # fan-out (guide par.2.5): the K-centroid assignment cosines run
    # in the scan stage, single-split at fixture scale; no-op when the
    # scan already fans out.
    emb = fan_out_scan(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
    )
    cent = F.broadcast(
        emb.filter(F.col("vec_id") < SEMDEDUP_K).select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("ce"),
        )
    )
    scored = emb.crossJoin(cent).select(
        "vec_id",
        "embedding",
        "cid",
        F.round(cosine_expr(F.col("embedding"), F.col("ce")), 6).alias(
            "cos"
        ),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cid"))
    # cached: three consumers (both pair-join sides + the output
    # join-back) would otherwise each re-run the crossJoin + window
    assign = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "cid")
        .cache()
    )
    # Salted slice pair join (r14; guide par.2.5 hot keys, and this
    # docstring's own 100 TB note: "salt oversized clusters").  The
    # pair join keys on cluster_id with only SEMDEDUP_K=8 distinct
    # values, so a plain hash join caps the quadratic per-cluster
    # verify at 8 tasks at ANY scale (measured at sf0.1: the whole
    # verify on ONE AQE-coalesced task, 4.2 s CPU of a 5.7 s cell).
    # Slicing: the a-side gets a deterministic slice id in [0, S) and
    # the b-side is replicated once per slice, so the join keys on
    # (cid, slice) -- S*K partitions-worth of keys -- and every
    # (va, vb) pair still meets exactly once (b's copy with
    # sl == sl(va)).  The b-side replication is linear (S * |b|)
    # while the per-cluster pair volume it parallelizes is quadratic.
    # Explicit repartition pins the width: AQE's coalescing sizes by
    # bytes and cannot see CPU-quadratic pair stages.
    n_slices = spark.sparkContext.defaultParallelism
    a = assign.select(
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        "cid",
        F.pmod(F.xxhash64("vec_id"), F.lit(n_slices))
        .cast("int")
        .alias("sl"),
    ).repartition(n_slices, "cid", "sl")
    b = assign.select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        "cid",
        F.explode(
            F.sequence(F.lit(0), F.lit(n_slices - 1))
        ).alias("sl"),
    ).repartition(n_slices, "cid", "sl")
    dups = (
        a.join(b, ["cid", "sl"])
        .filter(F.col("va") < F.col("vb"))
        .filter(
            F.round(cosine_expr(F.col("ea"), F.col("eb")), 6)
            >= SEMDEDUP_THRESHOLD
        )
        .select(F.col("vb").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        assign.join(dups, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cid").cast("long").alias("cluster_id"),
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup (shared long-span detection)
# ---------------------------------------------------------------------------

#: span length in tokens: documents sharing any EXACT_SPAN-token run
#: are near-certain copies of a common source (boilerplate, mirrored
#: passages) -- the granularity used by suffix-array substring dedup
#: in training-data pipelines, approximated here at gram granularity.
EXACT_SPAN = 20


def _span_sql(n: int) -> str:
    terms = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    return (
        "list_distinct(list_transform("
        f"generate_series(1, len(toks) - {n - 1}), i -> {terms}))"
    )


# -- exact-substring dedup: flag every document sharing at least one
#    EXACT_SPAN-token span with another document.  Spans are hash-keyed
#    before the shuffle (8-byte xxhash64 keys instead of ~100+-byte
#    grams -- at 100 TB the gram bytes, not the row count, dominate
#    shuffle cost).  Plan: distinct (doc, span-hash) -> span frequency
#    -> flag members.  Every shuffle keys on the span hash; no pairwise
#    comparison ever materializes, unlike suffix-array approaches that
#    need a global sort.  The hash never reaches the output (it is only
#    a grouping key), so Spark can use xxhash64 (~3x cheaper than md5,
#    8-byte shuffle key) while the DuckDB oracle keys on md5 -- both
#    are injective on the observed grams; 64-bit collision odds are
#    immaterial for a dedup FLAG.
@query(
    "dedup_exact_substring",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split({CANONICAL_SQL}, ' ') AS toks
        FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id, md5(gram) AS gh
        FROM (
            SELECT doc_id, unnest({_span_sql(EXACT_SPAN)}) AS gram
            FROM t
        )
    ),
    shared AS (
        SELECT gh FROM g GROUP BY gh HAVING COUNT(*) > 1
    )
    SELECT g.doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN s.gh IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared_spans,
           CAST(SUM(CASE WHEN s.gh IS NOT NULL THEN 1 ELSE 0 END) > 0
                AS BOOLEAN) AS is_dup
    FROM g LEFT JOIN shared s ON g.gh = s.gh
    GROUP BY g.doc_id
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    # _shingles(distinct=True) already dedups spans PER DOCUMENT via
    # array_distinct, so (doc_id, gh) pairs are unique by construction.
    # Span frequency comes from a WINDOW over the span hash, not an
    # aggregate + join-back: the join formulation evaluates the
    # explode/hash subtree once per join side (2x the dominant cost),
    # while the window is one pass -- exchange on gh, per-span counts
    # in place, exchange on doc_id for the final rollup.  Per-gh
    # partitions are bounded by the span's document frequency (tiny).
    # Span keys WITHOUT materializing gram strings: tokens are
    # projected once (so the split is not re-evaluated inside the
    # lambda), then each span position hashes a 20-token slice
    # directly -- xxhash64 over array<string> -- and per-doc dedup
    # runs on the long hashes.  The previous shape (arrays_zip of 20
    # shifted slices + concat_ws per span) materialized ~20x the text
    # bytes per row before hashing; this emits 8 bytes per span.
    # sequence(1, 0) would generate a DESCENDING [1, 0] for short
    # docs, hence the explicit size guard.
    toks = fan_out_scan(docs.select("doc_id", "text")).select(
        "doc_id",
        F.split(canonical_text(F.col("text")), " ").alias("toks"),
    )
    n_spans = F.size("toks") - (EXACT_SPAN - 1)
    span_hashes = F.when(
        n_spans > 0,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_spans, F.lit(1))),
            lambda i: F.xxhash64(F.slice("toks", i, EXACT_SPAN)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    g = toks.select(
        "doc_id",
        F.explode(F.array_distinct(span_hashes)).alias("gh"),
    )
    nd = F.count("*").over(Window.partitionBy("gh"))
    flagged = g.withColumn("hit", nd > 1)
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0))
        .cast("long")
        .alias("n_shared_spans"),
        (F.sum(F.when(F.col("hit"), 1).otherwise(0)) > 0).alias(
            "is_dup"
        ),
    )


# -- sub-document (sentence-level) dedup, the C4-style curation op:
#    boilerplate sentences repeated across pages are removed from
#    every document EXCEPT their first occurrence (first = lowest
#    (doc_id, position) -- a total order, so the survivor set is
#    deterministic).  Shape: split -> posexplode -> one shuffle on the
#    sentence hash (window picks the global first occurrence) -> per-
#    doc rollup.  No pairwise comparison, no global sort; the shuffle
#    keys on the sentence hash exactly like exact-substring dedup.
@query(
    "dedup_sentences_first_wins",
    oracle=f"""
    WITH lines AS (
        SELECT doc_id, pos, md5(line) AS lh
        FROM (
            SELECT doc_id,
                   unnest(string_split({CANONICAL_SQL}, '. '))
                       AS line,
                   unnest(generate_series(1,
                       len(string_split({CANONICAL_SQL}, '. '))))
                       AS pos
            FROM documents
        )
        WHERE length(line) > 0
    ),
    ranked AS (
        SELECT doc_id, lh,
               row_number() OVER (
                   PARTITION BY lh ORDER BY doc_id, pos
               ) AS rn
        FROM lines
    )
    SELECT doc_id,
           COUNT(*) AS n_sentences,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped
    FROM ranked
    GROUP BY doc_id
    """,
)
def dedup_sentences_first_wins(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    lines = (
        docs.select(
            "doc_id",
            F.posexplode(
                F.split(canonical_text(F.col("text")), "\\. ")
            ).alias("pos0", "line"),
        )
        .filter(F.length("line") > 0)
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            # grouping key only (never output): xxhash64 beats md5 by
            # ~3x and shuffles 8-byte keys; the oracle's md5 keys are
            # equivalent up to immaterial 64-bit collisions.
            F.xxhash64("line").alias("lh"),
        )
    )
    w = Window.partitionBy("lh").orderBy("doc_id", "pos")
    ranked = lines.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_sentences"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
    )


# -- shingle containment: the ASYMMETRIC near-dup metric.  Jaccard
#    misses subset duplicates (a short doc fully contained in a long
#    one scores c/(na+nb-c), arbitrarily low as nb grows); containment
#    C(A in B) = c/|S(A)| stays 1.0.  This is the metric corpus dedup
#    uses to catch quote-expansion and concatenation dups.  Candidate
#    generation is the SAME shingle-equality join as dedup_ngram_
#    jaccard (stop-shingle guard, doc_a < doc_b key order); only the
#    verification formula changes, so the scale story is inherited
#    unchanged.  Both directions plus jaccard are emitted so the
#    caller sees WHY a pair surfaced.
CONTAINMENT_THRESHOLD = 0.80


@query(
    "dedup_shingle_containment",
    oracle=f"""
    WITH rows_f AS ({_SHINGLE_ROWS_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM rows_f GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM rows_f a JOIN rows_f b
          ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(c AS DOUBLE) / sa.n, 6) AS contain_a_in_b,
           ROUND(CAST(c AS DOUBLE) / sb.n, 6) AS contain_b_in_a,
           ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE GREATEST(ROUND(CAST(c AS DOUBLE) / sa.n, 6),
                   ROUND(CAST(c AS DOUBLE) / sb.n, 6))
          >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_shingle_containment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    rows = _shingle_rows(spark, sf_dir).cache()
    sizes = rows.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = rows.select(F.col("doc_id").alias("doc_a"), "sh")
    b = rows.select(F.col("doc_id").alias("doc_b"), "sh")
    common = (
        a.join(b, on="sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
    )
    c = F.col("c").cast("double")
    cab = F.round(c / F.col("na"), 6)
    cba = F.round(c / F.col("nb"), 6)
    jac = F.round(c / (F.col("na") + F.col("nb") - F.col("c")), 6)
    return (
        common.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            cab.alias("contain_a_in_b"),
            cba.alias("contain_b_in_a"),
            jac.alias("jaccard"),
        )
        .filter(
            F.greatest(
                F.col("contain_a_in_b"), F.col("contain_b_in_a")
            )
            >= CONTAINMENT_THRESHOLD
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF cosine near-duplicates (shingle-blocked)
# ---------------------------------------------------------------------------
# The sparse-vector cousin of dedup_embedding_cosine: cosine
# similarity between documents' TF-IDF term vectors, with candidate
# pairs BLOCKED by a shared non-hot 3-gram shingle (the
# dedup_ngram_jaccard generator -- a necessary condition for high
# lexical cosine, so pure pruning).  Exactness: per-term weights are
# FLOOR-quantized to integer micro-units (FLOOR(1e6 * tf * ln(N/df))
# -- the NB micro-nat discipline), so dot products and squared norms
# are exact DECIMAL(38,0) integer sums in any aggregation order; the
# cosine is one double expression per pair.  100 TB shape: shingle
# blocking keeps candidates near-linear ON NATURAL CORPORA; the
# fixture's 31-word shared vocabulary makes nearly every doc pair a
# genuine near-dup (9% of ALL pairs share a non-hot shingle at
# sf0.1), so candidate volume there reflects the data, not the
# operator -- measured: requiring >=2 shared shingles cuts
# candidates 10x but loses 84% of true cosine>=0.8 pairs on this
# corpus, so the single-shingle rule is kept; production corpora get
# their sparsity back from a real vocabulary, and the documented
# escape hatch past that is dedup_minhash_lsh.
#
# Per-doc weight vectors are PRUNED to the TFIDF_TOP_TERMS
# highest-weight terms (deterministic tie-break: weight desc, term
# asc) before norms and dot products -- the bound that keeps the
# verify join's per-pair fan-out and the per-doc vector map O(1) at
# corpus scale regardless of document length.  On the fixtures
# (<=31 distinct terms per doc) the prune keeps every term, so the
# reported cosine is the full-vector cosine there.
#
# CONTRACT (ADVICE r7, confirmed intended): the operator computes
# the top-64-term TF-IDF cosine, an APPROXIMATION of the full-vector
# cosine for docs with >64 distinct weighted terms -- pairs within
# the tail mass of the threshold can flip relative to the unpruned
# value.  This is the standard truncated-vector trade every
# bounded-memory near-dup system makes (e.g. per-doc signature caps
# in SimHash/MinHash); both engines apply the identical prune, the
# bound is a named constant, and callers needing the exact cosine on
# long docs should raise TFIDF_TOP_TERMS and accept the fan-out.
TFIDF_COSINE_THRESHOLD = 0.8
TFIDF_TOP_TERMS = 64

_TOKENS_SPLIT_SQL = f"string_split({CANONICAL_SQL}, ' ')"

_TFIDF_WQ_SQL = f"""
    toks AS (
        SELECT doc_id, unnest({{tokens_sql}}) AS tok FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, tok
    ),
    dfreq AS (
        SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS dfc
        FROM toks GROUP BY tok
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    wq_all AS (
        SELECT tf.doc_id, tf.tok,
               CAST(FLOOR(1000000 * tf.tf
                          * ln(CAST(nn.n_docs AS DOUBLE) / dfreq.dfc))
                    AS BIGINT) AS w
        FROM tf JOIN dfreq USING (tok) CROSS JOIN nn
        WHERE dfreq.dfc < nn.n_docs
    ),
    wq AS (
        SELECT doc_id, tok, w FROM (
            SELECT doc_id, tok, w,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY w DESC, tok ASC) AS rnk
            FROM wq_all
        ) ranked WHERE rnk <= {{top_terms}}
    ),
    norms AS (
        SELECT doc_id,
               CAST(SUM(CAST(w AS DECIMAL(38,0))
                        * CAST(w AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS nrm2
        FROM wq GROUP BY doc_id
    )
"""


@query(
    "dedup_tfidf_cosine_pairs",
    oracle=f"""
    WITH rows_f AS ({_SHINGLE_ROWS_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM rows_f a JOIN rows_f b
          ON a.sh = b.sh AND a.doc_id < b.doc_id
    ),
    {_TFIDF_WQ_SQL.format(tokens_sql=_TOKENS_SPLIT_SQL, top_terms=TFIDF_TOP_TERMS)},
    dots AS (
        SELECT c.doc_a, c.doc_b,
               CAST(SUM(CAST(wa.w AS DECIMAL(38,0))
                        * CAST(wb.w AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS dot,
               CAST(COUNT(*) AS BIGINT) AS n_shared_terms
        FROM cand c
        JOIN wq wa ON wa.doc_id = c.doc_a
        JOIN wq wb ON wb.doc_id = c.doc_b AND wb.tok = wa.tok
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT d.doc_a, d.doc_b, d.n_shared_terms,
           ROUND(CAST(d.dot AS DOUBLE)
                 / SQRT(CAST(na.nrm2 AS DOUBLE)
                        * CAST(nb.nrm2 AS DOUBLE)), 6) AS cosine
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
    WHERE CAST(d.dot AS DOUBLE)
          / SQRT(CAST(na.nrm2 AS DOUBLE) * CAST(nb.nrm2 AS DOUBLE))
          >= {TFIDF_COSINE_THRESHOLD}
    """,
)
def dedup_tfidf_cosine_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Plan shape (the 100 TB verify-join contract):

    1. RAW candidates from the shared shingle-equality self-join (the
       dedup_ngram_jaccard generator) -- NOT deduplicated: the
       blocking join's duplication factor is bounded (measured 1.12x
       at sf0.1) and a pre-dedup would cost a full extra shuffle of
       the pair stream, while duplicate pairs produce bit-identical
       output rows that one distinct() over the ~10x-smaller FILTERED
       result removes;
    2. per-doc TF-IDF vectors pruned to TFIDF_TOP_TERMS and packed
       into a ``map<term, weight>`` column -- bounded at 64 entries
       per doc, so the vector table is O(n_docs); it is cached and
       joined WITHOUT a broadcast hint: AQE broadcasts it at fixture
       scale and degrades to shuffle joins at corpus scale, where a
       forced broadcast of an O(n_docs) table would OOM the driver
       (VERDICT r7 item 2);
    3. dot product + shared-term count via ONE ``map_zip_with`` (a
       hash-merge of the two maps, O(terms) per pair -- per-key map
       probes would be O(terms^2) linear scans) materialized as a
       column, then two cheap ``aggregate`` passes over its values --
       no per-term row explosion, so the verify phase streams
       candidate PAIRS through a single stage: shingle join ->
       vector joins -> dot -> threshold filter, with no shuffle
       until the tiny post-filter distinct.

    Exactness is unchanged: integer micro-unit weights, DECIMAL(38,0)
    dot accumulator, one double division per pair at the end.
    """
    docs = load_table(spark, sf_dir, "documents").repartition(
        int(
            spark.conf.get(
                "spark.sql.shuffle.partitions",
                str(DEFAULT_SHUFFLE_PARTITIONS),
            )
        ),
        "doc_id",
    )
    # cached like the sibling shingle consumers (jaccard /
    # containment / minhash): within one run the self-join reuses
    # the sh exchange anyway, but the cache also spares re-runs in
    # the same session the explode + stop-shingle scan
    rows = _shingle_rows(spark, sf_dir).cache()
    cand = (
        rows.select(F.col("doc_id").alias("doc_a"), "sh")
        .join(
            rows.select(F.col("doc_id").alias("doc_b"), "sh"), "sh"
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(canonical_text(F.col("text")), " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count("*").cast("long").alias("tf")
    )
    dfreq = toks.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("long").alias("dfc")
    )
    nn = docs.agg(F.count("*").cast("long").alias("n_docs"))
    wq_all = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(nn))
        .filter(F.col("dfc") < F.col("n_docs"))
        .select(
            "doc_id",
            "tok",
            F.floor(
                1000000
                * F.col("tf")
                * F.log(
                    F.col("n_docs").cast("double") / F.col("dfc")
                )
            )
            .cast("long")
            .alias("w"),
        )
    )
    from pyspark.sql.window import Window

    keep = Window.partitionBy("doc_id").orderBy(
        F.col("w").desc(), F.col("tok").asc()
    )
    wq = (
        wq_all.withColumn("rnk", F.row_number().over(keep))
        .filter(F.col("rnk") <= TFIDF_TOP_TERMS)
        .drop("rnk")
    )
    # one row per doc: pruned sparse vector as a map + exact sq norm.
    # Cached because BOTH join sides (va, vb) consume it with
    # different projections -- exchange reuse cannot dedupe those, so
    # without the cache the whole tokenize/tf/dfreq/window pipeline
    # runs twice (ADVICE r7).  Per-term products and the accumulator
    # are DECIMAL(38,0): w = floor(1e6*tf*ln(N/df)) is NOT bounded by
    # 1e9 for long docs with high-tf rare terms, and a BIGINT w_a*w_b
    # would throw under ANSI (or wrap silently) past tf*idf ~ 3037
    # (ADVICE r7).
    vecs = wq.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("tok", "w"))
        ).alias("vec"),
        F.sum(
            F.col("w").cast("decimal(38,0)")
            * F.col("w").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("nrm2"),
        # max term weight: powers the per-pair overflow guard that
        # routes the dot product through LONG arithmetic when provably
        # safe (r13, guide par.2.3 "narrower types")
        F.max("w").alias("wmax"),
    ).cache()
    va = vecs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("vec").alias("vec_a"),
        F.col("nrm2").alias("na2"),
        F.col("wmax").alias("wmax_a"),
    )
    vb = vecs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("vec").alias("vec_b"),
        F.col("nrm2").alias("nb2"),
        F.col("wmax").alias("wmax_b"),
    )
    # No broadcast hints: the vector table is O(n_docs).  AQE
    # broadcasts it when it measures small and falls back to shuffle
    # joins at corpus scale; a forced hint is honored past the auto
    # threshold and OOMs at 1e8+ docs (VERDICT r7 item 2).
    paired = cand.join(va, "doc_a").join(vb, "doc_b")
    # Shared-term products, computed once per pair by a hash-merge of
    # the two maps; non-shared terms contribute NULL.  r13 fast path
    # (guide par.2.3 -- narrower types when provably safe): the exact
    # integer dot is bounded by min(|vec_a|,|vec_b|) * wmax_a * wmax_b
    # <= TFIDF_TOP_TERMS * wmax_a * wmax_b, so when that bound (taken
    # in double with a 2x margin below 2^63 ~ 9.22e18) stays under
    # 4e18, every per-term product AND the running sum fit a LONG and
    # the fold runs in primitive arithmetic.  Otherwise the original
    # DECIMAL(38,0) fold runs -- w = floor(1e6*tf*ln(N/df)) is NOT
    # bounded for long docs with high-tf rare terms (ADVICE r7), so
    # the decimal path remains the correctness anchor.  CASE branches
    # evaluate lazily per row, so each pair pays exactly one fold;
    # both paths produce the same exact integer, hence bit-identical
    # doubles in the cosine.
    safe = (
        F.col("wmax_a").cast("double")
        * F.col("wmax_b").cast("double")
        * float(TFIDF_TOP_TERMS)
    ) < 4.0e18
    # The threshold predicate gets substituted into the vector join's
    # condition by pushdown, so the dot fold runs once per CANDIDATE
    # pair there; the ~8% surviving pairs additionally evaluate the
    # output project (count zip + dot zip).  Per-pair cost is
    # dominated by the interpreted higher-order-function element
    # machinery (29.8 CPU-s at sf0.1 in the r12 all-decimal shape;
    # struct-accumulator and two-fold variants measured WORSE -- the
    # per-element lambda dispatch, not the arithmetic, is the floor),
    # so the win here is keeping the hot per-pair path on primitive
    # longs and a single fold.
    zipped = paired.withColumn(
        "zc",
        F.expr(
            "map_values(map_zip_with(vec_a, vec_b,"
            " (k, x, y) -> IF(x IS NOT NULL AND y IS NOT NULL,"
            " 1L, CAST(NULL AS BIGINT))))"
        ),
    )
    dot_long = F.expr(
        "aggregate(map_values(map_zip_with(vec_a, vec_b,"
        " (k, x, y) -> IF(x IS NOT NULL AND y IS NOT NULL,"
        " x * y, CAST(NULL AS BIGINT)))),"
        " 0L, (acc, v) -> acc + coalesce(v, 0L))"
    )
    dot_dec = F.expr(
        "aggregate(map_values(map_zip_with(vec_a, vec_b,"
        " (k, x, y) -> IF(x IS NOT NULL AND y IS NOT NULL,"
        " CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)),"
        " CAST(NULL AS DECIMAL(38,0))))),"
        " CAST(0 AS DECIMAL(38,0)),"
        " (acc, v) -> CAST(acc + coalesce(v, CAST(0 AS DECIMAL(38,0)))"
        " AS DECIMAL(38,0)))"
    )
    dot = F.when(safe, dot_long.cast("decimal(38,0)")).otherwise(
        dot_dec
    )
    shared = F.expr(
        "aggregate(zc, 0L, (acc, v) -> acc + IF(v IS NULL, 0L, 1L))"
    )
    cos = F.col("dot").cast("double") / F.sqrt(
        F.col("na2").cast("double") * F.col("nb2").cast("double")
    )
    return (
        zipped.select(
            "doc_a",
            "doc_b",
            dot.alias("dot"),
            shared.alias("n_shared_terms"),
            "na2",
            "nb2",
        )
        .filter(cos >= TFIDF_COSINE_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            "n_shared_terms",
            F.round(cos, 6).alias("cosine"),
        )
        # duplicate candidate pairs (same pair via several shared
        # shingles) collapse here, on the filtered output
        .distinct()
    )
