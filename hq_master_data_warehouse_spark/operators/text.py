"""Text-analysis operators for training-data pipelines (SURVEY.md
par.2.11 / north star): token counting, quality scoring, language-ID
heuristics, document fingerprinting, word frequency.

Everything is pure column expressions (split / higher-order array
functions / regexp) -- zero Python in the hot path, so a 100 TB
corpus stays inside whole-stage codegen with per-partition
parallelism and no Arrow transfer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.prefix import bitlen, prefix_scan
from ..registry import query
from ..session import fan_out_scan
from ..sources.loaders import load_table
from .dedup import CANONICAL_SQL, _shingles, canonical_text
from .sampling import SPLIT_CUT, hash_split

STOPWORDS = ["the", "a", "of", "and", "in", "to", "is"]

#: BPE-ish token regex: alpha runs, digit runs, or single non-space
#: symbols -- a cheap stand-in for subword tokenization.
TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _tokens(col: Column) -> Column:
    return F.split(canonical_text(col), " ")


_TOKENS_SQL = f"string_split({CANONICAL_SQL}, ' ')"


# -- token counting: whitespace + regex tokenizations side by side.
@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len({_TOKENS_SQL}) AS ws_tokens,
           len(regexp_extract_all({CANONICAL_SQL}, '{TOKEN_RE}'))
               AS re_tokens,
           length(text) AS char_len,
           ROUND(CAST(length({CANONICAL_SQL}) AS DOUBLE)
                 / len({_TOKENS_SQL}), 6) AS avg_token_span
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    canon = canonical_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(canon, F.lit(TOKEN_RE), 0))
        .cast("long")
        .alias("re_tokens"),
        F.length("text").cast("long").alias("char_len"),
        F.round(
            F.length(canon).cast("double") / F.size(toks), 6
        ).alias("avg_token_span"),
    )


# -- quality scoring: length/stopword/alpha ratios -> composite score
#    and keep/drop bucket (the C4-style heuristic filter family).
# NOTE on cross-engine doubles: both engines compute these ratio
# chains over identical integer inputs in identical order, so the raw
# doubles are bit-identical; display truncation uses floor(x*1e6)/1e6,
# which is deterministic on identical doubles -- unlike ROUND, whose
# tie-handling differs between Spark (exact-decimal HALF_UP) and
# DuckDB (float-multiply) near x.xxxxxx5 boundaries.
_QUALITY_PARTS_SQL = f"""
    len({_TOKENS_SQL}) AS n_tokens,
    CAST(len(list_filter({_TOKENS_SQL},
        t -> list_contains({STOPWORDS!r}, t))) AS DOUBLE)
        / len({_TOKENS_SQL}) AS stopword_ratio,
    CAST(len(regexp_extract_all(text, '[a-zA-Z]')) AS DOUBLE)
        / length(text) AS alpha_ratio
"""


@query(
    "text_quality_scores",
    oracle=f"""
    WITH parts AS (
        SELECT doc_id, {_QUALITY_PARTS_SQL} FROM documents
    )
    SELECT doc_id, n_tokens, stopword_ratio, alpha_ratio,
           FLOOR((LEAST(n_tokens / 50.0, 1.0) * 0.4
                  + stopword_ratio * 0.3
                  + alpha_ratio * 0.3) * 1000000) / 1000000
               AS quality_score,
           CASE WHEN LEAST(n_tokens / 50.0, 1.0) * 0.4
                     + stopword_ratio * 0.3
                     + alpha_ratio * 0.3 >= 0.5
                THEN 'keep' ELSE 'drop' END AS quality_bucket
    FROM parts
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
        .cast("double")
        / n_tokens
    )
    alpha_ratio = (
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit("[a-zA-Z]"), 0)
        ).cast("double")
        / F.length("text")
    )
    parts = docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        alpha_ratio.alias("alpha_ratio"),
    )
    raw_score = (
        F.least(F.col("n_tokens") / 50.0, F.lit(1.0)) * 0.4
        + F.col("stopword_ratio") * 0.3
        + F.col("alpha_ratio") * 0.3
    )
    return parts.select(
        "doc_id",
        "n_tokens",
        "stopword_ratio",
        "alpha_ratio",
        (F.floor(raw_score * 1000000) / 1000000).alias("quality_score"),
        F.when(raw_score >= 0.5, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("quality_bucket"),
    )


# -- language-ID heuristic: marker-token profile votes, argmax with a
#    deterministic tie order.  (The synthetic corpus shares one
#    vocabulary, so accuracy vs the lang column is not the point --
#    the operator shape is.)
_PROFILES = {
    "en": ["the", "a", "of"],
    "de": ["der", "die", "das"],
    "fr": ["le", "la", "et"],
}


def _profile_sql() -> str:
    scores = ", ".join(
        f"len(list_filter({_TOKENS_SQL}, t -> list_contains("
        f"{markers!r}, t))) AS score_{lang}"
        for lang, markers in _PROFILES.items()
    )
    return scores


@query(
    "text_langid_heuristic",
    oracle=f"""
    WITH scores AS (SELECT doc_id, lang, {_profile_sql()} FROM documents)
    SELECT doc_id, lang AS actual_lang,
           CAST(score_en AS BIGINT) AS score_en,
           CAST(score_de AS BIGINT) AS score_de,
           CAST(score_fr AS BIGINT) AS score_fr,
           CASE
               WHEN score_en >= score_de AND score_en >= score_fr THEN 'en'
               WHEN score_de >= score_fr THEN 'de'
               ELSE 'fr'
           END AS predicted_lang
    FROM scores
    """,
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    score_cols = {}
    for lang, markers in _PROFILES.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        score_cols[lang] = F.size(
            F.filter(toks, lambda t: F.array_contains(marker_arr, t))
        ).cast("long")
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        *[c.alias(f"score_{lang}") for lang, c in score_cols.items()],
    )
    return scored.withColumn(
        "predicted_lang",
        F.when(
            (F.col("score_en") >= F.col("score_de"))
            & (F.col("score_en") >= F.col("score_fr")),
            F.lit("en"),
        )
        .when(F.col("score_de") >= F.col("score_fr"), F.lit("de"))
        .otherwise(F.lit("fr")),
    )


# -- document fingerprinting: canonical md5 + a 16-bit locality bucket
#    (prefix of the digest) for sharded dedup lookups.
@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5({CANONICAL_SQL}) AS fingerprint,
           substring(md5({CANONICAL_SQL}), 1, 4) AS shard_bucket
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(canonical_text(F.col("text")))
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 4).alias("shard_bucket"),
    )


# -- corpus word frequency (the classic wordcount, top terms).
@query(
    "text_word_frequency",
    oracle=f"""
    SELECT tok, COUNT(*) AS freq
    FROM (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents)
    GROUP BY tok
    ORDER BY freq DESC, tok ASC
    LIMIT 20
    """,
)
def text_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(20)
    )


# -- regex surface (engine surface; SURVEY par.2.8 notes the reference
#    has no regex -- Spark exposes it natively): first-token extract,
#    digit-run count, whitespace collapse.  DuckDB needs the 'g'
#    option to match Spark's replace-all regexp_replace semantics.
@query(
    "text_regex_functions",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '^([a-z]+)', 1) AS first_word,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                AS INT) AS n_digit_chars,
           CAST(length(regexp_replace(text, '\\s+', ' ', 'g'))
                AS INT) AS n_chars_collapsed
    FROM documents
    """,
)
def text_regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract(F.col("text"), r"^([a-z]+)", 1).alias("first_word"),
        F.length(F.regexp_replace(F.col("text"), r"[^0-9]", "")).cast(
            "int"
        ).alias("n_digit_chars"),
        F.length(F.regexp_replace(F.col("text"), r"\s+", " ")).cast(
            "int"
        ).alias("n_chars_collapsed"),
    )


def quality_raw_score(text_col: Column) -> Column:
    """The composite quality heuristic as a reusable expression (same
    math as text_quality_scores)."""
    toks = _tokens(text_col)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
        .cast("double")
        / n_tokens
    )
    alpha_ratio = (
        F.size(F.regexp_extract_all(text_col, F.lit("[a-zA-Z]"), 0))
        .cast("double")
        / F.length(text_col)
    )
    return (
        F.least(n_tokens / 50.0, F.lit(1.0)) * 0.4
        + stop_ratio * 0.3
        + alpha_ratio * 0.3
    )


_QUALITY_SCORE_SQL = f"""(
    LEAST(len({_TOKENS_SQL}) / 50.0, 1.0) * 0.4
    + CAST(len(list_filter({_TOKENS_SQL},
          t -> list_contains({STOPWORDS!r}, t))) AS DOUBLE)
      / len({_TOKENS_SQL}) * 0.3
    + CAST(len(regexp_extract_all(text, '[a-zA-Z]')) AS DOUBLE)
      / length(text) * 0.3
)"""


# -- rolling-hash / winnowing fingerprint (north-star "document
#    fingerprinting (rolling hash)"): hash every 8-char sliding
#    window of the canonical text, keep the minimum -- robust to
#    edits outside the minimizing window, unlike the whole-doc md5 of
#    text_fingerprint.  All JVM: sequence -> transform -> array_min.
WINNOW_K = 8


@query(
    "text_winnowing_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_min(list_transform(
               generate_series(1, length({CANONICAL_SQL}) - {WINNOW_K} + 1),
               i -> md5(substr({CANONICAL_SQL}, i, {WINNOW_K}))
           )) AS winnow_fp,
           length({CANONICAL_SQL}) - {WINNOW_K} + 1 AS n_windows
    FROM documents
    """,
)
def text_winnowing_fingerprint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # canon is materialized in a CHILD projection and the lambda
    # references the attribute: referencing the canonicalization
    # expression itself inside the per-window lambda re-ran the
    # whole regex pipeline once PER WINDOW POSITION -- O(len^2) per
    # document, the exact higher-order-lambda trap SCALE.md records
    # for shingles (r13 sweep measurement: 19.8 s at sf0.1 vs ~0.5 s
    # for sibling text cells; ~0.6 s after this fix).  CollapseProject
    # keeps the child projection because canon is non-cheap and
    # referenced more than once.
    docs = fan_out_scan(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
    )
    c = docs.select(
        "doc_id", canonical_text(F.col("text")).alias("canon")
    )
    canon = F.col("canon")
    idx = F.sequence(F.lit(1), F.length(canon) - WINNOW_K + 1)
    window_hashes = F.transform(
        idx, lambda i: F.md5(canon.substr(i, F.lit(WINNOW_K)))
    )
    return c.select(
        "doc_id",
        F.array_min(window_hashes).alias("winnow_fp"),
        (F.length(canon) - WINNOW_K + 1).cast("long").alias("n_windows"),
    )


# -- TF-IDF top terms per document (engine surface): the classic
#    relevance score as three aggregations and a window -- term
#    frequency per (doc, term), document frequency per term, corpus
#    size as a broadcast scalar.  At 100 TB each piece is one
#    shuffle on its natural key and the tiny (n_docs) side is a
#    broadcast; no per-doc vocabulary ever sits on the driver.
TFIDF_TOP_K = 3


@query(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf
        FROM toks GROUP BY doc_id, tok
    ),
    dfreq AS (
        SELECT tok, COUNT(DISTINCT doc_id) AS dfc FROM toks GROUP BY tok
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, tok, tfidf, rk FROM (
        SELECT t.doc_id, t.tok,
               ROUND(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.dfc), 6)
                   AS tfidf,
               CAST(row_number() OVER (
                   PARTITION BY t.doc_id
                   ORDER BY ROUND(t.tf * ln(CAST(n.n_docs AS DOUBLE)
                                            / d.dfc), 6) DESC, t.tok
               ) AS INT) AS rk
        FROM tf t JOIN dfreq d USING (tok) CROSS JOIN n
    ) WHERE rk <= {TFIDF_TOP_K}
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("tok").agg(
        F.count_distinct("doc_id").alias("dfc")
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    tfidf = F.round(
        F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("dfc")),
        6,
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("tok")
    )
    return (
        tf.join(dfreq, on="tok")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "tok", tfidf.alias("tfidf"))
        .select(
            "doc_id",
            "tok",
            "tfidf",
            F.row_number().over(w).cast("int").alias("rk"),
        )
        .filter(F.col("rk") <= TFIDF_TOP_K)
    )


# -- train/holdout contamination check (decontamination, north-star
#    LLM-pipeline op): does a holdout document share any word 5-gram
#    with the training split?  The shape behind benchmark-leakage
#    scrubbing.  All JVM-side: shingle arrays via higher-order
#    functions, one distinct over train shingles, one semi-join to
#    flag.  At 100 TB the train-shingle set is the big side -- hash-
#    partitioned on the shingle, with the holdout side shuffled to it
#    (both sides key on the gram; no broadcast assumed).  The md5
#    split is content-derived, so membership itself is oracle-checked.
_SHINGLE5_SQL = """
    list_distinct(list_transform(
        generate_series(1, len(toks) - 4),
        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
             || ' ' || toks[i+3] || ' ' || toks[i+4]))
"""


@query(
    "text_contamination_check",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                         < '{SPLIT_CUT}'
                    THEN 'train' ELSE 'holdout' END AS split,
               string_split({CANONICAL_SQL}, ' ') AS toks
        FROM documents
    ),
    d AS (
        SELECT doc_id, split, {_SHINGLE5_SQL} AS grams FROM t
    ),
    hold AS (SELECT doc_id, grams FROM d WHERE split = 'holdout'),
    train_g AS (
        SELECT DISTINCT unnest(grams) AS gram FROM d
        WHERE split = 'train'
    ),
    hold_g AS (SELECT doc_id, unnest(grams) AS gram FROM hold),
    flags AS (
        SELECT DISTINCT h.doc_id
        FROM hold_g h JOIN train_g tg USING (gram)
    ),
    stats AS (
        SELECT doc_id, COUNT(gram) AS n_grams
        FROM hold_g GROUP BY doc_id
    )
    SELECT h.doc_id,
           COALESCE(s.n_grams, 0) AS n_grams,
           (f.doc_id IS NOT NULL) AS contaminated
    FROM hold h
    LEFT JOIN stats s ON s.doc_id = h.doc_id
    LEFT JOIN flags f ON f.doc_id = h.doc_id
    """,
)
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = hash_split(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    # The gram stream fans out to THREE consumers (train set, holdout
    # stats, holdout flags).  Cache the PRE-explode array form: the
    # expensive regex tokenize + shingle assembly runs once, while the
    # cached footprint stays one row per document (the exploded table
    # would be ~|grams| rows and costs more to materialize than to
    # recompute).  At 100 TB this persist goes to disk/checkpoint.
    gram_arrays = docs.select(
        "doc_id", "split", _shingles(F.col("text"), 5).alias("grams")
    ).cache()
    grams = gram_arrays.select(
        "doc_id",
        "split",
        F.explode_outer("grams").alias("gram"),
    )
    train_g = (
        grams.filter(
            (F.col("split") == "train") & F.col("gram").isNotNull()
        )
        .select("gram")
        .distinct()
    )
    hold = grams.filter(F.col("split") == "holdout")
    stats = hold.groupBy("doc_id").agg(
        F.count("gram").alias("n_grams")
    )
    flags = (
        hold.join(train_g, "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return stats.join(flags, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
    )


def _ratio6(x):
    """Cross-engine-stable ratio: FLOOR(x*1e6)/1e6 on an identical
    double on both sides (Spark ROUND is exact-decimal HALF_UP, DuckDB
    rounds via float multiply -- floor of the same double never
    disagrees)."""
    return F.floor(x * F.lit(1000000.0)) / F.lit(1000000.0)


# -- Gopher-style repetition stats (quality filtering for LLM corpora:
#    Rae et al. 2021 "Scaling Language Models", repetition filters):
#    duplicate-word fraction and most-frequent-token share per doc.
#    One explode + two partial-aggregating groupBys, keyed by doc_id --
#    embarrassingly parallel, no window over raw tokens.  At 100 TB
#    the (doc_id, tok) aggregate is map-side-combined before the
#    doc_id shuffle.
@query(
    "text_repetition_stats",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    ),
    c AS (
        SELECT doc_id, tok, COUNT(*) AS cnt
        FROM t GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_distinct,
           MAX(cnt) AS top_token_cnt,
           FLOOR((1.0 - COUNT(*) / CAST(SUM(cnt) AS DOUBLE))
                 * 1000000.0) / 1000000.0 AS dup_word_frac,
           FLOOR((MAX(cnt) / CAST(SUM(cnt) AS DOUBLE))
                 * 1000000.0) / 1000000.0 AS top_token_frac
    FROM c GROUP BY doc_id
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    )
    counts = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    agg = counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("cnt").alias("top_token_cnt"),
    )
    n = F.col("n_tokens").cast("double")
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "top_token_cnt",
        _ratio6(
            F.lit(1.0) - F.col("n_distinct") / n
        ).alias("dup_word_frac"),
        _ratio6(F.col("top_token_cnt") / n).alias("top_token_frac"),
    )


#: PII patterns kept to the regex subset Java and RE2 interpret
#: identically (no backrefs, no lookaround).
_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "\\+1-555-[0-9]{4}"


# -- PII redaction (curation compliance pass).  The fixtures are
#    synthetic word-soup with no real PII, so the query plants
#    deterministic doc_id-derived emails/phones into the text on BOTH
#    engines, then detects and redacts them -- the regex semantics are
#    what the oracle certifies.  Pure regexp_replace/extract_all:
#    stays in whole-stage codegen, scales linearly with bytes scanned.
@query(
    "text_pii_redaction",
    oracle=f"""
    WITH m AS (
        SELECT doc_id,
               substr(text, 1, 40) || ' contact user'
               || CAST(doc_id AS VARCHAR) || '@mail.example.com or +1-555-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS msg
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(msg, '{_EMAIL_RE}')) AS INT)
               AS n_emails,
           CAST(len(regexp_extract_all(msg, '{_PHONE_RE}')) AS INT)
               AS n_phones,
           regexp_replace(
               regexp_replace(msg, '{_EMAIL_RE}', '[EMAIL]', 'g'),
               '{_PHONE_RE}', '[PHONE]', 'g') AS redacted
    FROM m
    """,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    msg = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    planted = docs.select("doc_id", msg.alias("msg"))
    return planted.select(
        "doc_id",
        F.size(
            F.regexp_extract_all("msg", F.lit(_EMAIL_RE), F.lit(0))
        ).alias("n_emails"),
        F.size(
            F.regexp_extract_all("msg", F.lit(_PHONE_RE), F.lit(0))
        ).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("msg", _EMAIL_RE, "[EMAIL]"),
            _PHONE_RE,
            "[PHONE]",
        ).alias("redacted"),
    )


CORPUS_NGRAM_TOP_K = 20


# -- corpus-level top-k repeated trigrams (inter-document repetition
#    audit -- the cross-doc complement of the per-doc stats above).
#    Non-distinct trigrams are counted with map-side combine, then the
#    top-k comes from sort+limit (TakeOrderedAndProject: per-partition
#    partial top-k merged on the driver) -- NOT a global window over
#    the full vocabulary, which at 100 TB would sort billions of
#    distinct grams for 20 rows.  The rank window runs over the
#    already-limited k rows.
@query(
    "text_corpus_top_ngrams",
    oracle=f"""
    WITH t AS (
        SELECT {_TOKENS_SQL} AS toks FROM documents
    ),
    g AS (
        SELECT unnest(list_transform(
            generate_series(1, len(toks) - 2),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        )) AS gram FROM t
    ),
    c AS (SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, gram) AS INT)
               AS rk,
           gram, cnt
    FROM c
    ORDER BY cnt DESC, gram
    LIMIT {CORPUS_NGRAM_TOP_K}
    """,
)
def text_corpus_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(
            _shingles(F.col("text"), 3, distinct=False)
        ).alias("gram")
    )
    top = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(CORPUS_NGRAM_TOP_K)
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("gram"))
    return top.withColumn("rk", F.row_number().over(w)).select(
        "rk", "gram", "cnt"
    )


CHUNK_TOKENS = 50
CHUNK_STRIDE = 40


# -- context-window chunking: every doc sliced into CHUNK_TOKENS-token
#    windows advancing by CHUNK_STRIDE (overlap = CHUNK - STRIDE),
#    partial tail kept -- the standard long-document prep for
#    fixed-context training/embedding.  Chunk starts explode BEFORE the
#    slice so the token array is a plain row column when sliced (never
#    an expression captured in a higher-order lambda -- see SCALE.md on
#    per-element re-evaluation).  Embarrassingly parallel per doc.
@query(
    "text_chunk_windows",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ),
    s AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks), {CHUNK_STRIDE}))
                   AS start
        FROM t
    )
    SELECT doc_id,
           CAST((start - 1) / {CHUNK_STRIDE} AS INT) AS chunk_idx,
           CAST(start AS INT) AS start,
           CAST(len(toks[start : start + {CHUNK_TOKENS} - 1]) AS INT)
               AS n_tokens,
           md5(array_to_string(
               toks[start : start + {CHUNK_TOKENS} - 1], ' '
           )) AS chunk_hash
    FROM s
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )
    starts = docs.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(
                F.lit(1), F.size("toks"), F.lit(CHUNK_STRIDE)
            )
        ).alias("start"),
    )
    chunk = F.slice("toks", F.col("start"), F.lit(CHUNK_TOKENS))
    return starts.select(
        "doc_id",
        ((F.col("start") - 1) / CHUNK_STRIDE).cast("int").alias(
            "chunk_idx"
        ),
        F.col("start").cast("int").alias("start"),
        F.size(chunk).alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


PACK_BUDGET = 2048


def pack_nextfit(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, offset, pack_id) for rows with columns
    (doc_id, h, n_tokens) in (h, doc_id) order: a prefix_scan on
    md5-prefix buckets, whose exclusive offset is the running token
    sum minus the row's own tokens."""
    cum = prefix_scan(
        docs,
        F.substring("h", 1, 1),
        ["h", "doc_id"],
        [("n_tokens", "_cum")],
    )
    offset = F.col("_cum") - F.col("n_tokens")
    return cum.select(
        "doc_id",
        "n_tokens",
        offset.alias("offset"),
        F.floor(offset / PACK_BUDGET).cast("long").alias("pack_id"),
    )


# -- next-fit document packing: docs concatenated in a deterministic
#    content-hash order and cut into PACK_BUDGET-token packs (chunked
#    concatenation -- how pretraining actually fills context windows).
#    The cumulative offset is computed DISTRIBUTED: md5-prefix buckets
#    partition the stream, each bucket prefix-sums locally, and the
#    16-row bucket-total table turns local sums into global offsets --
#    the classic two-pass prefix sum, no single-partition window over
#    the corpus.  The oracle states the same thing as one global
#    window, which is equivalent because bucket order is a prefix of
#    the (md5, doc_id) order.
@query(
    "pack_documents_nextfit",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               md5(CAST(doc_id AS VARCHAR)) AS h,
               CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id, n_tokens,
           -- CAST: DuckDB SUM(BIGINT) OVER yields HUGEINT, which the
           -- driver's pandas canonicalizer coerces to float64 -- cast
           -- back to BIGINT so both engines hash identical integers.
           CAST(SUM(n_tokens) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tokens AS BIGINT) AS offset,
           CAST(FLOOR((SUM(n_tokens) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tokens) / {PACK_BUDGET}) AS BIGINT) AS pack_id
    FROM t
    """,
)
def pack_documents_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return pack_nextfit(docs)


# -- inverted index build: term -> document frequency, total
#    occurrences, and a sorted postings list.  Postings are encoded as
#    'doc:pos' strings (not structs) so both engines normalize
#    identically.  The build is explode + two grouped aggregates --
#    at 100 TB the postings list per term is the scaling concern:
#    production shards a hot term's postings by doc-range (the
#    groupBy key becomes (term, doc_id >> B)), which this plan's
#    shape admits without restructuring.
@query(
    "text_inverted_index",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, unnest({_TOKENS_SQL}) AS term,
               unnest(generate_series(1, len({_TOKENS_SQL}))) AS pos
        FROM documents
    )
    SELECT term,
           COUNT(DISTINCT doc_id) AS df,
           COUNT(*) AS tf_total,
           array_to_string(list_sort(list(doc_id || ':' || pos)), ',')
               AS postings
    FROM p GROUP BY term
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )
    p = docs.select(
        "doc_id", F.posexplode("toks").alias("pos0", "term")
    ).select(
        "doc_id",
        "term",
        (F.col("pos0") + 1).alias("pos"),
    )
    # postings emitted as one comma-joined string (not array<string>):
    # same information, but hashable by the driver's pandas
    # canonicalizer, which cannot factorize list cells.
    return p.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count("*").alias("tf_total"),
        F.array_join(
            F.sort_array(
                F.collect_list(F.concat_ws(":", "doc_id", "pos"))
            ),
            ",",
        ).alias("postings"),
    )


PHRASE = ("data", "spark")


# -- positional phrase search: adjacency self-join over the positional
#    postings (pos_b = pos_a + 1), the query-side counterpart of the
#    inverted index.  Both sides filter to their term BEFORE the join,
#    so the join input is two postings lists, not the corpus; the join
#    key (doc_id) co-locates by document.
@query(
    "text_phrase_search",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, unnest({_TOKENS_SQL}) AS term,
               unnest(generate_series(1, len({_TOKENS_SQL}))) AS pos
        FROM documents
    )
    SELECT a.doc_id, COUNT(*) AS n_hits,
           CAST(MIN(a.pos) AS INT) AS first_pos
    FROM (SELECT doc_id, pos FROM p WHERE term = '{PHRASE[0]}') a
    JOIN (SELECT doc_id, pos FROM p WHERE term = '{PHRASE[1]}') b
      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    GROUP BY a.doc_id
    """,
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )
    p = docs.select(
        "doc_id", F.posexplode("toks").alias("pos0", "term")
    ).select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))
    a = p.filter(F.col("term") == PHRASE[0]).select(
        "doc_id", F.col("pos").alias("pos_a")
    )
    b = p.filter(F.col("term") == PHRASE[1]).select(
        "doc_id", F.col("pos").alias("pos_b")
    )
    return (
        a.join(
            b,
            (a.doc_id == b.doc_id) & (b.pos_b == a.pos_a + 1),
        )
        .drop(b.doc_id)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.min("pos_a").cast("int").alias("first_pos"),
        )
    )


BM25_TERMS = ("data", "spark", "table")
BM25_K1 = 1.2
BM25_B = 0.75


# -- BM25 ranking for a fixed query (the retrieval scorer on top of
#    the inverted index; TF-IDF's production successor).  All inputs
#    are integer counts widened to double in identical order, idf uses
#    ln (consistent cross-engine, as text_tfidf_top_terms established),
#    and the final score adds the per-term columns in FIXED written
#    order -- never a SUM aggregate over term rows, whose partition
#    order Spark does not define.  Candidate docs come from a semi-
#    filterable explode (only query-term rows survive the first
#    filter), so the join inputs are postings-sized, not corpus-sized.
@query(
    "text_bm25_scores",
    oracle=f"""
    WITH stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               AVG(CAST(len({_TOKENS_SQL}) AS BIGINT)) AS avgdl
        FROM documents
    ),
    dl AS (
        SELECT doc_id, CAST(len({_TOKENS_SQL}) AS BIGINT) AS dl
        FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS tok
              FROM documents)
        WHERE tok IN {BM25_TERMS!r}
        GROUP BY doc_id, tok
    ),
    df AS (
        SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df
        FROM tf GROUP BY tok
    ),
    s AS (
        SELECT tf.doc_id, tf.tok,
               ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * ({BM25_K1!r} + 1.0)
               / (tf.tf + {BM25_K1!r} * (1.0 - {BM25_B!r}
                  + {BM25_B!r} * dl.dl / stats.avgdl)) AS score
        FROM tf
        JOIN df ON df.tok = tf.tok
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
    ),
    wide AS (
        SELECT doc_id,
               MAX(CASE WHEN tok = '{BM25_TERMS[0]}' THEN score END)
                   AS s0,
               MAX(CASE WHEN tok = '{BM25_TERMS[1]}' THEN score END)
                   AS s1,
               MAX(CASE WHEN tok = '{BM25_TERMS[2]}' THEN score END)
                   AS s2
        FROM s GROUP BY doc_id
    )
    SELECT doc_id,
           FLOOR((COALESCE(s0, 0.0) + COALESCE(s1, 0.0)
                  + COALESCE(s2, 0.0)) * 1000000) / 1000000 AS bm25,
           CAST((s0 IS NOT NULL) AS INT) + CAST((s1 IS NOT NULL) AS INT)
               + CAST((s2 IS NOT NULL) AS INT) AS n_terms
    FROM wide
    """,
)
def text_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )
    stats = docs.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.size("toks").cast("long")).alias("avgdl"),
    )
    dl = docs.select(
        "doc_id", F.size("toks").cast("long").alias("dl")
    )
    tf = (
        docs.select("doc_id", F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df = tf.groupBy("tok").agg(
        F.count("*").cast("double").alias("df")
    )
    s = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "tok",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * F.col("tf")
                * (BM25_K1 + 1.0)
                / (
                    F.col("tf")
                    + BM25_K1
                    * (
                        1.0
                        - BM25_B
                        + BM25_B * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("score"),
        )
    )
    wide = s.groupBy("doc_id").agg(
        *[
            F.max(
                F.when(F.col("tok") == t, F.col("score"))
            ).alias(f"s{i}")
            for i, t in enumerate(BM25_TERMS)
        ]
    )
    total = (
        F.coalesce("s0", F.lit(0.0))
        + F.coalesce("s1", F.lit(0.0))
        + F.coalesce("s2", F.lit(0.0))
    )
    n_terms = (
        F.col("s0").isNotNull().cast("int")
        + F.col("s1").isNotNull().cast("int")
        + F.col("s2").isNotNull().cast("int")
    )
    return wide.select(
        "doc_id",
        (F.floor(total * 1000000) / 1000000).alias("bm25"),
        n_terms.alias("n_terms"),
    )


# ---------------------------------------------------------------------------
# Unigram LM surprisal (perplexity-proxy quality scoring)
# ---------------------------------------------------------------------------

# -- corpus-LM quality scoring: train a unigram LM on the corpus
#    itself and score each document by its mean token surprisal
#    -ln p(tok) -- the cheap stand-in for the KenLM perplexity filter
#    used in web-corpus curation (unusually high surprisal = garbled /
#    non-language text; unusually low = boilerplate).  Plan: one
#    explode, a vocab aggregate (Zipf-bounded: |vocab| << |tokens|),
#    a token->vocab equi-join keyed on the token (AQE broadcasts the
#    vocab side when it fits), and a per-doc aggregate.  The mean is
#    rounded to 6 decimals: double summation order differs between
#    engines only in the last ULPs, far below the rounding grain.
@query(
    "text_unigram_surprisal",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    ),
    vocab AS (
        SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
    ),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM vocab)
    SELECT k.doc_id,
           COUNT(*) AS n_tokens,
           ROUND(AVG(-ln(v.c / tot.t)), 6) AS avg_surprisal
    FROM tok k JOIN vocab v USING (tok) CROSS JOIN tot
    GROUP BY k.doc_id
    """,
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    )
    vocab = tok.groupBy("tok").agg(F.count("*").alias("c"))
    tot = vocab.agg(F.sum("c").cast("double").alias("t"))
    scored = (
        tok.join(vocab, "tok")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", (-F.log(F.col("c") / F.col("t"))).alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("s"), 6).alias("avg_surprisal"),
    )


# -- bigram conditional surprisal: the unigram filter's upgrade --
#    score each document by mean -ln p(tok | prev) under a bigram LM
#    trained on the corpus (real perplexity filters are n-gram LMs;
#    the conditional catches word-salad text that unigram frequency
#    misses).  Plan: per-document lag window (partitioned by doc --
#    scale-free), two Zipf-bounded count aggregates, then equi-joins
#    on (prev, tok) / prev.  Mean rounded to 6 decimals per the
#    summation-order convention.
@query(
    "text_bigram_surprisal",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKENS_SQL}) AS tok,
               unnest(generate_series(1, len({_TOKENS_SQL}))) AS pos
        FROM documents
    ),
    big AS (
        SELECT doc_id,
               lag(tok) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS prev,
               tok
        FROM tok
        QUALIFY prev IS NOT NULL
    ),
    c2 AS (
        SELECT prev, tok, COUNT(*) AS c2
        FROM big GROUP BY prev, tok
    ),
    c1 AS (
        SELECT prev, CAST(SUM(c2) AS DOUBLE) AS c1
        FROM c2 GROUP BY prev
    )
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(-ln(c2.c2 / c1.c1)), 6) AS avg_bigram_surprisal
    FROM big b
    JOIN c2 USING (prev, tok)
    JOIN c1 USING (prev)
    GROUP BY b.doc_id
    """,
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        tok.withColumn("prev", F.lag("tok").over(w))
        .filter(F.col("prev").isNotNull())
        .select("doc_id", "prev", "tok")
    )
    c2 = big.groupBy("prev", "tok").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("prev").agg(
        F.sum("c2").cast("double").alias("c1")
    )
    probs = c2.join(c1, "prev")
    return (
        big.join(probs, ["prev", "tok"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(-F.log(F.col("c2") / F.col("c1"))), 6
            ).alias("avg_bigram_surprisal"),
        )
    )


# -- language-ID confusion matrix: predicted-vs-actual counts for the
#    marker-based classifier -- the evaluation row every heuristic
#    filter needs before it gates a corpus.  One grouped count over
#    the scored projection.
@query(
    "text_langid_confusion",
    oracle=f"""
    WITH scores AS (SELECT doc_id, lang, {_profile_sql()} FROM documents)
    SELECT lang AS actual_lang,
           CASE
               WHEN score_en >= score_de AND score_en >= score_fr THEN 'en'
               WHEN score_de >= score_fr THEN 'de'
               ELSE 'fr'
           END AS predicted_lang,
           COUNT(*) AS n
    FROM scores
    GROUP BY 1, 2
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = text_langid_heuristic(spark, sf_dir)
    return scored.groupBy(
        "actual_lang", "predicted_lang"
    ).agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# Blocked fuzzy self-join (edit distance)
# ---------------------------------------------------------------------------
# Entity-resolution's fuzzy join: find near-identical part names --
# same first token, Levenshtein distance 1..3 -- and report each
# distinct fuzzy name pair with how many (partkey_a < partkey_b)
# part pairs realize it.  Distance 0 (exact duplicates) is dedup_
# exact's job and is excluded.  Both engines ship the classic
# Levenshtein (Spark `levenshtein`, DuckDB `levenshtein`), so the
# distances are exact integers cross-engine.
#
# Scale shape: candidate generation is BLOCKED -- the equi-join key
# is the first name token, and the length-band predicate
# |len(a)-len(b)| <= 3 (a NECESSARY condition of distance <= 3, so
# pure pruning) cuts within-block pairs before the distance runs.
# Comparing distinct NAMES (not rows) first keeps the quadratic step
# on the name domain, which grows far slower than the table; the
# realized pair count per name pair is a product of two exact name
# frequencies, never an expanded join.  At 100 TB the block key
# gains a second component (e.g. a length bucket or q-gram prefix)
# exactly like the minhash banding in dedup_minhash_lsh.
@query(
    "text_fuzzy_join_levenshtein",
    oracle="""
    WITH names AS (
        SELECT p_name, CAST(COUNT(*) AS BIGINT) AS freq
        FROM part GROUP BY p_name
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT)
               AS edit_dist,
           a.freq * b.freq AS n_part_pairs
    FROM names a JOIN names b
      ON split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
     AND a.p_name < b.p_name
     AND abs(length(a.p_name) - length(b.p_name)) <= 3
    WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
    """,
)
def text_fuzzy_join_levenshtein(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(
        F.count("*").cast("long").alias("freq")
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("freq").alias("freq_a"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias(
            "blk"
        ),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("freq").alias("freq_b"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias(
            "blk"
        ),
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(b, "blk")
        .filter(
            (F.col("name_a") < F.col("name_b"))
            & (
                F.abs(
                    F.length("name_a") - F.length("name_b")
                )
                <= 3
            )
        )
        .filter(dist.between(1, 3))
        .select(
            "name_a",
            "name_b",
            dist.cast("long").alias("edit_dist"),
            (F.col("freq_a") * F.col("freq_b")).alias("n_part_pairs"),
        )
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction
# ---------------------------------------------------------------------------
# Rapid Automatic Keyword Extraction (Rose et al. 2010): candidate
# phrases are maximal stop-word-free token runs (capped at 4 tokens
# -- the standard implementation bound, which here also bounds the
# score arithmetic); each word scores degree/frequency over the
# candidate-phrase corpus (degree = summed length of phrases it
# appears in), and a phrase scores the sum of its member-word scores.
# Top-15 phrases by (score, occurrences, phrase).
#
# Exactness: degree and frequency are exact integer counts; each
# word's score is ONE double division rounded to a DECIMAL(30,6), so
# the phrase score is an exact decimal sum (order-independent,
# map-side combinable -- the dec_sum discipline) cast to double once.
# Scale: tokenization explodes once; every aggregate is a grouped
# count/sum; the only ordered structure is per-(doc, segment) phrase
# reassembly (bounded at 4 tokens) and the final top-15 TakeOrdered.
RAKE_STOPWORDS = ("a", "the")
RAKE_MAX_PHRASE = 4
RAKE_TOP_K = 15


@query(
    "text_keyword_rake",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, pos, tok,
               SUM(CASE WHEN tok IN {RAKE_STOPWORDS} THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS seg
        FROM (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   unnest(generate_series(
                       1, len(string_split(text, ' ')))) AS pos
            FROM documents
        )
    ),
    members AS (
        SELECT doc_id, seg, pos, tok
        FROM toks WHERE tok NOT IN {RAKE_STOPWORDS}
    ),
    phr AS (
        SELECT doc_id, seg, CAST(COUNT(*) AS BIGINT) AS plen
        FROM members GROUP BY doc_id, seg
        HAVING COUNT(*) BETWEEN 1 AND {RAKE_MAX_PHRASE}
    ),
    occ AS (
        SELECT m.doc_id, m.seg, m.pos, m.tok, p.plen
        FROM members m JOIN phr p USING (doc_id, seg)
    ),
    wscore AS (
        SELECT tok,
               CAST(ROUND(CAST(SUM(plen) AS DOUBLE) / COUNT(*), 6)
                    AS DECIMAL(30,6)) AS wscore
        FROM occ GROUP BY tok
    ),
    scored AS (
        SELECT o.doc_id, o.seg,
               string_agg(o.tok, ' ' ORDER BY o.pos) AS phrase,
               SUM(w.wscore) AS s
        FROM occ o JOIN wscore w USING (tok)
        GROUP BY o.doc_id, o.seg
    )
    SELECT phrase,
           CAST(COUNT(*) AS BIGINT) AS n_occ,
           CAST(MAX(s) AS DOUBLE) AS rake_score
    FROM scored
    GROUP BY phrase
    ORDER BY rake_score DESC, n_occ DESC, phrase ASC
    LIMIT {RAKE_TOP_K}
    """,
)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    from pyspark.sql.window import Window

    seg = F.sum(
        F.when(F.col("tok").isin(*RAKE_STOPWORDS), 1).otherwise(0)
    ).over(
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    members = (
        toks.withColumn("seg", seg)
        .filter(~F.col("tok").isin(*RAKE_STOPWORDS))
        .select("doc_id", "seg", "pos", "tok")
        .cache()  # read by the phrase-length filter AND the occ join
    )
    phr = (
        members.groupBy("doc_id", "seg")
        .agg(F.count("*").cast("long").alias("plen"))
        .filter(F.col("plen").between(1, RAKE_MAX_PHRASE))
    )
    occ = members.join(phr, ["doc_id", "seg"]).cache()
    wscore = occ.groupBy("tok").agg(
        F.round(
            F.sum("plen").cast("double") / F.count("*"), 6
        )
        .cast("decimal(30,6)")
        .alias("wscore")
    )
    scored = (
        occ.join(F.broadcast(wscore), "tok")
        .groupBy("doc_id", "seg")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.sum("wscore").alias("s"),
        )
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.count("*").cast("long").alias("n_occ"),
            F.max("s").cast("double").alias("rake_score"),
        )
        .orderBy(
            F.desc("rake_score"), F.desc("n_occ"), F.asc("phrase")
        )
        .limit(RAKE_TOP_K)
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit
# ---------------------------------------------------------------------------
# Corpus-statistics health check: regress ln(frequency) on ln(rank)
# over the whole-corpus vocabulary; the slope is the (negative) Zipf
# exponent, and R^2 says how Zipfian the token distribution is --
# the quick screen for degenerate/synthetic corpora before training.
#
# Exactness: frequencies are exact counts; rank is a ROW_NUMBER over
# the BOUNDED vocabulary (count DESC, word ASC); ln() hits exact
# integers once per word and is rounded to 9 decimals, products of
# those identical doubles are rounded and quantized to DECIMAL(38,9),
# so every OLS moment is an exact decimal sum (the ml_ols closed-form
# discipline).  Scale: one token explode + one grouped count; all
# later stages run on the vocabulary domain.
@query(
    "text_zipf_fit",
    oracle="""
    WITH freq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
        FROM (
            SELECT unnest(string_split(text, ' ')) AS tok
            FROM documents
        ) GROUP BY tok
    ),
    ranked AS (
        SELECT tok, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS rnk
        FROM freq
    ),
    pts AS (
        SELECT CAST(ROUND(ln(CAST(rnk AS DOUBLE)), 9) AS DOUBLE) AS x,
               CAST(ROUND(ln(CAST(n AS DOUBLE)), 9) AS DOUBLE) AS y
        FROM ranked
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nv,
               CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(38,9)))
                    AS DOUBLE) AS sx,
               CAST(SUM(CAST(ROUND(y, 9) AS DECIMAL(38,9)))
                    AS DOUBLE) AS sy,
               CAST(SUM(CAST(ROUND(x * y, 9) AS DECIMAL(38,9)))
                    AS DOUBLE) AS sxy,
               CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(38,9)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(ROUND(y * y, 9) AS DECIMAL(38,9)))
                    AS DOUBLE) AS syy
        FROM pts
    )
    SELECT nv AS n_vocab,
           ROUND((nv * sxy - sx * sy) / (nv * sxx - sx * sx), 6)
               AS zipf_slope,
           ROUND((sy - (nv * sxy - sx * sy) / (nv * sxx - sx * sx)
                       * sx) / nv, 6) AS intercept,
           ROUND(POWER(nv * sxy - sx * sy, 2)
                 / ((nv * sxx - sx * sx) * (nv * syy - sy * sy)), 6)
               AS r2
    FROM mom
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("n"))
    )
    # the vocabulary grows with the corpus (Heaps' law), so the rank
    # axis of the fit is a genuine row-scale global rank: two-pass
    # prefix_scan over bit-length frequency buckets (r11; a bare
    # Window.orderBy here was one WindowExec task over the vocab)
    ranked = prefix_scan(
        freq,
        -bitlen(F.col("n")),
        [F.desc("n"), F.asc("tok")],
        [(F.lit(1), "rnk")],
    )
    x = F.round(F.log(F.col("rnk").cast("double")), 9)
    y = F.round(F.log(F.col("n").cast("double")), 9)
    pts = ranked.select(x.alias("x"), y.alias("y"))

    def dsum(expr, alias):
        return (
            F.sum(F.round(expr, 9).cast("decimal(38,9)"))
            .cast("double")
            .alias(alias)
        )

    mom = pts.agg(
        F.count("*").cast("long").alias("nv"),
        dsum(F.col("x"), "sx"),
        dsum(F.col("y"), "sy"),
        dsum(F.col("x") * F.col("y"), "sxy"),
        dsum(F.col("x") * F.col("x"), "sxx"),
        dsum(F.col("y") * F.col("y"), "syy"),
    )
    nv = F.col("nv")
    num = nv * F.col("sxy") - F.col("sx") * F.col("sy")
    den = nv * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    return mom.select(
        nv.alias("n_vocab"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / nv, 6
        ).alias("intercept"),
        F.round(
            F.pow(num, 2)
            / (den * (nv * F.col("syy") - F.col("sy") * F.col("sy"))),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Cohen's kappa of the langid heuristic vs the true label
# ---------------------------------------------------------------------------
# The chance-corrected scalar behind text_langid_confusion's matrix:
# kappa = (po - pe) / (1 - pe) where po is raw agreement and pe the
# agreement expected from the marginals alone.  The category set is
# the union of actual labels (en/de/fr/es/zh) and predicted labels
# (en/de/fr -- the heuristic's closed world), so pe only needs the
# three predicted classes' marginal products.  All diagonal and
# marginal counts are exact longs pivoted to ONE row (fixed-order
# expressions, no double aggregation), the kappa is one double
# expression -- bit-identical cross-engine.  100 TB shape: one
# grouped count over the scored scan + a 15-cell pivot.
_KAPPA_PRED_CLASSES = ("en", "de", "fr")


@query(
    "ml_cohens_kappa",
    oracle=f"""
    WITH scores AS (SELECT doc_id, lang, {_profile_sql()} FROM documents),
    pred AS (
        SELECT lang AS actual_lang,
               CASE
                   WHEN score_en >= score_de AND score_en >= score_fr
                       THEN 'en'
                   WHEN score_de >= score_fr THEN 'de'
                   ELSE 'fr'
               END AS predicted_lang
        FROM scores
    ),
    cells AS (
        SELECT actual_lang, predicted_lang,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2
    ),
    piv AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt,
               {", ".join(
                   f"COALESCE(CAST(SUM(CASE WHEN actual_lang = '{c}' "
                   f"AND predicted_lang = '{c}' THEN n END) AS BIGINT), 0)"
                   f" AS diag_{c}, "
                   f"COALESCE(CAST(SUM(CASE WHEN actual_lang = '{c}' "
                   f"THEN n END) AS BIGINT), 0) AS ra_{c}, "
                   f"COALESCE(CAST(SUM(CASE WHEN predicted_lang = '{c}' "
                   f"THEN n END) AS BIGINT), 0) AS cp_{c}"
                   for c in _KAPPA_PRED_CLASSES
               )}
        FROM cells
    ),
    pp AS (
        SELECT nt,
               ({" + ".join(f"CAST(diag_{c} AS DOUBLE)"
                            for c in _KAPPA_PRED_CLASSES)}) / nt AS po,
               ({" + ".join(
                   f"CAST(ra_{c} AS DOUBLE) * cp_{c}"
                   for c in _KAPPA_PRED_CLASSES
               )}) / (CAST(nt AS DOUBLE) * nt) AS pe
        FROM piv
    )
    SELECT nt AS n_docs,
           ROUND(po, 6) AS accuracy,
           ROUND(pe, 6) AS expected_agreement,
           ROUND((po - pe) / (1 - pe), 6) AS kappa
    FROM pp
    """,
)
def ml_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = text_langid_heuristic(spark, sf_dir).select(
        "actual_lang", "predicted_lang"
    )
    cells = pred.groupBy("actual_lang", "predicted_lang").agg(
        F.count("*").cast("long").alias("n")
    )
    aggs = [F.sum("n").cast("long").alias("nt")]
    for c in _KAPPA_PRED_CLASSES:
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("actual_lang") == c)
                        & (F.col("predicted_lang") == c),
                        F.col("n"),
                    )
                ).cast("long"),
                F.lit(0),
            ).alias(f"diag_{c}")
        )
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(F.col("actual_lang") == c, F.col("n"))
                ).cast("long"),
                F.lit(0),
            ).alias(f"ra_{c}")
        )
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(F.col("predicted_lang") == c, F.col("n"))
                ).cast("long"),
                F.lit(0),
            ).alias(f"cp_{c}")
        )
    piv = cells.agg(*aggs)
    po = None
    pe = None
    for c in _KAPPA_PRED_CLASSES:
        d = F.col(f"diag_{c}").cast("double")
        po = d if po is None else po + d
        m = F.col(f"ra_{c}").cast("double") * F.col(f"cp_{c}")
        pe = m if pe is None else pe + m
    po = po / F.col("nt")
    pe = pe / (F.col("nt").cast("double") * F.col("nt"))
    return piv.select(
        F.col("nt").alias("n_docs"),
        F.round(po, 6).alias("accuracy"),
        F.round(pe, 6).alias("expected_agreement"),
        F.round((po - pe) / (1 - pe), 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Corpus-level Flesch reading ease per source
# ---------------------------------------------------------------------------
# The classic readability screen used in corpus curation: Flesch
# reading ease 206.835 - 1.015*(words/sentences) - 84.6*(syllables/
# words), computed at the SOURCE level from pooled exact counts
# (per-doc doubles averaged across docs would re-introduce
# engine-ordered double summation; pooled integer totals keep the
# final score ONE fixed double expression per source row).
# Syllables use the standard vowel-group approximation with the
# min-1-per-word floor, computed without exploding words:
#   syllables = #vowel-groups + #consonant-only words
# since a word with v>=1 vowel groups contributes v, and a word with
# none contributes the floor 1.  All three patterns are
# alternation-free single-scan regexes (the events_pattern_regex_
# funnel precedent: Java regex and RE2 count identical
# non-overlapping matches).  100 TB shape: one projection scan with
# JVM-side regexp_count + one grouped integer agg.
@query(
    "text_readability_flesch",
    oracle="""
    WITH d AS (
        SELECT source,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+'))
                    AS BIGINT) AS words,
               CAST(len(regexp_extract_all(lower(text),
                        '[a-z]*[aeiouy][a-z]*')) AS BIGINT)
                   AS vowely_words,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS vgroups,
               GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+'))
                             AS BIGINT), 1) AS sentences
        FROM documents
    ),
    s AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(words) AS BIGINT) AS words,
               CAST(SUM(sentences) AS BIGINT) AS sentences,
               CAST(SUM(vgroups + (words - vowely_words)) AS BIGINT)
                   AS syllables
        FROM d GROUP BY source
    )
    SELECT source, n_docs, words, sentences, syllables,
           ROUND(206.835
                 - 1.015 * (CAST(words AS DOUBLE) / sentences)
                 - 84.6 * (CAST(syllables AS DOUBLE) / words), 4)
               AS flesch_reading_ease
    FROM s
    """,
)
def text_readability_flesch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lt = F.lower(F.col("text"))
    d = docs.select(
        "source",
        F.regexp_count(lt, F.lit("[a-z]+"))
        .cast("long")
        .alias("words"),
        F.regexp_count(lt, F.lit("[a-z]*[aeiouy][a-z]*"))
        .cast("long")
        .alias("vowely_words"),
        F.regexp_count(lt, F.lit("[aeiouy]+"))
        .cast("long")
        .alias("vgroups"),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit("[.!?]+")).cast(
                "long"
            ),
            F.lit(1).cast("long"),
        ).alias("sentences"),
    )
    s = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("words"),
        F.sum("sentences").cast("long").alias("sentences"),
        F.sum(
            F.col("vgroups")
            + (F.col("words") - F.col("vowely_words"))
        )
        .cast("long")
        .alias("syllables"),
    )
    return s.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        "syllables",
        F.round(
            F.lit(206.835)
            - 1.015
            * (F.col("words").cast("double") / F.col("sentences"))
            - 84.6
            * (F.col("syllables").cast("double") / F.col("words")),
            4,
        ).alias("flesch_reading_ease"),
    )


# ---------------------------------------------------------------------------
# Multinomial naive Bayes language classifier (train/holdout)
# ---------------------------------------------------------------------------
# The supervised counterpart to text_langid_heuristic's fixed marker
# lists: train a Laplace-smoothed multinomial NB on the md5-hash
# train split (the split_train_holdout convention) and classify the
# holdout docs.  Exactness discipline: every per-token log-likelihood
# and class prior is FLOOR-quantized to an integer micro-nat
# (FLOOR(1e6 * ln p) -- the drift_psi quantization), so per-doc
# scores are exact LONG sums whose argmax is engine-independent no
# matter the aggregation order; ties break on class name.  The ln
# domain is Zipf-bounded (train vocab x 5 classes), the same bound
# text_bigram_surprisal documents.  100 TB shape: token counting is
# one explode + grouped agg; the model (vocab x classes) is a
# broadcast-sized dimension joined onto the holdout token scan.
_NB_PRED_SQL = f"""
    toks AS (
        SELECT doc_id, lang,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                        < '{{split_cut}}'
                    THEN 'train' ELSE 'holdout' END AS split,
               unnest({_TOKENS_SQL}) AS token
        FROM documents
    ),
    tr AS (SELECT lang, token FROM toks WHERE split = 'train'),
    cls AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS ct
        FROM tr GROUP BY lang
    ),
    voc AS (SELECT DISTINCT token FROM tr),
    v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM voc),
    cnt AS (
        SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tr GROUP BY 1, 2
    ),
    grid AS (
        SELECT cls.lang, voc.token,
               CAST(FLOOR(1000000 * ln((COALESCE(cnt.c, 0) + 1)
                        / CAST(cls.ct + v.v AS DOUBLE))) AS BIGINT)
                   AS lp
        FROM cls CROSS JOIN voc CROSS JOIN v
        LEFT JOIN cnt
               ON cnt.lang = cls.lang AND cnt.token = voc.token
    ),
    defs AS (
        SELECT cls.lang,
               CAST(FLOOR(1000000
                          * ln(1.0 / (cls.ct + v.v))) AS BIGINT)
                   AS lp0
        FROM cls CROSS JOIN v
    ),
    trdocs AS (
        SELECT DISTINCT doc_id, lang FROM toks WHERE split = 'train'
    ),
    ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM trdocs),
    priors AS (
        SELECT lang,
               CAST(FLOOR(1000000 * ln(CAST(COUNT(*) AS DOUBLE)
                                       / ntr.n)) AS BIGINT)
                   AS prior_lp
        FROM trdocs CROSS JOIN ntr GROUP BY lang, ntr.n
    ),
    ho AS (
        SELECT doc_id, lang AS actual_lang, token,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM toks WHERE split = 'holdout' GROUP BY 1, 2, 3
    ),
    scored AS (
        SELECT ho.doc_id, ho.actual_lang, defs.lang AS cand,
               priors.prior_lp
               + SUM(ho.k * COALESCE(grid.lp, defs.lp0)) AS score
        FROM ho
        CROSS JOIN defs
        JOIN priors ON priors.lang = defs.lang
        LEFT JOIN grid
               ON grid.lang = defs.lang AND grid.token = ho.token
        GROUP BY 1, 2, 3, priors.prior_lp
    ),
    nbpred AS (
        SELECT doc_id, actual_lang, cand AS predicted_lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand) AS rn
        FROM scored
    )
"""


def _nb_holdout_predictions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-holdout-doc NB prediction: (doc_id, actual_lang,
    predicted_lang) with integer micro-nat scores (see the
    ml_naive_bayes_langid docstring)."""
    from .sampling import SPLIT_CUT

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    toks = docs.select(
        "doc_id",
        "lang",
        F.when(bucket < SPLIT_CUT, "train")
        .otherwise("holdout")
        .alias("split"),
        F.explode(_tokens(F.col("text"))).alias("token"),
    )
    tr = toks.filter(F.col("split") == "train").select("lang", "token")
    cls = tr.groupBy("lang").agg(
        F.count("*").cast("long").alias("ct")
    )
    voc = tr.select("token").distinct()
    v = voc.agg(F.count("*").cast("long").alias("v"))
    cnt = tr.groupBy("lang", "token").agg(
        F.count("*").cast("long").alias("c")
    )
    # SPARSE model table: only OBSERVED (lang, token) pairs carry a
    # row (VERDICT r9 nit).  An unobserved in-vocab pair's smoothed
    # weight log((0+1)/(ct+v)) is EXACTLY the per-lang default lp0
    # below, so the scored join's coalesce(lp, lp0) reconstructs the
    # dense grid's value bit-for-bit while the broadcast shrinks from
    # |langs| x |vocab| to the observed pairs -- at corpus scale
    # (millions of types x many langs) the dense grid is prohibitive
    # and sparse-plus-default is the only sane NB model layout.
    grid = (
        cnt.join(cls, "lang")
        .crossJoin(F.broadcast(v))
        .select(
            "lang",
            "token",
            F.floor(
                1000000
                * F.log(
                    (F.col("c") + 1)
                    / (F.col("ct") + F.col("v")).cast("double")
                )
            )
            .cast("long")
            .alias("lp"),
        )
    )
    defs = cls.crossJoin(F.broadcast(v)).select(
        "lang",
        F.floor(
            1000000 * F.log(1.0 / (F.col("ct") + F.col("v")))
        )
        .cast("long")
        .alias("lp0"),
    )
    trdocs = (
        toks.filter(F.col("split") == "train")
        .select("doc_id", "lang")
        .distinct()
    )
    ntr = trdocs.agg(F.count("*").cast("long").alias("n"))
    priors = (
        trdocs.crossJoin(F.broadcast(ntr))
        .groupBy("lang", "n")
        .agg(F.count("*").alias("cdocs"))
        .select(
            "lang",
            F.floor(
                1000000
                * F.log(
                    F.col("cdocs").cast("double") / F.col("n")
                )
            )
            .cast("long")
            .alias("prior_lp"),
        )
    )
    ho = (
        toks.filter(F.col("split") == "holdout")
        .groupBy(
            "doc_id",
            F.col("lang").alias("actual_lang"),
            "token",
        )
        .agg(F.count("*").cast("long").alias("k"))
    )
    scored = (
        ho.crossJoin(
            F.broadcast(defs.withColumnRenamed("lang", "cand"))
        )
        .join(
            F.broadcast(priors.withColumnRenamed("lang", "cand")),
            "cand",
        )
        .join(
            F.broadcast(
                grid.withColumnRenamed("lang", "cand").select(
                    "cand", "token", "lp"
                )
            ),
            ["cand", "token"],
            "left",
        )
        .groupBy("doc_id", "actual_lang", "cand", "prior_lp")
        .agg(
            F.sum(
                F.col("k") * F.coalesce(F.col("lp"), F.col("lp0"))
            ).alias("sumlp")
        )
        .select(
            "doc_id",
            "actual_lang",
            "cand",
            (F.col("prior_lp") + F.col("sumlp")).alias("score"),
        )
    )
    from pyspark.sql import Window

    wpred = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand")
    )
    return (
        scored.withColumn("rn", F.row_number().over(wpred))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "actual_lang",
            F.col("cand").alias("predicted_lang"),
        )
    )


def _nb_sql() -> str:
    from .sampling import SPLIT_CUT

    return _NB_PRED_SQL.format(split_cut=SPLIT_CUT)


@query(
    "ml_naive_bayes_langid",
    oracle=None,  # set below after _nb_sql is resolvable lazily
)
def ml_naive_bayes_langid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pred = _nb_holdout_predictions(spark, sf_dir)
    return pred.groupBy("actual_lang", "predicted_lang").agg(
        F.count("*").cast("long").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# McNemar's paired test: NB classifier vs the marker heuristic
# ---------------------------------------------------------------------------
# The statistically correct way to compare two classifiers evaluated
# on the SAME holdout docs: only the discordant pairs carry signal.
# b = docs NB gets right and the heuristic wrong, c = the reverse;
# the continuity-corrected statistic (|b-c|-1)^2/(b+c) is one double
# expression over exact longs.  The heuristic predicts within its
# en/de/fr closed world (text_langid_confusion), NB over all five
# classes -- McNemar compares their CORRECTNESS booleans, which are
# well-defined for both.
@query(
    "ml_mcnemar_nb_vs_heuristic",
    oracle=None,  # set below
)
def ml_mcnemar_nb_vs_heuristic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    nb = _nb_holdout_predictions(spark, sf_dir).select(
        "doc_id",
        (F.col("predicted_lang") == F.col("actual_lang")).alias(
            "nb_ok"
        ),
    )
    heur = text_langid_heuristic(spark, sf_dir).select(
        "doc_id",
        (F.col("predicted_lang") == F.col("actual_lang")).alias(
            "heur_ok"
        ),
    )
    paired = nb.join(heur, "doc_id")
    s = paired.agg(
        F.count("*").cast("long").alias("n_holdout"),
        F.sum(F.col("nb_ok").cast("int")).cast("long").alias(
            "nb_correct"
        ),
        F.sum(F.col("heur_ok").cast("int")).cast("long").alias(
            "heur_correct"
        ),
        F.sum(
            (F.col("nb_ok") & ~F.col("heur_ok")).cast("int")
        )
        .cast("long")
        .alias("b_discordant"),
        F.sum(
            (~F.col("nb_ok") & F.col("heur_ok")).cast("int")
        )
        .cast("long")
        .alias("c_discordant"),
    )
    b = F.col("b_discordant")
    c = F.col("c_discordant")
    return s.select(
        "n_holdout",
        "nb_correct",
        "heur_correct",
        "b_discordant",
        "c_discordant",
        F.round(
            F.when(b + c == 0, F.lit(0.0)).otherwise(
                F.pow(F.abs(b - c) - 1, 2) / (b + c)
            ),
            6,
        ).alias("mcnemar_chi2"),
    )


# Oracles need SPLIT_CUT from sampling.py; registering them here at
# import time keeps the lazy-import order safe (sampling imports
# nothing from text).
from ..registry import ORACLES as _ORACLES  # noqa: E402

_ORACLES["ml_naive_bayes_langid"] = f"""
    WITH {_nb_sql()}
    SELECT actual_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM nbpred WHERE rn = 1 GROUP BY 1, 2
"""

_ORACLES["ml_mcnemar_nb_vs_heuristic"] = f"""
    WITH {_nb_sql()},
    nbok AS (
        SELECT doc_id, actual_lang = predicted_lang AS nb_ok
        FROM nbpred WHERE rn = 1
    ),
    scores AS (SELECT doc_id, lang, {_profile_sql()} FROM documents),
    heur AS (
        SELECT doc_id,
               lang = CASE
                   WHEN score_en >= score_de AND score_en >= score_fr
                       THEN 'en'
                   WHEN score_de >= score_fr THEN 'de'
                   ELSE 'fr'
               END AS heur_ok
        FROM scores
    ),
    paired AS (
        SELECT nb_ok, heur_ok FROM nbok JOIN heur USING (doc_id)
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_holdout,
               CAST(SUM(CASE WHEN nb_ok THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb_correct,
               CAST(SUM(CASE WHEN heur_ok THEN 1 ELSE 0 END)
                    AS BIGINT) AS heur_correct,
               CAST(SUM(CASE WHEN nb_ok AND NOT heur_ok
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS b_discordant,
               CAST(SUM(CASE WHEN NOT nb_ok AND heur_ok
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS c_discordant
        FROM paired
    )
    SELECT n_holdout, nb_correct, heur_correct,
           b_discordant, c_discordant,
           ROUND(CASE WHEN b_discordant + c_discordant = 0 THEN 0.0
                      ELSE POWER(ABS(b_discordant - c_discordant)
                                 - 1, 2)
                           / (b_discordant + c_discordant) END, 6)
               AS mcnemar_chi2
    FROM s
"""


# ---------------------------------------------------------------------------
# Lexicon-based sentiment scoring per source
# ---------------------------------------------------------------------------
# The classic pre-transformer sentiment screen (AFINN/VADER family,
# reduced to the corpus vocabulary): count positive- and negative-
# lexicon token hits per document, score = (pos - neg)/(pos + neg)
# with the usual neutral-0 convention, then aggregate the label mix
# per source.  Everything is exact integer counting (array
# higher-order functions, no UDF); the mean score per source is a
# ratio of two exact integer sums -- one double expression per row.
SENTIMENT_POS = ("fast", "small", "merge", "vector")
SENTIMENT_NEG = ("slow", "big", "dup", "error")


@query(
    "text_sentiment_lexicon",
    oracle=f"""
    WITH scored AS (
        SELECT source,
               len(list_filter({_TOKENS_SQL}, t -> list_contains(
                   {list(SENTIMENT_POS)!r}, t))) AS pos,
               len(list_filter({_TOKENS_SQL}, t -> list_contains(
                   {list(SENTIMENT_NEG)!r}, t))) AS neg
        FROM documents
    ),
    lab AS (
        SELECT source, pos, neg,
               CASE WHEN pos > neg THEN 'positive'
                    WHEN neg > pos THEN 'negative'
                    ELSE 'neutral' END AS label
        FROM scored
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN label = 'positive' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_positive,
           CAST(SUM(CASE WHEN label = 'negative' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_negative,
           CAST(SUM(CASE WHEN label = 'neutral' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_neutral,
           CAST(SUM(pos) AS BIGINT) AS pos_hits,
           CAST(SUM(neg) AS BIGINT) AS neg_hits,
           ROUND(CAST(SUM(pos) - SUM(neg) AS DOUBLE)
                 / (SUM(pos) + SUM(neg)), 6) AS polarity
    FROM lab GROUP BY source
    """,
)
def text_sentiment_lexicon(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    pos_arr = F.array(*[F.lit(w) for w in SENTIMENT_POS])
    neg_arr = F.array(*[F.lit(w) for w in SENTIMENT_NEG])
    scored = docs.select(
        "source",
        F.size(
            F.filter(toks, lambda t: F.array_contains(pos_arr, t))
        ).alias("pos"),
        F.size(
            F.filter(toks, lambda t: F.array_contains(neg_arr, t))
        ).alias("neg"),
    )
    lab = scored.withColumn(
        "label",
        F.when(F.col("pos") > F.col("neg"), "positive")
        .when(F.col("neg") > F.col("pos"), "negative")
        .otherwise("neutral"),
    )
    return lab.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum((F.col("label") == "positive").cast("int"))
        .cast("long")
        .alias("n_positive"),
        F.sum((F.col("label") == "negative").cast("int"))
        .cast("long")
        .alias("n_negative"),
        F.sum((F.col("label") == "neutral").cast("int"))
        .cast("long")
        .alias("n_neutral"),
        F.sum("pos").cast("long").alias("pos_hits"),
        F.sum("neg").cast("long").alias("neg_hits"),
        F.round(
            (F.sum("pos") - F.sum("neg")).cast("double")
            / (F.sum("pos") + F.sum("neg")),
            6,
        ).alias("polarity"),
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rule table
# ---------------------------------------------------------------------------
# The published rule battery LLM pretraining pipelines run before
# anything model-based (Rae et al. 2021, "Scaling Language Models:
# ... Gopher", appendix A1.1 -- public paper): per-document
# pass/fail on cheap structural rules, reported as per-rule pass
# counts plus the all-rules intersection.  Rules instantiated for
# this corpus (thresholds are the paper's): word count in [50, 1e5],
# mean word length in [3, 10], >= 80% alphabetic words, >= 2 distinct
# stopwords, unique-word ratio >= 0.3.  All counting is exact
# integers via array higher-order functions -- no UDF, no doubles
# until the final rate.
GOPHER_STOPWORDS = ("the", "a", "of", "and", "to", "be")


@query(
    "text_gopher_quality_rules",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks,
               strlen(replace({CANONICAL_SQL}, ' ', '')) AS chars
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(toks) AS words,
               len(list_filter(toks, x -> regexp_matches(x,
                   '[a-z]'))) AS alpha_words,
               len(list_distinct(toks)) AS uniq,
               len(list_distinct(list_filter(toks, x ->
                   list_contains({list(GOPHER_STOPWORDS)!r}, x))))
                   AS stops,
               chars
        FROM t
    ),
    flags AS (
        SELECT doc_id,
               CASE WHEN words BETWEEN 50 AND 100000
                    THEN 1 ELSE 0 END AS r_wordcount,
               CASE WHEN chars >= 3 * words AND chars <= 10 * words
                    THEN 1 ELSE 0 END AS r_meanwordlen,
               CASE WHEN 10 * alpha_words >= 8 * words
                    THEN 1 ELSE 0 END AS r_alpharatio,
               CASE WHEN stops >= 2 THEN 1 ELSE 0 END AS r_stopwords,
               CASE WHEN 10 * uniq >= 3 * words
                    THEN 1 ELSE 0 END AS r_uniqueratio
        FROM m
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(r_wordcount) AS BIGINT) AS p1,
               CAST(SUM(r_meanwordlen) AS BIGINT) AS p2,
               CAST(SUM(r_alpharatio) AS BIGINT) AS p3,
               CAST(SUM(r_stopwords) AS BIGINT) AS p4,
               CAST(SUM(r_uniqueratio) AS BIGINT) AS p5,
               CAST(SUM(r_wordcount * r_meanwordlen * r_alpharatio
                        * r_stopwords * r_uniqueratio) AS BIGINT)
                   AS p_all
        FROM flags
    )
    SELECT rule, n_pass, n_docs,
           ROUND(CAST(n_pass AS DOUBLE) / n_docs, 6) AS pass_rate
    FROM (
        SELECT 'word_count' AS rule, p1 AS n_pass, n_docs FROM agg
        UNION ALL SELECT 'mean_word_length', p2, n_docs FROM agg
        UNION ALL SELECT 'alpha_ratio', p3, n_docs FROM agg
        UNION ALL SELECT 'stopword_presence', p4, n_docs FROM agg
        UNION ALL SELECT 'unique_word_ratio', p5, n_docs FROM agg
        UNION ALL SELECT 'all_rules', p_all, n_docs FROM agg
    )
    """,
)
def text_gopher_quality_rules(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    m = docs.select(
        F.size(toks).cast("long").alias("words"),
        F.size(
            F.filter(toks, lambda x: x.rlike("[a-z]"))
        )
        .cast("long")
        .alias("alpha_words"),
        F.size(F.array_distinct(toks)).cast("long").alias("uniq"),
        F.size(
            F.array_distinct(
                F.filter(
                    toks, lambda x: F.array_contains(stop_arr, x)
                )
            )
        )
        .cast("long")
        .alias("stops"),
        F.length(
            F.regexp_replace(canonical_text(F.col("text")), " ", "")
        )
        .cast("long")
        .alias("chars"),
    )
    flags = m.select(
        F.col("words").between(50, 100000).cast("int").alias("r1"),
        (
            (F.col("chars") >= 3 * F.col("words"))
            & (F.col("chars") <= 10 * F.col("words"))
        )
        .cast("int")
        .alias("r2"),
        (10 * F.col("alpha_words") >= 8 * F.col("words"))
        .cast("int")
        .alias("r3"),
        (F.col("stops") >= 2).cast("int").alias("r4"),
        (10 * F.col("uniq") >= 3 * F.col("words"))
        .cast("int")
        .alias("r5"),
    )
    agg = flags.agg(
        F.count("*").cast("long").alias("n_docs"),
        *[
            F.sum(f"r{i}").cast("long").alias(f"p{i}")
            for i in range(1, 6)
        ],
        F.sum(
            F.col("r1")
            * F.col("r2")
            * F.col("r3")
            * F.col("r4")
            * F.col("r5")
        )
        .cast("long")
        .alias("p_all"),
    )
    names = (
        ("word_count", "p1"),
        ("mean_word_length", "p2"),
        ("alpha_ratio", "p3"),
        ("stopword_presence", "p4"),
        ("unique_word_ratio", "p5"),
        ("all_rules", "p_all"),
    )
    out = None
    for rule, col in names:
        part = agg.select(
            F.lit(rule).alias("rule"),
            F.col(col).alias("n_pass"),
            "n_docs",
            F.round(
                F.col(col).cast("double") / F.col("n_docs"), 6
            ).alias("pass_rate"),
        )
        out = part if out is None else out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (zlib)
# ---------------------------------------------------------------------------
# The cheapest repetition detector LLM pipelines run (Gopher /
# RedPajama lineage): highly repetitive documents compress far below
# natural text.  zlib level 6 over the canonical text, emitted per
# doc with the too-repetitive flag.  Registered rows-only: no SQL
# engine exposes zlib, so the pytest replays the exact bytes in
# Python (zlib is deterministic for a fixed level/strategy).  Runs
# as an Arrow-batched mapInPandas -- the sanctioned Python path.
COMPRESS_REPETITIVE_BELOW = 0.35


@query("text_compression_ratio")  # rows-only: zlib has no SQL twin
def text_compression_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-doc zlib(level 6) compression ratio -- the standard
    corpus-quality repetition signal -- plus the too-repetitive flag.

    WHY THIS STAYS ROWS-ONLY (the r10/r11 conversions' rejection
    memo, per the quantized-PQ precedent): the oracle-conversion
    trick that moved pHash/PQ/JPEG to value-level oracles was to
    restate the float math in a QUANTIZED form that is (a) exactly
    replayable relationally and (b) the standard production
    formulation anyway.  Neither leg exists here.  (a) The metric IS
    the DEFLATE output length: LZ77 match selection is a greedy
    stateful scan over a 32 KiB sliding window (each byte's encoding
    depends on the full hash-chain state built by every byte before
    it) followed by dynamic-Huffman code assignment over per-block
    symbol counts -- a relational replay would be a per-byte
    recursive CTE carrying the window + hash-chain + pending-match
    state per document, O(doc_len) recursion with branching state,
    not 'SQL with more CTEs'.  And unlike the JPEG decode oracle
    there is no inverse-pair cancellation available: the query's
    OUTPUT is the encoder's length itself, so no round-trip can make
    the codec drop out of the replayed algebra.  (b) Swapping zlib
    for a toy relational compressor would invert the PQ logic: the
    quantized PQ/DCT forms are MORE production-faithful at scale,
    while 'compression ratio' in corpus curation (CCNet-style
    pipelines) means deflate specifically -- an oracle-friendly
    substitute would change what the signal detects.  The sanctioned
    evidence is therefore the byte-for-byte differential pytest
    (tests/test_round6_ops.py::test_compression_ratio_brute_force:
    every doc's raw/compressed byte counts replayed against Python
    zlib, flags re-derived), which pins strictly more than a DuckDB
    hash row would.

    Scale: one Arrow mapInPandas pass, ~doc_len bytes of state per
    row, embarrassingly partition-parallel; no shuffle at all."""
    import pandas as pd  # noqa: F811

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    def batches(it):
        import zlib

        for pdf in it:
            raw = [
                t.encode("utf-8", "surrogatepass")
                for t in pdf["text"]
            ]
            comp = [len(zlib.compress(b, 6)) for b in raw]
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": [len(b) for b in raw],
                    "compressed_bytes": comp,
                }
            )
            yield out

    feat = docs.mapInPandas(
        batches, schema="doc_id long, raw_bytes long, compressed_bytes long"
    )
    ratio = F.col("compressed_bytes").cast("double") / F.col(
        "raw_bytes"
    )
    return feat.select(
        "doc_id",
        "raw_bytes",
        "compressed_bytes",
        F.round(ratio, 6).alias("compression_ratio"),
        (ratio < COMPRESS_REPETITIVE_BELOW)
        .cast("int")
        .alias("too_repetitive"),
    )
