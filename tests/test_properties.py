"""Hypothesis property tests for the pure expression layer (SURVEY §5
"invariant/property tests"): the bucket normalization and capacity
expressions must agree with a plain-Python model on arbitrary inputs,
including the messy free-text and NULL cases the reference tolerates.

Runs the expressions through a real (tiny) DataFrame so what is tested
is the Catalyst expression, not a reimplementation.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from hq_master_data_warehouse_spark.functions.buckets import (
    NOT_SURE_BUCKET,
    SEGMENT_MAX,
    UNKNOWN_BUCKET,
    capacity_for_segment,
    segment_bucket,
)
from hq_master_data_warehouse_spark.schemas import (
    DEFAULT_RANGE_MAX,
    SAFE_PEOPLE_LIMIT,
)

from pyspark.sql import functions as F
from pyspark.sql.window import Window

segments = st.one_of(
    st.none(),
    st.sampled_from(sorted(SEGMENT_MAX)),
    st.sampled_from(
        ["not sure", "Not Sure (approx)", "NOT SURE!!", "maybe not sure"]
    ),
    st.text(
        alphabet=st.characters(
            whitelist_categories=["Lu", "Ll", "Nd"], max_codepoint=0x7F
        ),
        max_size=12,
    ),
)


def _model_bucket(v):
    if v is None:
        return UNKNOWN_BUCKET
    if NOT_SURE_BUCKET in v.lower():
        return NOT_SURE_BUCKET
    return v


def _model_capacity(bucket):
    mx = SEGMENT_MAX.get(bucket, DEFAULT_RANGE_MAX)
    return math.floor(SAFE_PEOPLE_LIMIT / mx)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(segments, min_size=1, max_size=12))
def test_bucket_and_capacity_expressions_match_model(spark, values):
    df = spark.createDataFrame(
        [(v,) for v in values], "employee_range string"
    )
    rows = df.select(
        F.col("employee_range"),
        segment_bucket(F.col("employee_range")).alias("bucket"),
        capacity_for_segment(
            segment_bucket(F.col("employee_range"))
        ).alias("capacity"),
    ).collect()
    assert len(rows) == len(values)
    for r in rows:
        want_bucket = _model_bucket(r.employee_range)
        assert r.bucket == want_bucket
        assert r.capacity == _model_capacity(want_bucket)


scan_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),  # group
        st.integers(min_value=0, max_value=999),  # sort key
        st.integers(min_value=-50, max_value=50),  # weight 1
        st.integers(min_value=0, max_value=9),  # weight 2
    ),
    min_size=1,
    max_size=60,
)


def _scan_df(spark, rows):
    return spark.createDataFrame(
        [(g, k, i, w1, w2) for i, (g, k, w1, w2) in enumerate(rows)],
        "g long, k long, i long, w1 long, w2 long",
    )


def _assert_scan_matches_windows(df, sums, want_cols):
    """prefix_scan(df, ..., sums) equals ``want_cols(window)`` row by
    row for a global ascending order, a negated bucket for a
    descending order, and a per-group order.  Duplicate keys are
    broken by id; floor(k/100) leaves most buckets empty on small
    samples on purpose, exercising the prefix join's gaps."""
    from hq_master_data_warehouse_spark.functions.prefix import prefix_scan

    bucket = F.floor(F.col("k") / 100)
    # (bucket, order, groups) -> the window the scan must equal
    cases = {
        "asc": (bucket, ["k", "i"], (), Window.orderBy("k", "i")),
        "desc": (
            -bucket,
            [F.col("k").desc(), "i"],
            (),
            Window.orderBy(F.col("k").desc(), "i"),
        ),
        "grp": (
            bucket,
            ["k", "i"],
            ["g"],
            Window.partitionBy("g").orderBy("k", "i"),
        ),
    }
    outs = [o for _, o in sums]
    for name, (b, order, groups, w) in cases.items():
        scanned = (
            prefix_scan(df, b, order, sums, groups=groups)
            .select("i", *outs)
            .collect()
        )
        want = {
            r.i: tuple(r)[1:]
            for r in df.select("i", *want_cols(w)).collect()
        }
        assert len(scanned) == len(want), name
        assert {r.i: tuple(r)[1:] for r in scanned} == want, name


_RUN = (Window.unboundedPreceding, Window.currentRow)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(scan_rows)
def test_distributed_rank_and_ntile_match_window_forms(spark, rows):
    """A prefix_scan of F.lit(1) == row_number, globally, descending
    and per group; ntile_from_rank == NTILE(4): the bucketed two-pass
    machinery must be indistinguishable from the single-partition
    window forms it replaces."""
    from hq_master_data_warehouse_spark.functions.prefix import (
        ntile_from_rank,
        prefix_scan,
    )

    df = _scan_df(spark, rows)
    _assert_scan_matches_windows(
        df,
        [(F.lit(1), "rn")],
        lambda w: [F.row_number().over(w).cast("long")],
    )

    got = {
        r.i: r.q
        for r in prefix_scan(
            df, F.floor(F.col("k") / 100), ["k", "i"], [(F.lit(1), "rn")]
        )
        .select(
            "i", ntile_from_rank(F.col("rn"), F.lit(len(rows)), 4).alias("q")
        )
        .collect()
    }
    want = {
        r.i: r.q
        for r in df.select(
            "i", F.ntile(4).over(Window.orderBy("k", "i")).alias("q")
        ).collect()
    }
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(scan_rows)
def test_distributed_cumsum_matches_window_forms(spark, rows):
    """prefix_scan == inclusive running SUM (several sum columns at
    once, duplicate keys, empty buckets, negative weights), globally,
    descending and per group; bitlen == floor(log2)+1.  The two-pass
    machinery must be indistinguishable from the single-partition
    windows it replaces (the r11 global-window sweep rides on this
    equivalence)."""
    from hq_master_data_warehouse_spark.functions.prefix import bitlen

    df = _scan_df(spark, rows)
    _assert_scan_matches_windows(
        df,
        [("w1", "c1"), ("w2", "c2")],
        lambda w: [
            F.sum(c).over(w.rowsBetween(*_RUN)).cast("long")
            for c in ("w1", "w2")
        ],
    )

    bits = {
        r.k: r.b
        for r in df.select("k", bitlen(F.col("k")).alias("b")).collect()
    }
    for k, b in bits.items():
        assert b == len(bin(k)[2:])  # floor(log2)+1, and 1 for k=0


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.integers(min_value=1, max_value=100),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_global_prefix_sum_matches_window_model(spark, rows):
    """prefix_scan must equal the plain global cumulative window for
    any data, including duplicate sort keys (id tie-break) and values
    spanning several bands; pack_nextfit's EXCLUSIVE offsets (the
    inclusive scan minus the row's own tokens, duplicate md5s broken
    by doc_id) and pack ids must equal the window form."""
    from hq_master_data_warehouse_spark.functions.prefix import prefix_scan
    from hq_master_data_warehouse_spark.operators.text import (
        PACK_BUDGET,
        pack_nextfit,
    )

    data = [(i, k, v) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, k long, v long")
    got = {
        r["id"]: r["cum"]
        for r in prefix_scan(
            df,
            F.floor(F.col("k") / 100),
            [F.col("k"), F.col("id")],
            [("v", "cum")],
        ).collect()
    }
    w = Window.orderBy("k", "id").rowsBetween(*_RUN)
    expect = {
        r["id"]: r["cum"]
        for r in df.select("id", F.sum("v").over(w).alias("cum")).collect()
    }
    assert got == expect

    # duplicate keys share an md5, so doc_id breaks the ties
    docs = df.select(
        F.col("id").alias("doc_id"),
        F.md5(F.col("k").cast("string")).alias("h"),
        (F.col("v") * 100).alias("n_tokens"),
    )
    w_pack = Window.orderBy("h", "doc_id").rowsBetween(*_RUN)
    off = F.sum("n_tokens").over(w_pack) - F.col("n_tokens")
    want = {
        r.doc_id: (r.offset, r.pack_id)
        for r in docs.select(
            "doc_id",
            off.alias("offset"),
            F.floor(off / PACK_BUDGET).cast("long").alias("pack_id"),
        ).collect()
    }
    packed = {
        r.doc_id: (r.offset, r.pack_id)
        for r in pack_nextfit(docs).collect()
    }
    assert packed == want
    assert len(packed) == len(rows)


# ---------------------------------------------------------------------------
# Split scaled-integer money sums (functions/scalars.exact_scaled_sum)
# must be indistinguishable from the DECIMAL(30,4) sums they replace --
# every money aggregate in the engine rides on this equivalence.
# ---------------------------------------------------------------------------

money_cents = st.one_of(
    st.none(),
    st.integers(min_value=-10_000_000_00, max_value=10_000_000_00),
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=3), money_cents),
        min_size=1,
        max_size=80,
    )
)
def test_split_long_sum_equals_decimal_sum(spark, rows):
    """exact_scaled_sum == SUM(CAST(x AS DECIMAL(30,4))) cast double,
    per group, including negatives, nulls, and all-null groups."""
    from hq_master_data_warehouse_spark.functions.scalars import (
        exact_scaled_sum,
    )

    data = [
        (g, None if c is None else c / 100.0) for g, c in rows
    ]
    df = spark.createDataFrame(data, "g int, x double")
    got = {
        r.g: r.s
        for r in df.groupBy("g")
        .agg(exact_scaled_sum(F.col("x"), 4).alias("s"))
        .collect()
    }
    want = {
        r.g: r.s
        for r in df.groupBy("g")
        .agg(
            F.sum(F.col("x").cast("decimal(30,4)"))
            .cast("double")
            .alias("s")
        )
        .collect()
    }
    assert got == want


def test_split_long_sum_contract_boundary(spark):
    """Pin the exact_scaled_sum precondition from its docstring: inputs
    with MORE decimal digits than `scale` are outside the contract and
    genuinely diverge from the decimal-cast form -- 0.00015 at scale 4
    is the double 0.000149999..., so round() gives 1 unit (0.0001)
    while CAST(... AS DECIMAL(30,4)) gives 0.0002.  If this test ever
    starts failing, the contract was silently widened -- re-read the
    docstring before 'fixing' it."""
    from hq_master_data_warehouse_spark.functions.scalars import (
        exact_scaled_sum,
    )

    df = spark.createDataFrame([(0.00015,)], "x double")
    got = df.agg(exact_scaled_sum(F.col("x"), 4).alias("s")).collect()[0].s
    want = (
        df.agg(
            F.sum(F.col("x").cast("decimal(30,4)")).cast("double").alias("s")
        )
        .collect()[0]
        .s
    )
    assert got == 0.0001 and want == 0.0002  # documented divergence


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=110_000_00),  # price cents
            st.integers(min_value=0, max_value=10),          # discount %
            st.integers(min_value=0, max_value=8),           # tax %
        ),
        min_size=1,
        max_size=60,
    )
)
def test_units_products_equal_decimal_products(spark, rows):
    """sum_disc_price / sum_charge (integer-units longs) == the decimal
    product formulations they replaced."""
    from hq_master_data_warehouse_spark.functions.scalars import (
        charge,
        disc_price,
        sum_charge,
        sum_disc_price,
    )

    data = [
        (p / 100.0, d / 100.0, t / 100.0) for p, d, t in rows
    ]
    df = spark.createDataFrame(
        data, "l_extendedprice double, l_discount double, l_tax double"
    )
    got = df.agg(
        sum_disc_price("dp"), sum_charge("ch")
    ).collect()[0]
    want = df.agg(
        F.sum(disc_price()).cast("double").alias("dp"),
        F.sum(charge()).cast("double").alias("ch"),
    ).collect()[0]
    assert got.dp == want.dp
    assert got.ch == want.ch


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=10**12),
    st.integers(min_value=1, max_value=10**12),
)
def test_ppm_integer_division_matches_fraction_model(a, b):
    """_ppm_sql must equal round-half-away(1e6 * a/b) computed in
    EXACT rational arithmetic -- for every a/b, including the
    non-binary-representable tie cases that break ROUND-on-double."""
    from fractions import Fraction

    import duckdb

    from hq_master_data_warehouse_spark.operators.lifecycle import (
        _ppm_sql,
    )

    con = duckdb.connect()
    (got,) = con.execute("SELECT " + _ppm_sql(str(a), str(b))).fetchone()
    x = Fraction(a, b) * 1_000_000
    frac = x - int(x)
    expect = int(x) + (1 if frac >= Fraction(1, 2) else 0)
    assert got == expect


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["add", "remove"]),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=30,
    ),
    st.integers(min_value=0, max_value=29),
)
def test_txn_log_checkpoint_fold_equals_full_fold(tmp_path_factory, actions, cp_at):
    """For ANY action sequence, a checkpoint written at any version
    leaves the fold at every version what it was before the
    checkpoint existed."""
    import os

    from hq_master_data_warehouse_spark.sources.txn_log import (
        commit,
        live_files,
        write_checkpoint,
    )

    d = str(tmp_path_factory.mktemp("txn"))
    os.makedirs(os.path.join(d, "_txn_log"), exist_ok=True)
    for v, (op, fid) in enumerate(actions):
        info = {"path": f"f{fid}", "min_key": fid, "max_key": fid}
        if op == "add":
            commit(d, v, [info], [])
        else:
            commit(d, v, [], [f"f{fid}"])

    def key(files):
        return sorted((f["path"], f["min_key"], f["max_key"]) for f in files)

    versions = list(range(len(actions))) + [None]
    before = {v: key(live_files(d, v)) for v in versions}
    cp = min(cp_at, len(actions) - 1)
    write_checkpoint(d, cp)
    for v in versions:
        assert key(live_files(d, v)) == before[v], (
            f"diverged at version {v} (checkpoint at {cp})"
        )


# -- chain-fold cosine bit-exactness (round 9): the ANN oracles
#    (similarity_ann_lsh / similarity_ivf_topk) rest on the claim
#    that an explicit left-associative SQL chain reproduces Spark's
#    F.aggregate fold BIT-FOR-BIT.  Pin the claim itself on random
#    float32 vectors, not just the fixture: any engine/version drift
#    that reassociates or FMA-fuses the arithmetic fails here first.
vec32 = st.lists(
    st.floats(
        min_value=-8.0,
        max_value=8.0,
        allow_nan=False,
        allow_infinity=False,
        width=32,  # float32-representable, exact as double
    ),
    min_size=8,
    max_size=8,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vec32, vec32)
def test_chain_fold_cosine_is_bit_exact_across_engines(spark, a, b):
    import duckdb

    from hq_master_data_warehouse_spark.operators.similarity import (
        cosine_expr,
    )

    if not any(a) or not any(b):
        return  # zero vector: cosine undefined (NaN) in both engines
    dim = len(a)
    sdf = spark.createDataFrame(
        [(a, b)], "va array<float>, vb array<float>"
    )
    spark_val = sdf.select(
        cosine_expr(F.col("va"), F.col("vb")).alias("c")
    ).collect()[0]["c"]

    # the exact chain the oracle builder emits, with literal vectors
    dot = "0.0" + "".join(
        f" + CAST(va[{i}] AS DOUBLE) * CAST(vb[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    na = "0.0" + "".join(
        f" + CAST(va[{i}] AS DOUBLE) * CAST(va[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    nb = "0.0" + "".join(
        f" + CAST(vb[{i}] AS DOUBLE) * CAST(vb[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    # 'e0' forces DuckDB to parse each literal as DOUBLE (a bare
    # '1.7734375' parses as DECIMAL and converts to FLOAT inexactly
    # -- a literal-parsing artifact the real oracles never hit
    # because their floats come from parquet)
    def lit(v: list) -> str:
        return (
            "["
            + ",".join(
                r if ("e" in (r := repr(x)) or "E" in r) else r + "e0"
                for x in v
            )
            + "]::FLOAT[]"
        )

    lit_a, lit_b = lit(a), lit(b)
    duck_val = duckdb.connect().execute(
        f"SELECT ({dot}) / (sqrt({na}) * sqrt({nb})) "
        f"FROM (SELECT {lit_a} AS va, {lit_b} AS vb)"
    ).fetchone()[0]

    # BIT equality, not approx: the oracles' candidate sets and ranks
    # depend on it
    import struct

    assert struct.pack("<d", spark_val) == struct.pack(
        "<d", duck_val
    ), (spark_val, duck_val)


# -- SimHash votes: simhash_fingerprints against a plain 60-vote model
#    over arbitrary per-doc token hash lists
_H60 = st.integers(min_value=0, max_value=(1 << 60) - 1)


def _model_fingerprint(hashes: list[int]) -> int:
    fp = 0
    for i in range(60):
        if sum(1 if (h >> i) & 1 else -1 for h in hashes) > 0:
            fp |= 1 << i
    return fp


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.lists(_H60, min_size=1, max_size=7), min_size=1, max_size=6))
@example(docs=[[1 << 59]])  # one token, top bit set
@example(docs=[[(1 << 60) - 1, 0]])  # every bit ties: net vote 0 -> 0
@example(docs=[[5, 5, 2], [1 << 59, (1 << 59) | 1, 3]])
def test_simhash_fingerprints_match_vote_model(spark, docs):
    from hq_master_data_warehouse_spark.operators.dedup import (
        simhash_fingerprints,
    )
    from hq_master_data_warehouse_spark.session import local_df

    hashes = local_df(
        spark,
        [(d, h) for d, hs in enumerate(docs) for h in hs],
        "doc_id bigint, h bigint",
    )
    want = {d: _model_fingerprint(hs) for d, hs in enumerate(docs)}
    got = simhash_fingerprints(hashes).collect()
    assert {r.doc_id: r.fingerprint for r in got} == want
