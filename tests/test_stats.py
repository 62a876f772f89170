"""Invariant tests for the statistics family (operators/stats.py and
the binned range join in operators/joins.py): closed-form results are
checked against independent Python/numpy recomputations, and the
range-join plan is pinned to a hash join (never a nested loop).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hq_master_data_warehouse_spark.operators import joins, stats
from hq_master_data_warehouse_spark.sources.loaders import load_table

from tests.conftest import SF_DIR_001


def test_ols_matches_numpy(spark):
    import numpy as np

    rows = stats.ml_ols_daily_trend(spark, SF_DIR_001).collect()
    orders = load_table(spark, SF_DIR_001, "orders").select(
        "o_orderpriority",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
    ).collect()
    by_prio: dict[str, list] = {}
    for r in orders:
        by_prio.setdefault(r.o_orderpriority, []).append((r.x, r.y))
    assert len(rows) == len(by_prio)
    for r in rows:
        pts = by_prio[r.o_orderpriority]
        x = np.array([p[0] for p in pts], dtype=float)
        y = np.array([p[1] for p in pts], dtype=float)
        slope, intercept = np.polyfit(x, y, 1)
        assert r.n == len(pts)
        assert r.slope_cents_per_day == pytest.approx(slope, rel=1e-6)
        assert r.intercept_cents == pytest.approx(intercept, rel=1e-6)
        rr = np.corrcoef(x, y)[0, 1] ** 2
        assert r.r_squared == pytest.approx(rr, abs=1e-6)


def test_ab_test_counts_and_z(spark):
    row = stats.ml_ab_test_ztest(spark, SF_DIR_001).collect()[0]
    users = (
        load_table(spark, SF_DIR_001, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert row.n_a + row.n_b == users
    assert 0 <= row.x_a <= row.n_a and 0 <= row.x_b <= row.n_b
    # recompute the pooled z independently
    p1, p2 = row.x_a / row.n_a, row.x_b / row.n_b
    p = (row.x_a + row.x_b) / (row.n_a + row.n_b)
    z = (p1 - p2) / math.sqrt(
        p * (1 - p) * (1 / row.n_a + 1 / row.n_b)
    )
    assert row.z_score == pytest.approx(z, abs=1e-6)


def test_crossval_folds_partition_orders(spark):
    rows = stats.ml_crossval_folds(spark, SF_DIR_001).collect()
    total = load_table(spark, SF_DIR_001, "orders").count()
    assert sorted(r.fold for r in rows) == list(range(5))
    assert sum(r.n_orders for r in rows) == total
    # md5 is uniform: no fold should hold more than half the data
    assert max(r.n_orders for r in rows) < total / 2


def test_autocorrelation_bounds_and_pairs(spark):
    rows = stats.events_autocorrelation(spark, SF_DIR_001).collect()
    days = (
        load_table(spark, SF_DIR_001, "events")
        .select(F.col("ts").cast("date"))
        .distinct()
        .count()
    )
    assert sorted(r.lag for r in rows) == list(range(1, 8))
    for r in rows:
        assert abs(r.autocorr) <= 1.0 + 1e-9
        # the fixture's January stream has no gap days, so pair count
        # is exactly days - lag
        assert r.n_pairs == days - r.lag


def test_seasonality_index_weighted_mean_is_one(spark):
    rows = stats.orders_dow_seasonality(spark, SF_DIR_001).collect()
    assert sorted(r.dow for r in rows) == list(range(7))
    # sum over dows of (index * n_days) / total_days == 1 exactly by
    # construction (both numerator chains share the same total)
    total_days = sum(r.n_days for r in rows)
    weighted = sum(r.seasonality_index * r.n_days for r in rows)
    assert weighted / total_days == pytest.approx(1.0, abs=1e-4)


def test_equidepth_decile_populations(spark):
    rows = sorted(
        stats.agg_histogram_equidepth(spark, SF_DIR_001).collect(),
        key=lambda r: r.decile,
    )
    total = load_table(spark, SF_DIR_001, "orders").count()
    assert [r.decile for r in rows] == list(range(1, 11))
    assert sum(r.n_orders for r in rows) == total
    # NTILE semantics: sizes differ by at most 1, big buckets first
    sizes = [r.n_orders for r in rows]
    assert max(sizes) - min(sizes) <= 1
    assert sizes == sorted(sizes, reverse=True)
    # price bands are non-overlapping and increasing
    for lo, hi in zip(rows, rows[1:]):
        assert lo.hi_price <= hi.lo_price
        assert lo.lo_price <= lo.hi_price


def test_range_binned_equals_naive_and_plan(spark):
    binned = joins.join_range_binned(spark, SF_DIR_001)
    # plan: the bin trick must turn the interval predicate into a
    # hash equi-join -- no nested loop, no cartesian product
    plan = binned._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # semantics: identical to the naive inequality formulation, which
    # Spark CAN still execute at fixture scale (as a BNLJ)
    events = load_table(spark, SF_DIR_001, "events")
    w = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("window_id"),
        F.col("user_id").alias("w_user"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("w_end"),
    )
    probe = events.filter(
        F.col("event_type").isin("click", "view", "purchase")
    ).select(
        F.col("event_id").alias("e_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
        F.col("event_type").alias("e_type"),
        F.col("value").alias("e_value"),
    )
    naive = (
        w.join(
            probe,
            (F.col("w_user") == F.col("e_user"))
            & (F.col("e_ts") >= F.col("w_start"))
            & (F.col("e_ts") < F.col("w_end")),
            "left",
        )
        .groupBy("window_id")
        .agg(
            F.count("e_id").alias("n_follow"),
            F.sum(
                F.when(F.col("e_type") == "purchase", 1).otherwise(0)
            ).alias("n_purchase"),
            F.coalesce(
                F.sum(F.round(F.col("e_value") * 100).cast("long")),
                F.lit(0),
            ).alias("follow_value_cents"),
        )
    )
    got = {r.window_id: r.asDict() for r in binned.collect()}
    want = {r.window_id: r.asDict() for r in naive.collect()}
    assert got == want
    # at least one window actually observed follow-up traffic,
    # otherwise the equivalence is vacuous
    assert any(r["n_follow"] > 0 for r in got.values())


def test_bootstrap_ci_brackets_mean(spark):
    row = stats.ml_bootstrap_mean_ci(spark, SF_DIR_001).collect()[0]
    assert row.n_replicas == stats._B_REPLICAS
    assert row.ci_lo <= row.ci_hi
    # at n=1500 the resampling error of the mean is small: the CI
    # must bracket the point estimate and be non-degenerate
    assert row.ci_lo <= row.mean_value <= row.ci_hi
    assert row.ci_hi - row.ci_lo > 0
    # width sanity: a 95% CI of the mean ~ 4 sigma/sqrt(n); it must
    # not be wider than the raw value range
    assert row.ci_hi - row.ci_lo < 50_000


def test_poisson_multiplicity_distribution():
    # the integer thresholds must reproduce Poisson(1) pmf to ~1e-4
    import math

    prev = 0
    for k, t in enumerate(stats._POIS_TH):
        pmf = math.exp(-1) / math.factorial(k)
        got = (t - prev) / 65536
        assert abs(got - pmf) < 1e-3, (k, got, pmf)
        prev = t


def test_ols_multivariate_matches_numpy(spark):
    import numpy as np

    row = stats.ml_ols_multivariate(spark, SF_DIR_001).collect()[0]
    pts = load_table(spark, SF_DIR_001, "orders").select(
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).alias("x1"),
        (F.dayofweek(F.col("o_orderdate").cast("date")) - 1).alias("x2"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
    ).collect()
    X = np.array([[1.0, r.x1, r.x2] for r in pts])
    y = np.array([float(r.y) for r in pts])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert row.n == len(pts)
    assert row.b0_cents == pytest.approx(beta[0], rel=1e-6)
    assert row.b1_cents_per_day == pytest.approx(beta[1], rel=1e-6)
    assert row.b2_cents_per_dow == pytest.approx(beta[2], rel=1e-4)


def test_holt_matches_direct_recursion(spark):
    rows = {
        r.mo: r
        for r in stats.orders_forecast_holt(spark, SF_DIR_001).collect()
    }
    monthly = sorted(
        (r.mo, r.cents)
        for r in load_table(spark, SF_DIR_001, "orders")
        .select(
            F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias(
                "mo"
            ),
            F.round(F.col("o_totalprice") * 100).cast("long").alias(
                "cents"
            ),
        )
        .groupBy("mo")
        .agg(F.sum("cents").alias("cents"))
        .collect()
    )
    y = [c for _, c in monthly]
    a, g = stats.HOLT_ALPHA, stats.HOLT_GAMMA
    lev, trd = float(y[0]), float(y[1] - y[0])
    for t in range(2, len(y) + 1):
        prev = lev
        lev = a * y[t - 1] + (1 - a) * (lev + trd)
        trd = g * (lev - prev) + (1 - g) * trd
        mo = monthly[t - 1][0]
        got = rows[mo]
        assert got.holt_level == pytest.approx(lev / 100, rel=1e-6)
        assert got.holt_trend == pytest.approx(trd / 100, rel=2e-3)
        assert got.forecast_next == pytest.approx(
            (lev + trd) / 100, rel=1e-5
        )
    # first month has no defined trend (init needs y2) -> not emitted
    assert monthly[0][0] not in rows
    assert len(rows) == len(monthly) - 1


def test_cms_one_sided_error_and_no_false_negatives(spark):
    from hq_master_data_warehouse_spark.operators import aggregates
    from hq_master_data_warehouse_spark.operators.text import _tokens

    rows = aggregates.sketch_cms_heavy_hitters(
        spark, SF_DIR_001
    ).collect()
    assert rows, "fixture corpus must have heavy hitters"
    # CMS guarantee: estimates never undercount
    for r in rows:
        assert r.cms_est >= r.true_n, r
    # no false negatives: every token at/above the 1% threshold must
    # be reported (est >= true >= thresh)
    docs = load_table(spark, SF_DIR_001, "documents")
    cnt = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in cnt)
    thresh = total // 100
    reported = {r.token for r in rows}
    for r in cnt:
        if r["count"] >= thresh:
            assert r.tok in reported, r


def test_fixedwidth_roundtrip_lossless(spark):
    from hq_master_data_warehouse_spark.sources import formats

    # the query's scan reads the staged text dir
    files = formats.source_fixedwidth_roundtrip(spark, SF_DIR_001).inputFiles()
    (path,) = {f.rsplit("/", 1)[0] for f in files}
    raw = spark.read.text(path)
    parsed = raw.select(
        F.trim(F.substring("value", 1, 12)).cast("long").alias("k"),
        F.trim(F.substring("value", 13, 25)).alias("name"),
        F.trim(F.substring("value", 44, 12)).cast("double").alias("bal"),
    )
    orig = load_table(spark, SF_DIR_001, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
    )
    got = {r.k: (r.name, r.bal) for r in parsed.collect()}
    want = {r.k: (r.name, r.bal) for r in orig.collect()}
    assert got == want


def test_business_days_formula():
    import datetime

    epoch = datetime.date(1992, 1, 6)  # a Monday
    assert epoch.weekday() == 0

    def bdays_closed(d: datetime.date) -> int:
        j = (d - epoch).days
        return (j // 7) * 5 + min(j % 7, 5)

    def bdays_loop(d0: datetime.date, d1: datetime.date) -> int:
        n, d = 0, d0
        while d < d1:
            if d.weekday() < 5:
                n += 1
            d += datetime.timedelta(days=1)
        return n

    for start in [datetime.date(1995, 1, 1), datetime.date(1997, 6, 15)]:
        for span in [0, 1, 5, 6, 7, 13, 30, 90]:
            end = start + datetime.timedelta(days=span)
            assert (
                bdays_closed(end) - bdays_closed(start)
                == bdays_loop(start, end)
            ), (start, span)


def test_target_encoding_is_leak_free(spark):
    rows = stats.ml_target_encoding(spark, SF_DIR_001).collect()
    # independent recomputation: for each (segment, fold), the
    # encoding must equal the mean target over the OTHER folds only
    raw = (
        load_table(spark, SF_DIR_001, "orders")
        .join(
            load_table(spark, SF_DIR_001, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            stats._md5_bucket(F.col("o_orderkey"), 5).alias("fold"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("y"),
        )
        .collect()
    )
    assert len(rows) == 25
    for r in rows:
        other = [
            x.y
            for x in raw
            if x.segment == r.segment and x.fold != r.fold
        ]
        own = [
            x.y
            for x in raw
            if x.segment == r.segment and x.fold == r.fold
        ]
        assert r.n_rows == len(own)
        want = sum(other) / len(other) / 100
        assert r.oof_encoding == pytest.approx(want, abs=1e-3)


def test_woe_iv_recomputed(spark):
    rows = stats.ml_woe_iv(spark, SF_DIR_001).collect()
    t_good = sum(r.n_good for r in rows)
    t_bad = sum(r.n_bad for r in rows)
    for r in rows:
        pg, pb = r.n_good / t_good, r.n_bad / t_bad
        woe = math.log(pg / pb)
        assert r.woe == pytest.approx(woe, abs=1e-6)
        assert r.iv_contrib == pytest.approx((pg - pb) * woe, abs=1e-6)


def test_rrf_fuses_both_rankings(spark):
    from hq_master_data_warehouse_spark.operators import similarity

    rows = similarity.similarity_rerank_rrf(spark, SF_DIR_001).collect()
    assert len(rows) == 20
    k = similarity.RRF_K
    for r in rows:
        assert r.lex_rank is not None or r.sem_rank is not None
        want = 0.0
        if r.lex_rank is not None:
            assert 1 <= r.lex_rank <= similarity.RRF_TOPK
            want += 1.0 / (k + r.lex_rank)
        if r.sem_rank is not None:
            assert 1 <= r.sem_rank <= similarity.RRF_TOPK
            want += 1.0 / (k + r.sem_rank)
        assert r.rrf_score == pytest.approx(want, abs=1e-6)
    # both retrievers contribute to the fused list (the fixture's
    # lexical and semantic top-50 happen to be disjoint at sf0.001,
    # so overlap itself is not asserted -- the formula check above
    # already covers the both-lists path arithmetic)
    assert any(r.lex_rank is not None for r in rows)
    assert any(r.sem_rank is not None for r in rows)
    scores = [r.rrf_score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_decay_weights_halve_per_half_life():
    from decimal import Decimal

    w = stats._DECAY_W
    assert w[0] == Decimal("1.000000000")
    for age in range(0, len(w) - stats.DECAY_HALF_LIFE_DAYS):
        ratio = float(w[age + stats.DECAY_HALF_LIFE_DAYS]) / max(
            float(w[age]), 1e-12
        )
        assert ratio == pytest.approx(0.5, abs=1e-6)


def test_decay_score_recomputed(spark):
    rows = stats.events_decay_weighted_score(
        spark, SF_DIR_001
    ).collect()
    raw = (
        load_table(spark, SF_DIR_001, "events")
        .select(
            "event_type",
            F.datediff(
                F.lit(stats.DECAY_REF_DATE), F.col("ts").cast("date")
            ).alias("age"),
        )
        .collect()
    )
    for r in rows:
        ages = [x.age for x in raw if x.event_type == r.event_type]
        assert r.n_events == len(ages)
        want = float(
            sum(
                stats._DECAY_W[a]
                for a in ages
                if 0 <= a < stats._DECAY_MAX_AGE
            )
        )
        got = float(r.decayed_count)  # Spark decimal round -> Decimal
        assert got == pytest.approx(want, abs=1e-4)
        # decayed mass is strictly positive and below the raw count
        assert 0 < got < r.n_events


def test_control_chart_limits(spark):
    rows = stats.dq_control_chart_daily(spark, SF_DIR_001).collect()
    cnts = [r.cnt for r in rows]
    n = len(cnts)
    mean = sum(cnts) / n
    var = sum((c - mean) ** 2 for c in cnts) / n
    sigma = var**0.5
    for r in rows:
        assert r.center == pytest.approx(mean, abs=1e-3)
        assert r.sigma == pytest.approx(sigma, abs=1e-3)
        assert r.out_of_control == (abs(r.cnt - mean) > 3 * sigma + 1e-9)


def test_ndcg_bounds_and_ideal(spark):
    from hq_master_data_warehouse_spark.operators import ml

    row = ml.ml_ndcg_at_k(spark, SF_DIR_001).collect()[0]
    assert 0 < row.ndcg_at_k <= 1.0
    assert row.dcg_at_k <= row.idcg_at_k
    # IDCG recomputed: top-k gains sorted desc over the whole set
    emb = load_table(spark, SF_DIR_001, "embeddings").collect()
    gains = sorted(
        (2 ** (r.label % 4) - 1 for r in emb), reverse=True
    )[: ml.NDCG_K]
    want = sum(
        g * float(d) for g, d in zip(gains, ml._NDCG_DISC)
    )
    assert row.idcg_at_k == pytest.approx(want, abs=1e-4)


def test_classification_report_recomputed(spark):
    from hq_master_data_warehouse_spark.operators import ml

    row = ml.ml_classification_report(spark, SF_DIR_001).collect()[0]
    tp, fp, fn, tn = row.tp, row.fp, row.fn, row.tn
    n = tp + fp + fn + tn
    assert n == load_table(spark, SF_DIR_001, "embeddings").count()
    prec = tp / (tp + fp)
    rec = tp / (tp + fn)
    assert row.precision_ == pytest.approx(prec, abs=1e-6)
    assert row.recall_ == pytest.approx(rec, abs=1e-6)
    assert row.f1 == pytest.approx(
        2 * prec * rec / (prec + rec), abs=1e-6
    )
    mcc = (tp * tn - fp * fn) / math.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    )
    assert row.mcc == pytest.approx(mcc, abs=1e-6)
    po = (tp + tn) / n
    pe = ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / n**2
    assert row.kappa == pytest.approx((po - pe) / (1 - pe), abs=1e-6)


def test_rolling_ols_slope_matches_numpy(spark):
    import numpy as np

    rows = sorted(
        stats.window_rolling_ols_slope(spark, SF_DIR_001).collect(),
        key=lambda r: r.day,
    )
    daily = sorted(
        (r.d, r.y)
        for r in load_table(spark, SF_DIR_001, "orders")
        .groupBy(
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01"))
            .cast("long")
            .alias("d")
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("y")
        )
        .collect()
    )
    assert len(rows) == len(daily)
    # spot-check a sample of frames against numpy
    for i in range(0, len(daily), max(1, len(daily) // 15)):
        d_i = daily[i][0]
        frame = [
            (d, y)
            for d, y in daily
            if d_i - (stats.ROLL_OLS_DAYS - 1) <= d <= d_i
        ]
        r = rows[i]
        assert r.n_days == len(frame)
        if len(frame) >= 2 and len({d for d, _ in frame}) > 1:
            x = np.array([d for d, _ in frame], dtype=float)
            y = np.array([y for _, y in frame], dtype=float)
            slope = np.polyfit(x, y, 1)[0]
            assert r.slope_cents_per_day == pytest.approx(
                slope, rel=1e-4, abs=1e-3
            )
        else:
            assert r.slope_cents_per_day is None


def test_randomized_response_debias(spark):
    row = stats.privacy_randomized_response(
        spark, SF_DIR_001
    ).collect()[0]
    assert row.n_true + 0 <= row.n
    # debias formula inverts the mechanism's expectation
    want = (row.n_report / row.n - 0.125) / 0.75
    assert row.debiased_rate == pytest.approx(want, abs=1e-6)
    # the debiased estimate should land near the true rate (n=1000;
    # binomial noise ~ 3/sqrt(n) after the 4/3 inflation)
    assert abs(row.debiased_rate - row.true_rate) < 0.1


def test_hll_estimate_and_mergeability(spark):
    from hq_master_data_warehouse_spark.operators import aggregates

    row = aggregates.sketch_hll_distinct(spark, SF_DIR_001).collect()[0]
    assert row.n_registers == aggregates._HLL_M
    # m=64 -> ~13% standard error; 3 sigma bound
    assert abs(row.hll_estimate - row.n_true) / row.n_true < 0.4
    # mergeability: registers of the whole stream == cell-wise max of
    # the registers of two disjoint halves
    orders = load_table(spark, SF_DIR_001, "orders")
    u32 = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8),
        16,
        10,
    ).cast("long")
    split = orders.select(
        (u32 % aggregates._HLL_M).alias("bucket"),
        F.floor(u32 / aggregates._HLL_M).cast("long").alias("w"),
        (F.col("o_orderkey") % 2).alias("half"),
    )
    whole = {
        r.bucket: r.m
        for r in split.groupBy("bucket")
        .agg(F.max(aggregates._hll_rank(F.col("w"))).alias("m"))
        .collect()
    }
    halves: dict[int, int] = {}
    for h in (0, 1):
        for r in (
            split.filter(F.col("half") == h)
            .groupBy("bucket")
            .agg(F.max(aggregates._hll_rank(F.col("w"))).alias("m"))
            .collect()
        ):
            halves[r.bucket] = max(halves.get(r.bucket, 0), r.m)
    assert halves == whole


def test_link_prediction_scores_absent_pairs(spark):
    from hq_master_data_warehouse_spark.operators import graph

    rows = graph.graph_link_prediction_jaccard(
        spark, SF_DIR_001
    ).collect()
    assert 0 < len(rows) <= graph.LINKPRED_TOPK
    und = {
        (r.u, r.w)
        for r in graph._copurchase_und(spark, SF_DIR_001).collect()
    }
    nbrs: dict[int, set] = {}
    for u, w in und:
        nbrs.setdefault(u, set()).add(w)
        nbrs.setdefault(w, set()).add(u)
    for r in rows:
        assert (r.a, r.b) not in und, "predicted an existing edge"
        inter = nbrs[r.a] & nbrs[r.b]
        union = nbrs[r.a] | nbrs[r.b]
        assert r.cn == len(inter)
        assert r.jaccard == pytest.approx(
            len(inter) / len(union), abs=1e-6
        )
    scores = [r.jaccard for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_pca_power_iteration_matches_quantized_reference(spark):
    import numpy as np

    from hq_master_data_warehouse_spark.operators import ml

    row = ml.ml_pca_power_iteration(spark, SF_DIR_001).collect()[0]
    emb = load_table(spark, SF_DIR_001, "embeddings").collect()
    # integer-unit matrix, same quantization as the operator
    E = np.array(
        [
            [round(float(x) * ml._PCA_SE) for x in r.embedding]
            for r in emb
        ],
        dtype=object,  # exact python ints
    )
    v = np.array([ml._PCA_V0] * ml.EMB_DIM, dtype=object)
    for _ in range(ml.PCA_ITERS):
        dot = E @ v
        w = E.T @ dot
        m = max(abs(int(x)) for x in w)
        vp = np.array(
            [round(float(int(x)) / m * ml._PCA_SV) for x in w],
            dtype=object,
        )
        n2 = sum(int(x) ** 2 for x in vp)
        v = np.array(
            [
                round(int(x) / math.sqrt(n2) * ml._PCA_SV)
                for x in vp
            ],
            dtype=object,
        )
    dot = E @ v
    dr = [round(int(x) / ml._PCA_SE) for x in dot]
    lam = sum(d * d for d in dr) / sum(int(x) ** 2 for x in v)
    assert row.eigenvalue == pytest.approx(lam, abs=1e-3)
    for d in range(1, ml.PCA_OUT_DIMS + 1):
        assert getattr(row, f"c{d}") == pytest.approx(
            int(v[d - 1]) / ml._PCA_SV, abs=1e-6
        )
    # convergence sanity: the fixture's Gram spectrum is nearly flat
    # (l2/l1 ~ 0.93), so K=4 cannot pin the exact top eigVECTOR --
    # the oracle already pins the ITERATION bit-for-bit; here assert
    # the Rayleigh quotient made real progress toward the top
    # eigenVALUE: above the spectral mean, within the top of the
    # spectrum, and far beyond the isotropic start.
    Ef = np.array([[float(x) for x in r.embedding] for r in emb])
    vals = np.linalg.eigvalsh(Ef.T @ Ef)
    lam_scaled = row.eigenvalue / (ml._PCA_SE / ml._PCA_SE) ** 2
    assert lam_scaled <= vals[-1] * 1.01
    assert lam_scaled >= 0.7 * vals[-1]
    assert lam_scaled > vals.mean()


def test_decision_stump_is_true_argmin(spark):
    from hq_master_data_warehouse_spark.operators import ml

    row = ml.ml_decision_stump(spark, SF_DIR_001).collect()[0]
    raw = (
        load_table(spark, SF_DIR_001, "orders")
        .select(
            F.floor(F.col("o_totalprice") / ml.STUMP_BAND)
            .cast("long")
            .alias("band"),
            F.when(F.col("o_orderstatus") == "F", 1)
            .otherwise(0)
            .alias("pos"),
        )
        .collect()
    )
    from collections import Counter

    n_by, p_by = Counter(), Counter()
    for r in raw:
        n_by[r.band] += 1
        p_by[r.band] += r.pos
    nt, pt = sum(n_by.values()), sum(p_by.values())

    def gini(n, p):
        return 1 - (p / n) ** 2 - ((n - p) / n) ** 2

    best = None
    nl = pl = 0
    for band in sorted(n_by):
        nl += n_by[band]
        pl += p_by[band]
        if nl == 0 or nt - nl == 0:
            continue
        sc = (
            nl * gini(nl, pl) + (nt - nl) * gini(nt - nl, pt - pl)
        ) / nt
        if best is None or sc < best[0]:
            best = (sc, band, nl, pl)
    assert row.split_band == best[1]
    assert row.n_left == best[2] and row.pos_left == best[3]
    assert row.gini_split == pytest.approx(best[0], abs=1e-6)
    assert row.gini_root == pytest.approx(gini(nt, pt), abs=1e-6)
    # a useful split never increases impurity
    assert row.gini_split <= row.gini_root + 1e-9


def test_kmeans_lloyd_partitions_and_improves(spark):
    from hq_master_data_warehouse_spark.operators import ml

    rows = ml.ml_kmeans_lloyd(spark, SF_DIR_001).collect()
    n_vecs = load_table(spark, SF_DIR_001, "embeddings").count()
    assert sum(r.n_members for r in rows) == n_vecs
    assert len(rows) <= ml.KMEANS_K
    assert all(r.n_members > 0 for r in rows)
    # Lloyd monotonicity: final inertia <= inertia of the INITIAL
    # centroids (recomputed independently in numpy on the same units)
    import numpy as np

    emb = load_table(spark, SF_DIR_001, "embeddings").collect()
    U = np.array(
        [
            [round(float(x) * ml._PCA_SE) for x in r.embedding]
            for r in sorted(emb, key=lambda r: r.vec_id)
        ],
        dtype=float,
    )
    C0 = U[: ml.KMEANS_K]
    d0 = ((U[:, None, :] - C0[None, :, :]) ** 2).sum(axis=2)
    inertia0 = d0.min(axis=1).sum() / 1e12
    final = sum(r.inertia for r in rows)
    assert final <= inertia0 + 1e-6


def test_rolling_median_matches_bruteforce(spark):
    import statistics as st

    rows = {
        r.day: r
        for r in stats.window_rolling_median_7day(
            spark, SF_DIR_001
        ).collect()
    }
    daily = sorted(
        (r.d, r.y)
        for r in load_table(spark, SF_DIR_001, "orders")
        .groupBy(
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01"))
            .cast("long")
            .alias("d")
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("y")
        )
        .collect()
    )
    assert len(rows) == len(daily)
    import datetime

    base = datetime.date(1995, 1, 1)
    for i in range(0, len(daily), max(1, len(daily) // 20)):
        d_i, _ = daily[i]
        frame = [y for d, y in daily if d_i - 6 <= d <= d_i]
        r = rows[base + datetime.timedelta(days=int(d_i))]
        assert r.n_days == len(frame)
        assert r.median_daily_cents == pytest.approx(
            float(st.median(frame)), abs=1e-9
        )


def test_bounce_rate_consistency(spark):
    rows = stats.events_session_bounce_rate(
        spark, SF_DIR_001
    ).collect()
    assert rows
    total_sessions = sum(r.n_sessions for r in rows)
    total_events = load_table(spark, SF_DIR_001, "events").count()
    # at least one session per user, at most one per event
    users = (
        load_table(spark, SF_DIR_001, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert users <= total_sessions <= total_events
    for r in rows:
        assert 0 <= r.n_bounce <= r.n_sessions
        assert r.bounce_rate == pytest.approx(
            r.n_bounce / r.n_sessions, abs=1e-6
        )


def test_fourier_matches_numpy_fft(spark):
    import numpy as np

    rows = {
        r.k: r
        for r in stats.events_fourier_weekly_harmonics(
            spark, SF_DIR_001
        ).collect()
    }
    assert sorted(rows) == list(range(1, stats.FOURIER_HARMONICS + 1))
    daily = {
        r.d: r.c
        for r in load_table(spark, SF_DIR_001, "events")
        .filter(
            F.datediff(
                F.col("ts").cast("date"), F.lit(stats._FOURIER_REF)
            ).between(0, stats.FOURIER_N - 1)
        )
        .groupBy(
            F.datediff(
                F.col("ts").cast("date"), F.lit(stats._FOURIER_REF)
            ).alias("d")
        )
        .agg(F.count("*").alias("c"))
        .collect()
    }
    series = np.array(
        [daily.get(d, 0) for d in range(stats.FOURIER_N)],
        dtype=float,
    )
    spec = np.fft.fft(series)
    for k, r in rows.items():
        # quantized twiddles vs numpy's: agreement to ~1e-5 relative
        assert r.re == pytest.approx(spec[k].real, abs=0.01)
        assert r.im == pytest.approx(spec[k].imag, abs=0.01)
        assert r.amplitude == pytest.approx(abs(spec[k]), abs=0.01)


def test_freshness_audit_covers_tables(spark):
    rows = {
        r.table_name: r
        for r in stats.dq_freshness_sla_audit(
            spark, SF_DIR_001
        ).collect()
    }
    assert set(rows) == {"orders", "lineitem", "events"}
    # events end 2024-01-30, ref 2024-02-01 -> lag 2 days, inside SLA
    assert rows["events"].lag_days == 2
    assert rows["events"].within_sla
    for r in rows.values():
        assert r.lag_days >= 0


def test_partition_skew_stats_sum_to_one(spark):
    rows = stats.layout_partition_skew_stats(
        spark, SF_DIR_001
    ).collect()
    assert sum(r.share for r in rows) == pytest.approx(1.0, abs=1e-4)
    mx = max(r.n_rows for r in rows)
    mean = sum(r.n_rows for r in rows) / len(rows)
    for r in rows:
        assert r.skew_factor == pytest.approx(mx / mean, abs=1e-3)
        assert r.rel_to_mean == pytest.approx(
            r.n_rows / mean, abs=1e-3
        )


def test_markov_attribution_matches_python_chain(spark):
    rows = {
        r.channel: r
        for r in stats.events_attribution_markov(
            spark, SF_DIR_001
        ).collect()
    }
    assert set(rows) == set(stats.ATTR_CHANNELS)
    # rebuild journeys + transition counts in plain Python
    evs = sorted(
        load_table(spark, SF_DIR_001, "events")
        .select("user_id", "ts", "event_id", "event_type", "value")
        .collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    from collections import Counter, defaultdict

    paths = defaultdict(list)
    for r in evs:
        st = (
            "CONV"
            if r.event_type == "purchase"
            and r.value > stats.ATTR_CONV_VALUE
            else r.event_type
        )
        paths[r.user_id].append(st)
    counts = Counter()
    for sts in paths.values():
        if "CONV" in sts:
            sts = sts[: sts.index("CONV") + 1]
        counts[("start", sts[0])] += 1
        for a, b in zip(sts, sts[1:]):
            counts[(a, b)] += 1
        if sts[-1] != "CONV":
            counts[(sts[-1], "NULL")] += 1

    def absorb(removed=None):
        n = Counter()
        for (s, t), c in counts.items():
            n[(s, "NULL" if t == removed else t)] += c
        states = {s for s, _ in n}
        d = {s: sum(c for (a, _), c in n.items() if a == s)
             for s in states}
        p = {s: 0 for s in states}
        for _ in range(stats.ATTR_ITERS):
            new = {}
            for s in states:
                num = sum(
                    c
                    * (
                        stats._ATTR_S
                        if t == "CONV"
                        else 0 if t == "NULL" else p.get(t, 0)
                    )
                    for (a, t), c in n.items()
                    if a == s
                )
                new[s] = (2 * num + d[s]) // (2 * d[s])
            p = new
        return p["start"]

    base = absorb()
    effects = {c: base - absorb(c) for c in stats.ATTR_CHANNELS}
    te = sum(effects.values())
    for c, r in rows.items():
        assert r.base_conversion == pytest.approx(
            base / stats._ATTR_S, abs=1e-6
        )
        assert r.removal_effect == pytest.approx(
            effects[c] / stats._ATTR_S, abs=1e-6
        )
        if te:
            assert r.attribution_share == pytest.approx(
                effects[c] / te, abs=1e-5
            )
    # removal can only hurt conversion
    assert all(r.removal_effect >= 0 for r in rows.values())


def test_poisson_rate_test_recomputed(spark):
    rows = stats.events_poisson_rate_test(spark, SF_DIR_001).collect()
    assert {r.event_type for r in rows} == {
        "click", "view", "signup", "error", "purchase",
    }
    for r in rows:
        assert r.rate_per_day_w1 == pytest.approx(r.c1 / 7, abs=1e-3)
        if r.c1 + r.c2 > 0:
            z = (r.c1 / 7 - r.c2 / 7) / math.sqrt(
                r.c1 / 49 + r.c2 / 49
            )
            assert r.z_score == pytest.approx(z, abs=1e-3)


def test_newsvendor_quantile_bounds(spark):
    row = stats.orders_newsvendor_quantile(
        spark, SF_DIR_001
    ).collect()[0]
    assert row.critical_ratio == pytest.approx(0.8)
    assert row.min_demand <= row.stock_level <= row.max_demand
    # the 80th percentile must cover at least 80% of days
    demands = sorted(
        r.demand
        for r in load_table(spark, SF_DIR_001, "orders")
        .groupBy(F.col("o_orderdate").cast("date"))
        .count()
        .withColumnRenamed("count", "demand")
        .collect()
    )
    covered = sum(1 for d in demands if d <= row.stock_level)
    assert covered / len(demands) >= 0.8 - 1e-9


def test_lift_gains_monotone_and_consistent(spark):
    from hq_master_data_warehouse_spark.operators import ml

    rows = sorted(
        ml.ml_lift_gains_table(spark, SF_DIR_001).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    total = load_table(spark, SF_DIR_001, "embeddings").count()
    assert sum(r.n for r in rows) == total
    # cumulative gain is nondecreasing and ends at exactly 1
    gains = [r.cum_gain for r in rows]
    assert gains == sorted(gains)
    assert gains[-1] == pytest.approx(1.0, abs=1e-9)
    # the final cumulative lift is 1 by definition
    assert rows[-1].cum_lift == pytest.approx(1.0, abs=1e-6)
    # (no assertion on decile-1 lift: the toy weights are not a
    # trained model -- the TABLE mechanics, not scorer quality, are
    # under test)


def test_feature_store_lags_recomputed(spark):
    from collections import defaultdict

    from hq_master_data_warehouse_spark.operators import ml

    rows = ml.ml_feature_store_lags(spark, SF_DIR_001).collect()
    raw = load_table(spark, SF_DIR_001, "events").select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .alias("d"),
        (F.col("event_type") == "purchase").alias("is_p"),
    ).collect()
    per = defaultdict(lambda: [0, 0])
    for r in raw:
        per[(r.user_id, r.d)][0] += 1
        per[(r.user_id, r.d)][1] += int(r.is_p)
    assert len(rows) == len(per)
    for r in rows[:: max(1, len(rows) // 25)]:
        k = (r.user_id, r.day_index)
        assert r.n_events == per[k][0]
        w7 = sum(
            v[0]
            for (u, d), v in per.items()
            if u == r.user_id and r.day_index - 6 <= d <= r.day_index
        )
        assert r.n_events_7d == w7
        pdays = [
            d
            for (u, d), v in per.items()
            if u == r.user_id and v[1] > 0 and d <= r.day_index
        ]
        want = r.day_index - max(pdays) if pdays else None
        assert r.days_since_purchase == want


def test_silhouette_bounds_and_assignment(spark):
    from hq_master_data_warehouse_spark.operators import ml

    rows = ml.ml_silhouette_simplified(spark, SF_DIR_001).collect()
    n_vecs = load_table(spark, SF_DIR_001, "embeddings").count()
    assert sum(r.n_points for r in rows) == n_vecs
    for r in rows:
        assert -1.0 <= r.mean_silhouette <= 1.0
    # centroid points themselves have a=0 -> s=1, so every cluster
    # containing its own centroid has a strictly positive mean only
    # if the rest doesn't drag it below; just assert no NaN and the
    # clusters are the 4 fixed ids
    assert {r.cluster for r in rows} <= set(range(ml.SIL_K))


def test_duplicate_payment_audit_properties(spark):
    rows = stats.dq_duplicate_payment_audit(
        spark, SF_DIR_001
    ).collect()
    assert rows, "audit must flag candidate pairs on this fixture"
    for r in rows:
        assert r.order_a < r.order_b
        assert abs(r.days_apart) <= 90
        # same 10k-dollar band
        assert r.cents_a // 1000000 == r.cents_b // 1000000 == r.band


def test_calibration_ece_recomputed(spark):
    from hq_master_data_warehouse_spark.operators import ml

    row = stats.ml_calibration_ece(spark, SF_DIR_001).collect()[0]
    assert 0 <= row.ece <= 1
    # recompute from raw margins
    emb = load_table(spark, SF_DIR_001, "embeddings").collect()
    import collections

    bins = collections.defaultdict(lambda: [0, 0, 0])
    for r in emb:
        margin = (
            sum(
                float(x) * wgt
                for x, wgt in zip(r.embedding, ml.WEIGHTS)
            )
            + ml.BIAS
        )
        b = int(min(max(math.floor(margin + 5), 0), 9))
        conf = min(max((margin + 5) / 10, 0.0), 1.0)
        bins[b][0] += 1
        bins[b][1] += int(r.label % 2 == 1)
        bins[b][2] += round(conf * 1_000_000)
    n = sum(v[0] for v in bins.values())
    total = sum(abs(v[1] * 1_000_000 - v[2]) for v in bins.values())
    assert row.n_rows == n
    assert row.n_bins == len(bins)
    assert row.ece == pytest.approx(total / n / 1_000_000, abs=1e-5)


def test_stickiness_bounds_and_bruteforce(spark):
    rows = {
        r.day: r
        for r in stats.events_stickiness_dau_wau(
            spark, SF_DIR_001
        ).collect()
    }
    raw = load_table(spark, SF_DIR_001, "events").select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .alias("d"),
    ).distinct().collect()
    from collections import defaultdict

    by_day = defaultdict(set)
    for r in raw:
        by_day[r.d].add(r.user_id)
    import datetime

    base = datetime.date(2024, 1, 1)
    assert len(rows) == len(by_day)
    for d, users in by_day.items():
        r = rows[base + datetime.timedelta(days=int(d))]
        wau = set()
        for k in range(7):
            wau |= by_day.get(d - k, set())
        assert r.dau == len(users)
        assert r.wau == len(wau)
        assert 0 < r.stickiness <= 1.0 + 1e-9


def test_seasonal_decomposition_sums_to_zero(spark):
    rows = stats.orders_seasonal_decomposition(
        spark, SF_DIR_001
    ).collect()
    # the sparse sf0.001 calendar leaves full centered windows on
    # only a subset of weekdays -- assert structure, not density
    assert rows
    assert {r.dow for r in rows} <= set(range(7))
    # brute-force recomputation (the centered-MA zero-mean argument
    # assumes a dense calendar; sf0.001 is sparse, so compare VALUES,
    # not the statistical idealization)
    daily = sorted(
        (r.d, r.dow, r.y)
        for r in load_table(spark, SF_DIR_001, "orders")
        .groupBy(
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01"))
            .cast("long")
            .alias("d"),
            (F.dayofweek(F.col("o_orderdate").cast("date")) - 1)
            .alias("dow"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("y")
        )
        .collect()
    )
    from collections import defaultdict

    det_by_dow = defaultdict(list)
    for d, dow, y in daily:
        win = [(dd, yy) for dd, _, yy in daily if d - 3 <= dd <= d + 3]
        if len(win) == 7:
            det_by_dow[dow].append(7 * y - sum(yy for _, yy in win))
    got = {r.dow: r for r in rows}
    assert set(got) == set(det_by_dow)
    for dow, dets in det_by_dow.items():
        r = got[dow]
        assert r.n_days == len(dets)
        assert r.seasonal_component == pytest.approx(
            sum(dets) / len(dets) / 700, abs=0.011
        )
        assert r.mean_abs_detrended == pytest.approx(
            sum(abs(x) for x in dets) / len(dets) / 700, abs=0.011
        )
        assert r.mean_abs_detrended >= abs(r.seasonal_component)


def test_ttr_bounds_and_sample(spark):
    rows = stats.text_lexical_diversity_ttr(
        spark, SF_DIR_001
    ).collect()
    docs = load_table(spark, SF_DIR_001, "documents").count()
    assert len(rows) == docs
    for r in rows:
        assert 1 <= r.n_types <= r.n_tokens
        assert 0 < r.ttr <= 1
        assert 0 <= r.hapax_share <= 1
    # brute-force one doc
    import re as _re

    doc = load_table(spark, SF_DIR_001, "documents").limit(1).collect()[0]
    toks = [
        t
        for t in _re.sub(r"[^a-zA-Z0-9 ]", " ", doc.text).lower().split(" ")
        if t
    ]
    from collections import Counter

    c = Counter(toks)
    r = next(x for x in rows if x.doc_id == doc.doc_id)
    assert r.n_tokens == len(toks)
    assert r.n_types == len(c)
    assert r.hapax_share == pytest.approx(
        sum(1 for v in c.values() if v == 1) / len(c), abs=1e-6
    )


def test_decade_bins_partition_everything(spark):
    rows = stats.agg_histogram_decade_bins(
        spark, SF_DIR_001
    ).collect()
    total = load_table(spark, SF_DIR_001, "orders").count()
    assert sum(r.n_orders for r in rows) == total
    for r in rows:
        # bin membership: digit count of both extremes matches
        assert len(str(r.min_cents)) == r.decade
        assert len(str(r.max_cents)) == r.decade
    decs = sorted(r.decade for r in rows)
    assert decs == sorted(set(decs))


def test_link_prediction_wedge_guard_refuses_over_budget(spark):
    """VERDICT r11 item 1: the exact wedge enumeration must refuse
    above LINKPRED_MAX_WEDGES with a message naming the sub-quadratic
    path -- pinned on a synthetic high-degree fixture (one 100k-degree
    hub alone exceeds any sane budget) and end-to-end via a lowered
    budget, so the guard cannot silently regress into a 43 GiB
    spill-bound shuffle at corpus scale."""
    from hq_master_data_warehouse_spark.operators import graph

    # estimator is exact sum-of-C(d,2) on a synthetic degree table
    deg = spark.createDataFrame(
        [(1, 100_000), (2, 4), (3, 1)], "node long, d long"
    )
    est = graph._estimated_wedges(deg)
    assert est == 100_000 * 99_999 // 2 + 6
    with pytest.raises(ValueError, match="graph_link_prediction_minhash"):
        graph._check_wedge_budget(graph.LINKPRED_MAX_WEDGES + 1)
    graph._check_wedge_budget(graph.LINKPRED_MAX_WEDGES)  # at budget: ok

    # end-to-end: with the budget lowered below sf0.001's real wedge
    # count (~8e5), the registered query itself must refuse
    real = graph.LINKPRED_MAX_WEDGES
    graph.LINKPRED_MAX_WEDGES = 1000
    try:
        with pytest.raises(ValueError, match="bounded to"):
            graph.graph_link_prediction_jaccard(spark, SF_DIR_001)
    finally:
        graph.LINKPRED_MAX_WEDGES = real


def test_link_prediction_minhash_recall_vs_exact(spark):
    """The approximate twin must rank mostly the same absent links as
    the exact anchor, at sf0.01 (VERDICT r11 item 2), where the top-25
    jaccard band is ~0.09-0.1 and the r=1 banding's detection
    probability is 1-(1-j)^48 ~ 0.99 (48 bands since r13's measured
    A/B, VERDICT r12 item 2).  Deterministic (fixed md5 hash family,
    fixed data): measured 25/25 at 48 bands (22/25 at the old 24);
    the 0.8 floor is slack for future data regen only.  Scores of
    recalled pairs must be IDENTICAL to the exact scores (verify is
    exact on candidates)."""
    from tests.conftest import SF_DIR_01

    from hq_master_data_warehouse_spark.operators import graph

    exact = {
        (r.a, r.b): (r.cn, r.jaccard)
        for r in graph.graph_link_prediction_jaccard(
            spark, SF_DIR_01
        ).collect()
    }
    approx = {
        (r.a, r.b): (r.cn, r.jaccard)
        for r in graph.graph_link_prediction_minhash(
            spark, SF_DIR_01
        ).collect()
    }
    hits = set(exact) & set(approx)
    assert len(hits) >= int(0.8 * len(exact))
    for pair in hits:
        assert approx[pair] == exact[pair]


def test_link_prediction_minhash_partition_independent(spark):
    """The twin's result must be bit-identical under a different
    shuffle width: signatures are exact min-aggregates, candidates a
    set, scores exact integer ratios, and the top-k fully
    tie-broken -- nothing may depend on partitioning.  (The driver
    runs its own session config; vanilla-session rotation covers the
    registry over time, this pins the newest op directly.)"""
    from hq_master_data_warehouse_spark.operators import graph

    q = graph.graph_link_prediction_minhash
    base = [tuple(r) for r in q(spark, SF_DIR_001).collect()]
    assert base  # non-degenerate
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        alt = [tuple(r) for r in q(spark, SF_DIR_001).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert alt == base
