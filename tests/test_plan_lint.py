"""Full-registry plan lint: EVERY registered query's physical plan is
checked for (1) the one shape that is never acceptable in this engine
-- an unbounded CartesianProduct -- and (2) unpartitioned WindowExec
specs, which put their whole input through ONE task and are allowed
only over provably bounded inputs.  (Broadcast nested-loop joins of
1-row scalar aggregates are the sanctioned scalar-join shape and are
NOT flagged; targeted per-family expectations -- broadcast pins,
TakeOrdered, partial aggregation -- live in tests/test_plans.py.)

This is the registry-wide safety net: a Spark upgrade or a refactor
that silently degrades any of the 370+ plans to a cartesian -- or
adds a global sort-window over row-scale data -- fails CI here even
if the query has no dedicated plan pin.

Window policy (r11, after the two-pass sweep converted the
row-scale offenders -- mann-whitney/wilcoxon/wasserstein/winsorized/
conformal/interarrival cumulative ranks, the zipf vocabulary rank,
q15's global max, the flag-partitioned weighted median):

- specs whose leading ORDER column is ``_b`` are the sanctioned
  ``functions/prefix.py::prefix_scan`` shape (the prefix window over
  per-bucket TOTAL tables, bounded by the bucket domain, never the
  input) -- always allowed; test_only_prefix_scan_names_the_bucket
  keeps that name to prefix_scan, so the sanction covers nothing
  else;
- every other unpartitioned spec must be registered in
  ALLOWED_GLOBAL_WINDOWS with its boundedness argument.
"""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

from hq_master_data_warehouse_spark import registry

registry.load_catalog()

SF = "/root/testdata/sf0.001"

#: audited global-window users and WHY their window input is bounded
#: (never grows with corpus row count).  A query appearing here may
#: still fail test_plans pins; this list only sanctions the
#: unpartitioned window itself.
_CAL = "calendar-grain series (one row per day/month/event time)"
_HEAD = "limit-K head (<= a few hundred rows by construction)"
_BINS = "fixed bin/band/decile grid (bounded value domain)"
ALLOWED_GLOBAL_WINDOWS = {
    # reference W1 pagination semantics: the window runs on an
    # already-LIMITed page head, see joins.py/windows.py comments
    "anti_join_exclude_sent": _HEAD,
    "pagination_offset_limit": _HEAD,
    # retrieval-eval rankings over top-K cuts (TakeOrdered pinned in
    # test_plans)
    "ml_ndcg_at_k": _HEAD,
    "similarity_rerank_rrf": _HEAD,
    "text_corpus_top_ngrams": _HEAD,
    # calendar-grain series ops: the window input is the per-day /
    # per-month aggregate, bounded by the observed time span
    "events_cusum_changepoint": _CAL,
    "events_granger_causality": _CAL,
    "events_rank_corr_spearman": _CAL + " (ranks of daily counts)",
    "ml_durbin_watson": _CAL,
    "orders_backlog_clamped": _CAL,
    "orders_concurrent_backlog": _CAL,
    "orders_daily_drawdown": _CAL,
    "orders_forecast_backtest": _CAL,
    "orders_forecast_holt": _CAL,
    "orders_forecast_ses": _CAL,
    "orders_runs_test_daily": _CAL,
    "orders_seasonal_decomposition": _CAL,
    "orders_segmented_trend": _CAL,
    "window_bollinger_bands": _CAL,
    "window_month_over_month": _CAL,
    "window_pattern_vshape": _CAL,
    "window_rolling_7day_revenue": _CAL,
    "window_rolling_ols_slope": _CAL,
    "window_rsi_momentum": _CAL,
    "window_running_distinct_users": _CAL,
    # survival-analysis time axes: one row per distinct event time
    # (day grain in this schema)
    "orders_hazard_nelson_aalen": _CAL,
    "orders_logrank_test": _CAL,
    "orders_survival_km": _CAL,
    # fixed grids / small enumerable domains
    "ml_decision_stump": _BINS + " (stump threshold grid)",
    "ml_isotonic_calibration": _BINS,
    "ml_lift_gains_table": _BINS,
    "orders_lorenz_curve": _BINS,
    "orders_pareto_skyline": _BINS,
    "part_skyline_pareto": _BINS,
    "privacy_t_closeness": _BINS,
    "orders_repeat_purchase_curve": "per-customer order-count domain",
    "ml_multiple_testing_bh": "priority-pair hypothesis grid",
    "events_markov_next_event_eval": "event-type transition domain",
}

_SPEC_RE = re.compile(
    r"windowspecdefinition\((.*?)specifiedwindowframe"
)


def _offending_global_windows(plan: str) -> list[str]:
    """Unpartitioned window specs in a physical plan string, minus
    the sanctioned ``_b`` prefix-table shape of prefix_scan.  A spec is
    unpartitioned when its body is empty (global aggregate window)
    or its first argument is an order spec (no partition columns
    before the first ASC/DESC).  Expression-valued partition columns
    containing commas read as partitioned -- a false NEGATIVE, which
    only ever under-flags."""
    hits = []
    for m in _SPEC_RE.finditer(plan):
        body = m.group(1)
        cut = re.split(r" (?:ASC|DESC)\b", body, maxsplit=1)[0]
        empty = body.strip().rstrip(",").strip() == ""
        if not (empty or "," not in cut):
            continue
        lead = body.strip().split("#")[0].strip()
        if lead == "_b":
            continue
        hits.append(body.strip()[:60] or "<global>")
    return hits


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_no_cartesian_and_no_unbounded_global_window(spark, name):
    df = registry.QUERIES[name](spark, SF)
    # pre-execution physical plan: cheap (no job runs for most
    # queries; iterative operators run their construction-time jobs
    # at sf0.001, which the catalog test pays anyway)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, (
        f"{name} compiles to a CartesianProduct"
    )
    bad = _offending_global_windows(plan)
    if bad and name not in ALLOWED_GLOBAL_WINDOWS:
        raise AssertionError(
            f"{name} has unpartitioned window(s) over unaudited "
            f"input: {bad} -- either switch to the two-pass "
            f"prefix_scan (functions/prefix.py) or add an audited "
            f"boundedness entry to ALLOWED_GLOBAL_WINDOWS"
        )


def _inferring_parquet_reads(tree) -> list[tuple[int, str]]:
    """(line, enclosing function) of every ``<x>.read[...].parquet(``
    call whose reader chain neither sets ``.schema(...)`` nor asks for
    ``mergeSchema`` (a merge reads every footer, which
    ``read_parquet`` also leaves to Spark) -- the calls that make Spark
    run a schema-inference job only to read one footer."""
    hits = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            recv, exempt = node.func.value, False
            while isinstance(recv, ast.Call) and isinstance(
                recv.func, ast.Attribute
            ):
                exempt |= recv.func.attr == "schema" or (
                    recv.func.attr == "option"
                    and len(recv.args) > 0
                    and isinstance(recv.args[0], ast.Constant)
                    and recv.args[0].value == "mergeSchema"
                )
                recv = recv.func.value
            if (
                isinstance(recv, ast.Attribute)
                and recv.attr == "read"
                and not exempt
            ):
                hits.append((node.lineno, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return hits


def test_parquet_scans_go_through_read_parquet():
    """Every engine Parquet scan goes through ``loaders.read_parquet``,
    which reads the schema from one footer on the driver; a direct
    ``spark.read.parquet`` brings back Spark's one-task schema
    inference job for every new path set."""
    pkg = pathlib.Path(registry.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for line, func in _inferring_parquet_reads(
            ast.parse(path.read_text(), str(path))
        ):
            if (rel, func) != ("sources/loaders.py", "read_parquet"):
                offenders.append(f"{rel}:{line} ({func})")
    assert not offenders, (
        "direct spark.read.parquet scans (use loaders.read_parquet): "
        + ", ".join(offenders)
    )


def _txn_log_layout_constants(tree) -> list[int]:
    """Lines of every string constant that spells the txn log's
    on-disk layout: the log dir name, or a checkpoint file name."""
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and (node.value == "_txn_log" or ".checkpoint.json" in node.value)
    ]


def test_only_txn_log_knows_the_log_layout():
    """``sources/txn_log.py`` is the one module that knows how the
    txn log is laid out on disk; every other engine module reaches a
    log entry through its functions, so the format can change in one
    place."""
    pkg = pathlib.Path(registry.__file__).parent
    offenders = [
        f"{path.relative_to(pkg).as_posix()}:{line}"
        for path in sorted(pkg.rglob("*.py"))
        if path.relative_to(pkg).as_posix() != "sources/txn_log.py"
        for line in _txn_log_layout_constants(
            ast.parse(path.read_text(), str(path))
        )
    ]
    assert not offenders, (
        "txn log paths built outside sources/txn_log.py: "
        + ", ".join(offenders)
    )


#: engine functions besides matcache.py that may pick a /tmp path or
#: move or replace a file or dir, and why each is not a staged input
_TMP_PATH_USERS = {
    ("streaming/jobs.py", "streaming_upsert_sink"): (
        "its merge target is a per-call txn table the stream commits "
        "to; nothing is renamed"
    ),
    ("streaming/jobs.py", "streaming_egress_retry"): (
        "its audit table is a per-call output dir"
    ),
    ("streaming/jobs.py", "streaming_txn_log_sink"): (
        "its txn table is a per-call output dir the stream commits to"
    ),
    ("operators/layout.py", "layout_compact_small_files"): (
        "the compaction output is the operation under test"
    ),
    ("operators/layout.py", "layout_dynamic_partition_overwrite"): (
        "the dynamic-overwrite target is the operation under test"
    ),
    ("operators/layout.py", "_bucketed_table"): (
        "the bucket metadata lives in the session catalog, not in the "
        "files, so the table cannot be published by a rename"
    ),
    ("sources/delta_export.py", "export_delta_log"): (
        "publishes the exported Delta log's one commit file by "
        "os.replace, the atomic publish Delta readers expect; no data "
        "dir moves"
    ),
}


def _tmp_path_calls(tree) -> list[tuple[int, str]]:
    """(line, enclosing top-level function) of every ``os.rename``,
    ``os.replace``, ``shutil.move`` or ``tempfile.gettempdir``
    reference."""
    hits = []

    def visit(node, func):
        if func == "<module>" and isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            func = node.name
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and (node.value.id, node.attr)
            in {
                ("os", "rename"),
                ("os", "replace"),
                ("shutil", "move"),
                ("tempfile", "gettempdir"),
            }
        ):
            hits.append((node.lineno, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return hits


def test_only_matcache_stages_under_tmp():
    """``matcache.staged`` is the one place that decides where a
    derived input lives under /tmp, when it is stale and how
    concurrent builders are kept apart; a hand-rolled stager elsewhere
    (its own path, its own shared ``.tmp`` and rename) must go through
    it or be listed in _TMP_PATH_USERS with its reason.  A table's
    data is rewritten through the txn log's atomic commit, so a
    directory swap by move or replace is flagged too."""
    pkg = pathlib.Path(registry.__file__).parent
    offenders = [
        f"{rel}:{line} ({func})"
        for path in sorted(pkg.rglob("*.py"))
        if (rel := path.relative_to(pkg).as_posix()) != "matcache.py"
        for line, func in _tmp_path_calls(
            ast.parse(path.read_text(), str(path))
        )
        if (rel, func) not in _TMP_PATH_USERS
    ]
    assert not offenders, (
        "/tmp staging outside matcache.staged: " + ", ".join(offenders)
    )


#: engine modules and functions that may spell prefix_scan's bucket
#: column, and why
_B_NAME_USERS = {
    ("operators/stats.py", "ml_wasserstein_distance"): (
        "its boundary-patch LEAD windows partition on prefix_scan's "
        "own bucket column so they reuse its shuffle; their one "
        "unpartitioned window runs over the per-bucket firsts table"
    ),
    ("sources/txn_log.py", "_write_bucketed"): (
        "the Hive partition column of a txn table's key-range data "
        "files (the `<prefix>/_b=N` dirs of its on-disk layout); no "
        "window orders by it"
    ),
}


def _b_constants(tree) -> list[tuple[int, str]]:
    """(line, enclosing function) of every ``"_b"`` string constant."""
    hits = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Constant) and node.value == "_b":
            hits.append((node.lineno, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return hits


def test_only_prefix_scan_names_the_bucket():
    """The plan lint sanctions every window ordered by ``_b``; that is
    truthful only while ``functions/prefix.py`` is the one module that
    names a column ``_b``, so a hand-rolled prefix window elsewhere
    must go through ``prefix_scan`` or ALLOWED_GLOBAL_WINDOWS."""
    pkg = pathlib.Path(registry.__file__).parent
    offenders = [
        f"{rel}:{line} ({func})"
        for path in sorted(pkg.rglob("*.py"))
        if (rel := path.relative_to(pkg).as_posix())
        != "functions/prefix.py"
        for line, func in _b_constants(
            ast.parse(path.read_text(), str(path))
        )
        if (rel, func) not in _B_NAME_USERS
    ]
    assert not offenders, (
        "the prefix_scan bucket name `_b` spelled outside "
        "functions/prefix.py: " + ", ".join(offenders)
    )
