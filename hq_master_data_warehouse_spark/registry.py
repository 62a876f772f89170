"""Query catalog: every implemented operator registers itself here.

Each query is a pure function ``(spark, sf_dir) -> DataFrame`` plus an
optional ANSI-SQL oracle string that DuckDB runs on the same parquet
tables.  Ops whose semantics SQL cannot express (streaming state, LSH)
register without an oracle and get the driver's weaker rows-only check.

Column-name contract: every computed/aggregate column is aliased to the
SAME name in both formulations -- the driver sorts columns by name
before value-hashing.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name`` with an optional DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Check-window rotation.  The correctness gate that consumes queries()
# verifies only its FIRST ~50 entries in dict order, so the order
# decides which names get fresh evidence.  Three rules, from the newest
# record each name holds in CORRECTNESS_r*.json (green = hash match, or
# the rows-only record that is the most an oracle-less op can get):
#   1. names with no green latest record (never recorded, or red in
#      their newest round) come first: oracle-backed before rows-only,
#      each in registration order;
#   2. then names pinned in RECHECK whose newest record predates
#      RECHECK_SINCE (plan changed since their last green); a pin that
#      is not a registered query is skipped here and fails
#      tests/test_catalog.py;
#   3. then every other name, oldest record first, ties in
#      registration order -- so the window sweeps the whole registry
#      over successive rounds.
# ---------------------------------------------------------------------------

# Queries whose plan changed in round RECHECK_SINCE: each holds an
# older green record but needs one on the post-change code path.  A
# pin retires itself once a record from round >= RECHECK_SINCE lands.
RECHECK_SINCE = 14
RECHECK: tuple[str, ...] = ()


def _latest_records() -> dict[str, tuple[int, bool]]:
    """``{name: (round, green)}`` from each name's newest record in the
    repo's CORRECTNESS_r<round>.json files (empty if none is readable)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = []
    for entry in os.listdir(root):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", entry)
        if m:
            files.append((int(m.group(1)), os.path.join(root, entry)))
    records: dict[str, tuple[int, bool]] = {}
    for rnd, path in sorted(files):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if isinstance(row, dict):
                green = row.get("hash_match") or row.get("err") == "no_oracle"
                records[name] = (rnd, bool(green))
    return records


def ordered_queries() -> dict[str, QueryFn]:
    """QUERIES in check-window order: names without a green latest
    record first (oracle-backed before rows-only), then active RECHECK
    pins, then the rest oldest record first.  Ties keep registration
    order (Python's sort is stable)."""
    load_catalog()
    records = _latest_records()
    green = {n for n, (_, ok) in records.items() if ok}
    front = sorted(
        (n for n in QUERIES if n not in green), key=lambda n: n not in ORACLES
    )
    recheck = [
        n
        for n in RECHECK
        if n in QUERIES and n in green and records[n][0] < RECHECK_SINCE
    ]
    pinned = set(recheck)
    back = sorted(
        (n for n in QUERIES if n in green and n not in pinned),
        key=lambda n: records[n][0],
    )
    return {n: QUERIES[n] for n in (*front, *recheck, *back)}


def load_catalog() -> None:
    """Import every module that registers queries (idempotent)."""
    from .plans import curation, flagship  # noqa: F401
    from .operators import (  # noqa: F401
        aggregates,
        analytics,
        dedup,
        distribution,
        filters,
        graph,
        joins,
        layout,
        ledger,
        lifecycle,
        ml,
        multimodal,
        privacy,
        profile,
        relational_ext,
        sampling,
        setops,
        similarity,
        skew,
        stats,
        text,
        windows,
    )
    from .sources import (  # noqa: F401
        delta_export,
        formats,
        ingest,
        kafka,
        txn_log,
    )
    from .streaming import jobs  # noqa: F401
    from .plans import tpch  # noqa: F401
    from .plans import tpch_ext  # noqa: F401
