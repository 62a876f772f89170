"""Differential test: every registered query with an oracle must match
DuckDB at sf0.001 (fast) -- the same check the driver runs at sf0.01.
Queries without an oracle must at least execute and return a schema.
"""

from __future__ import annotations

import pytest

from hq_master_data_warehouse_spark import registry
from tests.oracle import compare, duckdb_conn

registry.load_catalog()

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb_conn(SF)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_matches_oracle(spark, con, name):
    df = registry.QUERIES[name](spark, SF)
    if name in registry.ORACLES:
        compare(df, con, registry.ORACLES[name])
    else:
        # rows-only: runs, has a schema, row count is non-negative
        assert df.columns
        assert df.count() >= 0


def test_doc_counts_match_registry():
    """COVERAGE.md / README.md quote the registry sizes; pin them to
    the live registry so the docs cannot drift (VERDICT r3 item 7)."""
    import os
    import re

    registry.load_catalog()
    n_q, n_o = len(registry.QUERIES), len(registry.ORACLES)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for doc in ("COVERAGE.md", "README.md"):
        with open(os.path.join(root, doc)) as f:
            text = f.read()
        for m in re.finditer(r"(\d+) registered quer", text):
            assert int(m.group(1)) == n_q, f"{doc}: stale query count"
        for m in re.finditer(r"(\d+) DuckDB-oracled", text):
            assert int(m.group(1)) == n_o, f"{doc}: stale oracle count"


def test_check_window_rotates_oldest_record_first():
    """VERDICT r12 item 1: the back block of ordered_queries() (names
    already holding a green latest record, not pinned by an active
    RECHECK) must sort by record age ASCENDING, ties broken by
    registration order.  This makes the driver's ~50-slot gate sweep
    the full registry on a ~7-round cycle instead of re-verifying the
    same 50 names every round while ~320 greens age indefinitely."""
    registry.load_catalog()
    ordered = list(registry.ordered_queries())
    records = registry._latest_records()
    checked = {n for n, (_, ok) in records.items() if ok}
    rounds = {n: rnd for n, (rnd, _) in records.items()}
    if not rounds:
        pytest.skip("no CORRECTNESS_r*.json records readable")
    active_recheck = {
        n
        for n in registry.RECHECK
        if n in checked
        and rounds.get(n, 0) < registry.RECHECK_SINCE
    }
    back = [
        n
        for n in ordered
        if n in checked and n not in active_recheck
    ]
    ages = [rounds.get(n, 0) for n in back]
    assert ages == sorted(ages), (
        "back block must be oldest-record-first; first inversion at "
        + next(
            f"{back[i]}(r{ages[i]}) before {back[i + 1]}(r{ages[i + 1]})"
            for i in range(len(ages) - 1)
            if ages[i] > ages[i + 1]
        )
    )
    # ties preserve registration order (Python's sort is stable)
    reg_pos = {n: i for i, n in enumerate(registry.QUERIES)}
    for i in range(len(back) - 1):
        if ages[i] == ages[i + 1]:
            assert reg_pos[back[i]] < reg_pos[back[i + 1]], (
                f"tie at r{ages[i]} must keep registration order: "
                f"{back[i]} vs {back[i + 1]}"
            )


def test_recheck_pins_name_registered_queries():
    """A misspelt or deleted RECHECK name would never pin anything."""
    registry.load_catalog()
    stale = [n for n in registry.RECHECK if n not in registry.QUERIES]
    assert not stale, f"RECHECK names no registered query: {stale}"


def _order_with(monkeypatch, records, recheck=()):
    monkeypatch.setattr(registry, "_latest_records", lambda: records)
    monkeypatch.setattr(registry, "RECHECK", tuple(recheck))
    monkeypatch.setattr(registry, "RECHECK_SINCE", 14)
    return list(registry.ordered_queries())


def _spread_records():
    """Every name green, rounds cycling 3..12 in registration order so
    the back block's age sort actually reorders."""
    registry.load_catalog()
    return {n: (3 + i % 10, True) for i, n in enumerate(registry.QUERIES)}


def _back(records, exclude=()):
    """The expected back block: oldest record first, then registration."""
    pos = {n: i for i, n in enumerate(registry.QUERIES)}
    return sorted(
        (n for n in pos if n not in exclude),
        key=lambda n: (records[n][0], pos[n]),
    )


def test_red_latest_record_moves_to_the_front(monkeypatch):
    records = _spread_records()
    rows_only = [n for n in registry.QUERIES if n not in registry.ORACLES]
    oracled = [n for n in registry.QUERIES if n in registry.ORACLES]
    assert rows_only and len(oracled) >= 3
    red = oracled[-1]  # registered last, so only the rule can lift it
    unrecorded = oracled[1]
    records[red] = (13, False)
    del records[unrecorded]
    for n in rows_only:
        del records[n]
    got = _order_with(monkeypatch, records)
    front = [unrecorded, red, *rows_only]
    assert got == front + _back(records, exclude=front)


def test_recheck_pin_sits_between_front_and_back_until_rerecorded(
    monkeypatch,
):
    records = _spread_records()
    oracled = [n for n in registry.QUERIES if n in registry.ORACLES]
    unrecorded, pin, pin_fresh = oracled[0], oracled[5], oracled[7]
    del records[unrecorded]
    records[pin] = (9, True)
    records[pin_fresh] = (14, True)  # already re-recorded: inert pin
    got = _order_with(monkeypatch, records, recheck=(pin, pin_fresh))
    assert got == [unrecorded, pin] + _back(
        records, exclude=(unrecorded, pin)
    )
    assert got[-1] == pin_fresh  # newest record, back of the window

    # the post-change record lands: the pin retires into the back block
    records[pin] = (14, True)
    got = _order_with(monkeypatch, records, recheck=(pin, pin_fresh))
    assert got == [unrecorded] + _back(records, exclude=(unrecorded,))
    assert got[-2:] == [pin, pin_fresh]


def test_unregistered_pin_with_old_record_is_skipped(monkeypatch):
    """A pin on a deleted query that still holds an old green record
    leaves the order as without it instead of raising."""
    records = _spread_records()
    expected = _order_with(monkeypatch, records)
    records["no_such_query"] = (9, True)
    assert _order_with(monkeypatch, records, recheck=("no_such_query",)) == (
        expected
    )
