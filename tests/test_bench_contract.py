"""Bench CLI contract pins: the driver tails ~2 kB of stdout and
parses the LAST line as JSON -- the round-4 record was lost to a
headline object that outgrew the capture window.  Round 6 adds the
median estimator (ADVICE r5), so the pins now exercise the real
``headline_json`` builder instead of string-matching source."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0,
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
)


def _worst_case_reps() -> dict[str, list[float]]:
    from bench import HEADLINE, REPS

    # 99.999 s/query is the realistic ceiling: the sf0.1 bench total
    # is ~25 s, and a 100 s single query would already blow the
    # driver round budget long before the tail-size limit matters.
    return {n: [99.999] * max(REPS, 1) for n in HEADLINE}


def test_headline_json_stays_under_tail_capture():
    """Worst-case-width headline (every query at 5-digit seconds,
    both totals inline) must stay within 1,950 bytes, 50 under the
    ~2,000-char driver capture."""
    from bench import headline_json

    line = headline_json(
        _worst_case_reps(), "/root/testdata/sf0.1", [99.999] * 4
    )
    assert len(line.encode()) <= 1950
    assert "\n" not in line
    # realistic sf0.1 widths (every query under 10 s) leave margin
    from bench import HEADLINE
    typical = headline_json(
        {n: [9.999] * 4 for n in HEADLINE},
        "/root/testdata/sf0.1",
        [9.999] * 4,
    )
    assert len(typical) < 1960


def test_headline_carries_calibration_cell():
    """The drift-normalization gauge (VERDICT r11 item 3) must ride
    the headline line -- min and median of the calibration reps,
    NEVER added to the query totals."""
    from bench import HEADLINE, headline_json

    reps = {n: [4.0, 1.0, 2.0, 3.0] for n in HEADLINE}
    obj = json.loads(
        headline_json(reps, "/root/testdata/sf0.1", [1.2, 0.9, 1.0, 1.1])
    )
    assert obj["calib"] == 0.9
    assert obj["calib_med"] == 1.05
    assert obj["value"] == round(1.0 * len(HEADLINE), 3)  # calib-free
    # calib is optional: an old-style call still builds a valid line
    legacy = json.loads(headline_json(reps, "/root/testdata/sf0.1"))
    assert "calib" not in legacy


def test_headline_has_both_estimators_and_no_reps():
    """The parsed headline must carry min ("queries") per query, the
    totals of both estimators and the core count, and must NOT inline
    the per-rep arrays (the round-4 overflow) or the per-query
    medians, which go to stderr (``medians``)."""
    from bench import CPUS, HEADLINE, headline_json, medians

    reps = {n: [4.0, 1.0, 2.0, 3.0] for n in HEADLINE}
    obj = json.loads(headline_json(reps, "/root/testdata/sf0.01"))
    assert "reps" not in obj and "med" not in obj
    assert set(obj["queries"]) == set(HEADLINE)
    # min of [4,1,2,3] is 1.0; median is 2.5
    assert obj["queries"][HEADLINE[0]] == 1.0
    assert medians(reps) == {n: 2.5 for n in HEADLINE}
    assert obj["value"] == round(1.0 * len(HEADLINE), 3)
    assert obj["value_median"] == round(2.5 * len(HEADLINE), 3)
    assert obj["sf"] == 0.01
    assert obj["cpus"] == int(CPUS)
    assert "median" in obj["estimator"]
    assert "min" in obj["estimator"]


def test_reps_go_to_stderr_not_stdout():
    """main() must print the reps line to stderr and the headline via
    headline_json as the last stdout write."""
    import inspect

    import bench

    src = inspect.getsource(bench.main)
    assert 'file=sys.stderr' in src.split('{"reps"')[1].split("\n")[0]
    stdout_call = src[src.rindex("print(") :]
    assert "headline_json" in stdout_call
    # no literal "reps" JSON key in the stdout print (all_reps the
    # variable feeding headline_json is fine -- the builder emits no
    # reps key, asserted above on the parsed object)
    assert '"reps"' not in stdout_call


def test_bench_sf1_notes_live_outside_the_generated_file(tmp_path):
    """VERDICT r11 item 5: hand-written per-cell notes must survive
    regeneration.  They live in scripts/bench_sf1_notes.md; the
    generator merges that file verbatim, so running it twice cannot
    destroy them.  Pin: the notes file exists, is non-empty, and
    _notes_blob returns exactly its content."""
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    import bench_sf1

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    notes = os.path.join(root, "scripts", "bench_sf1_notes.md")
    assert os.path.exists(notes)
    with open(notes) as f:
        content = f.read()
    assert "link_prediction" in content  # real per-cell notes
    assert bench_sf1._notes_blob() == content


def test_gen_sf1_layout_marker_forces_regeneration(tmp_path):
    """ADVICE r11 item 4 + ADVICE r12 item 2: an sf1 fixture
    generated before a layout fix must not survive the idempotent
    exists-skip -- _ensure_layout wipes the fixture dir when the
    marker is stale or missing -- and the marker is stamped ONLY by
    _stamp_layout at the END of a successful generation, so an
    interrupted run (marker removed at _ensure_layout time, crash
    before stamp) forces a clean wipe on rerun instead of silently
    keeping partial tables."""
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    import gen_sf1

    out = tmp_path / "sf1"
    out.mkdir()
    stale_table = out / "lineitem.parquet"
    stale_table.mkdir()  # pre-marker fixture: no version file
    gen_sf1._ensure_layout(str(out))
    assert not stale_table.exists(), "stale layout must be wiped"
    marker = out / gen_sf1._MARKER
    # ADVICE r12: no marker yet -- generation has not succeeded
    assert not marker.exists(), (
        "marker must not be stamped before tables generate"
    )
    gen_sf1._stamp_layout(str(out))
    assert marker.read_text() == str(gen_sf1.LAYOUT_VERSION)

    # current-version fixture survives the wipe check untouched, but
    # the marker is consumed (re-stamped only on successful finish)
    keep_table = out / "orders.parquet"
    keep_table.mkdir()
    gen_sf1._ensure_layout(str(out))
    assert keep_table.exists(), "current layout must be kept"
    assert not marker.exists(), (
        "an in-progress run must leave no current marker behind"
    )
    # crash-between: next _ensure_layout sees a missing marker and
    # wipes the (possibly partial) tables
    gen_sf1._ensure_layout(str(out))
    assert not keep_table.exists(), (
        "a run interrupted before the stamp must force a clean wipe"
    )


def test_bench_cpus_default_to_the_process_cores():
    """Without $SPARK_GRAFT_CPUS, bench.py runs on the cores the process
    may use (session.CPUS), not a fixed count."""
    import subprocess

    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import os, bench; from hq_master_data_warehouse_spark import session; "
            "print(bench.CPUS == session.CPUS == len(os.sched_getaffinity(0)))",
        ],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip().splitlines()[-1] == "True"
