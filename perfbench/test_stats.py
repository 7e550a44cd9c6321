"""Self-tests of the benchmark's own statistics and trace parsing.

    python3 -m pytest -q perfbench/test_stats.py

No Spark session is started.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import (  # noqa: E402
    agreement,
    count_delta,
    group_counts,
    is_exact,
    new_bytes,
    quartile_spread,
    space_amp,
    steal_share,
)
from tracing import abba, eventlog_by_group  # noqa: E402

# --- summaries -----------------------------------------------------------


def test_quartile_spread_matches_statistics_quantiles():
    # quantiles(n=4) of 1..9 (exclusive method): 2.5, 5, 7.5
    assert quartile_spread(list(range(1, 10))) == pytest.approx(1.0)


def test_steal_share():
    assert steal_share((100, 10_000), (150, 11_000)) == pytest.approx(0.05)
    assert steal_share((7, 500), (7, 500)) == 0.0


# --- space amplification ------------------------------------------------


def _table(root, name, snapshots, current, shared=None):
    """A versioned table: ``snapshots`` maps v_ dir → {file: size};
    ``shared`` maps (dst snapshot, file) → (src snapshot, file) links."""
    t = root / name
    t.mkdir()
    for snap, files in snapshots.items():
        (t / snap).mkdir()
        for f, size in files.items():
            (t / snap / f).write_bytes(b"x" * size)
    for (dst, fd), (src, fs) in (shared or {}).items():
        os.link(t / src / fs, t / dst / fd)
    (t / "_CURRENT").write_text(current)
    return str(t)


def test_space_amp_counts_hard_links_once(tmp_path):
    raw = _table(
        tmp_path, "raw",
        {"v_000001_a": {"p0.parquet": 100}, "v_000002_b": {"p1.parquet": 50}},
        "v_000002_b",
        shared={("v_000002_b", "p0.parquet"): ("v_000001_a", "p0.parquet")},
    )
    # live: p0 (100, linked) + p1 (50) + the 10-byte pointer is outside it
    assert space_amp([raw]) == pytest.approx((100 + 50 + 10) / 150)
    assert new_bytes(os.path.join(raw, "v_000002_b")) == (50, 150)


def test_space_amp_full_rewrite_keeps_two_versions(tmp_path):
    a = _table(tmp_path, "a", {"v_000001_x": {"p.parquet": 200},
                               "v_000002_y": {"p.parquet": 200}}, "v_000002_y")
    b = _table(tmp_path, "b", {"v_000001_z": {"p.parquet": 40}}, "v_000001_z")
    assert space_amp([a, b]) == pytest.approx((400 + 40 + 20) / 240)
    assert new_bytes(os.path.join(a, "v_000002_y")) == (200, 200)


# --- job-group counts ---------------------------------------------------


def test_count_delta():
    assert count_delta({"jobs": 7, "tasks": 30}, {"jobs": 12, "tasks": 38}) == {
        "jobs": 5, "tasks": 8,
    }


def test_group_counts_shared_and_skipped_stages():
    jobs = {3: [4, 5], 4: [5, 6, 7]}
    stages = {4: (4, 4), 5: (2, 2), 6: (4, 0), 7: (1, 1)}  # 6 skipped
    assert group_counts(jobs, stages) == {"jobs": 2, "stages": 3, "tasks": 7}


def test_group_count_exact_only_when_scheduler_agrees():
    group = {"jobs": 5, "stages": 5, "tasks": 8}
    assert is_exact(group, {"jobs": 5, "tasks": 8})
    # a streaming thread ran a job under its own group
    assert not is_exact(group, {"jobs": 6, "tasks": 9})
    # retention evicted jobs before the group was read
    assert not is_exact({"jobs": 0, "stages": 0, "tasks": 0}, {"jobs": 5, "tasks": 8})


def test_abba_balances_traced_units():
    pattern = [abba(i) for i in range(8)]
    assert pattern == [True, False, False, True] * 2


def test_eventlog_by_group(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    events = [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "JVM GC Time": 20,
            "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 4,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 999}},
    ]
    (d / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in events[:2]))
    (d / "events_2_local-1").write_text("".join(json.dumps(e) + "\n" for e in events[2:]))
    (d / "appstatus_local-1").write_text("")
    assert eventlog_by_group(str(tmp_path)) == {
        "g1": {"executor_run_s": 1.5, "gc_s": 0.02,
               "shuffle_write_bytes": 100, "spill_bytes": 7},
    }


# --- run-set agreement --------------------------------------------------

SPECS = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.1},
]


def test_agreement_accepts_matching_sets():
    a = {"setup_s": [20, 21, 22, 23, 24], "pass_s": [10, 10.1, 10.2, 10.1, 10.0]}
    b = {"setup_s": [21, 22, 23, 24, 25], "pass_s": [10.2, 10.3, 10.1, 10.2, 10.4]}
    assert agreement(a, b, SPECS) == []


def test_agreement_flags_spread_and_shift():
    a = {"setup_s": [10, 30, 10, 30, 20], "pass_s": [8, 12, 10, 8, 12]}
    b = {"setup_s": [26, 26, 26, 26, 26], "pass_s": [10, 10, 10, 10, 10]}
    problems = agreement(a, b, SPECS)
    # setup_s: spread 1.0 and median +30 %; pass_s: spread 0.4
    assert any(p.startswith("setup_s: first spread") for p in problems)
    assert any(p.startswith("setup_s: second median") for p in problems)
    assert any(p.startswith("pass_s: first spread") for p in problems)
    assert not any(p.startswith("pass_s: second") for p in problems)


def test_agreement_direction_for_higher_is_better():
    spec = [{"name": "rate", "unit": "1/s", "better": "higher", "bound": 0.1}]
    a = {"rate": [100, 100, 100, 100]}
    assert agreement(a, {"rate": [120, 120, 120, 120]}, spec) == []
    assert agreement(a, {"rate": [80, 80, 80, 80]}, spec)
