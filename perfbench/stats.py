"""The benchmark's own statistics: medians and spreads, space amplification,
Spark count deltas and the run-set agreement check.

No Spark import here, so the self-tests run without a JVM.
"""

from __future__ import annotations

import os
import statistics

# --- summaries -------------------------------------------------------


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def quartile_spread(values: list[float]) -> float:
    """Distance between first and third quartile as a share of the
    median, as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time stolen by the hypervisor between two
    ``(steal, total)`` jiffy readings."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


# --- storage -----------------------------------------------------------


def tree_bytes(root: str, seen: set | None = None) -> int:
    """Bytes of regular files under ``root``, each inode once (snapshots
    share files through hard links)."""
    seen = set() if seen is None else seen
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            key = (st.st_dev, st.st_ino)
            if key not in seen:
                seen.add(key)
                total += st.st_size
    return total


def current_snapshot(table: str) -> str:
    """Directory of a versioned table's current snapshot (``_CURRENT``
    holds its name)."""
    with open(os.path.join(table, "_CURRENT"), encoding="utf-8") as f:
        return os.path.join(table, f.read().strip())


def space_amp(tables: list[str]) -> float:
    """Bytes under the table directories ÷ bytes of their current
    snapshots: 1.0 when nothing but live data is kept."""
    seen: set = set()
    on_disk = sum(tree_bytes(t, seen) for t in tables)
    live = sum(tree_bytes(current_snapshot(t)) for t in tables)
    return on_disk / live


def new_bytes(snapshot: str) -> tuple[int, int]:
    """(bytes written by the commit, live bytes) of one snapshot: a file
    with one link was written for it, a file with more is carried from
    an older snapshot by a hard link."""
    written = live = 0
    for dirpath, _dirs, files in os.walk(snapshot):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            live += st.st_size
            if st.st_nlink == 1:
                written += st.st_size
    return written, live


# --- Spark counts ------------------------------------------------------


def count_delta(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    """Per-counter difference of two scheduler counter readings."""
    return {k: after[k] - before[k] for k in before}


def group_counts(jobs: dict[int, list[int]], stages: dict[int, tuple[int, int]]) -> dict[str, int]:
    """Jobs, stages run and tasks run under one job group.

    ``jobs`` maps each job id of the group to its stage ids; ``stages``
    maps a stage id to (tasks, completed tasks). A stage shared by two
    jobs counts once; a stage whose tasks were all skipped counts not
    at all."""
    stage_ids = {s for ids in jobs.values() for s in ids}
    ran = [s for s in stage_ids if stages.get(s, (0, 0))[1] > 0]
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": sum(stages[s][1] for s in ran),
    }


def is_exact(group: dict[str, int], delta: dict[str, int]) -> bool:
    """A group count is exact when the scheduler launched exactly the
    jobs and tasks the group saw in the same window: none ran outside
    the group (a streaming thread, say) and none was evicted from the
    status store before it was read."""
    return group["jobs"] == delta["jobs"] and group["tasks"] == delta["tasks"]


# --- run-set agreement -------------------------------------------------


def agreement(
    first: dict[str, list[float]],
    second: dict[str, list[float]],
    specs: list[dict],
) -> list[str]:
    """Check two sets of runs of the same code against the benchmark's
    bounds; return the violations (empty when they agree).

    For every metric, each set's quartile spread must stay within the
    metric's bound and the second median must not be worse than the
    first by more than the bound."""
    problems = []
    for spec in specs:
        name, bound = spec["name"], spec["bound"]
        a, b = first[name], second[name]
        for label, vals in (("first", a), ("second", b)):
            s = quartile_spread(vals)
            if s > bound:
                problems.append(f"{name}: {label} spread {s:.3f} > {bound}")
        ma, mb = median(a), median(b)
        worse = (mb - ma) / ma if spec["better"] == "lower" else (ma - mb) / ma
        if worse > bound:
            problems.append(f"{name}: second median {worse:+.3f} worse > {bound}")
    return problems
