"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread; compare two such run sets.

    python3 perfbench/repeat.py --workload fx_ticks --seeds 1-10 --out a.jsonl
    python3 perfbench/repeat.py --compare a.jsonl b.jsonl

A run set agrees with another when every spread is within the
metric's bound and the second median is no worse than the
first by more than the bound (``stats.agreement``).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from stats import agreement, median, quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _load(path: str) -> dict[str, dict[str, list[float]]]:
    """workload → metric → values, from a JSON-lines run record."""
    out: dict[str, dict[str, list[float]]] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            rec = json.loads(line)
            per = out.setdefault(rec["workload"], {})
            for k, v in rec["result"]["metrics"].items():
                per.setdefault(k, []).append(v["value"])
    return out


def run_set(workload: str, seeds: list[int], out: str) -> int:
    spec = _spec()
    failures = 0
    for seed in seeds:
        cmd = spec["command"] + [
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", "0",
        ]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            failures += 1
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        result = json.loads(lines[-1])
        failures += not result["correct"]
        with open(out, "a", encoding="utf-8") as f:
            notes = [ln for ln in proc.stderr.splitlines()
                     if ln.startswith((workload + ":", "pass "))]
            f.write(json.dumps({"workload": workload, "seed": seed, "result": result,
                                "notes": notes}) + "\n")
        print(seed, {k: round(v["value"], 4) for k, v in result["metrics"].items()}, flush=True)
    for name, vals in _load(out)[workload].items():
        print(f"{name}: median {median(vals):.4f}, spread {quartile_spread(vals):.4f}, n={len(vals)}")
    return 1 if failures else 0


def compare(first: str, second: str) -> int:
    specs = _spec()["end_to_end"]
    a, b = _load(first), _load(second)
    bad = 0
    for workload in sorted(a):
        problems = agreement(a[workload], b[workload], specs)
        bad += len(problems)
        print(workload, "agree" if not problems else problems)
    return 1 if bad else 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2, metavar="RUNS")
    args = p.parse_args()
    if args.compare:
        return compare(*args.compare)
    if not (args.workload and args.out):
        p.error("--workload and --out are required without --compare")
    return run_set(args.workload, _seeds(args.seeds), args.out)


if __name__ == "__main__":
    sys.exit(main())
