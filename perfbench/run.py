"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload fx_ticks --seed 1 --seconds 20 --trace 0

Run from the repository root. The program under test is imported from
the checkout this file sits in. Everything the run writes goes under
``.perfbench/`` in that checkout and is removed at exit.

The run environment is pinned here, before the session module is
imported (it reads ``SPARK_GRAFT_CPUS`` at import time): ``local[n]``
with n the CPUs this process may use, a 4 GiB driver heap that is
fixed from the start (``-Xms``; while the JVM grew its heap, pass times
kept falling by a third over the first two minutes), the checkout on
the Python workers' path, and Spark's local and temp directories
inside the run directory.

The last line of standard output is the result::

    {"correct": true, "attempted": n, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the per-layer ones. Diagnostics go to standard error.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "4g"
WORKLOADS = ("fx_ticks", "queries")


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat", encoding="utf-8") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="utf-8") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """Live descendant process ids of ``pid`` (Spark's Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # exited while listing
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def pin_environment(run_dir: str) -> dict[str, str]:
    """Environment every run uses; returns the pinned values."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    pinned = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TZ": "UTC",
    }
    os.environ.update(pinned)
    time.tzset()
    os.environ.pop("SPARK_MASTER", None)
    return pinned


class Run:
    """State of one benchmark run: the session, the tracing pieces and
    the tally of attempted and failed operations."""

    def __init__(self, args, run_dir: str) -> None:
        self.args = args
        self.dir = run_dir
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.eventlog = os.path.join(run_dir, "eventlog")
        self.spans = None
        self.counter = None
        self.metrics: dict[str, float] = {}
        self.jiffies = None

    def start_session(self) -> float:
        """Start Spark (event log on when tracing); returns seconds."""
        from etl_end_to_end_airflow_bigquery_spark.session import get_spark

        extra = {
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEMORY}"
            ),
        }
        if self.trace:
            os.makedirs(self.eventlog)
            extra.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog,
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=extra)
        elapsed = time.perf_counter() - t0
        if self.trace:
            from tracing import SparkCounter, Spans

            self.spans = Spans()
            self.counter = SparkCounter(self.spark)
        return elapsed

    def timed_start(self) -> float:
        """Mark the start of the timed window; returns the set-up time,
        from process start."""
        from tracing import cpu_jiffies

        self.jiffies = cpu_jiffies()
        return process_age_s()

    def steal(self) -> float:
        """Share of CPU time stolen by the hypervisor since the timed
        window started."""
        from stats import steal_share
        from tracing import cpu_jiffies

        return steal_share(self.jiffies, cpu_jiffies())

    def attempt(self, label: str, fn, *args):
        """Call ``fn``; a raised error counts as a failed operation and
        returns None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            print(f"FAILED {label}:\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def check(self, label: str, ok: bool, detail: str = "") -> None:
        """Count one correctness check."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"INCORRECT {label}: {detail}", file=sys.stderr)

    def put(self, name: str, value: float) -> None:
        self.metrics[name] = float(value)

    def put_trace_totals(
        self, session_s: float, rss: float, probe_start: float,
        unit_s: dict[bool, list[float]], ops: list[dict],
    ) -> None:
        """Per-layer metrics both workloads report from a traced run, once
        the session has stopped: session and host figures, the tracing
        overhead (traced ÷ untraced median unit time − 1), and Spark
        totals per unit over the traced operations ``ops``."""
        from stats import median
        from tracing import cpu_probe_s, eventlog_by_group

        by_group = eventlog_by_group(self.eventlog)
        units = len(unit_s[True])
        self.put("session.start_s", session_s)
        self.put("session.peak_rss_mb", rss)
        self.put("host.cpu_probe_s", probe_start)
        self.put("host.cpu_probe_end_s", cpu_probe_s())
        self.put("host.steal_frac", self.steal())
        self.put("trace.overhead_frac", median(unit_s[True]) / median(unit_s[False]) - 1)
        self.put("spark.counts_exact", sum(r["exact"] for r in ops) / len(ops))
        for key in ("jobs", "stages", "tasks"):
            self.put(f"spark.{key}_per_pass", sum(r[key] for r in ops) / units)
        for key in ("shuffle_write_bytes", "executor_run_s", "gc_s", "spill_bytes"):
            total = sum(by_group.get(r["group"], {}).get(key, 0.0) for r in ops)
            self.put(f"spark.{key}_per_pass", total / units)

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM plus this process."""
        from tracing import peak_rss_mb

        jvm = self.spark.sparkContext._gateway.proc.pid
        return peak_rss_mb(jvm) + peak_rss_mb(os.getpid())

    def stop_session(self) -> None:
        """Stop Spark and wait for its JVM (and so its Python workers)
        to exit."""
        if self.spark is None:
            return
        spark, self.spark = self.spark, None
        gateway = spark.sparkContext._gateway
        workers = descendants(gateway.proc.pid)
        try:
            spark.stop()
        finally:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
            deadline = time.monotonic() + 30
            while workers and time.monotonic() < deadline:
                workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
                time.sleep(0.05)


def select_metrics(
    measured: dict[str, float], trace: bool, not_exercised: tuple[str, ...]
) -> dict:
    """The metrics ``BENCHMARK.json`` names for this mode, with its
    units. A per-layer metric the workload lists in ``not_exercised``
    reads 0. Any other missing metric, an unnamed one, or a listed one
    that was measured after all is an error."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    names = {m["name"] for m in spec}
    skip = set(not_exercised) if trace else set()
    unknown = sorted(set(measured) - names)
    missing = sorted(names - set(measured) - skip)
    stale = sorted(set(measured) & skip)
    if unknown or missing or stale:
        raise RuntimeError(
            f"metrics not in BENCHMARK.json {unknown}, missing {missing}, "
            f"measured but listed as not exercised {stale}"
        )
    return {
        m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
        for m in spec
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    pinned = pin_environment(run_dir)
    print(f"perfbench env: {json.dumps(pinned)}", file=sys.stderr)
    sys.path.insert(1, ROOT)
    os.chdir(run_dir)
    run = Run(args, run_dir)
    # a TERM (a timeout, say) unwinds through the finally below, which
    # stops the JVM and its Python workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.workload == "fx_ticks":
            import fx as module
        else:
            import queries as module
        getattr(module, args.workload)(run)
    finally:
        try:
            run.stop_session()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)
            with contextlib.suppress(OSError):  # still holds another run's dir
                os.rmdir(os.path.dirname(run_dir))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": select_metrics(run.metrics, bool(args.trace), module.NOT_EXERCISED),
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
