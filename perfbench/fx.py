"""``fx_ticks``: the reference's FX traffic, one closed-loop client.

A raw ``exchange_rate`` table is seeded with 730 quote days × 30
currencies. Then each cycle runs four ``run_ingest(mode="merge")`` ticks
(30-currency payloads; intra-day ticks re-deliver the same keys and the
quote day advances every 8 ticks) and one ``run_report(mode="merge")``
into ``exchange_rate_report``. The cycle count is fixed by ``--seconds``
at a nominal 6 s per cycle, never by the clock, so both commits of a
comparison run the same operations on the same table states.

Warm-up cycles run the same operations before the timed window; set-up
time counts them. Tick latency keeps falling over the first ~25 ticks
while the JVM settles, so four warm-up cycles (with the seeding write)
precede the timed ones, and the per-operation medians absorb the rest
of the slope: over ten seeds, leaving out the first of four timed
cycles cut the spread of the cycle median from 0.13 to 0.11. ``pass_s`` is the cycle built from per-operation
medians (4 × median ingest + median report), which uses every sample.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time
from decimal import ROUND_HALF_UP, Decimal

import gen
from queries import PER_QUERY, QUERIES
from stats import current_snapshot, median, new_bytes, space_amp
from tracing import abba, cpu_probe_s

WARMUP_CYCLES = 4
INGESTS_PER_CYCLE = 4
CYCLE_NOMINAL_S = 6
LAST_K = 10
# per-layer metrics of the layers only the query workload reaches
NOT_EXERCISED = (
    "plans.build_s",
    "plans.exec_s",
    "io.load_table_s",
    "io.load_table_calls",
) + tuple(f"{q}.{key}" for q in QUERIES for key in PER_QUERY)


class Model:
    """Independent model of both tables: (date, to_cur) → (ingest time,
    rate) for the raw table, (date, to_cur) → avg_rate for the report."""

    def __init__(self, seed_rows) -> None:
        self.raw = {(r[1], r[3]): (r[0], r[4]) for r in seed_rows}
        self.report: dict = {}

    def ingest(self, payload: dict, ts) -> None:
        day = dt.datetime.fromisoformat(payload["date"])
        for cur, rate in payload["rates"].items():
            self.raw[(day, cur)] = (ts, rate)

    def run_report(self) -> None:
        by_pair: dict[str, list] = {}
        for (day, cur), (ts, rate) in self.raw.items():
            by_pair.setdefault(cur, []).append((ts, rate, day))
        for cur, rows in by_pair.items():
            rows.sort(key=lambda r: (r[0], -r[1]), reverse=True)  # newest first
            groups: dict = {}
            for _ts, rate, day in rows[:LAST_K]:
                groups.setdefault(day, []).append(Decimal(repr(rate)))
            for day, rates in groups.items():
                avg = (sum(rates) / len(rates)).quantize(
                    Decimal("0.0001"), rounding=ROUND_HALF_UP
                )
                self.report[(day, cur)] = avg


def cycle_estimate(ingests: list[float], reports: list[float]) -> float:
    return INGESTS_PER_CYCLE * median(ingests) + median(reports)


def _check(run, spark, raw: str, rep: str, model: Model) -> None:
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import read_table

    rows = read_table(spark, raw).select("date", "from_cur", "to_cur", "rate").collect()
    keys = [(r.date, r.from_cur, r.to_cur) for r in rows]
    run.check("raw keys unique", len(keys) == len(set(keys)),
              f"{len(keys) - len(set(keys))} duplicate keys")
    run.check("raw row count", len(rows) == len(model.raw),
              f"{len(rows)} rows, expected {len(model.raw)}")
    got = {(r.date, r.to_cur): r.avg_rate for r in read_table(spark, rep).collect()}
    bad = [
        k for k, v in model.report.items()
        if k not in got or abs(got[k] - float(v)) > 5e-9
    ]
    run.check(
        "report equals recomputation",
        not bad and len(got) == len(model.report),
        f"{len(bad)} wrong of {len(model.report)}, {len(got)} rows; first {bad[:3]}",
    )


def fx_ticks(run) -> None:
    seed, trace = run.args.seed, run.trace
    cycles = max(2, run.args.seconds // CYCLE_NOMINAL_S)
    n_ticks = (WARMUP_CYCLES + cycles) * INGESTS_PER_CYCLE
    seed_rows = gen.fx_seed_rows(seed)
    payloads = gen.fx_payloads(seed, n_ticks)
    probe_start = cpu_probe_s()

    session_s = run.start_session()
    from pyspark.sql import functions as F

    import etl_end_to_end_airflow_bigquery_spark.pipelines.fx as pfx
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import merge_upsert
    from etl_end_to_end_airflow_bigquery_spark.schemas import RAW_SCHEMA

    spark = run.spark
    raw = os.path.join(run.dir, "exchange_rate")
    rep = os.path.join(run.dir, "exchange_rate_report")
    model = Model(seed_rows)
    t0 = time.perf_counter()
    run.attempt(
        "seed", merge_upsert, spark, raw,
        spark.createDataFrame(seed_rows, RAW_SCHEMA), pfx.RAW_KEYS,
    )
    seed_s = time.perf_counter() - t0
    if trace:
        for attr, name in (
            ("payload_dataframe", "sources.payload_rows"),
            ("payload_to_rows", "sources.payload_rows"),
            ("merge_upsert", "writers.merge_upsert"),
            ("read_table", "writers.read_table"),
            ("build_report", "pipelines.build_report"),
        ):
            run.spans.wrap(pfx, attr, name)

    def ingest(i: int) -> None:
        pfx.run_ingest(
            spark, payloads[i], raw, mode="merge",
            ingest_ts=F.to_timestamp(F.lit(gen.tick_time(i).isoformat(sep=" "))),
        )

    def report() -> None:
        pfx.run_report(spark, raw, rep, mode="merge", last_k=LAST_K)

    lat = {"ingest": [], "report": []}
    cycle_s = {True: [], False: []}  # traced? → cycle seconds
    traced_ops: list[dict] = []
    setup_s = None
    tick = 0
    for c in range(WARMUP_CYCLES + cycles):
        timed = c >= WARMUP_CYCLES
        if c == WARMUP_CYCLES:
            setup_s = run.timed_start()
        traced = trace and timed and abba(c - WARMUP_CYCLES)
        total = 0.0
        for k in range(INGESTS_PER_CYCLE + 1):
            kind = "ingest" if k < INGESTS_PER_CYCLE else "report"
            fn, args = (ingest, (tick,)) if kind == "ingest" else (report, ())
            rec = {"kind": kind}
            if traced:
                run.spans.on = True
                with run.counter.group(f"{kind}-{c}-{k}", rec):
                    t0 = time.perf_counter()
                    run.attempt(f"{kind} {c}.{k}", fn, *args)
                    elapsed = time.perf_counter() - t0
                run.spans.on = False
                rec["spans"] = run.spans.take()
                if kind == "ingest":
                    rec["written"], rec["live"] = new_bytes(current_snapshot(raw))
                traced_ops.append(rec)
            else:
                t0 = time.perf_counter()
                run.attempt(f"{kind} {c}.{k}", fn, *args)
                elapsed = time.perf_counter() - t0
            # the model follows each operation outside its timed window
            if kind == "ingest":
                model.ingest(payloads[tick], gen.tick_time(tick))
                tick += 1
            else:
                model.run_report()
            if timed:
                lat[kind].append(elapsed)
                total += elapsed
        if timed:
            cycle_s[traced].append(total)

    _check(run, spark, raw, rep, model)
    amp = space_amp([raw, rep])
    rss = run.peak_rss_mb()
    if not trace:
        run.put("setup_s", setup_s)
        run.put("pass_s", cycle_estimate(lat["ingest"], lat["report"]))
        print(
            f"fx_ticks: session {session_s:.2f}s, seeding {seed_s:.2f}s, "
            f"set-up {setup_s:.2f}s, cycles {[round(x, 3) for x in cycle_s[False]]}, "
            f"ingest p50 {median(lat['ingest']):.4f}s, report p50 "
            f"{median(lat['report']):.4f}s, space_amp {amp:.3f}, host probe "
            f"{probe_start:.3f}s→{cpu_probe_s():.3f}s, steal {run.steal():.1%}",
            file=sys.stderr,
        )
        return

    snap = current_snapshot(raw)
    versions = sum(
        d.startswith("v_") for t in (raw, rep) for d in os.listdir(t)
    )
    files = sum(f.endswith(".parquet") for f in os.listdir(snap))
    run.stop_session()
    run.put_trace_totals(session_s, rss, probe_start, cycle_s, traced_ops)
    ingests = [r for r in traced_ops if r["kind"] == "ingest"]
    reports = [r for r in traced_ops if r["kind"] == "report"]

    def span(recs, name):
        return median([r["spans"].get(name, (0.0, 0))[0] for r in recs])

    run.put("pipelines.ingest_p50_s", median(lat["ingest"]))
    run.put("pipelines.report_p50_s", median(lat["report"]))
    run.put("pipelines.build_report_s", span(reports, "pipelines.build_report"))
    run.put("sources.payload_rows_s", span(ingests, "sources.payload_rows"))
    run.put("writers.merge_upsert_s", span(ingests, "writers.merge_upsert"))
    run.put("writers.read_table_s", span(reports, "writers.read_table"))
    run.put("writers.rewrite_frac", median([r["written"] / r["live"] for r in ingests]))
    run.put("writers.bytes_written_per_op", median([r["written"] for r in ingests]))
    run.put("writers.files_per_snapshot", files)
    run.put("writers.versions_on_disk", versions)
    run.put("writers.space_amp", amp)
    run.put("spark.jobs_per_op", median([r["jobs"] for r in ingests]))
    run.put("spark.stages_per_op", median([r["stages"] for r in ingests]))
    run.put("spark.tasks_per_op", median([r["tasks"] for r in ingests]))
    run.put("spark.jobs_per_report", median([r["jobs"] for r in reports]))
