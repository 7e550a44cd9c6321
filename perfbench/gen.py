"""Seeded inputs for the benchmark workloads.

Everything the program sees is made here from the ``--seed`` argument:
the FX seed history and tick payloads for ``fx_ticks``, and the sf0.1
customer, order, embedding and document tables for ``queries``. The same seed gives
byte-identical inputs. Distributions follow the synthetic test tables
the queries were written against (TPC-H-like key ranges and date
windows, 64-dimensional random unit embeddings, documents of 10-100
tokens over a 30-word vocabulary), so every query does
its usual amount of work.

Pure numpy/pyarrow: nothing here touches Spark.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- fx_ticks ------------------------------------------------------------

CURRENCIES = (
    "USD JPY GBP CHF AUD CAD CNY HKD NZD SEK KRW SGD NOK MXN INR "
    "ZAR TRY BRL PLN DKK CZK HUF ILS IDR MYR PHP THB ISK RON BGN"
).split()
BASE = "EUR"
SEED_DAYS = 730
SEED_START = dt.date(2022, 1, 1)
TICKS_PER_DAY = 8
# Tick ingestion clock: one tick per second from here. Later than every
# seeded row's timestamp, so "most recent ticks" order is tick order.
TICK_EPOCH = dt.datetime(2026, 1, 1, 9, 0, 0)


def _rate_levels(rng: np.random.Generator) -> np.ndarray:
    return np.round(np.exp(rng.uniform(-1.0, 5.0, len(CURRENCIES))), 4)


def fx_seed_rows(seed: int) -> list[tuple]:
    """RAW_SCHEMA rows for ``SEED_DAYS`` quote days × 30 currencies:
    (timestamp, date, from_cur, to_cur, rate), one row per key."""
    rng = np.random.default_rng([seed, 1])
    level = _rate_levels(rng)
    walk = np.exp(np.cumsum(rng.normal(0.0, 0.004, (SEED_DAYS, len(CURRENCIES))), axis=0))
    rates = np.round(level * walk, 4)
    rows = []
    for d in range(SEED_DAYS):
        day = dt.datetime.combine(SEED_START + dt.timedelta(days=d), dt.time())
        ts = day + dt.timedelta(hours=16)
        for c, cur in enumerate(CURRENCIES):
            rows.append((ts, day, BASE, cur, float(max(rates[d, c], 0.0001))))
    return rows


def fx_payloads(seed: int, n: int) -> list[dict]:
    """``n`` Frankfurter-style payloads continuing the seed history:
    quote day ``SEED_DAYS + i // TICKS_PER_DAY``, so intra-day ticks
    re-deliver the same (date, pair) keys with new rates."""
    rng = np.random.default_rng([seed, 2])
    level = _rate_levels(np.random.default_rng([seed, 1]))
    walk = np.exp(np.cumsum(rng.normal(0.0, 0.001, (n, len(CURRENCIES))), axis=0))
    rates = np.round(level * walk, 4)
    out = []
    for i in range(n):
        day = SEED_START + dt.timedelta(days=SEED_DAYS + i // TICKS_PER_DAY)
        out.append(
            {
                "amount": 1.0,
                "base": BASE,
                "date": day.isoformat(),
                "rates": {
                    cur: float(max(rates[i, c], 0.0001))
                    for c, cur in enumerate(CURRENCIES)
                },
            }
        )
    return out


def tick_time(i: int) -> dt.datetime:
    """Ingestion timestamp of tick ``i`` (UTC, naive)."""
    return TICK_EPOCH + dt.timedelta(seconds=i)


# --- queries: sf0.1 tables -----------------------------------------------

SF = 0.1
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EMBED_DIM = 64
VOCAB = (
    "the a data value row spark window merge table column vector stream "
    "small join filter big group hash customer sort order slow line part "
    "fast agg key query scan batch"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _days(lo: dt.date, hi: dt.date, n: int, rng) -> np.ndarray:
    """Uniform midnights in [lo, hi] as datetime64[us]."""
    span = (hi - lo).days + 1
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(
        table,
        os.path.join(out_dir, f"{name}.parquet"),
        compression="snappy",
        row_group_size=max(1, table.num_rows),
    )


def _i32(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int32))


def _i64(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int64))


def _str(values) -> pa.Array:
    return pa.array(list(values), type=pa.string())


def _ts(a: np.ndarray) -> pa.Array:
    return pa.array(a, type=pa.timestamp("us"))


def write_sf_tables(out_dir: str, seed: int) -> None:
    """Write the sf0.1 tables the query workload reads."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    n_cust, n_ord = int(150_000 * SF), int(1_500_000 * SF)
    n_emb, n_doc = int(20_000 * SF), int(50_000 * SF)

    _write(
        out_dir,
        "customer",
        {
            "c_custkey": _i64(np.arange(n_cust)),
            "c_name": _str(f"Customer#{i:09d}" for i in range(n_cust)),
            "c_nationkey": _i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _str(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        },
    )
    _write(
        out_dir,
        "orders",
        {
            "o_orderkey": _i64(np.arange(n_ord)),
            "o_custkey": _i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _str(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _ts(_days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord, rng)),
            "o_orderpriority": _str(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        },
    )

    vecs = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        out_dir,
        "embeddings",
        {
            "vec_id": _i64(np.arange(n_emb)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": _i32(rng.integers(0, 10, n_emb)),
        },
    )

    words = np.array(VOCAB)
    lengths = rng.integers(10, 101, n_doc)
    tokens = words[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    text = [" ".join(tokens[e - n:e]) for e, n in zip(ends, lengths)]
    _write(
        out_dir,
        "documents",
        {
            "doc_id": _i64(np.arange(n_doc)),
            "text": _str(text),
            "lang": _str(np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)]),
            "source": _str(f"src{i % 20}" for i in range(n_doc)),
            "n_chars": _i64([len(t) for t in text]),
        },
    )
