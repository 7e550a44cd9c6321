"""Sources: payload → DataFrame → RAW_SCHEMA rows (S1, P2, F5-F7, F10)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etl_end_to_end_airflow_bigquery_spark.schemas import RAW_SCHEMA
from etl_end_to_end_airflow_bigquery_spark.sources import (
    fetch_fx_payload,
    payload_dataframe,
    payload_to_rows,
)


def test_fixture_short_circuits_network(fx_payload):
    assert fetch_fx_payload(fixture=fx_payload) is fx_payload


def test_payload_to_rows_explodes_rates_map(spark, fx_payload):
    rows = payload_to_rows(
        payload_dataframe(spark, fx_payload),
        ingest_ts=F.to_timestamp(F.lit("2026-01-05 12:00:00")),
    )
    got = {r.to_cur: r for r in rows.collect()}
    assert set(got) == {"USD", "GBP", "JPY"}
    assert got["USD"].rate == 1.1664
    assert got["USD"].from_cur == "EUR"
    # quote date parses to midnight (F5 normalize equivalent)
    assert got["USD"].date == dt.datetime(2026, 1, 5, 0, 0)
    assert [f.name for f in rows.schema.fields] == [f.name for f in RAW_SCHEMA.fields]


def test_empty_rates_guard(spark, fx_payload):
    """Reference skips on empty payload (:41-43); here it's an empty frame."""
    empty = dict(fx_payload, rates={})
    assert payload_to_rows(payload_dataframe(spark, empty)).isEmpty()


def test_missing_fields_survive_as_nulls(spark):
    rows = payload_to_rows(
        payload_dataframe(spark, {"amount": 1.0, "rates": {"USD": 2.0}})
    )
    r = rows.collect()[0]
    assert r.from_cur is None and r.date is None and r.rate == 2.0


def _list_payload_frame(spark, payload):
    """The Python-list construction the Arrow hand-off replaced — the
    oracle for its rows."""
    from etl_end_to_end_airflow_bigquery_spark.schemas import API_PAYLOAD_SCHEMA

    row = {
        "amount": float(payload["amount"]) if payload.get("amount") is not None else None,
        "base": payload.get("base"),
        "date": payload.get("date"),
        "rates": {str(k): float(v) for k, v in (payload.get("rates") or {}).items()},
    }
    return spark.createDataFrame([row], schema=API_PAYLOAD_SCHEMA)


@pytest.mark.parametrize(
    "payload",
    [
        {"amount": 1.0, "base": "EUR", "date": "2026-01-05",
         "rates": {"USD": 1.1664, "GBP": 0.8421}},
        {"amount": 1.0, "base": "EUR", "date": "2026-01-05"},  # no rates
        {"amount": 1.0, "base": "EUR", "date": "2026-01-05", "rates": None},
        {"amount": 1.0, "base": "EUR", "date": "2026-01-05", "rates": {}},
        {"base": "EUR", "date": "2026-01-05", "rates": {"USD": 2}},  # no amount
        {"amount": 2, "rates": {1: 3, "JPY": 170.0, 2.5: 0.1}},  # non-str keys
        {"amount": 1.0, "rates": {1: 2.0, "1": 3.0}},  # keys collide as str
        {},
    ],
    ids=["full", "rates-missing", "rates-none", "rates-empty",
         "amount-missing", "non-string-keys", "colliding-keys", "empty"],
)
def test_arrow_payload_frame_rows_match_list_frame(spark, payload):
    got = payload_dataframe(spark, payload)
    want = _list_payload_frame(spark, payload)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    # exploded rows as a set: a Python dict crosses into the JVM as a
    # hash map, so the list frame's map order was never the payload's
    ts = F.to_timestamp(F.lit("2026-01-05 12:00:00"))
    assert sorted(payload_to_rows(got, ingest_ts=ts).collect()) == sorted(
        payload_to_rows(want, ingest_ts=ts).collect()
    )


class TestFileQuarantine:
    def test_jsonl_bad_rows_quarantined(self, spark, tmp_path):
        from etl_end_to_end_airflow_bigquery_spark.sources.files import read_jsonl

        p = tmp_path / "in.jsonl"
        p.write_text(
            '{"id": 1, "rate": 1.1}\n'
            'not json at all\n'
            '{"id": 2, "rate": 2.2}\n'
            '{"id": "abc", "rate": 3.3}\n'  # id fails the long cast
        )
        valid, rejected = read_jsonl(spark, str(p), "id long, rate double")
        good = sorted((r.id, r.rate) for r in valid.collect())
        assert good == [(1, 1.1), (2, 2.2)]
        bad = sorted(r.raw_record for r in rejected.collect())
        assert bad == ['not json at all', '{"id": "abc", "rate": 3.3}']
        assert valid.columns == ["id", "rate"]
        valid.unpersist()

    def test_csv_bad_rows_quarantined(self, spark, tmp_path):
        from etl_end_to_end_airflow_bigquery_spark.sources.files import read_csv

        p = tmp_path / "in.csv"
        p.write_text("id,rate\n1,1.1\n2,notanumber\n3,3.3\n")
        valid, rejected = read_csv(spark, str(p), "id long, rate double")
        assert sorted((r.id, r.rate) for r in valid.collect()) == [
            (1, 1.1), (3, 3.3)]
        assert [r.raw_record for r in rejected.collect()] == ["2,notanumber"]
        valid.unpersist()

    def test_all_good_rows_empty_quarantine(self, spark, tmp_path):
        from etl_end_to_end_airflow_bigquery_spark.sources.files import read_jsonl

        p = tmp_path / "ok.jsonl"
        p.write_text('{"id": 1}\n{"id": 2}\n')
        valid, rejected = read_jsonl(spark, str(p), "id long")
        assert valid.count() == 2 and rejected.count() == 0
        valid.unpersist()


class TestFxRestStream:
    def test_stream_reader_emits_deterministic_ticks(self, spark, tmp_path):
        from etl_end_to_end_airflow_bigquery_spark.sources.rest_datasource import (
            FxRestDataSource,
        )

        try:
            spark.dataSource.register(FxRestDataSource)
        except Exception:
            pass  # already registered by another test
        stream = (
            spark.readStream.format("fx_rest")
            .option("symbols", "USD,GBP")
            .option("batch_ticks", "3")
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("fx_ticks")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        import time

        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("fx_ticks").count() >= 6:
                break
            time.sleep(0.5)
        q.stop()
        rows = spark.table("fx_ticks").collect()
        assert len(rows) >= 6
        got = {(r.quote_date, r.from_cur, r.to_cur, r.rate) for r in rows}
        # deterministic synthesis: tick 0 row for USD is pinned
        assert ("2026-01-01", "EUR", "USD", 1.0) in got
        assert all(r.from_cur == "EUR" for r in rows)
        assert {r.to_cur for r in rows} == {"USD", "GBP"}

    def test_stream_recovers_from_checkpoint_without_dups_or_gaps(
        self, spark, tmp_path
    ):
        """Kill the stream, restart on the same checkpoint: the offset log
        replays exactly — every tick appears once (readBetweenOffsets
        re-derives identical rows for the recovered batch)."""
        from etl_end_to_end_airflow_bigquery_spark.sources.rest_datasource import (
            FxRestDataSource,
        )

        try:
            spark.dataSource.register(FxRestDataSource)
        except Exception:
            pass
        import time

        out = str(tmp_path / "ticks_out")
        ckpt = str(tmp_path / "ckpt2")

        def run_until(n_rows: int) -> None:
            stream = (
                spark.readStream.format("fx_rest")
                .option("symbols", "USD")
                .option("batch_ticks", "2")
                .load()
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="0 seconds")
                .start()
            )
            deadline = time.time() + 60
            while time.time() < deadline:
                try:
                    if spark.read.parquet(out).count() >= n_rows:
                        break
                except Exception:
                    pass
                time.sleep(0.5)
            q.stop()
            q.awaitTermination(60)

        run_until(6)   # first incarnation
        run_until(12)  # restart from the same checkpoint
        rows = spark.read.parquet(out).collect()
        assert len(rows) >= 12
        # ticks are (date, rate) pairs derived from the offset counter —
        # exactly-once means no duplicates across the restart boundary
        seen = [(r.quote_date, r.rate) for r in rows]
        assert len(seen) == len(set(seen))


class TestFetchRetry:
    """The live-HTTP path's retry/timeout contract (VERDICT r10 gap 2),
    pinned with a mocked urlopen — no network touched."""

    def _patch(self, monkeypatch, outcomes):
        """outcomes: list of Exception-to-raise or str-body-to-return."""
        import io
        import urllib.request

        calls = []

        def fake_urlopen(url, timeout):
            calls.append((url, timeout))
            out = outcomes[min(len(calls) - 1, len(outcomes) - 1)]
            if isinstance(out, Exception):
                raise out

            class _Resp(io.BytesIO):
                def __enter__(self):
                    return self

                def __exit__(self, *a):
                    return False

            return _Resp(out.encode())

        monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
        return calls

    def test_transient_errors_retry_then_succeed(self, monkeypatch):
        import urllib.error

        from etl_end_to_end_airflow_bigquery_spark.sources.rest import (
            fetch_fx_payload,
        )

        naps = []
        calls = self._patch(
            monkeypatch,
            [
                urllib.error.URLError("boom"),
                TimeoutError("slow"),
                '{"amount": 1.0, "base": "EUR", "date": "2026-01-05", '
                '"rates": {"USD": 1.1}}',
            ],
        )
        got = fetch_fx_payload(
            "USD", retries=2, backoff=0.25, sleep=naps.append
        )
        assert got["rates"] == {"USD": 1.1}
        assert len(calls) == 3
        assert naps == [0.25, 0.5]  # exponential backoff between tries
        assert all(t == 10.0 for _, t in calls)  # timeout reaches urlopen

    def test_budget_exhausted_raises_last_error(self, monkeypatch):
        import urllib.error

        import pytest as _pytest

        from etl_end_to_end_airflow_bigquery_spark.sources.rest import (
            fetch_fx_payload,
        )

        calls = self._patch(monkeypatch, [urllib.error.URLError("down")])
        with _pytest.raises(urllib.error.URLError):
            fetch_fx_payload("USD", retries=2, backoff=0, sleep=lambda s: None)
        assert len(calls) == 3  # initial try + 2 retries, then propagate

    def test_malformed_body_is_not_retried(self, monkeypatch):
        import json as _json

        import pytest as _pytest

        from etl_end_to_end_airflow_bigquery_spark.sources.rest import (
            fetch_fx_payload,
        )

        calls = self._patch(monkeypatch, ["{not json"])
        with _pytest.raises(_json.JSONDecodeError):
            fetch_fx_payload("USD", retries=5, sleep=lambda s: None)
        assert len(calls) == 1  # deterministic failure: no retry burn

    def test_http_4xx_is_not_retried_5xx_is(self, monkeypatch):
        import urllib.error

        import pytest as _pytest

        from etl_end_to_end_airflow_bigquery_spark.sources.rest import (
            fetch_fx_payload,
        )

        def http_err(code):
            return urllib.error.HTTPError("u", code, "m", {}, None)

        calls = self._patch(monkeypatch, [http_err(404)])
        with _pytest.raises(urllib.error.HTTPError):
            fetch_fx_payload("USD", retries=3, sleep=lambda s: None)
        assert len(calls) == 1  # deterministic: no retry

        calls = self._patch(
            monkeypatch,
            [http_err(503), '{"amount": 1, "base": "EUR", "date": "d", "rates": {}}'],
        )
        got = fetch_fx_payload("USD", retries=1, backoff=0, sleep=lambda s: None)
        assert got["base"] == "EUR"
        assert len(calls) == 2  # 5xx retried once, then success
