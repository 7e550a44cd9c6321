"""applyInPandasWithState sessionizer: closed sessions match the batch
gap semantics; open sessions stay in state until timeout."""

from __future__ import annotations

import json


def _write_events(d, name, rows):
    d.mkdir(parents=True, exist_ok=True)
    (d / f"{name}.json").write_text(
        "\n".join(json.dumps({"user_id": u, "ts": ts}) for u, ts in rows)
    )


def test_stateful_sessionize_closes_on_gap(spark, tmp_path):
    from etl_end_to_end_airflow_bigquery_spark.streaming.stateful import (
        sessionize_stateful,
    )
    from pyspark.sql import functions as F

    src = tmp_path / "events"
    # user 1: two events 10 min apart (one session), then an event 2h later
    # (gap > 30 min closes session #1); a final far-future event for user 2
    # pushes the watermark so the close is emitted deterministically.
    _write_events(
        src,
        "batch1",
        [
            (1, "2026-01-05 09:00:00"),
            (1, "2026-01-05 09:10:00"),
            (1, "2026-01-05 11:00:00"),
            (2, "2026-01-06 09:00:00"),
        ],
    )
    ticks = (
        spark.readStream.schema("user_id long, ts string")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    sessions = sessionize_stateful(ticks, gap_seconds=1800, watermark="0 seconds")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in spark.table("sess_out").collect()
    }
    assert got == {
        # closed by the 2h gap
        (1, "2026-01-05 09:00:00", "2026-01-05 09:10:00", 2),
        # closed by event-time timeout once user 2's event advanced the
        # watermark past sessionEnd + gap
        (1, "2026-01-05 11:00:00", "2026-01-05 11:00:00", 1),
        # user 2's own session stays open in state — not emitted
    }
