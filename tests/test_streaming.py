"""Streaming-semantics tests (reference T1-T6): dedup under duplicate
redelivery, dual-sink fan-out, checkpoint restart without reprocessing,
and stream-resample == batch-resample."""

from __future__ import annotations

import json
import time
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from stockpulse_spark.operators.resample import resample_ohlcv
from stockpulse_spark.streaming.pipeline import (
    dedup_stream,
    replay_json_stream,
    start_dual_sink,
    streaming_resample,
)


def _bar(ts: str, symbol: str, close: float, volume: int = 10) -> dict:
    return dict(
        timestamp=ts, symbol=symbol, open=close - 1, high=close + 1,
        low=close - 2, close=close, volume=volume, date=ts[:10],
        time=ts[11:], moving_average=None, cumulative_average=None,
    )


@pytest.fixture()
def stream_dirs(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return dict(
        src=str(src),
        raw=str(tmp_path / "raw"),
        processed=str(tmp_path / "proc"),
        ckpt=str(tmp_path / "ckpt"),
        base=tmp_path,
    )


def _write_file(src: str, name: str, bars: list[dict]) -> None:
    Path(src, name).write_text("\n".join(json.dumps(b) for b in bars))


def _assert_single_pass(q) -> None:
    """Each input row reached the stateful dedup exactly once: kept
    (updated) or dropped as a duplicate, never re-run by a second sink."""
    for p in q.recentProgress:
        (dedup,) = p.stateOperators
        passes = dedup.numRowsUpdated + dedup.customMetrics["numDroppedDuplicateRows"]
        assert passes == p.numInputRows, (p.batchId, passes, p.numInputRows)


def test_dedup_and_dual_sink(spark, stream_dirs):
    d = stream_dirs
    bars = [
        _bar("2024-01-02 09:30:00", "AAPL", 100.0),
        _bar("2024-01-02 09:35:00", "AAPL", 101.0),
        _bar("2024-01-02 09:35:00", "AAPL", 101.0),  # duplicate delivery (T2)
        _bar("2024-01-02 09:30:00", "MSFT", 390.0),
    ]
    _write_file(d["src"], "b0.json", bars)
    stream = replay_json_stream(spark, d["src"])
    q = start_dual_sink(
        dedup_stream(stream), d["raw"], d["processed"], d["ckpt"]
    )
    q.awaitTermination(120)
    _assert_single_pass(q)
    raw = spark.read.parquet(d["raw"])
    proc = spark.read.parquet(d["processed"])
    assert raw.count() == 3  # duplicate collapsed
    assert proc.count() == 3
    assert "ma5_batch" in proc.columns and "ma5_batch" not in raw.columns
    row = (
        proc.filter((F.col("symbol") == "AAPL") & (F.col("time") == "09:35:00"))
        .collect()[0]
    )
    assert row["ma5_batch"] == pytest.approx((100.0 + 101.0) / 2)


def test_checkpoint_restart_no_reprocess(spark, stream_dirs):
    d = stream_dirs
    progress = []
    for i, minute in enumerate((30, 35, 40)):
        # each restart sees one NEW file; the checkpoint must skip the
        # old ones (T4/T5)
        bar = _bar(f"2024-01-02 09:{minute}:00", "AAPL", 100.0 + i)
        _write_file(d["src"], f"b{i}.json", [bar])
        stream = replay_json_stream(spark, d["src"])
        q = start_dual_sink(dedup_stream(stream), d["raw"], d["processed"], d["ckpt"])
        q.awaitTermination(120)
        _assert_single_pass(q)
        progress += q.recentProgress
    raw = spark.read.parquet(d["raw"])
    assert raw.count() == 3  # 1 + 1 + 1, no reprocessing
    # every run ends with a no-data batch (the watermark advanced); it
    # must not append to either table. Files are grouped by the write
    # job id in their names, because a write always keeps task 0's file,
    # empty or not.
    data_batches = sum(p.numInputRows > 0 for p in progress)
    assert data_batches == 3 and len(progress) > data_batches
    for table in (d["raw"], d["processed"]):
        files = list(Path(table).glob("part-*.parquet"))
        assert len({f.name.split("-", 2)[2][:36] for f in files}) == data_batches
        assert sum(pq.read_metadata(f).num_rows > 0 for f in files) == data_batches


def test_malformed_bus_lines_are_dropped(spark, stream_dirs):
    """A garbage bus line parses to an all-NULL row; the loader must
    store neither it nor a NULL-key row in raw or processed."""
    d = stream_dirs
    bars = [
        _bar("2024-01-02 09:30:00", "AAPL", 100.0),
        _bar("2024-01-02 09:35:00", "AAPL", 101.0),
    ]
    Path(d["src"], "b0.json").write_text(
        "\n".join([json.dumps(bars[0]), "{not json", json.dumps(bars[1])])
    )
    q = start_dual_sink(
        dedup_stream(replay_json_stream(spark, d["src"])),
        d["raw"], d["processed"], d["ckpt"],
    )
    q.awaitTermination(120)
    for table in (d["raw"], d["processed"]):
        rows = spark.read.parquet(table).collect()
        assert len(rows) == 2
        assert all(r.symbol == "AAPL" and r.timestamp is not None for r in rows)


def test_dual_sink_write_failure(spark, stream_dirs):
    """A sink path that is a regular file fails the query, and the
    persisted micro-batch is released."""
    from pyspark.errors import StreamingQueryException

    d = stream_dirs
    _write_file(d["src"], "b0.json", [_bar("2024-01-02 09:30:00", "AAPL", 100.0)])
    Path(d["raw"]).write_text("not a directory")
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    q = start_dual_sink(
        dedup_stream(replay_json_stream(spark, d["src"])),
        d["raw"], d["processed"], d["ckpt"],
    )
    with pytest.raises(StreamingQueryException, match="not a directory"):
        q.awaitTermination(120)
    assert q.exception() is not None
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) <= persisted


def test_stream_resample_equals_batch(spark, stream_dirs):
    d = stream_dirs
    bars = [
        _bar(f"2024-01-02 09:{m:02d}:00", s, 100.0 + m + off)
        for m in range(0, 60, 5)
        for s, off in (("AAPL", 0.0), ("MSFT", 50.0))
    ]
    _write_file(d["src"], "b0.json", bars)
    stream = replay_json_stream(spark, d["src"])
    agg = streaming_resample(stream, "1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("resampled")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", d["ckpt"])
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only closed windows; force the final state via
    # the complete-mode equivalent: compare against batch on same data
    got = spark.sql("select * from resampled").collect()
    batch_df = spark.createDataFrame(
        [
            (b["timestamp"], b["symbol"], b["open"], b["high"], b["low"], b["close"], b["volume"])
            for b in bars
        ],
        "timestamp string, symbol string, open double, high double, low double, close double, volume long",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))
    batch = {
        (r["symbol"], r["bucket_start"]): (r["open"], r["high"], r["low"], r["close"], r["volume"])
        for r in resample_ohlcv(batch_df, "1 hour").collect()
    }
    for r in got:
        key = (r["symbol"], r["bucket_start"])
        assert batch[key] == (r["open"], r["high"], r["low"], r["close"], r["volume"])


def test_rest_payload_parsing(spark):
    from stockpulse_spark.sources.rest_replay import parse_api_payload

    payload = {
        "Time Series (5min)": {
            "2026-08-12 15:55:00": {
                "1. open": "227.3100", "2. high": "227.5000",
                "3. low": "226.9900", "4. close": "227.1200",
                "5. volume": "104271",
            },
            "2026-08-12 15:50:00": {
                "1. open": "226.0000", "2. high": "227.4000",
                "3. low": "225.9900", "4. close": "227.3000",
                "5. volume": "98000",
            },
        }
    }
    df = spark.createDataFrame(
        [("AAPL", json.dumps(payload)), ("BAD", "{not json")],
        "symbol string, payload string",
    )
    out = parse_api_payload(df).orderBy("timestamp").collect()
    assert len(out) == 2  # malformed payload yields no rows
    assert out[1]["open"] == pytest.approx(227.31)
    assert out[1]["volume"] == 104271
    assert str(out[1]["timestamp"]) == "2026-08-12 15:55:00"


def test_stream_dedup_matches_batch_twin(spark):
    """The availableNow stream's emitted row set must EXACTLY equal the
    oracle-checked batch twin (closed windows under the final
    watermark) — anchoring watermark/append semantics to the DuckDB
    gate transitively."""
    from stockpulse_spark.plans import REGISTRY
    from tests.conftest import SF_DIR

    def rows(name):
        return {
            (r["user_id"], r["bucket_start"]): (r["open"], r["high"], r["low"], r["volume"])
            for r in REGISTRY[name].builder(spark, SF_DIR).collect()
        }

    stream, batch = rows("stream_dedup_hourly"), rows("stream_dedup_hourly_batch")
    assert stream and stream == batch


def test_stream_sessions_match_batch_twin(spark):
    """Streaming session windows must emit exactly the finalized
    sessions the oracle-checked batch twin computes."""
    from stockpulse_spark.plans import REGISTRY
    from tests.conftest import SF_DIR

    def rows(name):
        return {
            (r["user_id"], r["session_start"], r["session_end"]): (
                r["n_events"], r["total_value"],
            )
            for r in REGISTRY[name].builder(spark, SF_DIR).collect()
        }

    stream, batch = rows("stream_session_windows"), rows("session_windows_batch")
    assert stream and stream == batch


def test_stream_stream_interval_join(spark):
    """Stream-stream inner join with watermarks + a time-bound
    condition (click within 1 hour after view, same user): Spark's
    interval-join state machine must produce exactly the batch join on
    the same data."""
    import os
    import tempfile
    import uuid

    from stockpulse_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    load_table(spark, SF_DIR, "events")
    raw_schema = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).schema

    def stream():
        s = (
            spark.readStream.schema(raw_schema)
            .format("parquet")
            .option("pathGlobFilter", "events.parquet")
            .load(SF_DIR)
        )
        if dict(s.dtypes).get("ts") == "bigint":
            s = s.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return s

    views = (
        stream()
        .filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "2 hours")
    )
    clicks = (
        stream()
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sp_ckpt_"))
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r["v_user"], r["v_ts"], r["c_ts"]) for r in spark.table(name).collect()
    }

    ev = load_table(spark, SF_DIR, "events")
    bviews = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    bclicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    want = {
        (r["v_user"], r["v_ts"], r["c_ts"])
        for r in bviews.join(
            bclicks,
            (F.col("v_user") == F.col("c_user"))
            & (F.col("c_ts") > F.col("v_ts"))
            & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got and got == want


def test_streaming_upsert_sink(spark, stream_dirs):
    """Streaming MERGE: the snapshot converges to latest-per-key across
    restarts — updates overwrite, inserts append, untouched keys keep."""
    from stockpulse_spark.streaming.pipeline import (
        read_upsert_snapshot,
        start_upsert_sink,
    )

    d = stream_dirs
    snap = str(d["base"] / "snap")
    _write_file(d["src"], "b0.json", [
        _bar("2024-01-02 09:30:00", "AAPL", 100.0),
        _bar("2024-01-02 09:31:00", "AAPL", 100.5),  # same key, newer
        _bar("2024-01-02 09:30:00", "MSFT", 390.0),
    ])
    q = start_upsert_sink(replay_json_stream(spark, d["src"]), snap, d["ckpt"])
    assert q.awaitTermination(120)
    got = {r.symbol: r.close for r in read_upsert_snapshot(spark, snap).collect()}
    assert got == {"AAPL": 100.5, "MSFT": 390.0}

    # restart with an update + an insert; checkpoint skips b0
    _write_file(d["src"], "b1.json", [
        _bar("2024-01-02 09:40:00", "AAPL", 101.0),   # update
        _bar("2024-01-02 09:30:00", "GOOG", 140.0),   # insert
    ])
    q2 = start_upsert_sink(replay_json_stream(spark, d["src"]), snap, d["ckpt"])
    assert q2.awaitTermination(120)
    final = read_upsert_snapshot(spark, snap)
    got = {r.symbol: (r.close, str(r.timestamp)) for r in final.collect()}
    assert got == {
        "AAPL": (101.0, "2024-01-02 09:40:00"),
        "MSFT": (390.0, "2024-01-02 09:30:00"),
        "GOOG": (140.0, "2024-01-02 09:30:00"),
    }


def test_stream_attribution_matches_batch_twin(spark):
    """The registered stream-stream attribution join must emit exactly
    the oracle-checked batch twin's pairs — inner joins emit all
    matches, watermarks only bound state, so equality is exact."""
    from stockpulse_spark.plans import REGISTRY
    from tests.conftest import SF_DIR

    def rows(name):
        return {
            (r["purchase_id"], r["click_id"]): (r["latency_us"], r["purchase_value"])
            for r in REGISTRY[name].builder(spark, SF_DIR).collect()
        }

    stream = rows("stream_purchase_attribution")
    batch = rows("purchase_attribution_batch")
    assert stream and stream == batch
