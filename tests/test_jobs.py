"""End-to-end job tests: REST payload → bronze/silver → analytics,
mirroring the reference's full pipeline on an F4-shaped fixture."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from stockpulse_spark.functions.indicators import (
    IndicatorContext,
    atr,
    bollinger,
    rsi,
    sma,
    vwap,
)
from stockpulse_spark.jobs import analytics_job, ingest_job


def _payload(bars: dict[str, float]) -> str:
    series = {
        ts: {
            "1. open": f"{c - 0.5:.4f}",
            "2. high": f"{c + 1:.4f}",
            "3. low": f"{c - 1:.4f}",
            "4. close": f"{c:.4f}",
            "5. volume": "1000",
        }
        for ts, c in bars.items()
    }
    return json.dumps({"Time Series (5min)": series})


def test_ingest_to_analytics(spark, tmp_path):
    bars = {
        f"2024-01-0{d} 09:{m:02d}:00": 100.0 + d + m / 100
        for d in (2, 3)
        for m in range(30, 60, 5)
    }
    payloads = spark.createDataFrame(
        [("AAPL", _payload(bars)), ("MSFT", _payload({k: v + 50 for k, v in bars.items()}))],
        "symbol string, payload string",
    )
    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    messages = ingest_job(payloads, None, bronze, silver)

    msgs = [json.loads(r["value"]) for r in messages.collect()]
    assert len(msgs) == 2 * len(bars)
    assert {m["symbol"] for m in msgs} == {"AAPL", "MSFT"}
    assert all("moving_average" in m for m in msgs)

    silver_df = spark.read.parquet(silver)
    assert silver_df.count() == 2 * len(bars)
    assert {"date", "time", "moving_average", "cumulative_average"} <= set(
        silver_df.columns
    )

    panel = analytics_job(spark, silver, symbol="AAPL", days=30)
    assert panel.columns == [
        "timestamp", "symbol", "open", "high", "low", "close", "volume",
        "sma5", "bb_mid", "bb_upper", "bb_lower", "rsi14", "atr14", "vwap",
    ]
    rows = panel.orderBy("timestamp").collect()
    assert len(rows) == len(bars)
    assert all(r["symbol"] == "AAPL" for r in rows)
    # ma5 of the first row is its own close (min_periods=1)
    assert rows[0]["sma5"] == pytest.approx(rows[0]["close"])
    # vwap stays within [min, max] close
    closes = [r["close"] for r in rows]
    assert min(closes) <= rows[-1]["vwap"] <= max(closes)

    # a view is one shuffle stage plus one result stage
    sc = spark.sparkContext
    sc.setJobGroup("analytics-view", "analytics-view")
    try:
        analytics_job(spark, silver, symbol="AAPL", days=1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("analytics-view")) <= 2

    # same rows as the panel as first written: an inferred-schema scan,
    # and the days cut as a broadcast cross-join with the scanned max
    ctx = IndicatorContext(("symbol",), ("timestamp",), "close")
    mid, up, lo = bollinger(ctx, 20)
    indicators = [
        sma(ctx, 5).alias("sma5"),
        mid.alias("bb_mid"),
        up.alias("bb_upper"),
        lo.alias("bb_lower"),
        rsi(ctx, 14).alias("rsi14"),
        atr(ctx, 14).alias("atr14"),
        vwap(ctx).alias("vwap"),
    ]
    for days in (1, 30):
        ref = spark.read.parquet(silver).filter(F.col("symbol") == "AAPL")
        mx = ref.agg(F.max("timestamp").alias("__mx"))
        ref = (
            ref.crossJoin(F.broadcast(mx))
            .filter(F.col("timestamp") >= F.col("__mx") - F.make_interval(days=F.lit(days)))
            .drop("__mx")
            .select("*", *indicators)
        )
        got = analytics_job(spark, silver, symbol="AAPL", days=days)
        assert sorted(got.collect()) == sorted(ref.select(*panel.columns).collect())
    # the 1-day cut keeps day 3 and day 2's last bar, 09:55
    assert len(analytics_job(spark, silver, symbol="AAPL", days=1).collect()) == 7


def test_analytics_days_cut_is_per_symbol(spark, tmp_path):
    """With no symbol filter, each symbol keeps its own last `days`
    days: a symbol whose feed stopped three days before another's
    stays in the panel."""
    rows = [
        (f"2024-01-{d:02d} 10:00:00", sym, 100.0 + d)
        for sym, last in (("AAPL", 10), ("MSFT", 7))
        for d in range(last - 4, last + 1)
    ]
    path = str(tmp_path / "bars")
    (
        spark.createDataFrame(rows, "timestamp string, symbol string, close double")
        .select(
            F.to_timestamp("timestamp").alias("timestamp"),
            "symbol",
            *(F.col("close").alias(c) for c in ("open", "high", "low", "close")),
            F.lit(1000).cast("long").alias("volume"),
        )
        .write.partitionBy("symbol")
        .parquet(path)
    )
    got = {
        (r["symbol"], str(r["timestamp"]))
        for r in analytics_job(spark, path, days=1).collect()
    }
    # a 1-day cut keeps bars at or after max - 1 day: the last two
    assert got == {
        ("AAPL", "2024-01-09 10:00:00"),
        ("AAPL", "2024-01-10 10:00:00"),
        ("MSFT", "2024-01-06 10:00:00"),
        ("MSFT", "2024-01-07 10:00:00"),
    }


def test_ingest_gate_skips_stale(spark, tmp_path):
    bars = {"2024-01-02 09:30:00": 100.0, "2024-01-02 09:35:00": 101.0}
    payloads = spark.createDataFrame(
        [("AAPL", _payload(bars))], "symbol string, payload string"
    )
    last_seen = spark.createDataFrame(
        [("AAPL", "2024-01-02 09:30:00")], "symbol string, max_ts string"
    ).withColumn("max_ts", F.to_timestamp("max_ts"))
    out = ingest_job(
        payloads, last_seen, str(tmp_path / "b"), str(tmp_path / "s"),
        retention_days=100000,
    )
    msgs = [json.loads(r["value"]) for r in out.collect()]
    assert len(msgs) == 1 and msgs[0]["timestamp"] == "2024-01-02 09:35:00"


def test_ingest_job_evaluates_once(spark, tmp_path):
    """Two payloads carry the same bar key with different closes:
    whichever row the dedup keeps, bronze, silver and the returned
    messages hold the same one, because all three read one pinned
    evaluation. The returned plan starts from that pin, not from the
    payload parse, and both concurrent writes keep the caller's job
    group."""
    ts = "2024-01-02 09:30:00"
    payloads = spark.createDataFrame(
        [("AAPL", _payload({ts: 100.0})), ("AAPL", _payload({ts: 101.0}))],
        "symbol string, payload string",
    )
    bronze, silver = str(tmp_path / "bronze"), str(tmp_path / "silver")
    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("ingest-once", "ingest-once")
    try:
        out = ingest_job(payloads, None, bronze, silver)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == ungrouped
    assert sc.statusTracker().getJobIdsForGroup("ingest-once")

    closes = [
        [r.close for r in spark.read.parquet(bronze).collect()],
        [r.close for r in spark.read.parquet(silver).collect()],
        [json.loads(r.value)["close"] for r in out.collect()],
    ]
    assert len(closes[0]) == 1 and closes[0][0] in (100.0, 101.0)
    assert closes[1] == closes[0] and closes[2] == closes[0]
    # JsonToStructs prints as from_json
    assert "from_json" not in out._jdf.queryExecution().optimizedPlan().toString()


def test_ingest_job_write_failure(spark, tmp_path):
    """A sink path that is a regular file fails ingest_job with the
    write's error, and the pinned evaluation is released."""
    from py4j.protocol import Py4JJavaError

    payloads = spark.createDataFrame(
        [("AAPL", _payload({"2024-01-02 09:30:00": 100.0}))],
        "symbol string, payload string",
    )
    blocker = tmp_path / "bronze"
    blocker.write_text("not a directory")
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    with pytest.raises(Py4JJavaError, match="not a directory"):
        ingest_job(payloads, None, str(blocker), str(tmp_path / "silver"))
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) <= persisted
