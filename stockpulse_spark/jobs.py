"""End-to-end jobs — the reference's three processes, re-shaped.

reference process            → job here
----------------------------   ------------------------------------
stocks_pipeline.main()         ingest_job: payloads → bars → gate →
(REST poll → clean → derive    clean → derived columns → bronze +
 → GCS + Pub/Sub)              silver parquet + wire messages
bigquery_loader.main()         load_job: message stream → dedup →
(subscriber → dup check →      dual sink (raw/processed), checkpointed
 buffered inserts)
app/dashboard.py load+calc     analytics_job: silver scan → indicator
                               panel DataFrame (collect-free)

Each job is a pure function over DataFrames + paths: no scheduler
state, no retries, no buffers — Spark's triggers/checkpoints own those
(SURVEY §3). The reference's 820 lines of ingestion/loader plumbing
reduce to ~60 declarative lines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stockpulse_spark.functions.indicators import (
    IndicatorContext,
    atr,
    bollinger,
    rsi,
    sma,
    vwap,
)
from stockpulse_spark.operators.quality import clean_bars
from stockpulse_spark.schemas import BARS_RAW
from stockpulse_spark.sources.rest_replay import incremental_gate, parse_api_payload
from stockpulse_spark.sources.sinks import write_bronze, write_silver
from stockpulse_spark.streaming.pipeline import _concurrently, encode_stream_messages


def derive_processed(bars: DataFrame) -> DataFrame:
    """Producer-side derived columns (reference data_preprocessor.py:
    37-84): date/time fields + per-(symbol, day) ma5 and cumulative
    average."""
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy("timestamp")
    return bars.select(
        "*",
        F.to_date("timestamp").alias("date"),
        F.date_format("timestamp", "HH:mm:ss").alias("time"),
        F.avg("close").over(w.rowsBetween(-4, 0)).alias("moving_average"),
        F.avg("close")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cumulative_average"),
    )


def ingest_job(
    payloads: DataFrame,
    last_seen: DataFrame | None,
    bronze_path: str,
    silver_path: str,
    retention_days: int = 30,
) -> DataFrame:
    """REST payloads (symbol, payload json string) → parsed, gated,
    cleaned, derived; bronze + silver written; returns the wire
    messages the reference would publish (one JSON per bar).

    The parse → gate → clean → derive plan is evaluated once, pinned
    with an eager localCheckpoint. Bronze, silver and the returned
    messages all read the pin, so the JSON parse runs once instead of
    three times, and the three outputs agree even where the plan is not
    deterministic: which of two same-key rows `clean_bars` keeps, and
    `current_timestamp()` in the retention gate. The two table writes
    run concurrently. If either fails, the pin is released and the
    error re-raised."""
    bars = parse_api_payload(payloads)
    if last_seen is not None:
        bars = incremental_gate(bars, last_seen, retention_days=retention_days)
    bars = clean_bars(bars, key_cols=["symbol", "timestamp"])
    pinned = derive_processed(bars).localCheckpoint(eager=True)
    try:
        _concurrently(
            lambda: write_bronze(pinned.select(*bars.columns), bronze_path),
            lambda: write_silver(pinned, silver_path),
        )
    except BaseException:
        # a local checkpoint has no public release; drop its blocks
        pinned._jdf.queryExecution().analyzed().rdd().unpersist(False)
        raise
    return encode_stream_messages(pinned)


def analytics_job(
    spark: SparkSession,
    silver_path: str,
    symbol: str | None = None,
    days: int | None = None,
) -> DataFrame:
    """Dashboard data load + indicator computation (reference
    app/dashboard.py:29-145) as one lazy plan: partition-pruned scan,
    optional trailing time-range, full indicator panel. The caller
    renders; nothing is collected here. Returns the BARS_RAW columns
    plus the seven indicators.

    The scan reads with the canonical BARS_RAW schema, the panel's
    input columns (the reference's projected load), so no Spark job
    runs to infer a schema from parquet footers. The `days` cut keeps
    each symbol's own last `days` days: it compares each bar with
    `max(timestamp)` over its symbol, a window that shares the
    indicator windows' exchange on `symbol`. A view is one shuffle
    stage plus one result stage."""
    cols = BARS_RAW.fieldNames()
    df = spark.read.schema(BARS_RAW).parquet(silver_path)
    if symbol is not None:
        df = df.filter(F.col("symbol") == symbol)  # partition pruning
    if days is not None:
        mx = F.max("timestamp").over(Window.partitionBy("symbol"))
        df = df.select(*cols, mx.alias("__mx")).filter(
            F.col("timestamp") >= F.col("__mx") - F.make_interval(days=F.lit(days))
        )
    ctx = IndicatorContext(("symbol",), ("timestamp",), "close")
    mid, up, lo = bollinger(ctx, 20)
    return df.select(
        *cols,
        sma(ctx, 5).alias("sma5"),
        mid.alias("bb_mid"),
        up.alias("bb_upper"),
        lo.alias("bb_lower"),
        rsi(ctx, 14).alias("rsi14"),
        atr(ctx, 14).alias("atr14"),
        vwap(ctx).alias("vwap"),
    )
