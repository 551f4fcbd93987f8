"""`pipeline`: the paper's ingest → bus → dedup load → maintenance →
dashboard flow on generated Alpha-Vantage-shaped polls.

One client, closed loop; a cycle is
  1. poll: every symbol's latest BARS_PER_POLL five-minute bars;
  2. `jobs.ingest_job`, gated by `last_seen` from the processed table;
  3. the wire messages go to a bus file, with redelivered messages;
  4. `start_dual_sink(dedup_stream(replay_json_stream(bus)))` restarts
     on one checkpoint and runs until the bus is drained;
  5. every MAINTAIN_EVERY cycles, `dedup_rewrite` then `compact`;
  6. VIEWS dashboard views, `analytics_job(maintained, symbol, days)`
     then `toPandas()`, symbol Zipf-distributed.
Freshness is steps 2-4: from handing the poll to `ingest_job` until
its unique bars are committed in both the raw and processed tables.
The timed region runs whole maintenance periods. Every operation is
checked right after it, outside its timing.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np

from gen import PollFeed, anchor_for, bus_lines
from spans import job_group, span

SYMBOLS = 10
BARS_PER_POLL = 100
NEW_PER_POLL = 20
DUP_SHARE = 0.1
MALFORMED_SHARE = 0.05
MAINTAIN_EVERY = 2
VIEWS = 5
WARMUP_CYCLES = 2
VIEW_DAYS = (1, 5)
ZIPF_A = 1.5
MAX_POLLS = 200  # bars reach back (MAX_POLLS * NEW_PER_POLL) * 5 min: 14 days


def files_and_bytes(*roots: str) -> tuple[int, int]:
    """Data files and their bytes under `roots`, without Spark's hidden
    and marker files."""
    n = size = 0
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                if not f.startswith((".", "_")):
                    n += 1
                    size += os.path.getsize(os.path.join(d, f))
    return n, size


def read_keys(path: str) -> list[tuple]:
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet").to_table(columns=["symbol", "timestamp"])
    ts = t.column("timestamp").cast("timestamp[us]").to_pylist()
    return list(zip(t.column("symbol").to_pylist(), ts))


class Pipeline:
    """The tables of one run and the operations on them."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        w = ctx.work
        self.bronze, self.silver = f"{w}/bronze", f"{w}/silver"
        self.raw, self.processed = f"{w}/raw", f"{w}/processed"
        self.rewritten = f"{w}/rewritten"
        self.maintained = self.rewritten + "__compacted"
        self.tables = (self.bronze, self.silver, self.raw, self.processed,
                       self.rewritten, self.maintained)
        self.bus, self.ckpt = f"{w}/bus", f"{w}/checkpoint"
        os.makedirs(self.bus)
        self.feed = PollFeed(
            ctx.seed, SYMBOLS, BARS_PER_POLL, NEW_PER_POLL, MAX_POLLS,
            anchor_for(ctx.start_time), MALFORMED_SHARE,
        )
        self.rng = np.random.default_rng([ctx.seed, 6])
        self.cycle = -1
        self.maintained_through = -1
        self.history: list[str] = []
        self.dups = self.lines = 0

    def ingest_and_load(self, tracer=None, jobs=None) -> dict:
        """Steps 1-4 for the next poll."""
        from pyspark.sql import functions as F

        from stockpulse_spark.jobs import ingest_job
        from stockpulse_spark.streaming.pipeline import (
            dedup_stream,
            replay_json_stream,
            start_dual_sink,
        )

        self.cycle += 1
        spark, c = self.ctx.spark, self.cycle
        payloads = spark.createDataFrame(self.feed.payloads(c), "symbol string, payload string")
        c0, t0 = self.ctx.cpu_s(), time.perf_counter()
        with span(tracer, "freshness") as root:
            last_seen = None
            if c > 0:
                last_seen = (
                    spark.read.parquet(self.processed)
                    .groupBy("symbol").agg(F.max("timestamp").alias("max_ts"))
                )
            with job_group(jobs) as n_jobs:
                msgs_df = ingest_job(payloads, last_seen, self.bronze, self.silver)
            with span(tracer, "sources.bus_write", "sources"):
                msgs = [r.value for r in msgs_df.collect()]
                lines, n_dup = bus_lines(msgs, self.history, self.ctx.seed, c, DUP_SHARE)
                with open(f"{self.bus}/cycle-{c:05d}.json", "w") as f:
                    f.write("\n".join(lines) + "\n")
            with span(tracer, "streaming.start", "streaming"):
                q = start_dual_sink(
                    dedup_stream(replay_json_stream(spark, self.bus)),
                    self.raw, self.processed, self.ckpt,
                )
            with span(tracer, "streaming.run", "streaming"):
                q.awaitTermination()
        fresh, cpu = time.perf_counter() - t0, self.ctx.cpu_s() - c0
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        self.history += msgs
        self.dups += n_dup
        self.lines += len(lines)
        return {
            "freshness_s": fresh,
            "cpu_s": cpu,
            "ingest_jobs": n_jobs[0],
            "progress": [json.loads(p.json) for p in q.recentProgress],
            "root": root,
        }

    def maintain(self) -> dict:
        """Step 5."""
        from stockpulse_spark.operators.maintenance import compact, dedup_rewrite

        files_before = files_and_bytes(self.raw)[0]
        c0, t0 = self.ctx.cpu_s(), time.perf_counter()
        dedup_rewrite(self.ctx.spark, self.raw, self.rewritten)
        t1 = time.perf_counter()
        compact(self.ctx.spark, self.rewritten)
        t2 = time.perf_counter()
        self.maintained_through = self.cycle
        return {
            "dedup_rewrite_s": t1 - t0, "compact_s": t2 - t1,
            "cpu_s": self.ctx.cpu_s() - c0,
            "files_before": files_before,
            "files_after": files_and_bytes(self.maintained)[0],
        }

    def view(self, tracer=None, jobs=None) -> dict:
        """One dashboard view of a Zipf-chosen symbol."""
        from stockpulse_spark.jobs import analytics_job

        s = min(int(self.rng.zipf(ZIPF_A)), SYMBOLS) - 1
        days = VIEW_DAYS[int(self.rng.integers(0, len(VIEW_DAYS)))]
        c0, t0 = self.ctx.cpu_s(), time.perf_counter()
        with job_group(jobs) as n_jobs, span(tracer, "view"):
            df = analytics_job(self.ctx.spark, self.maintained, symbol=self.feed.symbol(s),
                               days=days)
            build = time.perf_counter() - t0
            pdf = df.toPandas()
        return {"s": time.perf_counter() - t0, "cpu_s": self.ctx.cpu_s() - c0, "frame": pdf,
                "symbol": s, "days": days, "build_s": build, "jobs": n_jobs[0]}

    # -- checks ------------------------------------------------------------

    def check_tables(self) -> list[str]:
        """Raw and processed hold exactly the delivered keys, once each."""
        want = self.feed.expected_keys(self.cycle)
        errs = []
        for name, path in (("raw", self.raw), ("processed", self.processed)):
            got = read_keys(path)
            if len(got) != len(set(got)):
                errs.append(f"{name}: {len(got) - len(set(got))} duplicate keys")
            if set(got) != want:
                errs.append(f"{name}: {len(set(got) - want)} unexpected, "
                            f"{len(want - set(got))} missing keys")
        return errs

    def check_view(self, pdf, s: int, days: int) -> list[str]:
        """The view holds exactly the symbol's maintained bars of its
        last `days` days, with the polled closes."""
        stop = self.feed.end(s, self.maintained_through)
        first = max(0, stop - 1 - days * 288)
        want = [b[5] for b in self.feed.bars(s, first, stop)]
        got = pdf.sort_values("timestamp")["close"].tolist()
        if got != want:
            return [f"view {self.feed.symbol(s)}/{days}d: {len(got)} rows, want {len(want)}"]
        return []

    def check_twin(self) -> list[str]:
        """The maintained table's full indicator panel equals the same
        plan over a batch-written twin of the expected unique bars."""
        from stockpulse_spark.jobs import analytics_job

        spark, feed = self.ctx.spark, self.feed
        bars = [b for s in range(SYMBOLS)
                for b in feed.bars(s, 0, feed.end(s, self.maintained_through))]
        twin = f"{self.ctx.work}/twin"
        spark.createDataFrame(
            bars,
            "timestamp timestamp, symbol string, open double, high double, "
            "low double, close double, volume long",
        ).write.partitionBy("symbol").parquet(twin)
        keys = ["symbol", "timestamp"]
        values = ["close", "sma5", "bb_mid", "bb_upper", "bb_lower", "rsi14", "atr14", "vwap"]

        def panel(path):
            return (analytics_job(spark, path).select(*keys, *values).toPandas()
                    .sort_values(keys).reset_index(drop=True))

        got, want = panel(self.maintained), panel(twin)
        if len(got) != len(want) or not got[keys].equals(want[keys]):
            return [f"twin: {len(got)} rows vs {len(want)}, or keys differ"]
        if not np.allclose(got[values].to_numpy(float), want[values].to_numpy(float),
                           rtol=0, atol=1e-9, equal_nan=True):
            return ["twin: indicator values differ"]
        return []


def run(ctx) -> dict:
    """Run the pipeline workload. End-to-end metrics come from untraced
    cycles only."""
    p = Pipeline(ctx)
    tally = {"attempted": 0, "failed": 0}

    def attempt(errs: list[str]) -> None:
        tally["attempted"] += 1
        tally["failed"] += bool(errs)
        for e in errs:
            ctx.log(e)

    def cycle(traced: bool) -> dict:
        tracer, jobs = (ctx.tracer, ctx.jobs) if traced else (None, None)
        keys0 = len(p.feed.expected_keys(p.cycle))
        files0, bytes0 = files_and_bytes(*p.tables[:4])
        rec: dict = {"ops_s": 0.0, "maint_s": 0.0, "cpu_s": 0.0, "views": []}
        if traced:
            tracer.install()
        try:
            try:
                rec["ingest"] = p.ingest_and_load(tracer, jobs)
                rec["ops_s"] += rec["ingest"]["freshness_s"]
                rec["cpu_s"] += rec["ingest"]["cpu_s"]
                attempt(p.check_tables())
            except Exception as e:  # noqa: BLE001 - a failed operation is counted
                attempt([f"ingest: {type(e).__name__}: {e}"])
            if p.cycle % MAINTAIN_EVERY == MAINTAIN_EVERY - 1:
                try:
                    rec["maint"] = p.maintain()
                    rec["maint_s"] = rec["maint"]["dedup_rewrite_s"] + rec["maint"]["compact_s"]
                    rec["cpu_s"] += rec["maint"]["cpu_s"]
                    attempt([])
                except Exception as e:  # noqa: BLE001
                    attempt([f"maintenance: {type(e).__name__}: {e}"])
            for _ in range(VIEWS):
                try:
                    v = p.view(tracer, jobs)
                    rec["views"].append(v)
                    rec["ops_s"] += v["s"]
                    rec["cpu_s"] += v["cpu_s"]
                    attempt(p.check_view(v.pop("frame"), v["symbol"], v["days"]))
                except Exception as e:  # noqa: BLE001
                    attempt([f"view: {type(e).__name__}: {e}"])
        finally:
            if traced:
                tracer.uninstall()
        rec["wall_s"] = rec["ops_s"] + rec["maint_s"]
        ctx.log(f"cycle {p.cycle}{' traced' if traced else ''}: {rec['wall_s']:.3f} s, "
                f"{rec['cpu_s']:.2f} CPU s")
        files1, bytes1 = files_and_bytes(*p.tables[:4])
        rec["files"], rec["bytes"] = files1 - files0, bytes1 - bytes0
        rec["new_bars"] = len(p.feed.expected_keys(p.cycle)) - keys0
        return rec

    # set-up: the first poll (every bar new), a first maintenance so the
    # dashboard has a table, then untimed cycles while the JIT warms up
    t0 = time.perf_counter()
    p.ingest_and_load()
    p.maintain()
    for _ in range(WARMUP_CYCLES):
        p.ingest_and_load()
        for _ in range(VIEWS):
            p.view()
    ctx.setup_s += time.perf_counter() - t0
    errs = p.check_tables()
    if errs:
        raise RuntimeError(f"set-up wrote wrong tables: {errs}")

    # whole maintenance periods; when tracing, whole blocks of untraced,
    # traced, traced, untraced cycles, so warm-up drift cancels in the
    # overhead and traced cycles include a maintenance
    recs: dict[bool, list[dict]] = {False: [], True: []}
    block = 4 if ctx.tracer is not None else MAINTAIN_EVERY
    k = 0
    while sum(r["wall_s"] for r in recs[False]) < ctx.seconds or k % block:
        traced = ctx.tracer is not None and k % 4 in (1, 2)
        recs[traced].append(cycle(traced))
        k += 1
    attempt(p.check_twin())

    plain = recs[False]
    wall = sum(r["wall_s"] for r in plain)
    lat = [v["s"] for r in plain for v in r["views"]]
    out = {
        **tally,
        "views": len(lat),
        "wall_s": wall / len(plain),
        "cpu_s": sum(r["cpu_s"] for r in plain) / len(plain),
        "latency_p50_s": statistics.median(lat),
        "freshness_p50_s": statistics.median(
            r["ingest"]["freshness_s"] for r in plain if "ingest" in r),
        "bars_per_s": sum(r["new_bars"] for r in plain) / wall,
        "stored_bytes_per_bar": files_and_bytes(*p.tables)[1]
        / len(p.feed.expected_keys(p.cycle)),
    }
    if len(lat) >= 100:
        out["latency_p90_s"] = statistics.quantiles(lat, n=10)[-1]
    if ctx.tracer is not None:
        out["layer"] = layer = layer_metrics(ctx.tracer, recs[True], plain)
        if abs(layer["streaming.dup_dropped_ratio"] - p.dups / p.lines) > 1e-9:
            ctx.log(f"dedup dropped {layer['streaming.dup_dropped_ratio']:.6f} of rows; "
                    f"the generator's duplicate share is {p.dups / p.lines:.6f}")
            out["failed"] += 1
    return out


def layer_metrics(tracer, recs: list[dict], plain: list[dict]) -> dict:
    """Per-layer metrics of the traced cycles: per cycle, or the median
    per operation where the name says so."""
    n = len(recs)
    ing = [r["ingest"] for r in recs if "ingest" in r]
    maint = [r["maint"] for r in recs if "maint" in r]
    views = [v for r in recs for v in r["views"]]
    selfs = tracer.self_times()
    batches = [b for i in ing for b in i["progress"]]
    dedup = [b["stateOperators"][0] for b in batches]
    dropped = sum(d["customMetrics"]["numDroppedDuplicateRows"] for d in dedup)
    reached = sum(d["numRowsUpdated"] for d in dedup) + dropped

    def per_cycle(key: str) -> float:
        return statistics.median(sum(b["durationMs"].get(key, 0) for b in i["progress"])
                                 for i in ing)

    return {
        "functions.build_s": tracer.layer_self("functions") / n,
        "operators.dedup.call_s": tracer.layer_self("operators.dedup") / n,
        "jobs.ingest_job_s": sum(tracer.durations("jobs.ingest_job")) / n,
        "jobs.ingest_spark_jobs": statistics.median(i["ingest_jobs"] for i in ing),
        "jobs.analytics_job_build_s": statistics.median(v["build_s"] for v in views),
        "jobs.view_jobs": statistics.median(v["jobs"] for v in views),
        **{f"sources.{f}_s": selfs.get(f"sources.{f}", 0.0) / n for f in (
            "parse_api_payload", "incremental_gate", "write_bronze", "write_silver",
            "bus_write")},
        "sources.files_written": sum(r["files"] for r in recs) / n,
        "sources.bytes_written_per_bar": sum(r["bytes"] for r in recs)
        / sum(r["new_bars"] for r in recs),
        "streaming.start_s": statistics.median(tracer.durations("streaming.start")),
        "streaming.trigger_p50_ms": statistics.median(
            b["durationMs"]["triggerExecution"] for b in batches),
        "streaming.latest_offset_ms": per_cycle("latestOffset"),
        "streaming.get_batch_ms": per_cycle("getBatch"),
        "streaming.query_planning_ms": per_cycle("queryPlanning"),
        "streaming.add_batch_ms": per_cycle("addBatch"),
        "streaming.wal_commit_ms": per_cycle("walCommit"),
        "streaming.batches_per_cycle": len(batches) / len(ing),
        "streaming.useful_batch_ratio": sum(b["numInputRows"] > 0 for b in batches)
        / len(batches),
        "streaming.dup_dropped_ratio": dropped / reached,
        "streaming.dedup_passes_per_input_row": reached
        / sum(b["numInputRows"] for b in batches),
        "streaming.state_rows": dedup[-1]["numRowsTotal"],
        "streaming.state_bytes": dedup[-1]["memoryUsedBytes"],
        "operators.dedup_rewrite_s": statistics.median(m["dedup_rewrite_s"] for m in maint),
        "operators.compact_s": statistics.median(m["compact_s"] for m in maint),
        "operators.files_before": statistics.median(m["files_before"] for m in maint),
        "operators.files_after": statistics.median(m["files_after"] for m in maint),
        "trace.overhead_s": statistics.mean(r["ops_s"] for r in recs)
        - statistics.mean(r["ops_s"] for r in plain),
        "trace.freshness_covered": statistics.median(tracer.covered(i["root"]) for i in ing),
    }
