"""The benchmark's own tests: seeded generators, the NumPy reference,
and a tiny smoke run of each workload with every metric checked.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark and take a few minutes together.
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import sys
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import pipeline  # noqa: E402
import queries  # noqa: E402
import run  # noqa: E402

ANCHOR = datetime(2026, 1, 5)

END_TO_END = {"setup_s", "cpu_s", "wall_s", "latency_p50_s", "error_rate", "peak_rss_mb"}
PIPELINE_END_TO_END = {"freshness_p50_s", "bars_per_s", "stored_bytes_per_bar"}
LAYERS = {
    "headline": {"functions.build_s", "llmdata.call_s", "trace.overhead_s",
                 "session.get_spark_s"},
    "heavy": {"functions.build_s", "llmdata.call_s", "operators.dedup.call_s",
              "trace.overhead_s", "session.get_spark_s"},
    "pipeline": {
        "functions.build_s", "operators.dedup.call_s", "jobs.ingest_job_s",
        "jobs.ingest_spark_jobs", "jobs.analytics_job_build_s", "jobs.view_jobs",
        "sources.parse_api_payload_s", "sources.incremental_gate_s",
        "sources.write_bronze_s", "sources.write_silver_s", "sources.bus_write_s",
        "sources.files_written", "sources.bytes_written_per_bar", "streaming.start_s",
        "streaming.trigger_p50_ms", "streaming.latest_offset_ms", "streaming.get_batch_ms",
        "streaming.query_planning_ms", "streaming.add_batch_ms", "streaming.wal_commit_ms",
        "streaming.batches_per_cycle", "streaming.useful_batch_ratio",
        "streaming.dup_dropped_ratio", "streaming.state_rows", "streaming.state_bytes",
        "operators.dedup_rewrite_s", "operators.compact_s", "operators.files_before",
        "operators.files_after", "session.get_spark_s", "trace.overhead_s",
        "trace.freshness_covered",
    },
}


def _spec() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _feed(seed: int, share: float = 0.2) -> gen.PollFeed:
    return gen.PollFeed(seed, 4, 100, 20, 12, ANCHOR, share)


def test_corpus_is_deterministic(tmp_path):
    gen.write_corpus(str(tmp_path / "a"), 7, 0.001)
    gen.write_corpus(str(tmp_path / "b"), 7, 0.001)
    gen.write_corpus(str(tmp_path / "c"), 8, 0.001)
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert match == names and not mismatch and not errors
    assert not filecmp.cmp(tmp_path / "a" / "events.parquet", tmp_path / "c" / "events.parquet",
                           shallow=False)


def test_events_ts_unique_per_user():
    ev = gen.corpus_tables(3, 0.001)["events"].to_pandas()
    assert not ev.duplicated(["user_id", "ts"]).any()
    assert ev["ts"].is_monotonic_increasing


def test_poll_feed_is_deterministic():
    a, b = _feed(5), _feed(5)
    for c in range(12):
        assert a.payloads(c) == b.payloads(c)
    assert _feed(6).payloads(3) != a.payloads(3)
    msgs = [json.dumps({"k": i}) for i in range(50)]
    hist = [json.dumps({"h": i}) for i in range(80)]
    assert gen.bus_lines(msgs, hist, 5, 2, 0.1) == gen.bus_lines(msgs, hist, 5, 2, 0.1)
    lines, n_dup = gen.bus_lines(msgs, hist, 5, 2, 0.1)
    assert n_dup == 5 and sorted(set(lines)) == sorted(set(lines) & set(msgs + hist))
    assert set(msgs) <= set(lines)


def test_poll_feed_delivers_every_bar_once_gated():
    feed = _feed(9, share=0.3)
    assert not (feed.bad[1:] & feed.bad[:-1]).any(), "two malformed polls in a row"
    assert feed.bad.any()
    seen: dict[str, str] = {}
    for c in range(12):
        for sym, body in feed.payloads(c):
            s = int(sym[3:])
            if feed.bad[c, s]:
                with pytest.raises((ValueError, KeyError)):
                    json.loads(body)[gen.SERIES_KEY]
                continue
            series = json.loads(body)[gen.SERIES_KEY]
            assert len(series) == 100
            for ts, fields in series.items():
                assert seen.setdefault(f"{sym} {ts}", json.dumps(fields)) == json.dumps(fields)
            assert max(series) == feed.bar_time(feed.end(s, c) - 1).strftime("%Y-%m-%d %H:%M:%S")
    assert len(seen) == len(feed.expected_keys(11))


def test_bars_inside_retention_on_any_date():
    for now in (datetime(2026, 7, 1, 0, 5), datetime(2027, 3, 1, 23, 59)):
        feed = gen.PollFeed(1, 2, 100, 20, pipeline.MAX_POLLS, gen.anchor_for(now), 0.0)
        assert now - timedelta(days=30) < feed.bar_time(0) < feed.bar_time(feed.total_bars - 1) <= now


def test_reference_matches_duckdb_oracle(tmp_path):
    """The NumPy stand-in for the slow oracle gives the oracle's digest,
    on vectors with near-duplicate clusters."""
    import duckdb

    import reference
    from stockpulse_spark.plans import REGISTRY

    rng = np.random.default_rng(0)
    base = rng.standard_normal((40, 64))
    vecs = np.concatenate([base, base[:20] + 0.3 * rng.standard_normal((20, 64)),
                           base[:10] + 0.5 * rng.standard_normal((10, 64))]).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(len(vecs), dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(np.zeros(len(vecs)), pa.int32()),
    }), tmp_path / "embeddings.parquet")
    ref = reference.semantic_dedup_keepers(str(tmp_path))
    assert ref["is_duplicate"].sum() >= 10
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{tmp_path / 'embeddings.parquet'}')")
    oracle = con.execute(REGISTRY["semantic_dedup_keepers"].oracle).df()
    assert queries.digest(ref) == queries.digest(oracle)


def test_benchmark_json_lists_every_metric():
    spec = _spec()
    e2e = {m["name"] for m in spec["end_to_end"]}
    layer = {m["name"] for m in spec["per_layer"]}
    assert e2e == {"setup_s", "wall_s", "latency_p50_s"}
    assert set().union(*LAYERS.values()) <= layer
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    for q in queries.headline_names():
        assert {f"plans.{q}.{k}" for k in ("build_s", "jobs", "execute_s", "deliver_s")} <= layer
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"]) and m["better"] in ("lower", "higher")


def _smoke(workload: str, trace: int, capsys, monkeypatch) -> tuple[dict, dict]:
    monkeypatch.setattr(queries, "SF", 0.001)
    monkeypatch.setattr(queries, "WARMUP_PASSES", 1)
    monkeypatch.setattr(pipeline, "WARMUP_CYCLES", 0)
    monkeypatch.setattr(pipeline, "SYMBOLS", 3)
    monkeypatch.setattr(pipeline, "VIEWS", 1)
    args = argparse.Namespace(workload=workload, seed=1, seconds=0.01, trace=trace)
    saved = dict(os.environ)
    try:
        result = run.run(args)
    finally:
        os.environ.clear()
        os.environ.update(saved)
    printed = {}
    for line in capsys.readouterr().out.splitlines():
        name, _, unit = line.split(" ")
        assert unit, f"{name} printed without a unit"
        printed[name] = unit
    return result, printed


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_traced(workload, capsys, monkeypatch):
    result, printed = _smoke(workload, 1, capsys, monkeypatch)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    spec = _spec()
    assert set(result["metrics"]) == {m["name"] for m in spec["per_layer"]}
    want = END_TO_END | LAYERS[workload]
    if workload == "pipeline":
        want |= PIPELINE_END_TO_END
    else:
        want |= {f"plans.{q}.{k}" for q in queries.names_for(workload)
                 for k in ("build_s", "jobs", "execute_s")}
    assert want <= set(printed)
    for name in LAYERS[workload] - {"trace.overhead_s"}:
        assert result["metrics"][name]["value"] != 0, name


def test_smoke_end_to_end(capsys, monkeypatch):
    result, printed = _smoke("pipeline", 0, capsys, monkeypatch)
    assert result["correct"]
    spec = _spec()
    assert set(result["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert PIPELINE_END_TO_END | END_TO_END <= set(printed)
