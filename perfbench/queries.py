"""`headline` and `heavy`: registry queries delivered to a Python client.

One client runs the workload's queries in a seed-shuffled order per
pass, each as `builder(spark, corpus)` then `toPandas()` (Arrow), and
issues the next only when the previous has arrived. The timed region
runs whole passes until `seconds` have been spent in views. Every
result is checked against the DuckDB oracle after it is timed.
"""

from __future__ import annotations

import hashlib
import statistics
import time

import numpy as np

from spans import job_group, span

SF = 0.01
WARMUP_PASSES = 2
HEAVY = (
    "copurchase_triangles",
    "copurchase_pagerank",
    "customer_cf_neighbors",
    "dedup_keeper_transitive",
    "semantic_dedup_keepers",
)


def headline_names() -> list[str]:
    from stockpulse_spark.plans import REGISTRY

    return [n for n, s in REGISTRY.items() if s.headline and n not in HEAVY]


def names_for(workload: str) -> list[str]:
    return headline_names() if workload == "headline" else list(HEAVY)


def digest(pdf) -> tuple[int, str]:
    """Row count and an order-insensitive hash of a result frame, over
    the same per-cell rendering the oracle parity gate compares."""
    from tools.parity import canon

    frame, problems = canon(pdf)
    if problems:
        return len(pdf), "unhashable: " + "; ".join(problems)
    h = hashlib.sha256()
    for col in frame.columns:
        h.update(col.encode())
        h.update("\x1f".join(frame[col].astype(str)).encode())
    return len(frame), h.hexdigest()


def oracle_digests(corpus: str, names: list[str]) -> dict[str, tuple[int, str]]:
    """Digest of each query's expected result: its DuckDB oracle, or the
    NumPy reference where the oracle is too slow to run (reference.py)."""
    from reference import REFERENCES
    from stockpulse_spark.plans import REGISTRY
    from tools.parity import duck_con

    con = duck_con(corpus)
    try:
        return {
            n: digest(REFERENCES[n](corpus) if n in REFERENCES
                      else con.execute(REGISTRY[n].oracle).df())
            for n in names
        }
    finally:
        con.close()


def run(ctx, names: list[str]) -> dict:
    """Run the query workload: whole passes until `seconds` are spent in
    untraced views. End-to-end metrics come from untraced views only."""
    from stockpulse_spark.plans import REGISTRY

    spark, corpus, tracer, jobs = ctx.spark, ctx.corpus, ctx.tracer, ctx.jobs
    order = np.random.default_rng([ctx.seed, 5])
    results = {False: [], True: []}  # traced? -> [(name, seconds, digest)]
    spent = {False: 0.0, True: 0.0}
    cpu = {False: 0.0, True: 0.0}
    view_jobs: dict[str, list[int]] = {n: [] for n in names}
    failed = 0

    def view(name: str, traced: bool) -> tuple[float, float, object]:
        """One view: (seconds, CPU seconds, result frame)."""
        tr, jb = (tracer, jobs) if traced else (None, None)
        c0, t0 = ctx.cpu_s(), time.perf_counter()
        with job_group(jb) as n_jobs, span(tr, f"view.{name}"):
            with span(tr, f"plans.{name}.build", "plans"):
                df = REGISTRY[name].builder(spark, corpus)
            pdf = df.toPandas()
        dt = time.perf_counter() - t0
        if traced:
            view_jobs[name].append(n_jobs[0])
        return dt, ctx.cpu_s() - c0, pdf

    def one_pass() -> None:
        """Each query once, in a fresh seeded order. When tracing, each
        query runs untraced and traced back to back, alternating which
        goes first, so warm-up drift cancels in the overhead."""
        nonlocal failed
        for i, name in enumerate(map(str, order.permutation(names))):
            for traced in (False,) if tracer is None else ((False, True), (True, False))[i % 2]:
                if traced:
                    tracer.install()
                try:
                    dt, dc, pdf = view(name, traced)
                except Exception as e:  # noqa: BLE001 - a failed view is counted
                    ctx.log(f"view {name} failed: {type(e).__name__}: {e}")
                    failed += 1
                    continue
                finally:
                    if traced:
                        tracer.uninstall()
                spent[traced] += dt
                cpu[traced] += dc
                results[traced].append((name, dt, digest(pdf)))

    # set-up: untimed passes; the first generates every query's code,
    # the JIT keeps speeding up the next ones
    t0 = time.perf_counter()
    for _ in range(WARMUP_PASSES):
        for name in names:
            REGISTRY[name].builder(spark, corpus).toPandas()
    ctx.setup_s += time.perf_counter() - t0

    pass_s, pass_cpu = [], []
    while spent[False] < ctx.seconds:
        before, cpu_before = spent[False], cpu[False]
        one_pass()
        pass_s.append(spent[False] - before)
        pass_cpu.append(cpu[False] - cpu_before)
        ctx.log(f"pass {len(pass_s)}: {pass_s[-1]:.3f} s, {pass_cpu[-1]:.2f} CPU s")
    passes = len(pass_s)
    want = oracle_digests(corpus, names)
    for name, _, got in results[False] + results[True]:
        if got != want[name]:
            ctx.log(f"view {name}: got {got}, want {want[name]}")
            failed += 1
    lat = [dt for _, dt, _ in results[False]]
    out = {
        "attempted": passes * len(names) * (2 if tracer else 1),
        "failed": failed,
        "views": len(lat),
        "wall_s": statistics.median(pass_s),
        "cpu_s": statistics.median(pass_cpu),
        "latency_p50_s": statistics.median(lat),
    }
    if len(lat) >= 100:
        out["latency_p90_s"] = statistics.quantiles(lat, n=10)[-1]
    if tracer is None:
        return out

    # per query, execution (a noop write) and Arrow delivery measured
    # back to back, in alternating order so neither always runs second
    layer = {}
    for i, name in enumerate(names):
        took = {}
        for how in (("noop", "arrow"), ("arrow", "noop"))[i % 2]:
            df = REGISTRY[name].builder(spark, corpus)
            t0 = time.perf_counter()
            if how == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.toPandas()
            took[how] = time.perf_counter() - t0
        layer[f"plans.{name}.build_s"] = statistics.median(
            tracer.durations(f"plans.{name}.build"))
        layer[f"plans.{name}.jobs"] = statistics.median(view_jobs[name])
        layer[f"plans.{name}.execute_s"] = took["noop"]
        layer[f"plans.{name}.deliver_s"] = took["arrow"] - took["noop"]
    for lay, key in (("functions", "functions.build_s"), ("llmdata", "llmdata.call_s"),
                     ("operators.dedup", "operators.dedup.call_s")):
        layer[key] = tracer.layer_self(lay) / passes
    layer["trace.overhead_s"] = (spent[True] - spent[False]) / passes
    out["layer"] = layer
    return out

