"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from the seed into
`.perfbench_work/` and removed afterwards; traced runs leave their spans
in `.perfbench_out/`. The run prints one line per metric, then as its
last line a JSON object with `correct`, `attempted`, `failed` and
`metrics`: the `end_to_end` metrics of BENCHMARK.json with `--trace 0`,
its `per_layer` metrics with `--trace 1`. Per-layer metrics of layers a
workload does not call read 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("headline", "heavy", "pipeline")
DRIVER_MEM = "2g"


class Ctx:
    """State of one run, passed to the workload."""

    def __init__(self, args, work: str) -> None:
        self.seed, self.seconds = args.seed, args.seconds
        self.work = work
        self.start_time = datetime.now(timezone.utc)
        self.spark = None
        self.corpus = None
        self.setup_s = 0.0
        self.session_s = 0.0
        self.tracer = None
        self.jobs = None

    @staticmethod
    def cpu_s() -> float:
        """CPU seconds used so far by this process, its JVM and the JVM's
        Python workers. Unlike wall time, this excludes time the host
        steals from the machine."""
        return tree_cpu_ticks(os.getpid()) / os.sysconf("SC_CLK_TCK")

    @staticmethod
    def log(msg: str) -> None:
        print(f"# {msg}", file=sys.stderr, flush=True)


def isolate(work: str) -> None:
    """Keep every file Spark and Python write under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    import tempfile

    tempfile.tempdir = None


def session_conf(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }


def tree_cpu_ticks(pid: int) -> int:
    """User and system clock ticks of `pid` and its descendants, reaped
    children included; 0 for a process that has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return 0
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                children = f.read().split()
        except FileNotFoundError:  # the thread exited
            continue
        ticks += sum(tree_cpu_ticks(int(c)) for c in children)
    return ticks


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate(work)
    ctx = Ctx(args, work)
    spark = None
    try:
        import gen
        import pipeline
        import queries
        from spans import JobCounter, Tracer

        from stockpulse_spark.session import get_spark

        if args.workload != "pipeline":
            ctx.corpus = os.path.join(work, "corpus")
            gen.write_corpus(ctx.corpus, args.seed, queries.SF)
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", cpus=os.cpu_count(),
                          extra_conf=session_conf(work))
        ctx.session_s = time.perf_counter() - t0
        ctx.setup_s = ctx.session_s
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        if args.trace:
            ctx.tracer, ctx.jobs = Tracer(), JobCounter(spark.sparkContext)
        if args.workload == "pipeline":
            out = pipeline.run(ctx)
        else:
            out = queries.run(ctx, queries.names_for(args.workload))
        from pyspark import SparkContext

        pids = [os.getpid(), SparkContext._gateway.proc.pid]
        out["setup_s"] = ctx.setup_s
        out["peak_rss_mb"] = peak_rss_mb(pids)
        if args.trace:
            out["layer"]["session.get_spark_s"] = ctx.session_s
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            ctx.tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl"))
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    return report(spec, out, args.trace)


def unit_of(name: str) -> str:
    """A metric's unit, from its name's suffix."""
    for suffixes, unit in ((("per_s",), "1/s"), (("_s",), "s"), (("_ms",), "ms"),
                           (("_mb",), "MB"), (("per_bar", "bytes"), "B"),
                           (("ratio", "_rate", "covered", "per_input_row"), "ratio")):
        if name.endswith(suffixes):
            return unit
    return "count"


def report(spec: dict, out: dict, trace: bool) -> dict:
    """Print every measured metric, then build the result object."""
    out["error_rate"] = out["failed"] / out["attempted"]
    measured = {k: v for k, v in out.items() if k not in ("layer", "attempted", "failed")}
    measured.update(out.get("layer", {}))
    for name, value in measured.items():
        print(f"{name} {value:.6g} {unit_of(name)}")
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    return {
        "correct": out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through run()'s clean-up so the JVM is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
