"""Optimization-round probe (guide §1): for each headline query,
capture `.explain("formatted")` to <out>/<name>_<tag>.txt and
optionally time the computation with the noop sink (§1.4) next to the
bench's collect() action, so compute cost and driver-transfer cost are
attributable separately.

Usage:
    python tools/opt_probe.py --tag=before [--out=DIR] [--time] [query ...]

--out defaults to the current directory (e.g. --out=plans/r13).
With no query args, runs the whole headline set. Timing does 1 untimed
warmup then N=5 runs of each action and reports the min.
"""

from __future__ import annotations

import io
import json
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stockpulse_spark.plans import REGISTRY  # noqa: E402
from stockpulse_spark.session import get_spark  # noqa: E402


def capture_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def time_action(fn, n_runs: int = 5) -> float:
    fn()  # warmup
    best = None
    for _ in range(n_runs):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return best


def main() -> None:
    tag = "before"
    out_dir = Path(".")
    do_time = False
    names: list[str] = []
    for a in sys.argv[1:]:
        if a.startswith("--tag="):
            tag = a.split("=", 1)[1]
        elif a.startswith("--out="):
            out_dir = Path(a.split("=", 1)[1])
        elif a == "--time":
            do_time = True
        else:
            names.append(a)
    sf_dir = "/root/testdata/sf0.1"
    if not names:
        names = [n for n, s in REGISTRY.items() if s.headline]
    spark = get_spark("opt_probe")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir.mkdir(parents=True, exist_ok=True)
    out = {}
    for name in names:
        df = REGISTRY[name].builder(spark, sf_dir)
        plan = capture_plan(df)
        (out_dir / f"{name}_{tag}.txt").write_text(plan)
        row = {"exchanges": plan.count("Exchange"), "plan_file": f"{name}_{tag}.txt"}
        if do_time:
            spark.sparkContext.setJobDescription(f"{name}: noop")
            row["noop_sec"] = round(
                time_action(
                    lambda: REGISTRY[name]
                    .builder(spark, sf_dir)
                    .write.format("noop")
                    .mode("overwrite")
                    .save()
                ),
                3,
            )
            spark.sparkContext.setJobDescription(f"{name}: collect")
            row["collect_sec"] = round(
                time_action(lambda: REGISTRY[name].builder(spark, sf_dir).collect()),
                3,
            )
            spark.sparkContext.setJobDescription(None)
        out[name] = row
        print(name, json.dumps(row), file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
