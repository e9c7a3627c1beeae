"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/spread.py --workload etl_star --seeds 1-10 [--trace 0|1]
        [--seconds 10] [--out results.jsonl]

Run from the repository root. Runs one seed at a time (never two Spark
runs at once), then prints one JSON object: per metric, the median, the
quartiles (`statistics.quantiles(values, n=4)`) and the quartile spread as
a share of the median, plus the wall of every run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    out = {"median": med, "n": len(values)}
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out.update({"q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None})
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds)
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", help="append every run's result and report here")
    args = ap.parse_args(argv)

    values: dict[str, list[float]] = {}
    runs = []
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True,
            text=True,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            runs.append({"seed": seed, "wall_s": wall, "exit": proc.returncode})
            print(proc.stderr[-4000:], file=sys.stderr)
            continue
        result, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
        runs.append({"seed": seed, "wall_s": wall, "correct": result["correct"],
                     "attempted": result["attempted"], "failed": result["failed"]})
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"seed": seed, "result": result, "report": report}) + "\n")
        print(json.dumps(runs[-1]), file=sys.stderr, flush=True)
    print(json.dumps({
        "workload": args.workload,
        "metrics": {k: summary(v) for k, v in values.items()},
        "runs": runs,
    }, indent=1))
    return 0 if all(r.get("correct") for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
