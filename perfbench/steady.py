"""Steadiness check: run one workload k times, each in a fresh process
with its own seed, and print every end-to-end metric's median,
quartiles and spread (inter-quartile range over the median) against
the bound BENCHMARK.json gives it.

    python3 perfbench/steady.py --workload adhoc_raw --runs 10 --seed0 100

Each run's identifier (git SHA, source hash, seed, Spark version, cores,
AQE, shuffle partitions, broadcast threshold) is printed with its
values. Exit status 1 when any spread exceeds its bound or a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(result object, run identifier) of one fresh-process run."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    ident = next((json.loads(line[6:]) for line in lines if line.startswith("# run ")), {})
    for line in lines:
        if "pass seconds" in line or "cpu_steal_pct" in line:
            print("  " + line, flush=True)
    return json.loads(lines[-1]), ident


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, first quartile, third quartile, IQR / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()

    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    ok = True
    for i in range(args.runs):
        seed = args.seed0 + i
        res, ident = one_run(args.workload, seed, args.seconds, 0)
        ok &= res["correct"] and res["failed"] == 0
        for name in values:
            values[name].append(res["metrics"][name]["value"])
        print(f"run {i + 1}/{args.runs} " + json.dumps(ident) + " " + json.dumps(
            {k: round(v[-1], 4) for k, v in values.items()}
            | {"attempted": res["attempted"], "failed": res["failed"]}), flush=True)
    summary = {}
    print(f"\n{'metric':18s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for m in bench["end_to_end"]:
        med, q1, q3, sp = spread(values[m["name"]])
        within = sp <= m["bound"]
        ok &= within
        summary[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": sp,
                              "bound": m["bound"], "n": len(values[m["name"]])}
        print(f"{m['name']:18s} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:8.4f} "
              f"{m['bound']:6.3f}{'' if within else '  OVER'}")
    print(json.dumps({"workload": args.workload, "runs": args.runs, "ok": ok,
                      "metrics": summary}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
