"""Self-test of the benchmark itself, at a tiny input scale.

    python3 perfbench/selftest.py

For each workload it makes two short runs: an untraced one in which the
expected digest of one timed op is deliberately corrupted, which must
print every end-to-end metric of BENCHMARK.json with its unit and count
that op as failed; and a traced one, which must print every per-layer
metric with its unit and no failure. Exit status 0 when all hold.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
import workloads  # noqa: E402


def _missing(result: dict, specs: list[dict]) -> list[str]:
    got = result["metrics"]
    bad = [m["name"] for m in specs
           if m["name"] not in got or got[m["name"]].get("unit") != m["unit"]
           or not isinstance(got[m["name"]].get("value"), (int, float))]
    return bad + [k for k in got if k not in {m["name"] for m in specs}]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in bench["workloads"]:
        name = w["name"]
        res = run.run(name, 7, 1, trace=False, scale=workloads.TINY, corrupt=1,
                      t0=time.perf_counter())
        print(f"{name} untraced, one digest corrupted: " + json.dumps(res))
        if bad := _missing(res, bench["end_to_end"]):
            problems.append(f"{name}: end-to-end metrics missing or mislabelled: {bad}")
        if res["failed"] < 1 or res["correct"]:
            problems.append(f"{name}: corrupted expected digest not counted as failed")
        res = run.run(name, 7, 1, trace=True, scale=workloads.TINY,
                      t0=time.perf_counter())
        print(f"{name} traced: " + json.dumps(res))
        if bad := _missing(res, bench["per_layer"]):
            problems.append(f"{name}: per-layer metrics missing or mislabelled: {bad}")
        if res["failed"] or not res["correct"]:
            problems.append(f"{name}: traced run failed {res['failed']} ops")
    for p in problems:
        print("SELFTEST FAIL " + p)
    print("SELFTEST " + ("FAIL" if problems else "OK"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
