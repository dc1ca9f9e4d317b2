"""Metrics of one run: the end-to-end metrics of the untraced passes,
the per-layer metrics of the traced ones, the run identifier and the
workload properties. Human-readable lines go to stdout; ``report``
returns the result object run.py prints as the last line.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess

import spans as S
import workloads as W


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolation percentile, ``q`` in [0, 1]."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_q(n: int) -> float:
    """p90 when at least 100 samples, else the highest percentile with at
    least ten samples beyond it, never below the median."""
    return 0.9 if n >= 100 else max(0.5, (n - 10) / n)


def _git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, timeout=10,
                             capture_output=True, text=True)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def source_fingerprint(root: str) -> str:
    """SHA-1 over the engine's Python sources, identifying the code under
    test where no git metadata exists."""
    h = hashlib.sha1()
    pkg = os.path.join(root, "drill_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(filenames):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def run_id(run) -> dict:
    conf = run.stats.get("conf", {})
    return {
        "git": _git_sha(run.root), "src_sha1": source_fingerprint(run.root),
        "workload": run.workload, "seed": run.seed,
        "spark": run.stats.get("spark"), "cores": run.cores,
        "master": conf.get("spark.master"),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "broadcast_threshold": conf.get("spark.sql.autoBroadcastJoinThreshold"),
    }


def properties(run, samples: list[dict]) -> dict:
    """Input properties a later change may depend on, measured on the
    timed ops of this run."""
    n = len(samples)
    inp = run.inp
    props = {
        "timed_ops": n,
        "repeat_text_share": sum(s["repeat"] for s in samples) / n,
        "raw_files_per_op": sum(s["files"] for s in samples) / n,
        "raw_bytes_per_op": sum(s["bytes"] for s in samples) / n,
        "records_per_op": sum(s["records"] for s in samples) / n,
    }
    if run.workload == "adhoc_raw":
        props.update(fixture_sf=inp.scale["sf"], raw_rows_per_file=inp.scale["raw_rows"],
                     ingest_batch_rows=inp.scale["ingest_rows"],
                     ingest_window=W.INGEST_WINDOW,
                     class_mix=dict(W.ADHOC_MIX))
    else:
        props.update(corpus_docs=inp.scale["docs"], corpus_bytes=inp.sizes["corpus"])
    return props


def end_to_end(run, samples: list[dict], wall: float) -> tuple[dict, dict]:
    lats = [s["lat"] * 1e3 for s in samples if s["ok"]] or [float("nan")]
    q = tail_q(len(lats))
    vals = {
        "setup_s": (run.setup_s, "s"),
        "throughput_qps": (len(samples) / wall, "1/s"),
        "docs_per_s": (sum(s["records"] for s in samples) / wall, "1/s"),
        "latency_p50_ms": (statistics.median(lats), "ms"),
        "latency_p90_ms": (percentile(lats, q), "ms"),
        "peak_rss_mb": (run.rss_mb, "MB"),
    }
    notes = {"latency_samples": len(lats), "latency_p90_is_percentile": round(q * 100, 1),
             "failed_share": sum(not s["ok"] for s in samples) / len(samples),
             "timed_wall_s": wall, "cpu_steal_pct": run.steal_pct,
             "class_p50_ms": class_p50(samples)}
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}, notes


def class_p50(samples: list[dict]) -> dict:
    """Median latency in ms of each op class's correct samples."""
    by_cls: dict[str, list[float]] = {}
    for s in samples:
        if s["ok"]:
            by_cls.setdefault(s["cls"], []).append(s["lat"] * 1e3)
    return {c: statistics.median(v) for c, v in by_cls.items()}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(run, traced: list[dict], untraced: list[dict], spans: list[dict]) -> dict:
    n = max(1, len(traced))
    out: dict[str, tuple[float, str]] = {}

    def ms(name: str) -> float:
        return S.total_ms(S.outermost(spans, name)) / n

    req = [i for i, s in enumerate(spans) if s["name"] == "server.request"]
    out["server.request_ms"] = (sum((spans[i]["end"] - spans[i]["start"]) * 1e3
                                    for i in req) / n, "ms")
    out["server.overhead_ms"] = (sum(
        (spans[i]["end"] - spans[i]["start"]) * 1e3
        - S.under(spans, i, {"session.sql", "exec.action"}) for i in req) / n, "ms")
    out["server.reply_kb"] = (_mean(s.get("reply_bytes", 0) for s in traced) / 1024, "KB")
    sql = [i for i, s in enumerate(spans) if s["name"] == "session.sql"]
    out["session.sql_ms"] = (ms("session.sql"), "ms")
    out["session.profile_ms"] = (sum(
        (spans[i]["end"] - spans[i]["start"]) * 1e3
        - S.under(spans, i, {"sqlfront.execute", "sqlfront.ctas", "sqlfront.drop"})
        for i in sql) / n, "ms")
    out["sqlfront.rewrite_ms"] = (ms("sqlfront.rewrite"), "ms")
    for kind in ("ctas", "drop"):
        calls = [s for s in spans if s["name"] == f"sqlfront.{kind}"]
        out[f"sqlfront.{kind}_ms"] = (S.total_ms(calls) / max(1, len(calls)), "ms")
    out["sqlfront.temp_views"] = (run.stats.get("temp_views", 0), "count")
    reads = S.outermost(spans, "readers.read_auto")
    out["readers.read_auto_ms"] = (S.total_ms(reads) / n, "ms")
    out["readers.read_auto_calls"] = (len(reads) / n, "count")
    out["readers.jobs_per_call"] = (sum(s["jobs"] or 0 for s in reads) / max(1, len(reads)),
                                    "count")
    out["exec.analyze_ms"] = (ms("exec.analyze"), "ms")
    out["exec.action_ms"] = (ms("exec.action"), "ms")
    roots = [s for s in spans if s["name"] in ("server.request", "op.build", "op.exec")]
    out["exec.jobs_per_op"] = (sum(s["jobs"] or 0 for s in roots) / n, "count")
    out["exec.tasks_per_op"] = (sum(s["tasks"] or 0 for s in roots) / n, "count")
    out["exec.rows_out"] = (_mean(s.get("rows", 0) for s in traced), "count")
    by_op: dict[str, dict[str, float]] = {}
    for s in spans:
        if s["name"] in ("op.build", "op.exec"):
            by_op.setdefault(s["op"], {})[s["name"]] = (s["end"] - s["start"]) * 1e3
            by_op[s["op"]][s["name"] + ".jobs"] = s["jobs"] or 0
    for name, _ in W.CURATION_MIX:
        short = name.removeprefix("ext_")
        mine = [s for s in traced if s["cls"] == name]
        ids = [s["id"] for s in mine]
        b = [by_op.get(i, {}) for i in ids]
        out[f"ops.{short}.build_ms"] = (_mean(x.get("op.build", 0) for x in b), "ms")
        out[f"ops.{short}.exec_ms"] = (_mean(x.get("op.exec", 0) for x in b), "ms")
        out[f"ops.{short}.jobs"] = (_mean(x.get("op.build.jobs", 0) + x.get("op.exec.jobs", 0)
                                          for x in b), "count")
        docs = run.inp.scale["docs"]
        out[f"ops.{short}.keep_ratio"] = (_mean(s.get("rows", 0) / docs for s in mine), "1")
    p50 = class_p50(untraced)
    for cls, _ in W.ADHOC_MIX:
        out[f"class.{cls}.p50_ms"] = (p50.get(cls, 0.0), "ms")
    u, t = sum(run.pass_times[False]), sum(run.pass_times[True])
    out["trace.overhead_pct"] = ((t / u - 1) * 100 if u and t else 0.0, "%")
    return {k: {"value": v, "unit": unit} for k, (v, unit) in out.items()}


def report(run) -> dict:
    untraced = [s for s in run.samples if not s["traced"]]
    traced = [s for s in run.samples if s["traced"]]
    e2e, notes = end_to_end(run, untraced, sum(run.pass_times[False]))
    print("# run " + json.dumps(run_id(run)))
    print("# workload " + json.dumps(properties(run, run.samples)))
    print("# setup seconds " + json.dumps({k: round(v, 3) for k, v in run.setup_parts.items()}))
    print("# warm-up pass seconds " + json.dumps([round(t, 3) for t in run.warm_times]))
    print("# timed pass seconds " + json.dumps({"untraced": run.pass_times[False],
                                                "traced": run.pass_times[True]}))
    print("# end-to-end (untraced passes) " + json.dumps(
        {k: v["value"] for k, v in e2e.items()} | notes))
    for f in run.failures[:20]:
        print("# FAILED " + f)
    metrics = e2e
    if run.trace:
        path = os.path.join(run.inp.root, "spans.json")
        with open(path) as f:
            spans = json.load(f)
        n = max(1, len(traced))
        for name, t in sorted(S.self_times(spans).items(), key=lambda kv: -kv[1]):
            print(f"# self {name:24s} {t / n:10.2f} ms/op")
        metrics = per_layer(run, traced, untraced, spans)
    attempted = len(run.samples)
    failed = sum(not s["ok"] for s in run.samples)
    return {"correct": not run.failures, "attempted": attempted, "failed": failed,
            "metrics": metrics}
