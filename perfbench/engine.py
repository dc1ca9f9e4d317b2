"""The measured process: one SparkSession, started fresh for every
benchmark run.

``--mode rest`` wraps it in a DrillSession, serves that with
``drill_spark.server.serve`` and the load generator talks to it over
HTTP. ``--mode batch`` runs the curation operators on the SparkSession
itself, from this process's single main thread, one op per request.

Requests arrive as JSON lines on stdin and replies leave as JSON lines
on the original stdout; file descriptor 1 is pointed at stderr before
the JVM starts so that nothing else can write into the reply stream.
The engine boots while the load generator writes the inputs, and reads
them only after ``start``.

    {"cmd": "start"}                                 -> register inputs, serve
    {"cmd": "op", "id": 7, "name": "ext_bm25_topk"}  -> build/exec time, result hash
    {"cmd": "trace", "on": true}                     -> enable or disable spans
    {"cmd": "stats"}                                 -> temp views alive, Spark conf
    {"cmd": "exit"}                                  -> write spans, await kill
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _reply_stream():
    out = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    return out


CURATION_OP_FUNCTIONS = (
    ("drill_spark.ops.text", "token_count"),
    ("drill_spark.ops.text", "subword_estimate"),
    ("drill_spark.ops.text", "quality_features"),
    ("drill_spark.ops.search", "bm25_topk"),
    ("drill_spark.ops.pipeline", "curation_pipeline"),
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("rest", "batch"), required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    out = _reply_stream()

    def send(obj) -> None:
        out.write(json.dumps(obj) + "\n")

    import importlib

    from check import result_hash
    from drill_spark.session import get_spark

    spark = get_spark(cores=args.cores, extra_conf={
        "spark.local.dir": os.path.join(args.inputs, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(args.inputs, "warehouse"),
    })
    if args.mode == "rest":
        # the curation operators take the SparkSession itself; only the
        # REST front door goes through a DrillSession
        from drill_spark import server
        from drill_spark.session import DrillSession

        session = DrillSession(spark=spark)
    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer(spark)
        fns = [(importlib.import_module(m), f) for m, f in CURATION_OP_FUNCTIONS]
        spans.install(tracer, rest=args.mode == "rest",
                      op_functions=fns if args.mode == "batch" else ())

    send({"booted": True})
    req = json.loads(sys.stdin.readline() or "{}")
    if req.get("cmd") != "start":
        return 1
    if args.mode == "rest":
        session.register_workspace("dfs.tmp", os.path.join(args.inputs, "tmp"), writable=True)
        session.register_fixture_tables(os.path.join(args.inputs, "fixtures"))
        _, port = server.serve(session)
        send({"ready": port})
    else:
        from drill_spark import extops

        queries = extops.queries()
        corpus = os.path.join(args.inputs, "corpus")
        send({"ready": 0})

    def call(name, fn, args):
        return tracer.call(name, fn, args, {}, jobs=True) if tracer else fn(*args)

    def run_op(req) -> dict:
        fn = queries[req["name"]]
        if tracer:
            tracer.set_op(req["id"])
        t0 = time.perf_counter()
        df = call("op.build", fn, (spark, corpus))
        t1 = time.perf_counter()
        rows = call("op.exec", df.collect, ())
        t2 = time.perf_counter()
        n, digest = result_hash(df.columns, rows)
        return {"id": req["id"], "build_s": t1 - t0, "exec_s": t2 - t1,
                "rows": n, "hash": digest}

    for line in sys.stdin:
        req = json.loads(line)
        cmd = req["cmd"]
        if cmd == "op":
            try:
                send(run_op(req))
            except Exception as e:  # reported as a failed op, run goes on
                send({"id": req["id"], "error": f"{type(e).__name__}: {e}"[:2000]})
        elif cmd == "trace":
            tracer.enabled = bool(req["on"])
            send({"ok": True})
        elif cmd == "stats":
            views = [t for t in spark.catalog.listTables() if t.isTemporary]
            conf = {k: spark.conf.get(k) for k in (
                "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
                "spark.sql.autoBroadcastJoinThreshold", "spark.master")}
            send({"temp_views": len(views), "spark": spark.version, "conf": conf})
        elif cmd == "exit":
            break
    if tracer:
        tracer.dump(os.path.join(args.inputs, "spans.json"))
    # the load generator kills this process tree on "bye": nothing the
    # session holds outlives the run's work directory
    send({"bye": True})
    sys.stdin.read()
    return 0


if __name__ == "__main__":
    sys.exit(main())
