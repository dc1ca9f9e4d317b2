"""Benchmark of the drill_spark engine: one run of one workload.

    python3 perfbench/run.py --workload adhoc_raw --seed 1 --seconds 18 --trace 0

Run from the repository root. Each run starts a fresh measured process
(perfbench/engine.py: JVM + SparkSession, ``local[CORES]``),
generates its inputs from ``--seed`` under ``.perfbench_work/`` and
computes the expected result of every op with DuckDB while the engine
boots, warms up with full passes of the op mix (WARM_PASSES), then runs a
fixed number of timed passes. Every result is checked; a wrong or failed
op counts in ``failed``.

Workloads
  adhoc_raw       REST ``POST /query.json`` from one client connection in
                  a closed loop. Classes: parquet point lookups and TPC-H
                  reports over fixture views (schema inference bypassed),
                  NDJSON with field drift across files, headerless CSV read
                  as ``columns[n]``, nested JSON, and ingest cycles (CTAS of
                  the next NDJSON batch into parquet under ``dfs.tmp``, DROP
                  of the oldest, read of the rolling directory).
  curation_batch  Extension operators from ``drill_spark.extops`` built and
                  collected in the engine's main thread, one at a time, over a
                  seeded 300-document corpus.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` twice the timed passes run, untraced and traced in
ABBA order; spans around each layer's entry points (perfbench/spans.py)
give the per-layer metrics, and the two halves give
``trace.overhead_pct``.

The number of timed passes is ``--seconds`` divided by the nominal pass
time of the workload, so a run does a fixed amount of work, independent
of how fast the program is.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import http.client  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import queue  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("adhoc_raw", "curation_batch")
# Seconds of ``--seconds`` per timed pass: 18 s gives 3 adhoc passes
# (36 ops) and 6 curation passes (36 ops). The count is fixed by the
# argument, not by how fast the program runs.
PASS_SECONDS = {"adhoc_raw": 6.0, "curation_batch": 3.0}
# Untimed full passes before timing. The first pass of a fresh process
# is the slowest (cold JIT, Python workers) and pass times keep falling
# for a few passes more, but a run has to stay near a minute (10-20 s of
# it is JVM and session start), so warm-up is short and the timed passes
# still drift down a little. Warm-up and timed pass times are printed.
WARM_PASSES = {"adhoc_raw": 2, "curation_batch": 3}
# Spark task slots of the measured process (local[n]) on a 4-core host.
CORES = {"adhoc_raw": 4, "curation_batch": 2}
OP_TIMEOUT_S = 60
BOOT_TIMEOUT_S = 120
DEADLINE_S = 160  # a run must end within 180 s of process start


def _since_process_start() -> float:
    """Seconds since this process was started by the OS, so setup time
    includes interpreter start-up and imports."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.perf_counter() - T_START


PROCESS_T0 = time.perf_counter() - _since_process_start()


def _cpu_steal(since: tuple[int, int] | None = None):
    """(steal, total) jiffies from /proc/stat; with ``since``, the share
    of CPU time the hypervisor took from this machine in between, in %.
    Printed with each run: host contention shows up in the timings."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    now = (vals[7] if len(vals) > 7 else 0, sum(vals[:8]))
    if since is None:
        return now
    total = now[1] - since[1]
    return 100.0 * (now[0] - since[0]) / total if total else 0.0


class BenchError(RuntimeError):
    pass


# ---------------------------------------------------------------- engine


class Engine:
    """The measured process and its JSON-line control channel."""

    def __init__(self, mode: str, inputs: str, cores: int, trace: bool):
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": "1g",
            "SPARK_LOCAL_DIRS": os.path.join(inputs, "spark-local"),
            "TMPDIR": os.path.join(inputs, "pytmp"),
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(inputs, 'jtmp')}",
        })
        for d in ("spark-local", "pytmp", "jtmp", "tmp"):
            os.makedirs(os.path.join(inputs, d), exist_ok=True)
        self.log_path = os.path.join(inputs, "engine.log")
        self._log = open(self.log_path, "w")
        _become_subreaper()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), "--mode", mode,
             "--inputs", inputs, "--cores", str(cores), "--trace", str(int(trace))],
            cwd=inputs, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log, text=True, bufsize=1)
        self._lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(line)
        self._lines.put(None)

    def recv(self, timeout: float) -> dict:
        try:
            line = self._lines.get(timeout=timeout)
        except queue.Empty:
            raise BenchError(f"engine silent for {timeout:.0f}s") from None
        if line is None:
            raise BenchError("engine exited:\n" + self.log_tail())
        return json.loads(line)

    def call(self, req: dict, timeout: float = OP_TIMEOUT_S) -> dict:
        self.proc.stdin.write(json.dumps(req) + "\n")
        self.proc.stdin.flush()
        return self.recv(timeout)

    def log_tail(self, n: int = 30) -> str:
        self._log.flush()
        with open(self.log_path, errors="replace") as f:
            return "".join(f.readlines()[-n:])

    def _tree(self) -> list[int]:
        """The engine's pid and those of all its live descendants."""
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
        tree, todo = [], [self.proc.pid]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(children.get(pid, ()))
        return tree

    def peak_rss_mb(self) -> float:
        """Sum of peak RSS (VmHWM) over the engine and every live
        descendant: the engine's Python process, the JVM, Python workers."""
        total_kb = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                pass
        return total_kb / 1024.0

    def close(self) -> None:
        """Stop the engine and every process it started (JVM, Python
        workers), after the engine has written its spans, and wait until
        each has ended."""
        tree = self._tree() if self.proc.poll() is None else []
        if self.proc.poll() is None:
            try:
                self.call({"cmd": "exit"}, timeout=30)
            except (OSError, ValueError, BenchError):
                pass
        for pid in tree:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        self.proc.wait(timeout=30)
        # descendants orphaned by the kill are this process's children
        # now (see _become_subreaper): reap them
        deadline = time.monotonic() + 15
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            if not any(os.path.exists(f"/proc/{pid}") for pid in tree[1:]):
                break
            time.sleep(0.05)
        self._log.close()


def _become_subreaper() -> None:
    """Make this process the parent of the engine's descendants once the
    engine is gone (Linux PR_SET_CHILD_SUBREAPER), so that killing the
    tree leaves no zombie for another process to reap."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


# ---------------------------------------------------------------- clients


class RestClient:
    """One client connection to the engine's REST server, closed loop."""

    def __init__(self, port: int):
        self.port = port

    def post(self, sql: str, op_id: int) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=OP_TIMEOUT_S)
        try:
            conn.request("POST", "/query.json", json.dumps({"query": sql}).encode(),
                         {"Content-Type": "application/json", "X-Bench-Op": str(op_id)})
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()


def _rest_check(status: int, body: bytes, expect) -> str | None:
    """None when the reply is a completed result matching ``expect``
    (or any completed result when ``expect`` is None), else the reason."""
    from check import result_hash

    try:
        reply = json.loads(body)
    except ValueError:
        return f"HTTP {status}: unparsable reply"
    if status != 200 or reply.get("queryState") != "COMPLETED":
        return f"HTTP {status}: {str(reply.get('errorMessage'))[:300]}"
    if expect is None:
        return None
    cols = reply["columns"]
    got = result_hash(cols, [[r.get(c) for c in cols] for r in reply["rows"]])
    return None if got == expect else f"result {got} != expected {expect}"


# ---------------------------------------------------------------- runs


class Run:
    """One benchmark run: inputs, engine, op execution and bookkeeping."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, scale: dict, corrupt: int = 0, t0: float = PROCESS_T0):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.t0 = t0  # set-up time and the run deadline count from here
        self.corrupt = corrupt
        self.root, self.cores = ROOT, CORES[workload]
        self.timed_passes = max(1, round(seconds / PASS_SECONDS[workload]))
        self.warm = WARM_PASSES[workload]
        import workloads as W

        self.W = W
        self.inp = W.Inputs(os.path.join(work, "in"), scale, seed)
        self.cycle = 0  # next ingest cycle
        self.samples: list[dict] = []  # one per timed op
        self.failures: list[str] = []
        self.seen_sql: set[str] = set()

    # -- inputs ------------------------------------------------------------

    def generate(self) -> None:
        import gen

        W, inp = self.W, self.inp
        # a traced run times twice the passes
        n_pass = self.warm + self.timed_passes * (2 if self.trace else 1)
        n_cycles = W.ingest_cycles(n_pass)
        if self.workload == "adhoc_raw":
            gen.gen_tpch(inp.fixtures, inp.scale["sf"], self.seed)
            inp.sizes.update(gen.gen_raw(inp.raw, self.seed, inp.scale["raw_rows"]))
            n_batches = W.INGEST_WINDOW + n_cycles
            inp.sizes["batches"] = gen.gen_batches(
                inp.batches, self.seed, n_batches, inp.scale["ingest_rows"])
            self.passes = W.adhoc_passes(inp, n_pass)
            self.max_cycles = n_cycles
        else:
            gen.gen_documents(inp.corpus, inp.scale["docs"], self.seed)
            inp.sizes["corpus"] = os.path.getsize(os.path.join(inp.corpus, "documents.parquet"))
            self.passes = W.curation_passes(inp, n_pass)
            self.max_cycles = 0

    def expected(self) -> None:
        W = self.W
        oracles = [op.oracle for ps in self.passes for op in ps if op.oracle]
        oracles += [W.ingest_cycle(self.inp, c)[1] for c in range(self.max_cycles)]
        self.expect = W.compute_expected(self.inp, oracles, threads=2)
        if self.corrupt:
            # self-test hook: damage the expected digest of the first
            # ``corrupt`` distinct timed ops so the gate must catch them
            timed = [op for ps in self.passes[self.warm:] for op in ps if op.oracle]
            for op in timed[: self.corrupt]:
                rows, digest = self.expect[op.oracle]
                self.expect[op.oracle] = (rows, "0" * len(digest))

    # -- op execution ------------------------------------------------------

    def run_op(self, op) -> tuple[float, str | None, dict]:
        """Execute one op; returns (latency s, failure reason or None,
        per-op facts)."""
        if self.workload == "curation_batch":
            t0 = time.perf_counter()
            rep = self.engine.call({"cmd": "op", "id": op.id, "name": op.cls})
            wall = time.perf_counter() - t0
            if "error" in rep:
                return wall, rep["error"], {}
            lat = rep["build_s"] + rep["exec_s"]
            want = self.expect[op.oracle]
            bad = None if (rep["rows"], rep["hash"]) == tuple(want) else \
                f"result {(rep['rows'], rep['hash'])} != expected {want}"
            return lat, bad, {"rows": rep["rows"], "build_s": rep["build_s"],
                              "exec_s": rep["exec_s"]}
        if op.cls == "ingest":
            stmts, oracle, nbytes = self.W.ingest_cycle(self.inp, self.cycle)
            self.cycle += 1
            expects = [None] * (len(stmts) - 1) + [self.expect[oracle]]
        else:
            stmts, nbytes, expects = op.statements, op.bytes, [self.expect[op.oracle]]
        replies = []
        t0 = time.perf_counter()
        for sql in stmts:
            try:
                status, body = self.client.post(sql, op.id)
            except OSError as e:
                status, body = 0, json.dumps({"errorMessage": repr(e)}).encode()
            replies.append((status, body))
            if status != 200:
                break
        lat = time.perf_counter() - t0
        facts = {"sql": stmts, "bytes": nbytes,
                 "reply_bytes": sum(len(b) for _, b in replies)}
        if len(replies) < len(stmts):
            return lat, _rest_check(*replies[-1], None), facts
        for (status, body), want in zip(replies, expects):
            bad = _rest_check(status, body, want)
            if bad:
                return lat, bad, facts
        facts["rows"] = len(json.loads(replies[-1][1]).get("rows", ()))
        return lat, None, facts

    def run_pass(self, ops, timed: bool, traced: bool = False) -> float:
        t0 = time.perf_counter()
        for op in ops:
            if time.perf_counter() - self.t0 > DEADLINE_S:
                raise BenchError(f"run exceeded {DEADLINE_S} s; engine log:\n"
                                 + self.engine.log_tail())
            lat, bad, facts = self.run_op(op)
            texts = facts.get("sql", [op.cls])
            repeat = all(t in self.seen_sql for t in texts)
            self.seen_sql.update(texts)
            if bad:
                self.failures.append(f"op {op.id} ({op.cls}): {bad}")
            if timed:
                self.samples.append({"id": op.id, "cls": op.cls, "lat": lat,
                                     "ok": bad is None, "traced": traced,
                                     "repeat": repeat, "records": op.records,
                                     "files": op.files,
                                     "bytes": facts.get("bytes", op.bytes),
                                     **{k: v for k, v in facts.items()
                                        if k not in ("sql", "bytes")}})
        return time.perf_counter() - t0

    # -- phases ------------------------------------------------------------

    def execute(self) -> dict:
        mode = "rest" if self.workload == "adhoc_raw" else "batch"
        os.makedirs(self.inp.root)
        self.engine = Engine(mode, self.inp.root, self.cores, self.trace)
        try:
            marks = [time.perf_counter()]
            self.generate()
            marks.append(time.perf_counter())
            self.expected()
            marks.append(time.perf_counter())
            self.engine.recv(BOOT_TIMEOUT_S)
            marks.append(time.perf_counter())
            ready = self.engine.call({"cmd": "start"}, BOOT_TIMEOUT_S)
            if mode == "rest":
                self.client = RestClient(ready["ready"])
                for i, sql in enumerate(self.W.ingest_setup(self.inp)):
                    status, body = self.client.post(sql, -1 - i)
                    bad = _rest_check(status, body, None)
                    if bad:
                        raise BenchError(f"ingest setup failed: {bad}")
            self.warm_times = [self.run_pass(ops, timed=False)
                               for ops in self.passes[:self.warm]]
            self.setup_s = time.perf_counter() - self.t0
            marks.append(time.perf_counter())
            self.setup_parts = dict(zip(
                ("generate_s", "expected_s", "boot_wait_s", "start_and_warm_s"),
                (b - a for a, b in zip(marks, marks[1:]))))
            self.timed_phase()
            self.stats = self.engine.call({"cmd": "stats"})
            self.rss_mb = self.engine.peak_rss_mb()
        finally:
            self.engine.close()
        import metrics

        return metrics.report(self)

    def timed_phase(self) -> None:
        """Run the timed passes; host CPU steal during them is recorded
        with the result, as contention shows up in the timings."""
        self.pass_times = {False: [], True: []}
        steal0 = _cpu_steal()
        for i, ops in enumerate(self.passes[self.warm:]):
            # untraced/traced in ABBA order, so warm-up drift that is
            # still going on cancels out of trace.overhead_pct
            traced = self.trace and i % 4 in (1, 2)
            if self.trace:
                self.engine.call({"cmd": "trace", "on": traced})
            self.pass_times[traced].append(self.run_pass(ops, timed=True, traced=traced))
        if self.trace:
            self.engine.call({"cmd": "trace", "on": False})
        self.steal_pct = _cpu_steal(steal0)


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: dict | None = None, corrupt: int = 0, t0: float = PROCESS_T0) -> dict:
    """One run in a fresh work directory, removed afterwards. ``t0`` is
    the moment set-up time counts from: by default this process's start."""
    import workloads as W

    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return Run(workload, seed, seconds, trace, work, scale or W.FULL, corrupt,
                   t0).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "drill_spark", "session.py")):
        print(f"perfbench: no drill_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
