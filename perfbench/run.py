"""Wire-protocol benchmark of the Snowflake layer.

    python3 perfbench/run.py --workload oltp_mixed --seed 1 --seconds 15 --trace 0

Run from the repository root. Launches ``server.py`` (Spark + Engine +
SnowflakeServer on ``local[nproc]``) as its own process, drives it with
a closed-loop load generator, checks every output, and prints one JSON
line last: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. See README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import queue
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from stats import median, mix_percentile, per_second, percentile, select_tail  # noqa: E402

TAIL_PCT = 90.0
WARMUP_S = 2.0
SELECT_KINDS = {"select_point", "select_range", "select_events"}


def machine() -> dict:
    nproc = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        nproc = len(os.sched_getaffinity(0))
    mem_mb = 16384
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem_mb = int(line.split()[1]) // 1024
    except OSError:
        pass
    heap_mb = min(2048, mem_mb // 4)
    # a fixed young generation: eden is full before every young GC, so its
    # peak is the same on every run and the heap's peak used moves only
    # with what survives (see peak_mem_mb in server.py)
    return {"nproc": nproc, "heap_mb": heap_mb, "young_mb": heap_mb // 8}


def _group_members(pgid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            if int(fields[2]) == pgid:
                out.append(int(d))
        except (OSError, IndexError, ValueError):
            pass
    return out


class Server:
    """The server subprocess and its JSON-line control channel."""

    def __init__(self, args, run_dir: str, data_dir: str, mach: dict):
        root = os.getcwd()
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": os.pathsep.join([root, HERE]),
            "SPARK_GRAFT_CPUS": str(mach["nproc"]),
            "SPARK_SHUFFLE_PARTITIONS": str(mach["nproc"]),
            "SPARK_DRIVER_MEMORY": f"{mach['heap_mb']}m",
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": " ".join([
                "--conf spark.ui.retainedJobs=1000000",
                "--conf spark.ui.retainedStages=1000000",
                "--conf " + shlex.quote(f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
                                        f"-Xmn{mach['young_mb']}m"),
                f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
                "pyspark-shell"]),
        })
        self.log_path = os.path.join(run_dir, "server.log")
        self.log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), "--workload", args.workload,
             "--seed", str(args.seed), "--run-dir", run_dir, "--data-dir", data_dir,
             "--trace", str(args.trace),
             "--launched-at", repr(time.time())],
            cwd=run_dir, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, text=True, start_new_session=True)
        self.lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self.lines.put(line)
        self.lines.put(None)

    def reply(self, timeout: float) -> dict:
        try:
            line = self.lines.get(timeout=timeout)
        except queue.Empty:
            line = None
        if line is None:
            raise RuntimeError("server did not answer; see " + self.log_path)
        return json.loads(line)

    def ask(self, cmd: str, timeout: float = 60.0) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.reply(timeout)

    def stop(self) -> None:
        """Kill the server and every process it started (its session's
        process group: the JVM and Python workers), and wait for them.
        Everything it kept is in the run directory, which is deleted."""
        pgid = self.proc.pid
        deadline = time.time() + 30
        while time.time() < deadline:
            if not _group_members(pgid) and self.proc.poll() is not None:
                break
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            try:
                self.proc.wait(timeout=0.1)
            except subprocess.TimeoutExpired:
                pass
        self.log.close()


class Samples:
    """Client-side samples: one per executed op."""

    def __init__(self):
        self.samples: list[dict] = []
        self.lock = threading.Lock()

    def add(self, s: dict) -> None:
        with self.lock:
            self.samples.append(s)


def drive(clients, seconds: float, rec: Samples, phase: str, trace: bool) -> dict[int, float]:
    """Closed loop: each client thread sends its next op only after the
    previous one answered. A client records its ops until the deadline;
    one that works in cycles (an ETL loop, a pipeline pass) records until
    the end of the cycle in flight at the deadline, so its window can
    outlast ``seconds`` by part of a cycle. A client that is done
    recording keeps sending ops, as phase ``tail`` (checked, but left out
    of the metrics), until every client is done: every recorded op ran
    under the same load. Returns each client's recording time in s."""
    start = time.perf_counter()
    deadline = start + seconds
    spans: dict[int, float] = {}
    lock = threading.Lock()

    def recording(c) -> bool:
        with lock:
            if c.ci not in spans and time.perf_counter() >= deadline and not (
                    getattr(c, "cycles", False) and c.mid_cycle()):
                spans[c.ci] = time.perf_counter() - start
            return c.ci not in spans

    def loop(c):
        n = 0
        # every other statement of each kind is traced, the two halves
        # swapped between neighbouring clients, so that every kind is
        # traced however few times it runs; the untraced half gives the
        # tracing overhead. Session ops are always traced (login time).
        seen: dict[str, int] = {}
        while True:
            live = recording(c)
            with lock:
                if len(spans) == len(clients):
                    break
            op = c.next_op()
            n += 1
            op_id = f"{phase}-{c.ci}-{n}"
            k = seen[op.kind] = seen.get(op.kind, -1) + 1
            traced = (live and trace and op.cls != "batch"
                      and (op.cls == "session" or (k + c.ci) % 2 == 0))
            c.sess.trace = (op_id, op.kind) if traced else None
            err = None
            # a client-side lock is waited for outside the timed round trip
            with op.lock or contextlib.nullcontext():
                t0 = time.perf_counter()
                try:
                    rows, nbytes = op.run()
                except Exception as e:  # noqa: BLE001 — a failed op is a sample
                    rows, nbytes, err = [], 0, repr(e)
                t1 = time.perf_counter()
            c.sess.trace = None
            ok = err is None and (op.check is None or bool(op.check(rows)))
            if not ok and err is None:
                err = f"wrong output: {str(rows)[:200]}"
            rec.add({"phase": phase if live else "tail", "client": c.ci, "op": op_id,
                     "kind": op.kind, "cls": op.cls, "t0": t0 - start, "ms": (t1 - t0) * 1000.0, "ok": ok,
                     "err": err, "rows": (op.rows(rows) if (ok and op.rows) else 0),
                     "bytes": nbytes, "traced": traced, "batch": op.batch})

    threads = [threading.Thread(target=loop, args=(c,)) for c in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return spans


def end_to_end(wl, samples, spans: dict[int, float], setup_s: float, mem_mb: float,
               attempted: int, failed: int) -> tuple[dict, dict]:
    # statements: what the SQL clients sent (not logins, not pipeline stages)
    stmts = [s for s in samples if s["cls"] not in ("session", "batch")]
    lat = [s["ms"] for s in stmts]
    by_kind: dict[str, list[float]] = {}
    for s in stmts:
        by_kind.setdefault(s["kind"], []).append(s["ms"])
    rate_name, rate = wl.rows_rate(stmts, spans)
    heavy = wl.heavy_op_ms(samples)
    metrics = {
        "setup_s": (setup_s, "s"),
        "throughput_ops_s": (per_second(stmts, spans), "1/s"),
        "op_p50_ms": (mix_percentile(by_kind, 50.0), "ms"),
        "op_p90_ms": (mix_percentile(by_kind, TAIL_PCT), "ms"),
        "rows_s": (rate, "rows/s"),
        "heavy_op_ms": (heavy, "ms"),
        "peak_mem_mb": (mem_mb, "MB"),
        "ok_ratio": (1.0 - failed / attempted, "ratio"),
    }
    # pooled and per-class figures, printed on the detail line only; their
    # tail is the highest of p99/p95/p90 the sample count supports
    detail = {rate_name: (rate, "rows/s"), "failed_ratio": (failed / attempted, "ratio"),
              "samples": (len(lat), "count"), "pooled_p50_ms": (median(lat), "ms")}
    if any(s["cls"] == "batch" for s in samples):
        pass_ms = wl.pass_ms(samples)
        detail["pipeline_pass_ms"] = (pass_ms, "ms")
        detail["docs_s"] = (wl.docs_n / (pass_ms / 1000.0), "docs/s")
    for cls, xs in [("pooled", lat)] + [(c, [s["ms"] for s in stmts if s["cls"] == c])
                                         for c in ("read", "write", "ddl")]:
        if not xs:
            continue
        pct = select_tail(len(xs)) or TAIL_PCT
        if cls != "pooled":
            detail[f"{cls}_p50_ms"] = (median(xs), "ms")
            detail[f"{cls}_samples"] = (len(xs), "count")
        detail[f"{cls}_tail_ms"] = (percentile(xs, pct), "ms")
        detail[f"{cls}_tail_pct"] = (pct, "percentile")
    return metrics, detail


def per_layer(samples, summary: dict) -> dict:
    per_op = summary.get("per_op", {})
    ms = summary.get("layer_ms", {})
    self_ms = summary.get("layer_self_ms", {})
    calls = summary.get("layer_calls", {})
    totals = summary.get("totals", {})

    def mean_ms(name):
        return ms.get(name, 0.0) / calls[name] if calls.get(name) else 0.0

    def ratio(a, b):
        return a / b if b else 0.0

    stmts = [s for s in samples if s["cls"] not in ("session", "batch") and s["ok"]]
    traced = [s for s in stmts if s["traced"]]
    untraced = [s for s in stmts if not s["traced"]]
    overhead = [s["ms"] - per_op[s["op"]]["engine_ms"] for s in traced
                if s["op"] in per_op and per_op[s["op"]]["engine_ms"] > 0]
    selects = [s for s in traced if s["kind"] in SELECT_KINDS]
    reached = [s for s in selects if s["op"] in per_op]
    logins = [per_op[s["op"]]["route_ms"] for s in samples
              if s["traced"] and s["kind"] == "login" and s["op"] in per_op]
    jobs = sum(per_op.get(s["op"], {}).get("jobs", 0) for s in traced)
    tasks = sum(per_op.get(s["op"], {}).get("tasks", 0) for s in traced)
    collects = [per_op[s["op"]]["collect_ms"] for s in traced
                if s["op"] in per_op and per_op[s["op"]]["collect_ms"] > 0]
    # tracing overhead: per op kind, traced over untraced median round trip
    # of the same run (the untraced statements still pass through the
    # installed wrappers, so this is a lower bound)
    shifts = []
    for kind in sorted({s["kind"] for s in stmts}):
        t = [s["ms"] for s in traced if s["kind"] == kind]
        u = [s["ms"] for s in untraced if s["kind"] == kind]
        if t and u:
            shifts.append(median(t) / median(u) - 1.0)
    m = {
        "server.overhead_ms": (median(overhead) if overhead else 0.0, "ms"),
        "server.response_bytes_per_row": (ratio(sum(s["bytes"] for s in selects),
                                                sum(s["rows"] for s in selects)), "B/row"),
        "sessions.login_ms": (sum(logins) / len(logins) if logins else 0.0, "ms"),
        "engine.self_ms": (ratio(summary.get("engine_self_ms", 0.0),
                                 calls.get("engine.execute", 0)), "ms"),
        "plans.classify_ms": (mean_ms("plans.classify"), "ms"),
        "plans.translate_ms": (mean_ms("plans.translate"), "ms"),
        "plans.bind_ms": (mean_ms("plans.bind"), "ms"),
        "executor.plan_ms": (mean_ms("executor.query_df"), "ms"),
        "executor.sync_views_ms": (mean_ms("executor.sync_views"), "ms"),
        "executor.cache_hit_ratio": (ratio(sum(1 for s in reached if per_op[s["op"]]["query_df"] == 0),
                                           len(reached)), "ratio"),
        "result.collect_ms": (ratio(sum(collects), len(collects)), "ms"),
        "result.serialize_ms_per_krow": (ratio(self_ms.get("result.serialize", 0.0),
                                               totals.get("serialized_rows", 0) / 1000.0), "ms/krow"),
        "catalog.write_ms": (mean_ms("catalog.write"), "ms"),
        "catalog.bytes_written_per_row": (ratio(totals.get("bytes_written", 0),
                                                totals.get("rows_changed", 0)), "B/row"),
        "catalog.register_view_ms": (mean_ms("catalog.register_view"), "ms"),
        "catalog.space_amp": (summary.get("space_amp", 0.0), "ratio"),
        "copy_into.execute_ms": (mean_ms("copy_into.execute"), "ms"),
        "copy_into.useful_ratio": (ratio(totals.get("copy.files_loaded", 0),
                                         totals.get("copy.files_named", 0)), "ratio"),
        "merge_into.execute_ms": (mean_ms("merge_into.execute"), "ms"),
        "stage.put_ms": (mean_ms("stage.put"), "ms"),
        "spark.jobs_per_op": (ratio(jobs, len(traced)), "jobs/op"),
        "spark.tasks_per_op": (ratio(tasks, len(traced)), "tasks/op"),
        "trace.overhead_pct": (100.0 * median(shifts) if shifts else 0.0, "%"),
    }
    # pipeline stages: the load generator's round trip of each stage op
    # (control channel to the server, build + full evaluation there)
    for st in workloads.PIPELINE_STAGES:
        xs = [s["ms"] / 1000.0 for s in samples if s["kind"] == st]
        m[f"{st}_s"] = (ratio(sum(xs), len(xs)), "s")
    return m


def _fmt(metrics: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops the server it started (``finally`` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "snowflake_emulator_spark", "engine.py")):
        print("run from the repository root: snowflake_emulator_spark/ not found",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    mach = machine()
    run_dir = os.path.join(root, ".perfbench_runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    wl = workloads.WORKLOADS[args.workload](args.seed, data_dir)
    wl.make_inputs()

    t_launch = time.time()
    server = Server(args, run_dir, data_dir, mach)
    phases = {}
    try:
        ready = server.reply(timeout=600)
        phases["server_ready"] = time.time() - t_launch
        port = ready["port"]
        setup_s = ready["spark_s"] + ready["load_s"]
        clients = [wl.client(i, "127.0.0.1", port, server) for i in range(wl.clients)]
        rec = Samples()
        # cycle clients are not warmed up here: a cut cycle would carry into
        # the measured phase, and their set-up ran the same paths (a whole
        # ETL loop, a first pipeline pass)
        drive([c for c in clients if not getattr(c, "cycles", False)], WARMUP_S, rec, "warm",
              False)
        spans = drive(clients, args.seconds, rec, "run", bool(args.trace))
        t = time.time()
        for c in clients:
            c.close()
        checks, bad = wl.final_check(clients, "127.0.0.1", port)
        summary = server.ask("stats", timeout=120)
        phases["checks"] = time.time() - t
    finally:
        t = time.time()
        server.stop()
        phases["stop"] = time.time() - t
    samples = [s for s in rec.samples if s["phase"] == "run"]
    failed_ops = [s for s in rec.samples if not s["ok"]]
    attempted = len(rec.samples) + checks
    failed = len(failed_ops) + bad
    for s in failed_ops[:5]:
        print(f"failed op {s['kind']}: {s['err']}", file=sys.stderr)
    if bad:
        print(f"{bad} of {checks} final output checks failed", file=sys.stderr)

    metrics, detail = end_to_end(wl, samples, spans, setup_s, summary["peak_mem_mb"],
                                 attempted, failed)
    info = {"workload": wl.name, "seed": args.seed, "nproc": mach["nproc"],
            "spark_version": ready["spark_version"], "master": ready["master"],
            "shuffle_partitions": ready["shuffle_partitions"],
            "heap": ready["heap"], "scale": wl.scale(),
            "tail_percentile": TAIL_PCT, "spark_start_s": ready["spark_s"],
            "load_s": ready["load_s"], "phases_s": phases, "metrics": _fmt(detail)}
    print(json.dumps(info))
    if args.trace:
        out = per_layer(samples, summary)
    else:
        out = metrics
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": _fmt(out)}))
    # keep the logs and samples, drop the data
    with open(os.path.join(run_dir, "samples.json"), "w") as fh:
        json.dump(rec.samples, fh)
    for d in ("data", "tmp", "spark-local", "spark-warehouse", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
