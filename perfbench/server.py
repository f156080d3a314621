"""Server process of the benchmark: one Spark session, Engine and
SnowflakeServer, set up for one workload.

Started by ``run.py``; talks to it over stdin/stdout in JSON lines
(a ``ready`` record once set up, then answers to ``stage <name>``,
``pipeline_check`` and ``stats``; ``run.py`` kills it at the end).
Program output goes to stderr so it cannot mix with those lines.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

import tracing
from tracing import dir_bytes


def _control_stream():
    out = os.fdopen(os.dup(sys.stdout.fileno()), "w", buffering=1)
    os.dup2(sys.stderr.fileno(), sys.stdout.fileno())
    sys.stdout = sys.stderr
    return out


def space_amp(engine) -> float:
    """Bytes of every kept table version over bytes of the live ones."""
    kept = live = 0
    for tm in engine.catalog.tables.values():
        if tm.kind == "EXTERNAL" or not tm.location:
            continue
        kept += dir_bytes(tm.location)
        live += dir_bytes(tm.version_path())
    return kept / live if live else 0.0


def peak_mem_mb(spark) -> float:
    """Peak resident set of this process plus the JVM's peak used heap
    (the sum of the heap pools' peak usage)."""
    with open("/proc/self/status") as fh:
        rss_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    heap = sum(pool.getPeakUsage().getUsed() for pool in mf.getMemoryPoolMXBeans()
               if pool.getType().toString() == "Heap memory")
    return rss_kb / 1024.0 + heap / 2.0 ** 20


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--launched-at", type=float, required=True)
    args = ap.parse_args()
    control = _control_stream()

    import workloads
    from snowflake_emulator_spark.engine import Engine
    from snowflake_emulator_spark.server.app import SnowflakeServer
    from snowflake_emulator_spark.session_factory import build_spark

    spark = build_spark(app_name="perfbench")
    spark_s = time.time() - args.launched_at
    rec = None
    if args.trace:
        rec = tracing.Recorder()
        tracing.install(rec)

    wl = workloads.WORKLOADS[args.workload](args.seed, args.data_dir)
    t0 = time.perf_counter()
    engine = Engine(spark, base_dir=os.path.join(args.run_dir, "warehouse"))
    srv = SnowflakeServer(engine, port=0)
    srv.start()
    pipe = warm = None
    if getattr(wl, "pipeline_dir", None):
        import pipeline

        pipe = pipeline.Pipeline(spark, wl.pipeline_dir)
        # the pipeline author's cold start, one pass, overlaps the data load
        warm = threading.Thread(target=lambda: [pipe.run(st) for st in workloads.PIPELINE_STAGES])
        warm.start()
    wl.server_setup(engine, srv.port)  # ends with the first request served
    if warm is not None:
        warm.join()
    load_s = time.perf_counter() - t0

    control.write(json.dumps({
        "ready": True, "port": srv.port, "spark_s": spark_s, "load_s": load_s,
        "spark_version": spark.version,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "heap": spark.sparkContext.getConf().get("spark.driver.memory"),
    }) + "\n")

    for line in sys.stdin:
        cmd = line.strip()
        if cmd.startswith("stage "):
            try:
                out = pipe.run(cmd.split(" ", 1)[1])
            except Exception as e:  # noqa: BLE001 — a failed stage is a failed op
                out = {"error": repr(e)}
            control.write(json.dumps(out) + "\n")
        elif cmd == "pipeline_check":
            control.write(json.dumps(pipe.check()) + "\n")
        elif cmd == "stats":
            out = {"space_amp": space_amp(engine), "peak_mem_mb": peak_mem_mb(spark)}
            if rec is not None:
                time.sleep(0.5)  # let Spark's listener bus catch up
                out.update(tracing.summarize(rec, spark.sparkContext))
                rec.dump(os.path.join(args.run_dir, "spans.jsonl"))
            control.write(json.dumps(out) + "\n")


if __name__ == "__main__":
    main()
