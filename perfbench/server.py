"""Benchmark server process: the real pg-wire server over a fresh warehouse.

Run by ``run.py``, never by hand. It builds the engine session
(``session.build_session``, sized by ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM``), ingests the generated tables with
``warehouse.ensure_warehouse`` into a per-run directory, registers them as
views, creates the key-bucketed ``public.kv`` catalog table the write
workload upserts into, and serves ``WireServer`` on an ephemeral port.

It talks to ``run.py`` in JSON lines: it prints ``{"ready": ...}`` once it
accepts connections, then answers each command read from stdin —
``window_start`` / ``window_end`` bracket the timed window (engine counters
and, with ``--trace``, spans are taken only inside it). ``run.py`` ends it
by killing its process group.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _reply(payload: dict) -> None:
    sys.stdout.write(json.dumps(payload) + "\n")
    sys.stdout.flush()


def _group_jobs(spark, n_backends: int) -> set[int]:
    tracker = spark.sparkContext.statusTracker()
    jobs: set[int] = set()
    for pid in range(1, n_backends + 1):
        jobs.update(tracker.getJobIdsForGroup(f"pgwire-{pid}"))
    return jobs


def _job_counts(spark, job_ids: set[int]) -> dict[str, int]:
    """Jobs, stages and tasks the given Spark jobs ran (statusTracker)."""
    tracker = spark.sparkContext.statusTracker()
    stages = tasks = 0
    for job in job_ids:
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        for stage in info.stageIds:
            stages += 1
            sinfo = tracker.getStageInfo(stage)
            tasks += sinfo.numTasks if sinfo is not None else 0
    return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}


def _gc_ms(spark) -> float:
    from bemidb_spark.telemetry import jvm_gc_stats

    return float(sum(ms for _, ms in jvm_gc_stats(spark).values()))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True, help="generated parquet tables")
    ap.add_argument("--root", required=True, help="per-run directory")
    ap.add_argument("--kv-keys", type=int, required=True)
    ap.add_argument("--kv-seed", type=int, required=True)
    ap.add_argument("--trace-out", help="trace the timed window; spans go here")
    args = ap.parse_args()

    tracer = None
    if args.trace_out:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()

    from bemidb_spark.server.wire import WireServer
    from bemidb_spark.session import build_session
    from bemidb_spark.sources.catalog import Catalog
    from bemidb_spark.sources.writer import write_bucketed_table
    from bemidb_spark.tables import register_views
    from bemidb_spark.warehouse import ensure_warehouse

    tmp = os.path.join(args.root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    t0 = time.perf_counter()
    spark = build_session(extra_conf={
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    wh_root = os.path.join(args.root, "warehouse")
    if tracer is not None:
        wh = tracer.setup_span("warehouse.ensure_warehouse", ensure_warehouse,
                               spark, args.data, root=wh_root)
    else:
        wh = ensure_warehouse(spark, args.data, root=wh_root)
    ingest_s = time.perf_counter() - t0
    wh_files = wh_bytes = 0
    for dirpath, _dirs, files in os.walk(wh):
        for f in files:
            if f.endswith(".parquet"):
                wh_files += 1
                wh_bytes += os.path.getsize(os.path.join(dirpath, f))
    register_views(spark, wh)

    # public.kv: the key-bucketed catalog table the write workload upserts
    # into; n follows workloads.kv_initial_n
    catalog = Catalog(os.path.join(args.root, "catalog"))
    kv = spark.range(args.kv_keys).selectExpr(
        "id AS k", f"(id + {args.kv_seed}) % 7 AS n")
    write_bucketed_table(spark, catalog, "public", "kv", kv, ["k"], n_buckets=16)

    srv = WireServer(spark, catalog)
    srv.start()
    _reply({"ready": {"port": srv.port, "session_s": session_s,
                      "ingest_s": ingest_s, "warehouse_files": wh_files,
                      "warehouse_bytes": wh_bytes,
                      "catalog": catalog.root}})

    window: dict = {}
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "window_start":
            window = {"gc_ms": _gc_ms(spark),
                      "jobs": _group_jobs(spark, srv._next_pid) if tracer else set()}
            if tracer is not None:
                tracer.start()
            _reply({"ok": cmd})
        elif cmd == "window_end":
            out = {"gc_ms": _gc_ms(spark) - window["gc_ms"]}
            if tracer is not None:
                tracer.stop()
                jobs = _group_jobs(spark, srv._next_pid) - window["jobs"]
                out["engine"] = _job_counts(spark, jobs)
                out["trace"] = tracer.summary()
                tracer.dump(args.trace_out)
            _reply({"ok": cmd, "window": out})
    return 0


if __name__ == "__main__":
    sys.exit(main())
