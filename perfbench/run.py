"""pg-wire benchmark: one workload against a freshly started server.

    python3 perfbench/run.py --workload tpch_reexec --seed 1 --seconds 10 --trace 0

Generates the input tables from ``--seed``, then starts the clock and the
real server (``server.py``: ``WireServer`` over a per-run warehouse and
catalog) in its own process, drives it from this process through libpq
(``pq.py``) closed loop, checks the results against DuckDB's answers over
the same inputs (computed after the timed window), stops the server and
prints one JSON line: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a span-traced
server with ``--trace 1``. A ``{"record": …}`` line before it carries the
per-workload figures, the server sizing and the host conditions of the run.
Everything the run writes goes under ``.perfbench_work/`` beside this
directory and is deleted at exit, except the trace of a traced run.
See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench_work")

# Server sizing, set only through the deployment settings the engine reads.
# The 24g default heap of session.build_session does not fit a 15 GB host
# next to other tenants; 17 MB of input leaves 3g ample (GC is reported).
NPROC = len(os.sched_getaffinity(0))
SERVER_ENV = {
    "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", str(NPROC)),
    "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "3g"),
}
READY_TIMEOUT_S = 240
STOP_TIMEOUT_S = 60


class ServerProcess:
    """The server child process and its JSON-lines control channel."""

    def __init__(self, run_dir: str, data_dir: str, kv_keys: int, kv_seed: int,
                 trace_out: str | None) -> None:
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, **SERVER_ENV)
        env.update({
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join([REPO, HERE]),
            "PYSPARK_PYTHON": sys.executable,
        })
        cmd = [sys.executable, os.path.join(HERE, "server.py"),
               "--data", data_dir, "--root", run_dir,
               "--kv-keys", str(kv_keys), "--kv-seed", str(kv_seed)]
        if trace_out:
            cmd += ["--trace-out", trace_out]
        self.log_path = os.path.join(run_dir, "server.log")
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=self._log, text=True,
            start_new_session=True)
        self.info: dict = {}
        self.port = 0

    def wait_ready(self) -> None:
        """Wait until the server has ingested the inputs and serves."""
        self.info = self._read(READY_TIMEOUT_S)["ready"]
        self.port = self.info["port"]

    def _read(self, timeout: float) -> dict:
        import selectors

        sel = selectors.DefaultSelector()
        sel.register(self.proc.stdout, selectors.EVENT_READ)
        try:
            if not sel.select(timeout):
                raise RuntimeError(f"server silent for {timeout:.0f} s")
        finally:
            sel.close()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("server exited: " + self.tail_log())
        return json.loads(line)

    def command(self, cmd: str, timeout: float = 120) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self._read(timeout)

    def tail_log(self, n: int = 20) -> str:
        self._log.flush()
        with open(self.log_path) as fh:
            return "".join(fh.readlines()[-n:])

    def peak_rss_mb(self) -> float:
        """Summed peak RSS (VmHWM) of the server process and its children
        (the JVM), read while they are still running."""
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total_kb, todo = 0, [self.proc.pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                pass
        return total_kb / 1024.0

    def stop(self) -> None:
        """Kill the server's process group (the JVM included) and wait until
        every member has ended. Nothing in it needs a clean shutdown: the
        run directory is discarded."""
        deadline = time.monotonic() + STOP_TIMEOUT_S
        while True:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                break
            self.proc.poll()  # reap the direct child
            if time.monotonic() > deadline:
                raise RuntimeError("server process group survived SIGKILL")
            time.sleep(0.05)
        self.proc.wait()
        self._log.close()


def _dir_bytes(root: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under root, counting files ending in suffix."""
    files = total = 0
    for dirpath, _dirs, names in os.walk(root):
        for f in names:
            if f.endswith(suffix):
                files += 1
                total += os.path.getsize(os.path.join(dirpath, f))
    return files, total


def parse_args(argv: list[str]) -> argparse.Namespace:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.05,
                    help="input scale factor (0.05: 300,000 lineitem rows)")
    return ap.parse_args(argv)


def run(args: argparse.Namespace) -> tuple[dict, dict]:
    """One benchmark run; returns (result line, record line)."""
    import datagen
    import workloads
    from bemidb_spark import telemetry

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    trace_out = None
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_out = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
    server = None
    try:
        data_dir = os.path.join(run_dir, "data")
        t0 = time.perf_counter()
        datagen.generate(data_dir, args.seed, args.scale)
        phases = {"datagen_s": time.perf_counter() - t0}
        wl = workloads.WORKLOADS[args.workload](
            data_dir=data_dir, seed=args.seed, scale=args.scale, clients=NPROC)
        # set-up: engine start, ingest, registration, server start, warm-up
        t_setup = time.perf_counter()
        server = ServerProcess(run_dir, data_dir, wl.kv_keys, args.seed, trace_out)
        server.wait_ready()
        phases["ready_s"] = time.perf_counter() - t_setup
        wl.connect(server.port)
        wl.warmup()
        setup_s = time.perf_counter() - t_setup
        phases["warmup_s"] = setup_s - phases["ready_s"]
        cpu0 = telemetry.cpu_stat()
        server.command("window_start")
        stats = wl.measure(args.seconds)
        window = server.command("window_end", timeout=300)["window"]
        steal = telemetry.steal_pct(cpu0, telemetry.cpu_stat())
        peak_rss_mb = server.peak_rss_mb()
        t0 = time.perf_counter()
        wl.expect()
        phases["expect_s"] = time.perf_counter() - t0
        wl.verify()
        live_user_bytes = wl.kv_live_user_bytes()
        catalog_bytes = _dir_bytes(server.info["catalog"])[1]
        kv_files = _dir_bytes(server.info["catalog"], ".parquet")[0]
        wl.close()
        canary_s = telemetry.bw_canary_sec()
    finally:
        if server is not None:
            server.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    t_end = time.perf_counter()

    reads = stats["read_ms"]
    e2e = {
        "setup_s": (setup_s, "s"),
        "qps": (stats["completed"] / stats["elapsed_s"], "1/s"),
        "latency_p50_ms": (workloads.p50(reads), "ms"),
        "latency_p90_ms": (workloads.p90(reads), "ms"),
        "storage_amp": (catalog_bytes / live_user_bytes, "ratio"),
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "scale": args.scale, **SERVER_ENV, "clients": stats["clients"],
        "steal_pct": steal, "bw_canary_s": canary_s, "peak_rss_mb": peak_rss_mb,
        "error_rate": stats["failed"] / max(1, stats["attempted"]),
        "read_samples": len(reads), "gc_ms": window["gc_ms"],
        **phases, "session_s": server.info["session_s"],
        "ingest_s": server.info["ingest_s"],
        "teardown_s": (t_end - t_setup - setup_s - stats["elapsed_s"]
                       - phases["expect_s"]),
        "catalog_bytes": catalog_bytes, "live_user_bytes": live_user_bytes,
        **stats["extra"],
    }
    if args.trace:
        metrics = per_layer(stats, window, server.info, e2e["qps"][0], kv_files)
        record["trace_file"] = os.path.relpath(trace_out, REPO)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    # a failed statement fails the run: the workloads are chosen so that
    # none fails on a correct server
    correct = not stats["mismatches"] and stats["failed"] == 0
    result = {"correct": correct, "attempted": stats["attempted"],
              "failed": stats["failed"], "metrics": metrics}
    record["errors"] = stats["errors"][:5]
    record["mismatches"] = stats["mismatches"][:5]
    return result, record


def per_layer(stats: dict, window: dict, info: dict, qps: float,
              kv_files: int) -> dict:
    """Per-layer metrics from the traced server's window summary."""
    tr = window["trace"]
    spans, counts = tr["spans"], tr["counts"]
    n_stmt = max(1, len(tr["per_statement"]))

    def ms(name: str, field: str = "ms") -> float:
        return spans.get(name, {}).get(field, 0.0)

    def per_call(name: str) -> float:
        calls = spans.get(name, {}).get("calls", 0)
        return ms(name) / calls if calls else 0.0

    self_ms = []
    for key, lat in stats["by_statement"].items():
        parts = tr["per_statement"].get(key)
        if parts is not None:
            self_ms.append(lat - parts.get("pgcompat.execute", 0.0)
                           - parts.get("engine.fetch", 0.0))
    writes = counts.get("sources.writes", 0)
    user_bytes = writes * stats["write_user_bytes"]
    engine = window["engine"]
    out = {
        "server.stmt_self_ms": (statistics.median(self_ms) if self_ms else 0.0, "ms"),
        "server.connect_ms": (statistics.median(tr["connect_ms"])
                              if tr["connect_ms"] else 0.0, "ms"),
        "server.session_pool_hit_ratio": (
            tr["session_pool"]["hits"] / max(1, tr["session_pool"]["calls"]), "ratio"),
        "pgcompat.transpile_ms": (ms("pgcompat.transpile", "self_ms") / n_stmt, "ms"),
        "pgcompat.execute_ms": (ms("pgcompat.execute") / n_stmt, "ms"),
        "pgcompat.plan_cache_hit_ratio": (
            counts.get("pgcompat.plan_cache_hits", 0)
            / max(1, counts.get("pgcompat.execute_calls", 0)), "ratio"),
        "pgcompat.invalidations_per_write": (
            counts.get("pgcompat.invalidations", 0)
            / max(1, spans.get("sources.commit", {}).get("calls", 0)), "ratio"),
        "pgcompat.catalog_registers": (
            spans.get("pgcompat.register_pg_catalog", {}).get("calls", 0), "count"),
        "pgcompat.catalog_register_ms": (
            ms("pgcompat.register_pg_catalog", "self_ms"), "ms"),
        "engine.fetch_ms": (ms("engine.fetch") / n_stmt, "ms"),
        "engine.jobs_per_stmt": (engine["jobs"] / n_stmt, "count"),
        "engine.stages_per_stmt": (engine["stages"] / n_stmt, "count"),
        "engine.tasks_per_stmt": (engine["tasks"] / n_stmt, "count"),
        "engine.gc_ms": (window["gc_ms"], "ms"),
        "warehouse.ingest_s": (info["ingest_s"], "s"),
        "warehouse.files": (info["warehouse_files"], "count"),
        "warehouse.bytes": (info["warehouse_bytes"], "bytes"),
        "sources.upsert_ms": (per_call("sources.upsert"), "ms"),
        "sources.append_ms": (per_call("sources.append"), "ms"),
        "sources.commit_ms": (per_call("sources.commit"), "ms"),
        "sources.files_per_write": (
            counts.get("sources.files_written", 0) / max(1, writes), "count"),
        "sources.bytes_written_per_user_byte": (
            counts.get("sources.bytes_written", 0) / max(1, user_bytes), "ratio"),
        "sources.table_files": (kv_files, "count"),
        "trace.qps": (qps, "1/s"),
    }
    for layer in ("server", "pgcompat", "engine", "sources"):
        out[f"{layer}.self_ms"] = (
            tr["self_ms_by_layer"].get(layer, 0.0) / n_stmt, "ms")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def main(argv: list[str]) -> int:
    if not os.path.isdir(os.path.join(REPO, "bemidb_spark")):
        print(f"bemidb_spark/ not found beside {HERE}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [REPO, HERE]
    args = parse_args(argv)
    result, record = run(args)
    print(json.dumps({"record": record}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
