"""Benchmark of the HDB resale engine: the reference's daily DAG and an
analyst's query session, end to end (``--trace 0``) or per layer
(``--trace 1``).

Run from the repository root:

    python3 benchmark/run.py --workload daily_dag --seed 1 --seconds 30 --trace 0

Progress goes to stderr. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. Everything the run
writes stays under ``.benchwork/`` in the current checkout: generated
inputs and oracle digests in ``cache/``, the rest in a per-run directory
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from measure import attribute, percentile, self_times  # noqa: E402
from tracing import heap_after_gc_mb, proc_status_mb  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "warm_op_p50_s": "s",
    "ok_ratio": "ratio",
}
RUN_LIMIT_S = 170  # a run must end within 180 s
QUERY_MODULES = ("relational", "events", "dedup", "text", "similarity", "extensions", "er", "privacy")


def per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "session.first_job_s": "s",
        "memory.peak_rss_mb": "MB",
        "memory.heap_after_gc_mb": "MB",
        "memory.driver_rss_mb": "MB",
        "sources.read_csv_s": "s",
        "sources.read_json_s": "s",
        "sources.load_s": "s",
        "sources.files_written": "count",
        "sources.mb_written": "MB",
        "sources.warehouse_bytes_per_input_byte": "ratio",
        "plans.historical_s": "s",
        "plans.propnex_s": "s",
        "plans.srx_s": "s",
        "plans.merge_s": "s",
        "plans.branch_historical_s": "s",
        "plans.branch_scraped_s": "s",
        "plans.rows_in": "count",
        "plans.rows_loaded": "count",
        "plans.dedup_survivor_ratio": "ratio",
    }
    for m in QUERY_MODULES:
        for kind in ("cold", "warm"):
            for phase in ("build", "exec"):
                units[f"queries.{m}.{kind}_{phase}_s"] = "s"
    units.update({
        "streaming.runs": "count",
        "streaming.run_s": "s",
        "index_cache.hits": "count",
        "index_cache.misses": "count",
        "index_cache.hit_ratio": "ratio",
        "spark.jobs": "count",
        "spark.jobs_unattributed": "count",
        "spark.stages": "count",
        "spark.stages_evicted": "count",
        "spark.tasks": "count",
        "spark.sql_executions": "count",
        "spark.task_run_s": "s",
        "spark.task_cpu_s": "s",
        "spark.gc_s": "s",
        "spark.input_mb": "MB",
        "spark.output_mb": "MB",
        "spark.shuffle_write_mb": "MB",
        "spark.shuffle_read_mb": "MB",
        "spark.spill_mb": "MB",
        "spark.slot_utilisation": "ratio",
        "spark.persisted_rdds": "count",
        "spark.persisted_rdds_growth_per_pass": "count",
        "trace.unattributed_s": "s",
        "trace.overhead_ratio": "ratio",
        "trace.reconcile_error_s": "s",
        "trace.concurrent_s": "s",
        "trace.task_to_capacity": "ratio",
        "bench.passes": "count",
        "bench.warm_ops": "count",
    })
    return units


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    parent_of = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent_of[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out += kids
        frontier += kids
    return out


def start_watchdog(limit_s: float) -> None:
    """Keep a hung run inside its time limit: at ``limit_s`` after process
    start, kill every child process and exit non-zero with no result."""

    def expire() -> None:
        print(f"run exceeded {limit_s:.0f}s: killing its processes", file=sys.stderr)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        os._exit(3)

    timer = threading.Timer(max(limit_s - process_age_s(), 0.0), expire)
    timer.daemon = True
    timer.start()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of those processes has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def layer_metrics(tracer, res: dict, session_s: tuple[float, float]) -> dict:
    """Per-layer figures. Layer seconds and counts are per pass after the
    first (a DAG day is one pass); ``queries.*`` are per pass of their
    kind; ``spark.*`` are totals over the measured window."""
    n_steady = max(res["passes"] - 1, 1)
    n_kind = {k: max(res["passes_by_kind"].get(k, 0), 1) for k in ("cold", "warm")}
    tot = tracer.totals

    def steady(metric: str) -> float:
        return (tot.get((metric, "cold"), 0.0) + tot.get((metric, "warm"), 0.0)) / n_steady

    lo, hi = res["window"]
    wall = hi - lo
    spans = [s for s in tracer.spans if s.end > lo and s.start < hi]
    by_layer, unattributed = attribute(spans, lo, hi)
    selfs = self_times(spans)
    layer_self = sum(selfs[s.id] for s in spans if s.parent is not None)
    slots = tracer.spark.sparkContext.defaultParallelism
    sp = tracer.spark_totals
    m = {
        "session.start_s": session_s[0],
        "session.first_job_s": session_s[1],
        "memory.peak_rss_mb": res["peak_rss_mb"],
        "memory.heap_after_gc_mb": heap_after_gc_mb(tracer.spark),
        "memory.driver_rss_mb": proc_status_mb([os.getpid()], "VmRSS"),
        "sources.read_csv_s": steady("sources.read_csv"),
        "sources.read_json_s": steady("sources.read_json"),
        "sources.load_s": steady("sources.load"),
        "sources.files_written": steady("sources.files_written"),
        "sources.mb_written": steady("sources.mb_written"),
        "sources.warehouse_bytes_per_input_byte": res.get("warehouse_bytes_per_input_byte", 0.0),
        "plans.historical_s": steady("plans.historical"),
        "plans.propnex_s": steady("plans.propnex"),
        "plans.srx_s": steady("plans.srx"),
        "plans.merge_s": steady("plans.merge"),
        "plans.branch_historical_s": steady("plans.branch_historical_s"),
        "plans.branch_scraped_s": steady("plans.branch_scraped_s"),
        "plans.rows_in": steady("plans.rows_in"),
        "plans.rows_loaded": steady("plans.rows_loaded"),
        "plans.dedup_survivor_ratio": steady("plans.scraped_rows_loaded")
        / max(steady("plans.scraped_rows_in"), 1),
    }
    for mod in QUERY_MODULES:
        for kind in ("cold", "warm"):
            for phase in ("build", "exec"):
                m[f"queries.{mod}.{kind}_{phase}_s"] = (
                    tot.get((f"queries.{mod}.{phase}", kind), 0.0) / n_kind[kind]
                )
    hits_w = tot.get(("index_cache.hits", "warm"), 0.0)
    gets_w = hits_w + tot.get(("index_cache.misses", "warm"), 0.0)
    persisted = tracer.persisted or [0]
    m.update({
        "streaming.runs": steady("streaming.run.calls"),
        "streaming.run_s": steady("streaming.run"),
        "index_cache.hits": steady("index_cache.hits"),
        "index_cache.misses": steady("index_cache.misses"),
        "index_cache.hit_ratio": hits_w / gets_w if gets_w else 0.0,
        "spark.jobs": sp["spark.jobs"],
        "spark.jobs_unattributed": sp["spark.jobs_unattributed"],
        "spark.stages": sp["spark.stages"],
        "spark.stages_evicted": sp["spark.stages_evicted"],
        "spark.tasks": sp["spark.tasks"],
        "spark.sql_executions": sp["spark.sql_executions"],
        "spark.task_run_s": sp["spark.task_run_s"],
        "spark.task_cpu_s": sp["spark.task_cpu_s"],
        "spark.gc_s": sp["spark.gc_s"],
        "spark.input_mb": sp["spark.input_mb"],
        "spark.output_mb": sp["spark.output_mb"],
        "spark.shuffle_write_mb": sp["spark.shuffle_write_mb"],
        "spark.shuffle_read_mb": sp["spark.shuffle_read_mb"],
        "spark.spill_mb": sp["spark.spill_mb"],
        "spark.slot_utilisation": sp["spark.task_run_s"] / (wall * slots),
        "spark.persisted_rdds": persisted[-1],
        "spark.persisted_rdds_growth_per_pass": (persisted[-1] - persisted[0])
        / max(len(persisted) - 1, 1),
        "trace.unattributed_s": unattributed,
        "trace.overhead_ratio": tracer.overhead_s / wall,
        "trace.reconcile_error_s": abs(sum(by_layer.values()) + unattributed - wall),
        "trace.concurrent_s": layer_self - sum(by_layer.values()),
        "trace.task_to_capacity": tracer.max_task_to_capacity,
        "bench.passes": res["passes"],
        "bench.warm_ops": res["warm_ops"],
    })
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["daily_dag", "analyst_session"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    try:
        from hdb_resale_price_data_pipeline_spark.session import get_spark_session
    except ImportError as e:
        print(f"engine package not found under {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads
    from tracing import Tracer

    start_watchdog(RUN_LIMIT_S)
    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(os.getcwd(), ".benchwork")
    cache = os.path.join(base, "cache")
    work = os.path.join(base, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)  # left by a killed run with this pid
    os.makedirs(tmp)
    os.makedirs(cache, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark_session(
            app_name=f"bench-{args.workload}",
            master=f"local[{nproc}]",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        t2 = time.perf_counter()
        setup_s = process_age_s()

        tracer = Tracer(spark, enabled=bool(args.trace))
        res = getattr(workloads, args.workload)(spark, tracer, args, work, cache)
        ops = tracer.ops
        for o in ops:
            print(f"op {o['kind']:5} {o['name']:28} {o['seconds']:8.3f}s", file=sys.stderr)
        failed = [o for o in ops if not o["ok"]]
        for o in failed:
            print(f"FAILED {o['kind']} {o['name']}: {o.get('error')}", file=sys.stderr)
        if args.trace:
            pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
            res["peak_rss_mb"] = proc_status_mb(pids, "VmHWM")
            metrics = layer_metrics(tracer, res, (t1 - t0, t2 - t1))
            units = per_layer_units()
        else:
            metrics = {
                "setup_s": setup_s,
                "first_pass_s": res["first_pass_s"],
                "cold_pass_s": res["cold_pass_s"],
                "warm_pass_s": res["warm_pass_s"],
                "warm_op_p50_s": res["warm_op_p50_s"],
                "ok_ratio": (len(ops) - len(failed)) / len(ops),
            }
            units = E2E_UNITS
        warm = [o["seconds"] for o in ops if o["kind"] == "warm"]
        p90 = percentile(warm, 90)
        print(
            f"{args.workload} seed={args.seed}: {res['passes']} passes, {len(ops)} ops; "
            f"warm op p50 {res['warm_op_p50_s']:.3f}s, p90 "
            f"{'%.3fs' % p90 if p90 is not None else 'not reported'} "
            f"(n={len(warm)}, p90 needs 100); value-checked {res.get('value_checked', '-')}",
            file=sys.stderr,
        )
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
