"""Layered benchmark of the engine: one client, one process, local Spark.

    python3 perfbench/run.py --workload txlog_cdc --seed 1 --seconds 1 --trace 0

Runs from the root of a source checkout. Generates its inputs from
the seed, sets up (session, inputs, warm-up), runs the workload's
passes as a closed loop for ``--seconds``, checks every output, and
prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
Spark's event log, reports the per-layer metrics instead and writes
the spans and the parsed log to ``.perfbench/traces/``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from eventlog import summarize
from harness import (
    ENGINE_LAYERS, RssSampler, Sandbox, Session, cpu_jiffies, dir_bytes,
    host_record, stop_spark,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "memory.peak_rss_mb": "MB",
    "registry.build_share": "ratio",
    "registry.build_jobs": "count",
    "operators.exec_share": "ratio",
    "operators.exec_jobs": "count",
    "staging.writes": "count",
    "staging.hits": "count",
    "staging.hit_ratio": "ratio",
    "staging.bytes_written": "bytes",
    "staging.write_share": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_share": "ratio",
    "spark.skew_max_over_median": "ratio",
    "scan.bytes_read": "bytes",
    "scan.rows_read": "count",
    "shuffle.bytes_written": "bytes",
    "shuffle.bytes_read": "bytes",
    "spill.bytes": "bytes",
    "python.run_share": "ratio",
    "python.boot_share": "ratio",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "txlog.commit_share": "ratio",
    "txlog.read_share": "ratio",
    "txlog.bytes_written": "bytes",
    "txlog.files_added": "count",
    "txlog.write_amp": "ratio",
    "txlog.space_amp": "ratio",
    "txlog.prune_ratio": "ratio",
    "txlog.live_files": "count",
    "streaming.ingest_share": "ratio",
    "streaming.batches": "count",
    "streaming.rows_per_s": "rows/s",
    "trace.layer_coverage": "ratio",
}

TXLOG_COMMITS = ("txlog.upsert", "txlog.delete", "txlog.compact")
TXLOG_READS = ("txlog.read_plan", "txlog.read_exec")


def measure(wl, seconds: float) -> list:
    """Closed loop of whole passes: passes start until ``seconds`` have
    gone by, so the first always runs. Returns the pass spans."""
    spans = []
    t0 = time.perf_counter()
    while not spans or time.perf_counter() - t0 < seconds:
        p = len(spans)
        with wl.s.tracer.span(f"pass{p}", "bench", pass_no=p) as sp:
            wl.run_pass(p)
        spans.append(sp)
    return spans


def span_seconds(tracer, roots: list, names: tuple) -> float:
    """Summed duration of the spans called ``names`` under ``roots``."""
    inside = {sp.id for sp in roots}
    total = 0.0
    for sp in tracer.spans:
        if sp.parent in inside:
            inside.add(sp.id)
            if sp.name in names:
                total += sp.end - sp.start
    return total


def setup(s, wl) -> tuple[float, float]:
    """(set-up seconds, session start seconds). Set-up is the session
    start, the input preparation and the warm-up."""
    t0 = time.perf_counter()
    session_s = s.start()
    with s.tracer.span("prepare", "client"):
        wl.prepare()
    with s.tracer.span("warmup", "client"):
        wl.warmup()
    return time.perf_counter() - t0, session_s


def timed_window(wl, seconds: float) -> dict:
    """The measured passes plus the counters read around them."""
    from mapreduceapp_spark.plans import staging

    tb0 = wl.table_bytes()
    w0, h0 = staging.WRITE_COUNT, staging.HIT_COUNT
    sb0 = dir_bytes(staging.staging_root())
    epoch0 = time.time() * 1000
    passes = measure(wl, seconds)
    tb1 = wl.table_bytes()
    return {
        "passes": passes,
        "epoch": (epoch0, time.time() * 1000),
        "writes": staging.WRITE_COUNT - w0,
        "hits": staging.HIT_COUNT - h0,
        "staged_bytes": dir_bytes(staging.staging_root()) - sb0,
        "table_bytes": tb1[0] - tb0[0],
        "table_files": tb1[1] - tb0[1],
        "user_bytes": wl.user_bytes,
        "counters": wl.counters(len(passes)),
    }


def layer_metrics(s, w: dict, timed: list, log: dict, session_s: float,
                  peak_rss: int) -> dict:
    passes = w["passes"]
    n = len(passes)
    total = sum(sp.end - sp.start for sp in passes)
    layer = s.tracer.self_times({sp.id for sp in passes})
    run_ms = log["run_ms"] or 1.0
    writes, hits = w["writes"], w["hits"]

    def jobs(name: str) -> float:
        return sum(o.layer_jobs.get(name, 0) for o in timed) / n

    return {
        "session.start_s": session_s,
        "memory.peak_rss_mb": peak_rss / 2**20,
        "registry.build_share": layer.get("registry", 0.0) / total,
        "registry.build_jobs": jobs("registry"),
        "operators.exec_share": layer.get("operators", 0.0) / total,
        "operators.exec_jobs": jobs("operators"),
        "staging.writes": writes / n,
        "staging.hits": hits / n,
        "staging.hit_ratio": hits / (hits + writes) if hits + writes else 0.0,
        "staging.bytes_written": w["staged_bytes"] / n,
        "staging.write_share": log["staging_write_ms"] / 1000 / total,
        "spark.jobs": log["jobs"] / n,
        "spark.stages": log["stages"] / n,
        "spark.tasks": log["tasks"] / n,
        "spark.task_run_s": log["run_ms"] / 1000 / n,
        "spark.task_cpu_s": log["cpu_ns"] / 1e9 / n,
        "spark.gc_share": log["gc_ms"] / run_ms,
        "spark.skew_max_over_median": log["skew"],
        "scan.bytes_read": log["input_bytes"] / n,
        "scan.rows_read": log["input_rows"] / n,
        "shuffle.bytes_written": log["shuffle_write"] / n,
        "shuffle.bytes_read": log["shuffle_read"] / n,
        "spill.bytes": log["spill"] / n,
        "python.run_share": log["python.run_ms"] / run_ms,
        "python.boot_share": log["python.boot_ms"] / run_ms,
        "python.bytes_sent": log["python.bytes_sent"] / n,
        "python.bytes_received": log["python.bytes_received"] / n,
        "txlog.commit_share": span_seconds(s.tracer, passes, TXLOG_COMMITS) / total,
        "txlog.read_share": span_seconds(s.tracer, passes, TXLOG_READS) / total,
        "txlog.bytes_written": w["table_bytes"] / n,
        "txlog.files_added": w["table_files"] / n,
        "txlog.write_amp": (w["table_bytes"] / w["user_bytes"]
                            if w["user_bytes"] else 0.0),
        "txlog.space_amp": 0.0,
        "txlog.prune_ratio": 0.0,
        "txlog.live_files": 0.0,
        "streaming.ingest_share": layer.get("streaming", 0.0) / total,
        "streaming.batches": 0.0,
        "streaming.rows_per_s": 0.0,
        "trace.layer_coverage": sum(layer.get(k, 0.0) for k in ENGINE_LAYERS) / total,
        **w["counters"],
    }


def run(args, box, rss) -> tuple[dict, dict, object]:
    from workloads import WORKLOADS

    s = Session(box, trace=bool(args.trace))
    wl = WORKLOADS[args.workload](s, args.seed)
    if args.scale:
        wl.sf = args.scale
    setup_s, session_s = setup(s, wl)
    w = timed_window(wl, args.seconds)
    timed = [o for o in s.ops if o.pass_no >= 0]
    walls = [sp.end - sp.start for sp in w["passes"]]
    queries = [o.seconds for o in timed if o.kind == "query"]
    bad = wl.verify()
    for o in timed:
        if o.name in bad:
            o.ok = False
    detail: dict = {}
    if args.trace:
        from mapreduceapp_spark.plans import staging

        s.spark.stop()  # flushes the event log
        log = summarize(box.path("eventlog"), {o.group for o in timed},
                        staging.staging_root(), w["epoch"])
        metrics = layer_metrics(s, w, timed, log, session_s, rss.peak)
        detail = {"eventlog": log,
                  "layer_self_s": s.tracer.self_times({sp.id for sp in w["passes"]})}
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(walls),
            "query_geomean_s": statistics.geometric_mean(queries),
        }
    stop_spark(s.spark)
    failed = sum(not o.ok for o in timed)
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": not bad and failed == 0,
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    detail.update({
        "checks_failed": bad,
        "pass_s": walls,
        "setup_s": setup_s,
        "ops": [{"name": o.name, "kind": o.kind, "pass": o.pass_no,
                 "s": o.seconds, "ok": o.ok, "jobs": o.jobs,
                 "layer_jobs": o.layer_jobs} for o in s.ops],
    })
    return result, detail, s.tracer


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("dataprep", "txlog_cdc"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="scale factor of the generated inputs "
                         "(default: the workload's own)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mapreduceapp_spark", "__init__.py")):
        print(f"perfbench: no mapreduceapp_spark package in {ROOT}", file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]

    with Sandbox(ROOT) as box:
        jiffies = cpu_jiffies()
        host = {"start": host_record()}
        with RssSampler() as rss:
            result, detail, tracer = run(args, box, rss)
        host["end"] = host_record(since=jiffies)
        if args.trace:
            os.makedirs(box.traces, exist_ok=True)
            tracer.dump(os.path.join(
                box.traces, f"{args.workload}-seed{args.seed}.json"),
                {"host": host, "result": result, **detail})
    print("# host " + json.dumps(host))
    print("# pass_s " + json.dumps(detail["pass_s"]))
    if detail["checks_failed"]:
        print("# checks failed " + json.dumps(detail["checks_failed"]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
