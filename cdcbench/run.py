#!/usr/bin/env python3
"""CDC lakehouse benchmark: one seeded change-stream workload, end to end.

    python3 cdcbench/run.py --workload feed-hot --seed 1 --seconds 15 --trace 0

Run from the repository root. The benchmark generates the workload's inputs
from ``--seed`` (``gen.py``), starts the engine's session on
``local[$SPARK_GRAFT_CPUS]`` (default: every core) with a small driver heap,
bootstraps the table, and streams the change envelopes through the engine's
``foreachBatch`` sinks in a closed loop (``workload.py``). ``--seconds``
sets how many timed micro-batches follow the warm-up: as many as the
workload's nominal trigger time on a 4-core host fits into it, in whole
maintenance cycles and at least one cycle. The count does not depend on how
fast the run goes, so a seed always gives the same final table.
It then checks the committed tables against a DuckDB reference
(``reference.py``) and prints two JSON lines: the run's details (host
context, sample counts, failures, per-batch job counts), then the result,
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the engine's layers
(``spans.py``), reports the per-layer metrics, and writes its spans under
``.cdcbench_runs/spans/``.

The end-to-end metrics are the costs that do not move with the speed of a
shared host: set-up time (a median of repeats), Spark jobs per trigger,
bytes written per envelope and space amplification. Wall-clock loop
timings (ingest rate, commit and reader latency) move by 20-50% between
runs there, so they are reported in the details line of every run and as
``loop.*`` metrics of the traced run. They are medians over the timed
micro-batches (or reader queries; only ``mor-uniform-rw`` has readers, the
read figures of other workloads are 0); a tail is the highest percentile
with at least min(10, n/4) samples beyond it, and the details line names the
percentile and n. A failed sink or reader call is counted in ``failed`` and
left out of the timings. The command exits 1 if the committed tables differ
from the reference, and 2 if it cannot run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_ROOT = os.path.join(ROOT, ".cdcbench_runs")

END_TO_END = {
    "setup_s": "s",
    "jobs_per_trigger": "jobs",
    "io_write_bytes_per_event": "bytes/event",
    "space_amp": "x",
}

# per-layer metric -> (unit, key in trace.layer_metrics output or None)
PER_LAYER = {
    "loop.ingest_events_per_s": ("events/s", None),
    "loop.commit_p50_s": ("s", None),
    "loop.commit_tail_s": ("s", None),
    "loop.read_p50_s": ("s", None),
    "loop.read_tail_s": ("s", None),
    "session.get_spark_s": ("s", None),
    "publish.bootstrap_s": ("s", None),
    "stream.trigger_s": ("s", None),
    "stream.add_batch_s": ("s", None),
    "stream.overhead_s": ("s", None),
    "stream.query_planning_s": ("s", None),
    "stream.wal_commit_s": ("s", None),
    "stream.latest_offset_s": ("s", None),
    "stream.empty_triggers": ("count", None),
    "sink.s": ("s", "sink.s"),
    "sink.self_s": ("s", "sink.self_s"),
    "sink.jobs": ("jobs", "sink.jobs"),
    "merge_cow.s": ("s", "merge_cow.s"),
    "merge_cow.self_s": ("s", "merge_cow.self_s"),
    "merge_cow.jobs": ("jobs", "merge_cow.jobs"),
    "merge_cow.files_rewritten": ("files", "merge_cow.files_rewritten"),
    "merge_cow.files_carried": ("files", "merge_cow.files_carried"),
    "merge_cow.rewrite_share": ("ratio", "merge_cow.rewrite_share"),
    "stage_only.s": ("s", "stage_only.s"),
    "stage_only.files": ("files", "stage_only.files"),
    "collect_stats.s": ("s", "_collect_stats.s"),
    "commit_manifest.s": ("s", "_commit_manifest.s"),
    "read_manifest.calls": ("1/trigger", "read_manifest.calls"),
    "read_manifest.s": ("s", "read_manifest.s"),
    "merge_mor.s": ("s", "merge_mor.s"),
    "merge_mor.jobs": ("jobs", "merge_mor.jobs"),
    "merge_mor.delete_files": ("files", "merge_mor.delete_files"),
    "compact_partial.s": ("s", "compact_partial.s"),
    "compact_mor.s": ("s", "compact_mor.s"),
    "compact.jobs": ("jobs", None),
    "compact.count": ("count", None),
    "gc.s": ("s", "gc.s"),
    "vacuum.s": ("s", "vacuum.s"),
    "read_mor.s": ("s", "read.read_mor.s"),
    "read.exec_s": ("s", "read.self_s"),
    "read.jobs": ("jobs", "read.jobs"),
    "read_mor.data_files": ("files", "read.data_files"),
    "read_mor.delete_files": ("files", "read.delete_files"),
    "read_mor.read_amp": ("ratio", "read.read_amp"),
    "change_feed.s": ("s", "consume_feed_step.change_feed.s"),
    "change_feed.jobs": ("jobs", "consume_feed_step.change_feed.jobs"),
    "consume_feed_step.s": ("s", "consume_feed_step.s"),
    "consume_feed_step.self_s": ("s", "consume_feed_step.self_s"),
    "consume_feed_step.jobs": ("jobs", "consume_feed_step.jobs"),
    "consume_feed_step.merge_cow.s": ("s", "consume_feed_step.merge_cow.s"),
    "consume_feed_step.merge_cow.jobs": ("jobs", "consume_feed_step.merge_cow.jobs"),
    "consume_feed_step.merge_cow.files_rewritten": (
        "files", "consume_feed_step.merge_cow.files_rewritten"),
    "jvm.peak_rss_mb": ("MB", None),
    "trace.spans_per_trigger": ("count", None),
    "trace.overhead_s": ("s", None),
}


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    min(10, n // 4) samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    beyond = min(10, max(1, n // 4)) if n > 1 else 0
    return xs[n - 1 - beyond], 100.0 * (n - beyond) / n


def parse_args(argv):
    from gen import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_context() -> dict:
    from bench import _calibrate

    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "loadavg_start": list(os.getloadavg()),
        "calibrate_s": _calibrate(),
    }


def configure_env(run_dir: str) -> None:
    """Session settings; everything the JVM and Python write stays in run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "pyspark-shell"
    )


def end_to_end(run, r: dict, events: dict[int, int], ref: dict) -> tuple[dict, dict]:
    timed = [b for b in run.batches if b["timed"]]
    ok = [b for b in timed if b["ok"]]
    n_events = sum(events[b["batch"]] for b in ok)
    timed_s = run.t_end - run.t_start
    detail = {
        "timed_batches": len(timed),
        "timed_events": n_events,
        "timed_s": timed_s,
        "reads": len(run.reads),
        "loop": {"ingest_events_per_s": n_events / timed_s},
    }
    for name, xs in (("commit", [b["commit_s"] for b in ok]), ("read", run.reads)):
        if xs:
            value, pct = tail(xs)
            detail["loop"][f"{name}_p50_s"] = statistics.median(xs)
            detail["loop"][f"{name}_tail_s"] = value
            detail[f"{name}_tail_percentile"] = pct
    metrics = {
        "setup_s": r["setup_s"],
        "jobs_per_trigger": statistics.fmean(b["trigger_jobs"] for b in timed),
        "io_write_bytes_per_event": r["io_write_bytes"] / max(1, n_events),
        "space_amp": r["table_bytes"] / ref["compact_bytes"],
    }
    return metrics, detail


def per_layer(run, r: dict, loop: dict) -> dict:
    from spans import layer_metrics

    spans = run.tracer.spans
    timed = [b for b in run.batches if b["timed"] and b["ok"]]
    timed_ids = {b["batch"] for b in timed}
    lm = layer_metrics(spans, timed_ids | set(run.read_traces))
    out = {name: lm.get(key, 0.0) for name, (_, key) in PER_LAYER.items() if key}
    for name in PER_LAYER:
        if name.startswith("loop."):
            out[name] = loop.get(name[len("loop."):], 0.0)
    out["session.get_spark_s"] = r["get_spark_s"]
    out["publish.bootstrap_s"] = statistics.median(r["bootstrap_s"])

    prog = [p["ms"] for p in r["progress"] if p["batch"] in timed_ids]

    def med(f):
        return statistics.median(f(ms) / 1000.0 for ms in prog) if prog else 0.0

    out["stream.trigger_s"] = med(lambda m: m.get("triggerExecution", 0))
    out["stream.add_batch_s"] = med(lambda m: m.get("addBatch", 0))
    out["stream.overhead_s"] = med(
        lambda m: m.get("triggerExecution", 0) - m.get("addBatch", 0))
    out["stream.query_planning_s"] = med(lambda m: m.get("queryPlanning", 0))
    out["stream.wal_commit_s"] = med(lambda m: m.get("walCommit", 0))
    out["stream.latest_offset_s"] = med(lambda m: m.get("latestOffset", 0))
    out["stream.empty_triggers"] = sum(
        1 for p in r["progress"] if p["batch"] in timed_ids and p["rows"] == 0)

    compactions = [s for s in spans if s["name"] in ("compact_mor", "compact_partial")
                   and s["trace"] in timed_ids and "end" in s]
    out["compact.count"] = len(compactions)
    out["compact.jobs"] = (
        statistics.fmean(s["jobs"] for s in compactions) if compactions else 0.0)
    out["jvm.peak_rss_mb"] = r["jvm_peak_rss_mb"]
    out["trace.spans_per_trigger"] = sum(
        1 for s in spans if s["trace"] in timed_ids) / max(1, len(timed_ids))
    # an estimate of what tracing adds to a trigger: spans times the cost of
    # an empty span. It leaves out the counter callbacks; the measured
    # difference, this run's loop.commit_p50_s minus an untraced run's, is
    # smaller than the run-to-run spread of commit_p50_s.
    out["trace.overhead_s"] = out["trace.spans_per_trigger"] * r["span_cost_s"]
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return  # stopped already
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    # set before the engine is imported: its session reads them at import
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401  (the calibration probe lives there)
        import ez_cdc_spark  # noqa: F401
    except ImportError as exc:
        print(f"cdcbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from gen import WORKLOADS, write_inputs

    w = WORKLOADS[args.workload]
    n_batches = w.warmup + w.timed_batches(args.seconds)
    run_dir = os.path.join(RUNS_ROOT, f"{os.getpid()}-{uuid.uuid4().hex[:12]}")
    os.makedirs(run_dir)
    run = None
    try:
        configure_env(run_dir)
        host = host_context()
        t_start = time.perf_counter()
        snapshot, files, counts = write_inputs(
            w, args.seed, n_batches, os.path.join(run_dir, "landing"))
        t_generated = time.perf_counter()
        line_count = dict(zip(files, counts))

        from reference import check
        from workload import Run

        run = Run(w, args.seed, n_batches, run_dir, snapshot, os.path.dirname(files[0]),
                  bool(args.trace))
        r = run.execute()
        stop_spark(run.spark)
        events = {b: sum(line_count[f] for f in fs) for b, fs in r["batch_files"].items()}
        ok = [b["batch"] for b in run.batches if b["ok"]]
        applied = [f for b in ok for f in r["batch_files"][b]]

        final = r["final_dir"]
        compact = os.path.join(run_dir, "compact.parquet")
        ref = check(
            snapshot, applied, os.path.join(final, "table", "*.parquet"),
            os.path.join(final, "agg", "*.parquet") if w.sink == "feed" else None,
            compact,
        )
        ref["compact_bytes"] = os.path.getsize(compact)
        mismatched = ref["mismatched_rows"] + ref.get("mismatched_agg_rows", 0)
        metrics, detail = end_to_end(run, r, events, ref)
        host["loadavg_end"] = list(os.getloadavg())
        phases = {"generated": t_generated, **run.marks, "checked": time.perf_counter()}
        detail.update(
            workload=w.name, seed=args.seed, trace=args.trace, host=host,
            setup={"get_spark_s": r["get_spark_s"], "bootstrap_s": r["bootstrap_s"]},
            mismatched_rows=ref["mismatched_rows"],
            mismatched_agg_rows=ref.get("mismatched_agg_rows"),
            live_rows=ref["live_rows"],
            jvm_peak_rss_mb=r["jvm_peak_rss_mb"],
            ops_failed_share=run.failed / max(1, run.attempted),
            errors=run.errors,
            batch_jobs=[b["jobs"] for b in run.batches],
            batch_commit_s=[round(b["commit_s"], 3) for b in run.batches],
            phases_s={k: round(v - t_start, 2) for k, v in phases.items()},
            end_to_end=metrics,
        )
        if run.tracer is not None:
            spans_dir = os.path.join(RUNS_ROOT, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            spans_path = os.path.join(spans_dir, f"{w.name}-seed{args.seed}.jsonl")
            run.tracer.write(spans_path)
            detail["spans"] = os.path.relpath(spans_path, ROOT)
            values = per_layer(run, r, detail["loop"])
            units = {k: u for k, (u, _) in PER_LAYER.items()}
        else:
            values, units = metrics, END_TO_END
        print(json.dumps(detail))
        print(json.dumps({
            "correct": mismatched == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }))
        return 0 if mismatched == 0 else 1
    finally:
        if run is not None and run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS_ROOT)  # only when empty
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
