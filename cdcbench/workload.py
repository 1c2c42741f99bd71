"""One closed-loop run of a workload through the engine's own sinks.

Set-up starts the engine's session and bootstraps the table (three times;
the median is reported). The envelope files then stream through
``readStream.json`` with ``maxFilesPerTrigger=1`` and ``availableNow`` into
the engine's ``foreachBatch`` sink from ``streaming/cdc.py``, so the next
micro-batch starts only after the previous commit. The workload's first
``warmup`` batches are applied untimed, the rest are timed, and the query
ends when the files run out.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import shutil
import statistics
import time

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import ez_cdc_spark.sources.manifest as man
import ez_cdc_spark.streaming.cdc as cdc
from ez_cdc_spark.session import get_spark
from spans import Tracer

BOOTSTRAP_REPEATS = 3
TAG, CONSUMER_TAG = "cdcbench", "cdcbench-agg"
# sink maintenance. feed: compact once the table holds more than its
# snapshot files + COMPACT_EXTRA_FILES. mor: fold the delete log once it
# holds more than cycle - 1 files, i.e. every ``cycle`` commits.
COMPACT_EXTRA_FILES = 4


class Progress(StreamingQueryListener):
    """Keeps every trigger's progress (``recentProgress`` keeps only 100)."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.events.append(
            {"batch": p.batchId, "rows": p.numInputRows, "ms": dict(p.durationMs)}
        )

    def onQueryTerminated(self, event):
        pass


def proc_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants (the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def wchar(pids: list[int]) -> dict[int, int]:
    """Bytes each process has written so far (``/proc/<pid>/io``)."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/io") as fh:
                for line in fh:
                    if line.startswith("wchar:"):
                        out[pid] = int(line.split()[1])
        except OSError:
            pass  # the process ended while we looked
    return out


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _bootstrap(spark, w, snapshot: str, table_dir: str, agg_dir: str | None) -> None:
    snap = spark.read.parquet(snapshot)
    man.publish(
        snap.repartitionByRange(w.files, "id").sortWithinPartitions("id"),
        table_dir,
        generation=1,
        stats_columns=["id"],
    )
    if agg_dir is not None:
        agg = snap.groupBy("first_name").agg(
            F.count(F.lit(1)).alias("n"), F.sum("lsn").cast("long").alias("sum_lsn")
        )
        man.publish(agg, agg_dir, generation=1, stats_columns=["first_name"])


def _sink(w, table_dir: str, agg_dir: str | None):
    if w.sink == "mor":
        return cdc.lakehouse_mor_batch(
            table_dir, TAG, max_delete_files=w.cycle - 1, gc_older_than_s=0.0
        )
    return cdc.lakehouse_feed_fanout_batch(
        table_dir, agg_dir, tag=TAG, consumer_tag=CONSUMER_TAG,
        max_files=w.files + COMPACT_EXTRA_FILES,
    )


def install_tracing(tracer: Tracer) -> None:
    """Wrap each layer's public functions at their module attributes."""

    def merge_counters(rec, args, kwargs, out):
        m = out.get("merge") or {}
        rw, cr = m.get("rewritten_files", 0), m.get("carried_files", 0)
        rec["n_files_rewritten"] = rw
        rec["n_files_carried"] = cr
        rec["r_rewrite_share"] = rw / (rw + cr) if rw + cr else 0.0

    def mor_counters(rec, args, kwargs, out):
        rec["n_delete_files"] = (out.get("mor") or {}).get("delete_files_total", 0)

    def stage_counters(rec, args, kwargs, out):
        rec["n_files"] = len(out)

    counters = {
        "merge_cow": merge_counters,
        "merge_mor": mor_counters,
        "stage_only": stage_counters,
    }
    for attr in (
        "publish", "merge_cow", "merge_mor", "stage_only", "read_manifest",
        "_collect_stats", "_commit_manifest", "compact_partial", "compact_mor",
        "gc", "vacuum", "read_mor", "change_feed",
    ):
        tracer.wrap(man, attr, counters.get(attr))
    tracer.wrap(cdc, "consume_feed_step")


class Run:
    """One workload run; :meth:`execute` returns its raw measurements."""

    def __init__(self, w, seed: int, n_batches: int, run_dir: str, snapshot: str,
                 changes_dir: str, trace: bool):
        self.w, self.seed, self.n_batches = w, seed, n_batches
        self.run_dir, self.snapshot, self.changes_dir = run_dir, snapshot, changes_dir
        self.trace = trace
        self.spark = self.tracer = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.batches: list[dict] = []  # one per batch the sink ran
        self.reads: list[float] = []  # timed reader latencies
        self.read_traces: list[str] = []  # their trace ids
        self._read_ids = itertools.count()
        self.footer_rows: dict[str, int] = {}
        self.t_start = self.t_end = None
        self.io_start = self.io_end = None
        self.marks: dict[str, float] = {}

    def _jobid(self) -> int:
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def _span(self, name: str):
        return contextlib.nullcontext() if self.tracer is None else self.tracer.span(name)

    def _io_snapshot(self) -> dict[int, int]:
        return wchar([os.getpid()] + proc_tree(self.jvm_pid))

    def _fail(self, what: str, exc: Exception) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {exc!r}"[:300])

    def read_once(self, key_seed: int, i: int) -> None:
        """One reader query: the fixed aggregate (i == 0) or a key lookup."""
        self.attempted += 1
        trace = f"read-{next(self._read_ids)}"
        if self.tracer is not None:
            self.tracer.trace = trace
        t0 = time.perf_counter()
        try:
            with self._span("read") as rec:
                df = man.read_mor(self.spark, self.table_dir)
                if i == 0:
                    rows = df.groupBy("first_name").agg(
                        F.count(F.lit(1)).alias("n"), F.sum("lsn").alias("s")
                    ).collect()
                    live = sum(r["n"] for r in rows)
                else:
                    key = 1 + (self.seed * 7919 + key_seed * 104729 + i * 15485863) % self.w.rows
                    df.where(F.col("id") == key).collect()
        except Exception as exc:  # counted, never fatal
            self._fail("read", exc)
            return
        finally:
            if self.tracer is not None:
                self.tracer.trace = None
        elapsed = time.perf_counter() - t0
        if self.t_start is None:
            return  # a warm-up read
        self.reads.append(elapsed)
        self.read_traces.append(trace)
        if rec is not None:
            self._read_counters(rec, live if i == 0 else None)

    def _read_counters(self, rec: dict, live_rows: int | None) -> None:
        """Manifest file counts and, for the aggregate, read amplification:
        footer rows of every data file the read scans per live row."""
        import pyarrow.parquet as pq

        # the unwrapped function: this bookkeeping is not the reader's work
        m = man.read_manifest.__wrapped__(self.table_dir)
        rec["n_data_files"] = len(m["files"])
        rec["n_delete_files"] = len(m.get("delete_files") or [])
        if live_rows is not None:
            scanned = 0
            for rel in m["files"]:
                path = os.path.join(self.table_dir, rel)
                if path not in self.footer_rows:
                    self.footer_rows[path] = pq.read_metadata(path).num_rows
                scanned += self.footer_rows[path]
            rec["r_read_amp"] = scanned / max(1, live_rows)

    def on_batch(self, batch_df, batch_id: int) -> None:
        """The ``foreachBatch`` function: the engine's sink, then readers."""
        if self.tracer is not None:
            self.tracer.trace = batch_id
        self.attempted += 1
        j0 = self._jobid()
        t0 = time.perf_counter()
        ok = True
        try:
            with self._span("sink"):
                self.sink(batch_df, batch_id)
        except Exception as exc:  # counted, never fatal
            ok = False
            self._fail(f"sink {batch_id}", exc)
        rec = {"batch": batch_id, "commit_s": time.perf_counter() - t0,
               "jobs": self._jobid() - j0, "ok": ok, "timed": self.t_start is not None}
        self.batches.append(rec)
        if self.tracer is not None:
            self.tracer.trace = None
        if self.w.readers and ok:
            for i in range(1 + self.w.readers):
                self.read_once(batch_id, i)
        rec["trigger_jobs"] = self._jobid() - j0
        now = time.perf_counter()
        if self.t_start is None:
            if batch_id + 1 >= self.w.warmup:
                self.t_start = now
                self.io_start = self._io_snapshot()
            return
        self.t_end = now
        if batch_id + 1 == self.n_batches:
            self.io_end = self._io_snapshot()

    def execute(self) -> dict:
        w = self.w
        t0 = time.perf_counter()
        self.spark = spark = get_spark("cdcbench")
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        if self.trace:
            self.tracer = Tracer(self._jobid)
            install_tracing(self.tracer)

        boots = []
        for i in range(BOOTSTRAP_REPEATS):
            table_dir = os.path.join(self.run_dir, f"table-{i}")
            agg_dir = os.path.join(self.run_dir, f"agg-{i}") if w.sink == "feed" else None
            t = time.perf_counter()
            _bootstrap(spark, w, self.snapshot, table_dir, agg_dir)
            boots.append(time.perf_counter() - t)
            if i:  # keep only the newest copy on disk
                for old in (f"table-{i - 1}", f"agg-{i - 1}"):
                    shutil.rmtree(os.path.join(self.run_dir, old), ignore_errors=True)
        self.table_dir = table_dir
        self.marks["setup"] = time.perf_counter()

        self.sink = _sink(w, table_dir, agg_dir)
        listener = Progress()
        spark.streams.addListener(listener)
        try:
            self._stream()
            # the listener bus delivers progress asynchronously
            last = max((b["batch"] for b in self.batches), default=-1)
            deadline = time.time() + 5
            while time.time() < deadline and not any(
                e["batch"] >= last for e in listener.events
            ):
                time.sleep(0.05)
        finally:
            spark.streams.removeListener(listener)
        self.marks["stream"] = time.perf_counter()
        io_write_bytes = (
            sum(v - self.io_start.get(pid, 0) for pid, v in self.io_end.items())
            if self.io_end is not None else 0
        )

        if w.sink == "feed":
            # the consumer has caught up, so the feed's retention window
            # closes: reclaim as the engine's own feed rig does after a drain
            man.gc(table_dir, older_than_s=0.0)
            man.vacuum(table_dir, older_than_s=0.0)
        r = {
            "get_spark_s": get_spark_s,
            "bootstrap_s": boots,
            "setup_s": get_spark_s + statistics.median(boots),
            "progress": sorted(listener.events, key=lambda e: e["batch"]),
            "io_write_bytes": io_write_bytes,
            "table_bytes": tree_bytes(table_dir),
            "jvm_peak_rss_mb": vm_hwm_mb(self.jvm_pid),
            "batch_files": self._batch_files(),
        }

        # what the engine committed, for the reference check
        final = os.path.join(self.run_dir, "final")
        man.read_mor(spark, table_dir).write.parquet(os.path.join(final, "table"))
        if agg_dir is not None:
            man.read_committed(spark, agg_dir).write.parquet(os.path.join(final, "agg"))
        r["final_dir"] = final
        if self.tracer is not None:
            self.tracer.unwrap()
            r["span_cost_s"] = self._span_cost()
        self.marks["final_write"] = time.perf_counter()
        return r

    def _span_cost(self, n: int = 200) -> float:
        """Wall time one span adds: its two job-id probes and bookkeeping."""
        probe = Tracer(self._jobid)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) / n

    def _stream(self) -> None:
        q = (
            self.spark.readStream.schema(cdc.ENVELOPE_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(self.changes_dir)
            .writeStream.foreachBatch(self.on_batch)
            .option("checkpointLocation", os.path.join(self.run_dir, "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()  # raises if the query failed
        finally:
            q.stop()

    def _batch_files(self) -> dict[int, list[str]]:
        """Input files of each batch, from the file source's own log in the
        checkpoint."""
        log = os.path.join(self.run_dir, "checkpoint", "sources", "0")
        by_batch: dict[int, set[str]] = {}
        for name in os.listdir(log):
            if name.startswith("."):
                continue
            with open(os.path.join(log, name)) as fh:
                for line in fh:
                    if line.startswith("{"):
                        e = json.loads(line)
                        path = e["path"]
                        if path.startswith("file:"):
                            path = "/" + path[len("file:"):].lstrip("/")
                        by_batch.setdefault(int(e["batchId"]), set()).add(path)
        return {b: sorted(p) for b, p in by_batch.items()}
