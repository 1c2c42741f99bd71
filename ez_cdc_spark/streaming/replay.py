"""File-source replay rig (SURVEY.md S5, T10).

Streaming tests replay the events table (and derived CDC envelopes) through
``readStream.schema(...).json(dir)`` with ``trigger(availableNow=True)`` —
the deterministic stand-in for the Kafka source (S4): same DataFrame shape,
same watermark/window semantics, no broker dependency. The Kafka wiring
itself is in sources/kafka.py.

Values are written as DECIMAL(12,2) strings so the JSONL round-trip is
exact; timestamps round-trip at micros precision (Spark JSON ISO-8601).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ez_cdc_spark.sources.tables import load_table

_SCRATCH = os.path.join(tempfile.gettempdir(), "ez_cdc_spark_stream")

EVENTS_JSON_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DECIMAL(12,2), props STRING"
)


def _dir_for(sf_dir: str, tag: str) -> str:
    """Dir of a shared replay fixture: keyed on (sf_dir, tag) only, so every
    process reuses one build — publish it through ``materialize_once``."""
    key = hashlib.md5(f"{sf_dir}:{tag}".encode()).hexdigest()[:12]
    return os.path.join(_SCRATCH, f"{tag}-{key}")


def rig_dir(sf_dir: str, name: str) -> str:
    """Scratch dir of rig ``name`` over ``sf_dir`` in THIS process. Rigs
    remove and rebuild their dir on every run, so the path is keyed on the
    pid too: two processes running the same rig (suite shards, a sweep next
    to pytest) never remove each other's state, while a test can find the
    dir a query it ran in-process wrote. Returns the path only; creating or
    clearing it is the caller's job."""
    return _dir_for(sf_dir, f"{name}-{os.getpid()}")


def checkpoint_dir() -> str:
    """Fresh checkpoint per run — checkpoints are single-query-owned."""
    return os.path.join(_SCRATCH, "ckpt", uuid.uuid4().hex)


def wait_drained(q, offset_key: str, target: int, timeout: float) -> None:
    """Block until the live (processing-time) query ``q`` has drained its
    source up to ``target``: its last progress reports source offset
    ``offset_key`` at or past ``target`` AND an empty trigger, which proves
    the stream is caught up rather than mid-batch. Raises TimeoutError
    naming the query and the offset when ``timeout`` seconds pass first."""
    import re
    import time

    pattern = re.compile(rf"['\"]{re.escape(offset_key)}['\"]\s*:\s*(\d+)")
    deadline = time.time() + timeout
    while True:
        p = q.lastProgress
        if p and p["sources"]:
            m = pattern.search(str(p["sources"][0].get("endOffset") or ""))
            if m and int(m.group(1)) >= target and p["numInputRows"] == 0:
                return
        if time.time() >= deadline:
            raise TimeoutError(
                f"query {q.name or q.id} never drained offset "
                f"{offset_key}={target} within {timeout} s"
            )
        time.sleep(0.2)


def materialize_once(path: str, build, marker_name: str = "_SUCCESS") -> str:
    """Cross-PROCESS-safe write-once fixture (r20): the shared replay
    fixtures are keyed on (sf_dir, tag) and were created in place behind
    a marker check — two processes racing the creation (the r19
    oracle-sweep-vs-pytest incident, and any sharded pytest run) could
    interleave writes into the same directory. ``build(tmp)`` produces
    the fixture in a unique sibling dir, and one rename publishes it.
    The publish step — marker check, removal of a marker-less leftover
    of a crashed build, rename — holds an exclusive ``fcntl.flock`` on
    ``<path>.lock``, so no process can remove a fixture another one
    published after its own check; the loser of a race discards its
    build and uses the winner's."""
    import fcntl
    import shutil as _sh

    marker = os.path.join(path, marker_name)
    if os.path.exists(marker):
        return path
    tmp = f"{path}.build-{uuid.uuid4().hex[:8]}"
    _sh.rmtree(tmp, ignore_errors=True)
    build(tmp)
    if not os.path.exists(os.path.join(tmp, marker_name)):
        open(os.path.join(tmp, marker_name), "w").close()
    with open(f"{path}.lock", "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(marker):  # lost the race to a complete winner
            _sh.rmtree(tmp, ignore_errors=True)
        else:
            _sh.rmtree(path, ignore_errors=True)  # crashed build's leftover
            os.rename(tmp, path)
    return path


def _events_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.col("value").cast("decimal(12,2)").alias("value"),
        "props",
    )


def events_jsonl(spark: SparkSession, sf_dir: str, n_files: int = 8) -> str:
    """Materialize events as a JSONL replay dir (idempotent per sf_dir)."""
    path = _dir_for(sf_dir, "events")
    _proj = _events_projection  # driver-side audit alias
    return materialize_once(
        path,
        lambda tmp: _proj(spark, sf_dir)
        .repartition(n_files)
        .write.mode("overwrite")
        .json(tmp),
    )


def events_parquet(spark: SparkSession, sf_dir: str, n_files: int = 8) -> str:
    """Materialize events as a parquet replay dir (idempotent per sf_dir).

    The dir key includes the replay schema so a layout change can never
    silently reuse a stale fixture from an older build.
    """
    path = _dir_for(sf_dir, f"events_pq-{hashlib.md5(EVENTS_JSON_SCHEMA.encode()).hexdigest()[:8]}")
    _proj = _events_projection  # driver-side audit alias
    return materialize_once(
        path,
        lambda tmp: _proj(spark, sf_dir)
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(tmp),
    )


def events_parquet_staged(spark: SparkSession, sf_dir: str) -> str:
    """3-file replay dir for watermark-EVICTION tests (outer stream-stream
    joins): file 0 = all events, files 1-2 = far-future 'flush' sentinel
    rows whose only job is to advance the watermark in two later
    micro-batches. Outer results emit when state evicts, eviction uses the
    PREVIOUS batch's watermark (SPARK-40925), hence two sentinel batches —
    one to raise the watermark past every join window, one to apply it.
    Files get strictly increasing mtimes so maxFilesPerTrigger=1 replays
    them in order.

    Each flush file carries one sentinel PER branch type ('click' with
    user_id=-1 and 'purchase' with user_id=-2, non-matching): Catalyst
    pushes each branch's event_type predicate BELOW its withWatermark, so
    a sentinel advances only the watermark of the branch whose filter it
    passes — and the global watermark is the MIN over both operators. A
    made-up sentinel type would advance neither (pruned at the shared
    scan by the OR of the pushed filters). Consumers exclude user_id < 0
    from the MATERIALIZED batch result (a pre-join filter would itself be
    pushed below the watermark).
    """
    import shutil
    import time as _time

    schema_key = hashlib.md5((EVENTS_JSON_SCHEMA + ":v3").encode()).hexdigest()[:8]
    path = _dir_for(sf_dir, f"events_staged-{schema_key}")
    _proj = _events_projection  # driver-side audit alias

    def _build(path):
        os.makedirs(path, exist_ok=True)
        ev = _proj(spark, sf_dir)

        def flush_df(k: int, hours: int) -> DataFrame:
            m = ev.agg(F.max("ts").alias("mts"))

            def sentinel(off: int, uid: int, etype: str) -> DataFrame:
                return m.select(
                    F.lit(10**9 + 10 * k + off).cast("bigint").alias("event_id"),
                    (F.col("mts") + F.expr(f"INTERVAL {hours} HOURS")).alias("ts"),
                    F.lit(uid).cast("bigint").alias("user_id"),
                    F.lit(etype).alias("event_type"),
                    F.lit("0").cast("decimal(12,2)").alias("value"),
                    F.lit("{}").alias("props"),
                )

            return sentinel(0, -1, "click").unionByName(sentinel(1, -2, "purchase"))

        stages = [ev, flush_df(1, 2), flush_df(2, 4)]
        now = _time.time()
        for i, df in enumerate(stages):
            tmp = os.path.join(path, f"_tmp{i}")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(
                f for f in os.listdir(tmp) if f.startswith("part-") and f.endswith(".parquet")
            )
            dst = os.path.join(path, f"stage-{i}.parquet")
            shutil.move(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp)
            os.utime(dst, (now - 300 + i * 100, now - 300 + i * 100))

    return materialize_once(path, _build)


DOCS_REPLAY_SCHEMA = "doc_id BIGINT, ts TIMESTAMP, lang STRING, text STRING"


def documents_parquet(spark: SparkSession, sf_dir: str, n_files: int = 8) -> str:
    """Materialize documents as a parquet replay dir for streaming-ingest
    curation (t11), with a synthetic arrival timestamp (fixed epoch base +
    doc_id * 100 ms) as the stream-side event time. Idempotent per sf_dir;
    the dir key includes the schema so layout changes never reuse a stale
    fixture."""
    key = hashlib.md5(DOCS_REPLAY_SCHEMA.encode()).hexdigest()[:8]
    path = _dir_for(sf_dir, f"docs_pq-{key}")
    _load = load_table  # driver-side audit alias

    def _build(tmp):
        proj = _load(spark, sf_dir, "documents").select(
            "doc_id",
            F.timestamp_seconds(
                F.lit(1700000000.0) + F.col("doc_id").cast("double") / 10.0
            ).alias("ts"),
            "lang",
            "text",
        )
        proj.repartition(n_files).write.mode("overwrite").parquet(tmp)

    return materialize_once(path, _build)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File streaming source replaying the documents table (t11)."""
    _pin_confs(spark)
    return spark.readStream.schema(DOCS_REPLAY_SCHEMA).parquet(
        documents_parquet(spark, sf_dir)
    )


def _pin_confs(spark: SparkSession) -> None:
    """Streaming queries render event-time strings (date_format over window
    bounds), so an external non-UTC session must be re-pinned HERE — the
    batch-side `_util.t()` pin never runs on a pure-streaming path."""
    from ez_cdc_spark.session import apply_runtime_conf

    apply_runtime_conf(spark)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: file streaming source replaying the events table.

    Parquet-backed: per-event JSON parse was ~4x the whole-query cost at
    sf0.1 and contributes nothing to the streaming semantics under test.
    The JSONL path (events_jsonl) remains for wire-format parity tests and
    the envelope stream (cdc.stream_envelopes), which must exercise the
    reference's JSON envelope decode (R7).
    """
    _pin_confs(spark)
    path = events_parquet(spark, sf_dir)
    return spark.readStream.schema(EVENTS_JSON_SCHEMA).parquet(path)


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """T10: availableNow trigger → memory sink → return the result table.

    Deterministic: processes everything available, then stops.
    """
    spark = stream_df.sparkSession
    _pin_confs(spark)
    # Stateful ops create one state store per shuffle partition and AQE is
    # off in streaming; an external session's default (200) means 200 state
    # stores for a 32-core box. Pin to the actual parallelism — safe here
    # because every run uses a fresh checkpoint.
    prev_shuffle = None
    try:
        prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions", None)
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    except Exception:
        pass  # conf locked in this deployment; proceed with its value
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir())
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # Don't leave the caller's batch shuffle width changed behind its back.
        if prev_shuffle is not None:
            try:
                spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
            except Exception:
                pass
    return spark.table(name)


def events_parquet_split(
    spark: SparkSession, sf_dir: str, n_stages: int = 3
) -> str:
    """n-file replay dir with the REAL events split round-robin by
    event_id across files with strictly increasing mtimes — every
    micro-batch under maxFilesPerTrigger=1 then carries fresh data, so a
    cross-batch stateful operator (t16's Misra-Gries fold) provably
    accumulates state across batches rather than seeing everything in
    batch 0 (events_parquet_staged's layout, whose later files are
    watermark sentinels only). Idempotent per (sf_dir, n_stages)."""
    import shutil
    import time as _time

    key = hashlib.md5(f"{EVENTS_JSON_SCHEMA}:split{n_stages}".encode()).hexdigest()[:8]
    path = _dir_for(sf_dir, f"events_split-{key}")
    _proj = _events_projection  # driver-side audit alias

    def _build(path):
        os.makedirs(path, exist_ok=True)
        ev = _proj(spark, sf_dir)
        now = _time.time()
        for i in range(n_stages):
            df = ev.filter(F.col("event_id") % n_stages == i)
            tmp = os.path.join(path, f"_tmp{i}")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(
                f
                for f in os.listdir(tmp)
                if f.startswith("part-") and f.endswith(".parquet")
            )
            dst = os.path.join(path, f"stage-{i}.parquet")
            shutil.move(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp)
            os.utime(dst, (now - 300 + i * 100, now - 300 + i * 100))

    return materialize_once(path, _build)


def events_parquet_time_split(
    spark: SparkSession, sf_dir: str, n_stages: int = 3
) -> str:
    """n-file replay dir with the real events split into TIME-ORDERED
    terciles (row_number over (ts, event_id) — an exact row split, so
    every event in stage k precedes every event in stage k+1 in the
    (ts, event_id) total order) with strictly increasing mtimes. This is
    the layout ORDER-SENSITIVE cross-batch state (t19's EWMA recurrence)
    needs: events_parquet_split's round-robin intentionally scatters time
    across batches (right for order-FREE folds like t16's counters, wrong
    for a recurrence). Idempotent per (sf_dir, n_stages)."""
    import shutil
    import time as _time

    from pyspark.sql import Window as _W

    key = hashlib.md5(
        f"{EVENTS_JSON_SCHEMA}:timesplit{n_stages}".encode()
    ).hexdigest()[:8]
    path = _dir_for(sf_dir, f"events_timesplit-{key}")
    _proj = _events_projection  # driver-side audit alias

    def _build(path):
        os.makedirs(path, exist_ok=True)
        ev = _proj(spark, sf_dir)
        n = ev.count()
        per = (n + n_stages - 1) // n_stages
        w = _W.orderBy("ts", "event_id")
        staged = ev.withColumn("__stage", ((F.row_number().over(w) - 1) / per).cast("int"))
        now = _time.time()
        for i in range(n_stages):
            df = staged.filter(F.col("__stage") == i).drop("__stage")
            tmp = os.path.join(path, f"_tmp{i}")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(
                f
                for f in os.listdir(tmp)
                if f.startswith("part-") and f.endswith(".parquet")
            )
            dst = os.path.join(path, f"stage-{i}.parquet")
            shutil.move(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp)
            os.utime(dst, (now - 300 + i * 100, now - 300 + i * 100))

    return materialize_once(path, _build)
