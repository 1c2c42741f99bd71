"""Streaming operators T1-T10, S5, S9/T9, U6/T6 (SURVEY.md §2b) checked by
batch-equivalence: each query replays a deterministic file-source stream
with trigger(availableNow=True) and returns the final materialized result;
the oracle is the equivalent batch SQL in DuckDB over the SAME source table
(envelopes are derived from `events` by the fixed mapping in
streaming/cdc.py, duplicated rows included, on both sides).
"""

from __future__ import annotations

import json
import os
import tempfile

import pandas as pd

from pyspark.sql import functions as F

from ez_cdc_spark.queries import register
from ez_cdc_spark.queries._util import t
from ez_cdc_spark.streaming.cdc import materialize, stream_envelopes
from ez_cdc_spark.streaming.replay import (
    EVENTS_JSON_SCHEMA,
    events_parquet,
    events_parquet_staged,
    run_to_memory,
    stream_events,
)

# Shared oracle CTE: the envelope derivation (cdc.py mapping) in DuckDB SQL.
ENV_CTE = """
WITH env AS (
  SELECT CAST(event_id % 200 AS BIGINT) AS id,
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op,
         CAST(event_id AS BIGINT) AS lsn,
         event_type AS first_name,
         CAST(user_id AS VARCHAR) AS last_name,
         CAST(user_id AS VARCHAR) || '@' || event_type AS email
  FROM events
  UNION ALL
  SELECT CAST(event_id % 200 AS BIGINT),
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END,
         CAST(event_id AS BIGINT), event_type, CAST(user_id AS VARCHAR),
         CAST(user_id AS VARCHAR) || '@' || event_type
  FROM events WHERE event_id % 97 = 0
)
"""


@register(
    "s5_stream_replay",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    doc="S5: file streaming source replay ↔ batch agg (batch-equivalence).",
)
def s5_stream_replay(spark, sf_dir):
    ev = stream_events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("value").cast("double").alias("total")
    )
    return run_to_memory(agg, "s5_replay").orderBy("event_type")


@register(
    "s3b_corrupt_records",
    oracle=ENV_CTE
    + """
SELECT op, CAST(COUNT(*) AS BIGINT) AS n FROM env WHERE lsn % 10 <> 0 GROUP BY op
UNION ALL
SELECT '_corrupt' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM env WHERE lsn % 10 = 0
ORDER BY op
""",
    doc="S3/R7 robustness: malformed envelope lines land in _corrupt_record "
    "under PERMISSIVE mode instead of failing the job — the reference's "
    "`if value:` guard generalized to whole-record corruption. Counts per "
    "op + corrupt bucket ↔ the envelope-derivation CTE split on the same "
    "corruption rule.",
)
def s3b_corrupt_records(spark, sf_dir):
    from ez_cdc_spark.streaming.cdc import (
        ENVELOPE_JSON_SCHEMA,
        corrupt_envelopes_jsonl,
    )

    path = corrupt_envelopes_jsonl(spark, sf_dir)
    schema = ENVELOPE_JSON_SCHEMA + ", _corrupt_record STRING"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    lab = (
        F.when(F.col("_corrupt_record").isNotNull(), F.lit("_corrupt"))
        .otherwise(F.col("op"))
    )
    return (
        df.select(lab.alias("op"))
        .groupBy("op")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("op")
    )


@register(
    "t2_tumbling_window",
    oracle="""
SELECT strftime(to_timestamp(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT)),
                '%Y-%m-%d %H:%M:%S') AS wstart,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM events
GROUP BY wstart
ORDER BY wstart
""",
    doc="T2: 10-minute tumbling event-time window aggregate (complete mode).",
)
def t2_tumbling_window(spark, sf_dir):
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "10 minutes"))
        .agg(F.count("*").alias("n"), F.sum("value").cast("double").alias("total"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("wstart"),
            "n",
            "total",
        )
    )
    return run_to_memory(agg, "t2_tumbling").orderBy("wstart")


@register(
    "t3_sliding_window",
    oracle="""
SELECT strftime(to_timestamp(CAST(300 * floor(epoch(ts) / 300) - 300 * k.k AS BIGINT)),
                '%Y-%m-%d %H:%M:%S') AS wstart,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events, (VALUES (0), (1)) k(k)
GROUP BY wstart
ORDER BY wstart
""",
    doc="T3: 10-min/5-min sliding windows (each event in exactly 2 windows).",
)
def t3_sliding_window(spark, sf_dir):
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("wstart"), "n"
        )
    )
    return run_to_memory(agg, "t3_sliding").orderBy("wstart")


@register(
    "t4_session_window",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 14400 THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
    doc="T4: 4-hour-gap session windows per user ↔ gaps-and-islands SQL.",
)
def t4_session_window(spark, sf_dir):
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.session_window("ts", "4 hours"), "user_id")
        .agg(F.count("*").alias("n"), F.sum("value").cast("double").alias("total"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n",
            "total",
        )
    )
    return run_to_memory(agg, "t4_session").orderBy("user_id", "session_start")


@register(
    "t4b_session_window_dynamic",
    oracle="""
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN event_type = 'purchase' THEN 7200 ELSE 14400 END AS gap
  FROM events
), ends AS (
  SELECT user_id, ts, value,
         MAX(epoch(ts) + gap) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM g
), flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN prev_end IS NULL OR epoch(ts) >= prev_end THEN 1 ELSE 0 END AS new_s
  FROM ends
), sess AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
    doc="T4b: DYNAMIC-gap session windows (2h after a purchase, 4h "
    "otherwise — per-event gap expression). Oracle is gaps-and-islands "
    "with a running max of per-event session ends, since each event "
    "extends the session by its own gap.",
)
def t4b_session_window_dynamic(spark, sf_dir):
    ev = stream_events(spark, sf_dir)
    gap = F.when(F.col("event_type") == "purchase", F.lit("2 hours")).otherwise(
        F.lit("4 hours")
    )
    agg = (
        ev.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n"), F.sum("value").cast("double").alias("total"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n",
            "total",
        )
    )
    return run_to_memory(agg, "t4b_session_dyn").orderBy("user_id", "session_start")


@register(
    "t1_watermark_append",
    oracle="""
WITH agg AS (
  SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS ws,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY ws
), wm AS (SELECT epoch(MAX(ts)) - 1800 AS w FROM events)
SELECT strftime(to_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS wstart, n
FROM agg, wm
WHERE ws + 600 < w
ORDER BY wstart
""",
    doc="T1/T7/T8: watermarked tumbling agg in APPEND mode — only windows "
    "closed by the final watermark (max ts − 30 min) emit.",
)
def t1_watermark_append(spark, sf_dir):
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("wstart"), "n"
        )
    )
    return run_to_memory(agg, "t1_append", output_mode="append").orderBy("wstart")


@register(
    "t5_stream_dedup",
    oracle=ENV_CTE
    + """
SELECT op, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT DISTINCT op, lsn FROM env)
GROUP BY op
ORDER BY op
""",
    doc="T5: streaming dedup on lsn collapses at-least-once duplicates "
    "(main.py:52 autocommit semantics) ↔ DISTINCT batch SQL.",
)
def t5_stream_dedup(spark, sf_dir):
    env = stream_envelopes(spark, sf_dir)
    deduped = env.select("op", F.col("source.lsn").alias("lsn")).dropDuplicates(["lsn"])
    agg = deduped.groupBy("op").agg(F.count("*").alias("n"))
    return run_to_memory(agg, "t5_dedup").orderBy("op")


@register(
    "t5b_dedup_within_watermark",
    oracle=ENV_CTE
    + """
SELECT op, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT DISTINCT op, lsn FROM env)
GROUP BY op
ORDER BY op
""",
    doc="T5b: dropDuplicatesWithinWatermark — the BOUNDED-STATE version of "
    "t5. Plain dropDuplicates keeps every key forever (state grows with "
    "the stream); within-watermark dedup evicts a key once the watermark "
    "passes its event time + delay, which is the correct trade at 100 TB "
    "because at-least-once redelivery (Kafka, main.py:52 autocommit) is "
    "temporally close to the original. The fixture's duplicates carry "
    "identical (lsn, ts), so both forms agree with the DISTINCT batch "
    "answer.",
)
def t5b_dedup_within_watermark(spark, sf_dir):
    env = stream_envelopes(spark, sf_dir)
    deduped = (
        env.select(
            "op",
            F.col("source.lsn").alias("lsn"),
            F.timestamp_millis(F.col("ts_ms")).alias("ts"),
        )
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["lsn"])
    )
    agg = deduped.groupBy("op").agg(F.count("*").alias("n"))
    return run_to_memory(agg, "t5b_dedup_wm").orderBy("op")


@register(
    "t9_cdc_upsert",
    oracle=ENV_CTE
    + """
, latest AS (
  SELECT id,
         max_by(op, lsn) AS op,
         CAST(MAX(lsn) AS BIGINT) AS lsn,
         max_by(first_name, lsn) AS first_name,
         max_by(last_name, lsn) AS last_name,
         max_by(email, lsn) AS email
  FROM env GROUP BY id
)
SELECT id, lsn, first_name, last_name, email
FROM latest WHERE op <> 'd'
ORDER BY id
""",
    doc="T9/S9: CDC upsert materialization — snapshot∪stream → foreachBatch "
    "merge by PK, last-writer-wins by lsn, idempotent (the one custom "
    "physical operator, SURVEY §4.2).",
)
def t9_cdc_upsert(spark, sf_dir):
    state = materialize(spark, sf_dir)
    return state.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("lsn").cast("bigint").alias("lsn"),
        F.col("after.first_name").alias("first_name"),
        F.col("after.last_name").alias("last_name"),
        F.col("after.email").alias("email"),
    ).orderBy("id")


@register(
    "t9b_snapshot_stream",
    oracle=ENV_CTE
    + """
, snap AS (
  SELECT CAST(r.range AS BIGINT) AS id, 'r' AS op,
         CAST(r.range - 100000 AS BIGINT) AS lsn,
         'snap' AS first_name,
         CAST(r.range AS VARCHAR) AS last_name,
         CAST(r.range AS VARCHAR) || '@snap' AS email
  FROM range(0, 250) r
), env_all AS (
  SELECT * FROM env UNION ALL SELECT * FROM snap
), latest AS (
  SELECT id,
         max_by(op, lsn) AS op,
         CAST(MAX(lsn) AS BIGINT) AS lsn,
         max_by(first_name, lsn) AS first_name,
         max_by(last_name, lsn) AS last_name,
         max_by(email, lsn) AS email
  FROM env_all GROUP BY id
)
SELECT id, lsn, first_name, last_name, email
FROM latest WHERE op <> 'd'
ORDER BY id
""",
    doc="T9b/R2: snapshot-then-stream bootstrap — an initial consistent "
    "snapshot (one op='r' envelope per existing key, source.snapshot "
    "'true'/'last', LSNs below every stream LSN; Debezium semantics, "
    "reference README.md:331) replays ahead of the change stream through "
    "the SAME foreachBatch upsert merge. Streamed changes overwrite "
    "snapshot rows per key by higher lsn; snapshot-only keys survive with "
    "their snapshot image; keys whose final op is 'd' are dropped.",
)
def t9b_snapshot_stream(spark, sf_dir):
    state = materialize(spark, sf_dir, tag="t9b", snapshot=True)
    return state.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("lsn").cast("bigint").alias("lsn"),
        F.col("after.first_name").alias("first_name"),
        F.col("after.last_name").alias("last_name"),
        F.col("after.email").alias("email"),
    ).orderBy("id")


@register(
    "t8_output_modes",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    doc="T8: update-mode sink semantics — maxFilesPerTrigger forces a "
    "multi-batch replay, the memory sink accumulates each batch's changed "
    "rows, and the per-key LAST emission (counts grow monotonically, so "
    "max) equals the complete-mode/batch answer.",
)
def t8_output_modes(spark, sf_dir):
    path = events_parquet(spark, sf_dir)
    ev = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )
    agg = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    emitted = run_to_memory(agg, "t8_update", output_mode="update")
    return (
        emitted.groupBy("event_type")
        .agg(F.max("n").cast("bigint").alias("n"))
        .orderBy("event_type")
    )


@register(
    "t6_stateful",
    oracle="""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM events
GROUP BY user_id
ORDER BY user_id
""",
    doc="T6/U6: applyInPandasWithState per-key running aggregate ↔ batch groupBy.",
)
def t6_stateful(spark, sf_dir):
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = stream_events(spark, sf_dir).select("user_id", "value")

    def track(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].astype(float).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total": [round(total, 2)]}
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id BIGINT, n_events BIGINT, total DOUBLE",
        stateStructType="n BIGINT, total DOUBLE",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(out, "t6_stateful", output_mode="update").orderBy("user_id")


@register(
    "j10_stream_static",
    oracle="""
SELECT c.c_mktsegment AS mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY mktsegment
ORDER BY mktsegment
""",
    doc="J10: stream-static join — streaming events ⋈ static customer dim "
    "(the dim is broadcast per micro-batch), then windowless agg.",
)
def j10_stream_static(spark, sf_dir):
    ev = stream_events(spark, sf_dir)
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = joined.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count("*").alias("n"), F.sum("value").cast("double").alias("total")
    )
    return run_to_memory(agg, "j10_stream_static").orderBy("mktsegment")


@register(
    "j11_stream_stream",
    oracle="""
SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id,
       CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS gap_s
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
ORDER BY click_id, purchase_id
""",
    doc="J11: stream-stream inner join with watermarks on both sides and a "
    "time-band condition (clicks joined to purchases ≤5 min later, per "
    "user); state bounded by the watermark ↔ batch range join (J7 shape).",
)
def j11_stream_stream(spark, sf_dir):
    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("ts_a"),
        )
        .withWatermark("ts_a", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("user_b"),
            F.col("ts").alias("ts_b"),
        )
        .withWatermark("ts_b", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("user_b"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES")),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_timestamp("ts_b") - F.unix_timestamp("ts_a")).alias("gap_s"),
    )
    return run_to_memory(joined, "j11_stream_stream", output_mode="append").orderBy(
        "click_id", "purchase_id"
    )


@register(
    "j11b_stream_stream_outer",
    oracle="""
SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id,
       CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS gap_s
FROM events a
LEFT JOIN events b
  ON a.user_id = b.user_id AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
WHERE a.event_type = 'click'
ORDER BY click_id, purchase_id
""",
    doc="J11b: LEFT OUTER stream-stream join — unmatched clicks emit NULL "
    "rows only when their join-window state evicts, so the staged replay "
    "appends two far-future watermark-flush batches (eviction uses the "
    "previous batch's watermark). Batch-equivalence: plain SQL left join.",
)
def j11b_stream_stream_outer(spark, sf_dir):
    path = events_parquet_staged(spark, sf_dir)
    base = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    clicks = (
        base.withWatermark("ts", "1 hour")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("ts_a"),
        )
    )
    purchases = (
        base.withWatermark("ts", "1 hour")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("user_b"),
            F.col("ts").alias("ts_b"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("user_b"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES")),
        "leftOuter",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_timestamp("ts_b") - F.unix_timestamp("ts_a"))
        .cast("bigint")
        .alias("gap_s"),
    )
    # sentinel exclusion happens on the MATERIALIZED (batch) table: a
    # pre-join filter would be pushed below the watermark and re-prune the
    # sentinels at the scan (see events_parquet_staged)
    return (
        run_to_memory(joined, "j11b_outer", output_mode="append")
        .filter(F.col("user_id") >= 0)
        .orderBy("click_id", "purchase_id")
    )


@register(
    "t7_late_data",
    oracle="""
SELECT '00:00' AS w, CAST(1 AS BIGINT) AS n
""",
    doc="T7: late-data discard golden — a fixed 3-file replay where a row "
    "arrives after its window's watermark closed. Expected output is a "
    "1-row golden expressed as SQL literals: only window 00:00 closes "
    "(final watermark 01:55 < later window ends) and the late minute-1 "
    "row is dropped, so n stays 1. Spark filters late events with the "
    "previous batch's watermark (SPARK-40925), hence the on-time middle "
    "file between the watermark-advancing row and the late row.",
)
def t7_late_data(spark, sf_dir):
    from ez_cdc_spark.session import apply_runtime_conf

    # this query builds its own readStream (not via stream_events), and
    # date_format resolves its timezone at ANALYSIS time — pin UTC before
    # constructing any expression, not just before starting the query
    apply_runtime_conf(spark)
    src = os.path.join(
        tempfile.gettempdir(), "ez_cdc_spark_stream", "t7_late_fixture"
    )
    if not os.path.exists(os.path.join(src, "c-part-002.jsonl")):
        os.makedirs(src, exist_ok=True)

        def _ev(event_id, ts):
            return {"event_id": event_id, "ts": ts, "user_id": 1,
                    "event_type": "view", "value": 1.0, "props": "{}"}

        files = [
            [_ev(1, "2024-01-01T00:00:30.000Z"), _ev(2, "2024-01-01T02:00:30.000Z")],
            [_ev(3, "2024-01-01T02:05:00.000Z")],
            [_ev(4, "2024-01-01T00:01:00.000Z")],  # late: window closed
        ]
        for i, rows in enumerate(files):
            p = os.path.join(src, f"{'abc'[i]}-part-{i:03d}.jsonl")
            with open(p, "w") as f:
                f.write("\n".join(json.dumps(r) for r in rows) + "\n")
            mt = 1000000000 + 100 * i  # strictly increasing mtime → own batch
            os.utime(p, (mt, mt))
    schema = (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("window.start", "HH:mm").alias("w"), "n")
    )
    return run_to_memory(agg, "t7_late", output_mode="append").orderBy("w")


@register(
    "t11_streaming_curation",
    oracle=r"""
WITH q AS (
  SELECT doc_id, lang, text,
         ROUND(0.4 * least(length(text) / 400.0, 1.0)
               + 0.3 * (len(list_distinct(regexp_split_to_array(text, '\s+')))
                   / CAST(len(regexp_split_to_array(text, '\s+')) AS DOUBLE))
               + 0.3 * (1 - len(list_filter(
                     list_transform(regexp_split_to_array(text, '\s+'), x -> lower(x)),
                     x -> list_contains(['the','a','of','and','to','in','is','it'], x)))
                   / CAST(len(regexp_split_to_array(text, '\s+')) AS DOUBLE)), 6) AS quality
  FROM documents
), good AS (
  SELECT lang, text FROM q WHERE quality >= 0.5
), ded AS (
  SELECT lang, text FROM good
  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY lang) = 1
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS sum_tokens
FROM ded GROUP BY lang ORDER BY lang
""",
    doc="T11: streaming-ingest curation — the x10 batch chain run AS A "
    "STREAM over a replayed documents source: quality filter (map-side, "
    "stateless) -> streaming exact dedup on md5(text) (t5's stateful "
    "dropDuplicates) -> per-lang doc/token aggregate (complete mode). "
    "Which duplicate copy survives is arrival-order dependent, so the "
    "aggregate is deliberately DUPLICATE-CHOICE-INVARIANT: duplicates "
    "share text (hence token count) and lang, making the streaming "
    "result equal to ANY batch dedup choice — that is what makes the "
    "batch SQL an exact oracle for a streaming query. The daily-corpus "
    "shape: new documents curate incrementally as they land, no batch "
    "recompute of the corpus.",
)
def t11_streaming_curation(spark, sf_dir):
    from ez_cdc_spark.functions.text import quality_score
    from ez_cdc_spark.streaming.replay import stream_documents

    docs = stream_documents(spark, sf_dir)
    good = docs.filter(quality_score(F.col("text")) >= 0.5)
    ded = good.select(
        "lang", "text", F.md5(F.col("text")).alias("h")
    ).dropDuplicates(["h"])
    n_tokens = F.size(F.split(F.col("text"), r"\s+")).cast("bigint")
    agg = ded.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(n_tokens).cast("bigint").alias("sum_tokens"),
    )
    return run_to_memory(agg, "t11_curation").orderBy("lang")


from ez_cdc_spark.operators.dedup import simhash_sql_bit_terms as _sh_terms


@register(
    "t12_streaming_neardup_gate",
    oracle=rf"""
WITH tok AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(text, '\s+'),
                        w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT)) AS hs
  FROM documents
), sh AS (
  SELECT doc_id, {_sh_terms(32, "hs")} AS sh FROM tok
)
SELECT CAST(sh % 16 AS BIGINT) AS bucket,
       CAST(COUNT(DISTINCT sh) AS BIGINT) AS n_fingerprints
FROM sh GROUP BY 1 ORDER BY bucket
""",
    doc="T12: streaming near-dup gate — documents stream through a map-side "
    "SimHash fingerprint (same portable 32-bit construction as x2c, pure "
    "column expressions, no UDF) into a stateful dropDuplicates on the "
    "fingerprint, so near-identical re-crawls sharing a fingerprint are "
    "admitted once: the online admission-control shape of fuzzy dedup "
    "(its batch analog is x2c; its exact-hash analog is t5). State is one "
    "row per distinct fingerprint. Which copy survives is arrival-order "
    "dependent, so the output aggregates to a DUPLICATE-CHOICE-INVARIANT "
    "per-bucket fingerprint count (bucket = sh mod 16) — equal to any "
    "batch choice, which is what makes the batch SQL an exact oracle for "
    "the streaming run (t11's invariance argument)."
)
def t12_streaming_neardup_gate(spark, sf_dir):
    from ez_cdc_spark.operators.dedup import simhash_from_hashes, token_hashes
    from ez_cdc_spark.streaming.replay import stream_documents

    docs = stream_documents(spark, sf_dir)
    # two-step projection: materialize token hashes, then fingerprint
    # (HOFs are interpreted and not CSE'd -- simhash_from_hashes docstring)
    sh = docs.select(token_hashes(F.col("text"), portable=True).alias("__th")).select(
        simhash_from_hashes(F.col("__th"), 32).alias("sh")
    )
    ded = sh.dropDuplicates(["sh"])
    agg = ded.groupBy(F.pmod(F.col("sh"), F.lit(16)).cast("bigint").alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n_fingerprints")
    )
    return run_to_memory(agg, "t12_neardup_gate").orderBy("bucket")


@register(
    "t13_incremental_aggregate",
    oracle=ENV_CTE
    + """
, latest AS (
  SELECT id, max_by(op, lsn) AS op, max_by(email, lsn) AS email
  FROM env GROUP BY id
)
SELECT string_split(email, '@')[2] AS domain,
       CAST(COUNT(*) AS BIGINT) AS n_live
FROM latest WHERE op <> 'd'
GROUP BY 1 ORDER BY domain
""",
    doc="T13: incremental aggregate maintenance (materialized view driven "
    "by CDC) — alongside the T9 merge, each micro-batch maintains a "
    "per-domain live-row count by recomputing ONLY the state buckets it "
    "touched and swapping only those bucket dirs of the aggregate table: "
    "per-batch aggregate work tracks batch size, not state size. "
    "Recompute-from-state (not +1/-1 image deltas) keeps the aggregate "
    "self-healing under at-least-once replays. The query returns the "
    "maintained table rolled up across buckets; the oracle recomputes the "
    "same aggregate from the envelope stream's final state.",
)
def t13_incremental_aggregate(spark, sf_dir):
    from ez_cdc_spark.streaming.cdc import materialize_agg

    agg = materialize_agg(spark, sf_dir)
    return (
        agg.groupBy("domain")
        .agg(F.sum("n_live").cast("bigint").alias("n_live"))
        .orderBy("domain")
    )


@register(
    "t16_streaming_heavy_hitters",
    oracle="""
WITH tok AS (
  SELECT event_type || ':' || CAST(user_id % 10 AS VARCHAR) AS token
  FROM events
), cnt AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS est_count FROM tok GROUP BY token
), ranked AS (
  SELECT token, est_count,
         CAST(row_number() OVER (ORDER BY est_count DESC, token) AS BIGINT)
           AS rank
  FROM cnt
)
SELECT rank, token, est_count FROM ranked WHERE rank <= 20 ORDER BY rank
""",
    doc="T16: streaming heavy hitters — A14's Misra-Gries sketch as "
    "CROSS-MICRO-BATCH state: tokens hash into 8 buckets, each bucket's "
    "applyInPandasWithState group folds its token stream into a bounded "
    "counter map (tokens/counts/offset arrays in the state store) that "
    "SURVIVES from batch to batch — the replay splits the real events "
    "round-robin across 3 files (events_parquet_split) so EVERY "
    "micro-batch carries fresh tokens and the final counts exist only if "
    "state genuinely accumulated across batches; the always-on twin of "
    "a14's one-shot partials. State per bucket is O(m) whatever the "
    "stream length — the vocabulary-tracking problem t5's "
    "per-distinct-key dedup state cannot bound. Registered in EXACT MODE "
    "(m = 2^20 > vocab, offset stays 0, counts exact; update-mode "
    "re-emissions collapse by max(est) — counts grow monotonically, so "
    "the last emission IS the max); the compressing regime inherits "
    "a14's property-pinned bounds (same fold as operators/sketches.py).",
)
def t16_streaming_heavy_hitters(spark, sf_dir):
    from pyspark.sql import Window

    final = mg_stream_counts(spark, sf_dir, m=1 << 20, name="t16_heavy_hitters")
    w = Window.orderBy(F.desc("est_count"), F.asc("token"))
    return (
        final.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 20)
        .select("rank", "token", "est_count")
        .orderBy("rank")
    )


def mg_stream_counts(spark, sf_dir, m: int, name: str):
    """T16's cross-batch Misra-Gries stream with the sketch size `m` exposed:
    the registered query runs exact mode (m > vocab); the compressing regime
    (small m) runs the SAME code path — per-bucket counter maps serialized
    into the state store between micro-batches — and is bound-checked in
    tests/test_scale_ops.py (the state serialize/deserialize round-trip is
    the surface the batch-fold property tests can't reach). Returns the
    per-token (token, est_count[, offset]) frame after collapsing update-mode
    re-emissions by max(est). In exact mode (offset stays 0) counts grow
    monotonically so the max IS the final count; in the compressing regime
    the max is the counter's PEAK, which still satisfies both MG bounds:
    c_t = count_t - removed_t <= true_total (no overcount at any t), and
    max_t c_t >= c_final >= true_total - offset_final (the MG undercount
    invariant), so [true - offset, true] brackets the estimate. err_bound
    is the offset at the token's last emission (<= its bucket's final
    offset, so it under-claims, never over-claims, the error)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ez_cdc_spark.streaming.replay import events_parquet_split

    path = events_parquet_split(spark, sf_dir)
    base = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    tokens = base.select(
        F.concat_ws(
            ":", F.col("event_type"), (F.col("user_id") % 10).cast("string")
        ).alias("token")
    )

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            toks, cnts, offset = state.get
            counters = dict(zip(toks, (int(c) for c in cnts)))
        else:
            counters, offset = {}, 0
        for pdf in pdfs:
            for tok, c in pdf["token"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > m:
                sub = sorted(counters.values(), reverse=True)[m]
                offset += sub
                counters = {t: c - sub for t, c in counters.items() if c > sub}
        state.update((list(counters), [counters[t] for t in counters], offset))
        yield pd.DataFrame(
            {
                "token": list(counters),
                "est": list(counters.values()),
                "offset": [offset] * len(counters),
            }
        )

    bucketed = tokens.withColumn(
        "bucket", F.pmod(F.xxhash64("token"), F.lit(8))
    ).groupBy("bucket")
    sketched = bucketed.applyInPandasWithState(
        fold,
        outputStructType="token STRING, est BIGINT, offset BIGINT",
        stateStructType="toks ARRAY<STRING>, cnts ARRAY<BIGINT>, offset BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = run_to_memory(sketched, name, output_mode="update")
    return emitted.groupBy("token").agg(
        F.max("est").cast("bigint").alias("est_count"),
        F.max("offset").cast("bigint").alias("err_bound"),
    )


@register(
    "t18_windowed_topk",
    oracle="""
WITH wc AS (
  SELECT strftime(to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)),
                  '%Y-%m-%d %H:%M:%S') AS wstart,
         event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY wstart, event_type
), rk AS (
  SELECT wstart, event_type, n,
         CAST(ROW_NUMBER() OVER (PARTITION BY wstart
              ORDER BY n DESC, event_type) AS BIGINT) AS rank
  FROM wc
)
SELECT wstart, rank, event_type, n FROM rk WHERE rank <= 3
ORDER BY wstart, rank
""",
    doc="T18: streaming per-window top-k — the trending/leaderboard shape "
    "(top event types per 30-minute window) that composes a streaming "
    "windowed aggregate with a per-window ranking: the STREAM maintains "
    "only the (window, event_type) counts — keyed state bounded by "
    "windows x types, evictable by watermark in append mode — and the "
    "rank runs as a finishing pass over the AGGREGATED rows (per-window "
    "groups of |event_type| rows, never the event stream; the same "
    "aggregate-then-rank split t16 uses for its final top-20). "
    "Deterministic tiebreak (n DESC, event_type). Batch-equivalence "
    "oracle: DuckDB epoch-floor window + ROW_NUMBER mirror.",
)
def t18_windowed_topk(spark, sf_dir):
    from pyspark.sql import Window

    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "30 minutes"), "event_type")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("wstart"),
            "event_type",
            "n",
        )
    )
    counted = run_to_memory(agg, "t18_windowed_topk")
    w = Window.partitionBy("wstart").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("wstart", "rank", "event_type", "n")
        .orderBy("wstart", "rank")
    )


@register(
    "t19_streaming_ewma",
    oracle="""
WITH c AS (
  SELECT user_id, ts, event_id,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(list_reduce(list(cents ORDER BY ts, event_id),
                        (a, b) -> (a + b) // 2) AS BIGINT) AS ewma_cents
FROM c GROUP BY user_id
ORDER BY user_id
""",
    doc="T19: W11's EWMA recurrence as CROSS-MICRO-BATCH streaming state — "
    "the always-on anomaly-baseline maintainer: per-user (s, n) survives "
    "the state store between batches, each batch folds its rows in "
    "(ts, event_id) order into s via the same integer (s+c) >> 1 step. "
    "UNLIKE t16's order-free counters, a recurrence is order-SENSITIVE, "
    "so the replay uses the TIME-ORDERED tercile split "
    "(events_parquet_time_split: every stage-k event precedes every "
    "stage-k+1 event in the (ts, event_id) total order; within-batch "
    "order restored by an explicit sort in the fold) — the layout "
    "contract a Kafka source provides per partition key and the "
    "round-robin split deliberately violates. Update-mode re-emissions "
    "collapse by max_by(ewma, n): n strictly grows, so the last emission "
    "is the final state. Oracle: W11's identical batch SQL — the "
    "cross-batch state path must reproduce the one-shot fold exactly.",
)
def t19_streaming_ewma(spark, sf_dir):
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ez_cdc_spark.streaming.replay import events_parquet_time_split

    path = events_parquet_time_split(spark, sf_dir)
    base = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    rows = base.select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value").cast("decimal(12,2)") * 100).cast("bigint").alias("cents"),
    )

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            s, n = state.get
        else:
            s, n = 0, 0
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for c in pdf["cents"]:
                c = int(c)
                s = c if n == 0 else (s + c) >> 1
                n += 1
        state.update((s, n))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "ewma": [s]})

    folded = rows.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id BIGINT, n BIGINT, ewma BIGINT",
        stateStructType="s BIGINT, n BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = run_to_memory(folded, "t19_ewma", output_mode="update")
    return (
        emitted.groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.max_by("ewma", "n").cast("bigint").alias("ewma_cents"),
        )
        .orderBy("user_id")
    )


@register(
    "t20_streaming_hll",
    oracle="""
WITH h AS (
  SELECT event_type AS grp,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
           AS h32
  FROM events
), b AS (
  SELECT grp, h32 // 33554432 AS bucket, h32 % 33554432 AS w FROM h
), r AS (
  SELECT grp, bucket,
         MAX(CASE WHEN w = 0 THEN 26 ELSE 26 - length(bin(w)) END) AS rho
  FROM b GROUP BY 1, 2
), z AS (
  SELECT grp,
         CAST(SUM(CAST(1 AS BIGINT) << (26 - rho))
              + (128 - COUNT(*)) * 67108864 AS BIGINT) AS z_scaled,
         CAST(COUNT(*) AS BIGINT) AS filled_buckets
  FROM r GROUP BY 1
)
SELECT grp, z_scaled, filled_buckets,
       CAST(7864482317551534080 AS DOUBLE)
         / CAST(z_scaled * 10000000 AS DOUBLE) AS hll_estimate
FROM z ORDER BY grp
""",
    doc="T20: the A16 portable-HLL sketch maintained as STREAMING state — "
    "always-on distinct-user tracking per event type. The insight that "
    "makes this a PLAIN streaming aggregation rather than a custom "
    "stateful op: the HLL merge IS max-per-register, so "
    "groupBy(grp, bucket).max(rho) over the stream carries exactly the "
    "sketch state (bounded at groups x 128 rows — input-size-free, the "
    "mergeable-sketch property a16 proves batch-side), and update-mode "
    "emissions are MONOTONE (rho only grows), so the finishing pass's "
    "max over all emitted updates equals the final register value — no "
    "last-emission bookkeeping needed. The finishing fold (harmonic "
    "denominator + one bigint-cast IEEE division, alpha frozen at "
    "7152705e-7) is a16's formula verbatim, so the streaming path is "
    "anchored by the same hash-green arithmetic; oracle = the identical "
    "batch pipeline over events in DuckDB.",
)
def t20_streaming_hll(spark, sf_dir):
    from ez_cdc_spark.streaming.replay import events_parquet_split

    # 3-file round-robin split under maxFilesPerTrigger=1: register state
    # provably accumulates ACROSS micro-batches (t16's rig; safe here
    # because max-merge is order-free, unlike t19's recurrence)
    path = events_parquet_split(spark, sf_dir)
    ev = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    h32 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    b = ev.select(
        F.col("event_type").alias("grp"), h32.alias("h32")
    ).select(
        "grp",
        F.expr("h32 div 33554432").alias("bucket"),
        (F.col("h32") % F.lit(33554432)).alias("w"),
    )
    regs = b.groupBy("grp", "bucket").agg(
        F.max(
            F.when(F.col("w") == 0, F.lit(26)).otherwise(
                F.lit(26) - F.length(F.bin(F.col("w")))
            )
        ).alias("rho")
    )
    emitted = run_to_memory(regs, "t20_streaming_hll", output_mode="update")
    final_regs = emitted.groupBy("grp", "bucket").agg(F.max("rho").alias("rho"))
    z = final_regs.groupBy("grp").agg(
        (
            F.sum(F.expr("shiftleft(cast(1 as bigint), 26 - rho)"))
            + (F.lit(128) - F.count("*")) * F.lit(67108864)
        )
        .cast("bigint")
        .alias("z_scaled"),
        F.count("*").cast("bigint").alias("filled_buckets"),
    )
    return z.select(
        "grp",
        "z_scaled",
        "filled_buckets",
        (
            F.lit(7864482317551534080).cast("double")
            / (F.col("z_scaled") * F.lit(10000000)).cast("double")
        ).alias("hll_estimate"),
    ).orderBy("grp")


def _t21_oracle_sql(num_hashes: int = 16) -> str:
    from ez_cdc_spark.operators.dedup import _P, perm_coeff_ints

    mins = ",\n         ".join(
        f"CAST(MIN(({a} * hp + {b}) % {_P}) AS BIGINT) AS s{j}"
        for j, (a, b) in ((j, perm_coeff_ints(j)) for j in range(num_hashes))
    )
    slots = ", ".join(str(j) for j in range(num_hashes))
    sigs = ", ".join(f"s{j}" for j in range(num_hashes))
    return rf"""
WITH w AS (
  SELECT lang, regexp_split_to_array(text, '\s+') AS ws FROM documents
), g AS (
  SELECT lang,
         CASE WHEN len(ws) >= 3 THEN list_transform(
                generate_series(1, len(ws) - 2),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
              ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM w
), h AS (
  SELECT lang,
         unnest(list_distinct(list_transform(grams,
             s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)))) AS hv
  FROM g
), hp AS (
  SELECT lang, hv % {_P} AS hp FROM h
), m AS (
  SELECT lang,
         {mins}
  FROM hp GROUP BY lang
)
SELECT lang, CAST(unnest([{slots}]) AS BIGINT) AS slot,
       unnest([{sigs}]) AS sig
FROM m
ORDER BY lang, slot
"""


@register(
    "t21_streaming_minhash",
    oracle=_t21_oracle_sql(),
    doc="T21: per-language MinHash sketch maintained as STREAMING state — "
    "the always-on near-dup/similarity index feeder (x2's signature "
    "construction meets t20's register insight): each arriving document "
    "computes its 16-slot signature MAP-SIDE (x2's portable md5 shingle "
    "hashes + the SAME affine-permutation literals, so the sketch is "
    "bit-compatible with the batch LSH pipeline), explodes to (lang, "
    "slot, sig) rows, and the stream reduces by groupBy(lang, slot)."
    "min(sig) — the MinHash merge IS min-per-slot (union of shingle "
    "sets = elementwise min of signatures), so this is a PLAIN "
    "streaming aggregation with update-mode emissions MONOTONE "
    "downward; the finishing pass's min over all emissions equals the "
    "final register exactly like t20's max-merge. State is bounded at "
    "langs × 16 rows — input-size-free; the exchange carries per-batch "
    "partial mins only. Oracle: min over ALL of a language's shingle "
    "hashes per permutation (associativity of min: min over docs of "
    "per-doc mins == min over the union), identical literals.",
)
def t21_streaming_minhash(spark, sf_dir):
    from ez_cdc_spark.operators.dedup import minhash_signature, shingle_hashes
    from ez_cdc_spark.streaming.replay import DOCS_REPLAY_SCHEMA, documents_parquet

    # two files per micro-batch (4 batches over the 8-file replay): the
    # register state provably accumulates ACROSS batches (t20's rig; safe
    # because min-merge is order-free) while halving the per-batch fixed
    # cost the one-file layout test pays deliberately
    docs = (
        spark.readStream.schema(DOCS_REPLAY_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(documents_parquet(spark, sf_dir))
    )
    # materialize the shingle hash array BEFORE the signature consumes it —
    # inlining the two makes every slot expression re-evaluate the md5
    # shingle array per row (the 16x recompute x53 measured; x2's shape)
    hs = docs.select(
        "lang",
        shingle_hashes(F.split(F.col("text"), r"\s+"), 3, portable=True).alias("hs"),
    )
    sig = minhash_signature(F.col("hs"), num_hashes=16)
    rows = hs.select("lang", F.posexplode(sig).alias("slot", "sig")).filter(
        F.col("sig").isNotNull()
    )
    regs = rows.groupBy("lang", "slot").agg(F.min("sig").alias("sig"))
    emitted = run_to_memory(regs, "t21_streaming_minhash", output_mode="update")
    return (
        emitted.groupBy("lang", "slot")
        .agg(F.min("sig").cast("bigint").alias("sig"))
        .select("lang", F.col("slot").cast("bigint").alias("slot"), "sig")
        .orderBy("lang", "slot")
    )


@register(
    "t22_streaming_cusum",
    oracle="""
WITH c AS (
  SELECT user_id, ts, event_id,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events
), base AS (
  SELECT user_id, ts, event_id, cents,
         FIRST_VALUE(cents) OVER w AS cfirst,
         ROW_NUMBER() OVER w AS rn,
         CAST(SUM(cents) OVER w AS BIGINT) AS csum
  FROM c
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), pre AS (
  SELECT user_id, rn, CAST(csum - rn * cfirst AS BIGINT) AS p FROM base
), run AS (
  SELECT user_id, rn, p,
         CAST(MIN(p) OVER (PARTITION BY user_id ORDER BY rn
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS runmin
  FROM pre
), s AS (
  SELECT user_id, rn,
         CAST(p - least(CAST(0 AS BIGINT), runmin) AS BIGINT) AS cusum
  FROM run
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(arg_max(cusum, rn) AS BIGINT) AS final_cusum_cents,
       CAST(MAX(cusum) AS BIGINT) AS peak_cusum_cents
FROM s GROUP BY user_id
ORDER BY user_id
""",
    doc="T22: W15's CUSUM drift statistic as CROSS-MICRO-BATCH streaming "
    "state — the always-on change-point monitor: per-user (started, "
    "cfirst, s, peak, n) survives the state store; each batch folds its "
    "rows in (ts, event_id) order through the naive clamped recurrence "
    "s = max(0, s + (c − c_first)). Order-SENSITIVE like t19 (the clamp "
    "is nonlinear), so the replay uses the TIME-ORDERED split; n grows "
    "strictly so update-mode re-emissions collapse by max_by(·, n), and "
    "peak is monotone so its max over emissions is the final peak. The "
    "oracle is W15's CLOSED WINDOW FORM (prefix − running-min, arg_max "
    "for the final row) — so the stateful streaming fold and the "
    "windowed batch identity verify EACH OTHER through one hash: the "
    "strongest cross-check in the T-family (t19 ships the same rig but "
    "its oracle is the identical fold re-stated; here the oracle is a "
    "structurally different formulation).",
)
def t22_streaming_cusum(spark, sf_dir):
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ez_cdc_spark.streaming.replay import events_parquet_time_split

    path = events_parquet_time_split(spark, sf_dir)
    rows = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .select(
            "user_id",
            "ts",
            "event_id",
            (F.col("value").cast("decimal(12,2)") * 100).cast("bigint").alias("cents"),
        )
    )

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            started, cfirst, s, peak, n = state.get
        else:
            started, cfirst, s, peak, n = False, 0, 0, 0, 0
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for c in pdf["cents"]:
                c = int(c)
                if not started:
                    started, cfirst = True, c
                s = max(0, s + (c - cfirst))
                peak = max(peak, s)
                n += 1
        state.update((started, cfirst, s, peak, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "cusum": [s], "peak": [peak]}
        )

    folded = rows.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id BIGINT, n BIGINT, cusum BIGINT, peak BIGINT",
        stateStructType="started BOOLEAN, cfirst BIGINT, s BIGINT, peak BIGINT, n BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = run_to_memory(folded, "t22_cusum", output_mode="update")
    return (
        emitted.groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.max_by("cusum", "n").cast("bigint").alias("final_cusum_cents"),
            F.max("peak").cast("bigint").alias("peak_cusum_cents"),
        )
        .orderBy("user_id")
    )


# a16's frozen-alpha HLL numerator (alpha7 * m^2 * 2^26, m = 128) — shared
# literal so the windowed streaming estimate is bit-identical to the batch
# sketch family (see aggregation._HLL_NUM).
_HLL_NUM_T23 = 7152705 * 128 * 128 * (1 << 26)


@register(
    "t23_windowed_streaming_hll",
    oracle=f"""
WITH h AS (
  SELECT CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) AS wsec,
         event_type AS grp,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
           AS h32
  FROM events
), b AS (
  SELECT wsec, grp, h32 // 33554432 AS bucket, h32 % 33554432 AS w FROM h
), r AS (
  SELECT wsec, grp, bucket,
         MAX(CASE WHEN w = 0 THEN 26 ELSE 26 - length(bin(w)) END) AS rho
  FROM b GROUP BY 1, 2, 3
), z AS (
  SELECT wsec, grp,
         CAST(SUM(CAST(1 AS BIGINT) << (26 - rho))
              + (128 - COUNT(*)) * 67108864 AS BIGINT) AS z_scaled,
         CAST(COUNT(*) AS BIGINT) AS filled_buckets
  FROM r GROUP BY 1, 2
)
SELECT strftime(to_timestamp(wsec), '%Y-%m-%d %H:%M:%S') AS wstart,
       grp, z_scaled, filled_buckets,
       CAST({_HLL_NUM_T23} AS DOUBLE) / CAST(z_scaled * 10000000 AS DOUBLE)
         AS hll_estimate
FROM z ORDER BY wstart, grp
""",
    doc="T23: the portable HLL sketch as WATERMARKED WINDOWED streaming "
    "state — distinct users per (30-min window, event type), the "
    "always-on cardinality dashboard: t20 keeps one global register set "
    "per group forever; t23 keys the registers by event-time window and "
    "lets the watermark GARBAGE-COLLECT closed windows — the missing "
    "streaming-state shape (t18 = windowed counts, t20 = global "
    "registers; t23 = windowed registers + eviction). Replay uses the "
    "TIME-ORDERED split so the 1-minute watermark advances monotonically "
    "and drops nothing (batch-equivalence holds) while still evicting "
    "every window that closes mid-replay — the layout test asserts real "
    "state-store eviction happened (final state rows << total windows x "
    "registers) with zero watermark drops. Update-mode emissions stay "
    "monotone per register, so the finishing max collapses re-emissions "
    "exactly as t20; the estimate is a16's frozen-alpha single IEEE "
    "division. State at any instant is bounded by OPEN windows x groups "
    "x 128 rows — input-size-free AND time-bounded.",
)
def t23_windowed_streaming_hll(spark, sf_dir):
    from ez_cdc_spark.streaming.replay import _pin_confs, events_parquet_time_split

    # TimeZoneAwareExpressions (date_format over window bounds) bind the
    # session TZ at ANALYSIS time — i.e. when this DataFrame is BUILT, not
    # when the stream runs — so an external non-UTC session must be pinned
    # BEFORE constructing the expressions (stream_events does this for the
    # s5/t2/t18 family; run_to_memory's pin is too late for rendering).
    _pin_confs(spark)
    path = events_parquet_time_split(spark, sf_dir)
    ev = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    h32 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    b = (
        ev.withWatermark("ts", "1 minute")
        .select("ts", F.col("event_type").alias("grp"), h32.alias("h32"))
        .select(
            "ts",
            "grp",
            F.expr("h32 div 33554432").alias("bucket"),
            (F.col("h32") % F.lit(33554432)).alias("w"),
        )
    )
    regs = b.groupBy(F.window("ts", "30 minutes"), "grp", "bucket").agg(
        F.max(
            F.when(F.col("w") == 0, F.lit(26)).otherwise(
                F.lit(26) - F.length(F.bin(F.col("w")))
            )
        ).alias("rho")
    ).select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("wstart"),
        "grp",
        "bucket",
        "rho",
    )
    emitted = run_to_memory(regs, "t23_windowed_hll", output_mode="update")
    final_regs = emitted.groupBy("wstart", "grp", "bucket").agg(
        F.max("rho").alias("rho")
    )
    z = final_regs.groupBy("wstart", "grp").agg(
        (
            F.sum(F.expr("shiftleft(cast(1 as bigint), 26 - rho)"))
            + (F.lit(128) - F.count("*")) * F.lit(67108864)
        )
        .cast("bigint")
        .alias("z_scaled"),
        F.count("*").cast("bigint").alias("filled_buckets"),
    )
    return z.select(
        "wstart",
        "grp",
        "z_scaled",
        "filled_buckets",
        (
            F.lit(_HLL_NUM_T23).cast("double")
            / (F.col("z_scaled") * F.lit(10000000)).cast("double")
        ).alias("hll_estimate"),
    ).orderBy("wstart", "grp")


@register(
    "t24_streaming_cms",
    oracle="""
WITH j4 AS (
  SELECT unnest(range(4)) AS row_id
), cells AS (
  SELECT j4.row_id,
         CAST('0x' || substr(md5(CAST(j4.row_id AS VARCHAR) || ':' ||
              CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 256 AS bucket
  FROM events, j4
), sketch AS (
  SELECT row_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cells GROUP BY 1, 2
), truth AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt
  FROM events GROUP BY 1
), probes AS (
  SELECT * FROM truth ORDER BY true_cnt DESC, user_id LIMIT 10
), pc AS (
  SELECT p.user_id, p.true_cnt, j4.row_id,
         CAST('0x' || substr(md5(CAST(j4.row_id AS VARCHAR) || ':' ||
              CAST(p.user_id AS VARCHAR)), 1, 8) AS BIGINT) % 256 AS bucket
  FROM probes p, j4
)
SELECT pc.user_id, pc.true_cnt,
       CAST(MIN(s.cnt) AS BIGINT) AS cms_est,
       CAST(MIN(s.cnt) - pc.true_cnt AS BIGINT) AS overestimate
FROM pc JOIN sketch s USING (row_id, bucket)
GROUP BY pc.user_id, pc.true_cnt
ORDER BY pc.true_cnt DESC, pc.user_id
""",
    doc="T24: the A22 count-min sketch maintained as STREAMING state — "
    "always-on per-user event-frequency tracking, a22's streaming "
    "sibling exactly as t20 is a16's. Cell counts are a plain streaming "
    "groupBy(row, bucket).count() whose state is bounded at d*w=1024 "
    "rows whatever the stream length (the mergeable-sketch property, "
    "now as streaming state), the 3-file round-robin replay under "
    "maxFilesPerTrigger=1 proves counts accumulate ACROSS micro-batches "
    "(order-free SUM — t16's rig), and update-mode emissions are "
    "MONOTONE (a cell's count only grows), so the finishing max over "
    "emitted updates equals the final cell value — t20's "
    "monotone-emission argument applied to SUM instead of MAX. The "
    "finishing probe pass is a22's verbatim: true top-10 users "
    "(deterministic tie-break) broadcast-join the 1024-cell sketch, "
    "estimate = MIN over 4 cells, overestimate never negative. Oracle "
    "= the identical batch pipeline in DuckDB, so the streaming path "
    "must converge to the batch sketch bit-for-bit.",
)
def t24_streaming_cms(spark, sf_dir):
    from ez_cdc_spark.streaming.replay import events_parquet_split

    path = events_parquet_split(spark, sf_dir)
    ev = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    width, depth = 256, 4

    def bucket(j, key_col):
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(str(j)), key_col)), 1, 8
            ),
            16,
            10,
        ).cast("long")
        return h % width

    key = F.col("user_id").cast("string")
    cells = ev.select(
        F.posexplode(F.array(*[bucket(j, key) for j in range(depth)])).alias(
            "row_id", "bucket"
        )
    )
    regs = cells.groupBy("row_id", "bucket").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    emitted = run_to_memory(regs, "t24_streaming_cms", output_mode="update")
    sketch = emitted.groupBy("row_id", "bucket").agg(
        F.max("cnt").cast("bigint").alias("cnt")
    )

    ev_b = t(spark, sf_dir, "events")
    truth = ev_b.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("true_cnt")
    )
    probes = truth.orderBy(F.desc("true_cnt"), F.asc("user_id")).limit(10)
    probe_cells = probes.select(
        "user_id",
        "true_cnt",
        F.posexplode(
            F.array(
                *[bucket(j, F.col("user_id").cast("string")) for j in range(depth)]
            )
        ).alias("row_id", "bucket"),
    )
    return (
        probe_cells.join(F.broadcast(sketch), ["row_id", "bucket"])
        .groupBy("user_id", "true_cnt")
        .agg(F.min("cnt").cast("bigint").alias("cms_est"))
        .select(
            "user_id",
            "true_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("true_cnt"))
            .cast("bigint")
            .alias("overestimate"),
        )
        .orderBy(F.desc("true_cnt"), F.asc("user_id"))
    )


@register(
    "t25_streaming_bitmap",
    oracle="""
WITH b AS (
  SELECT event_type AS grp,
         user_id // 32 AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER)) AS word
  FROM events GROUP BY 1, 2
)
SELECT grp,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(bit_count(word)) AS BIGINT) AS n_distinct
FROM b GROUP BY grp ORDER BY grp
""",
    doc="T25: a23's bitmap exact-distinct maintained as STREAMING state — "
    "always-on EXACT distinct-user tracking per event type, closing the "
    "streaming sketch family (t16 MG top-k, t20 HLL estimate, t24 CMS "
    "frequency, t25 exact distinct): per-(grp, word) streaming bit_or "
    "whose state is bounded by the KEY DOMAIN (keyspace/32 words per "
    "group), not the stream length. Update emissions are MONOTONE in "
    "the bit lattice (OR only sets bits, and with 32-bit words the "
    "signed int64 value is nondecreasing too), so the finishing bit_or "
    "over all emitted updates equals the final word exactly — and "
    "unlike t24's SUM the merge is IDEMPOTENT, so replayed or "
    "duplicated emissions cannot corrupt the count (the at-least-once-"
    "safe sketch). 3-file round-robin replay proves words accumulate "
    "across micro-batches; the finishing popcount sum is a23's "
    "verbatim. Oracle = the identical batch pipeline in DuckDB.",
)
def t25_streaming_bitmap(spark, sf_dir):
    from ez_cdc_spark.streaming.replay import events_parquet_split

    path = events_parquet_split(spark, sf_dir)
    ev = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    words = (
        ev.select(
            F.col("event_type").alias("grp"),
            F.expr("user_id div 32").alias("word_idx"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(user_id % 32 as int))"
            ).alias("bit"),
        )
        .groupBy("grp", "word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )
    emitted = run_to_memory(words, "t25_streaming_bitmap", output_mode="update")
    final_words = emitted.groupBy("grp", "word_idx").agg(
        F.bit_or("word").alias("word")
    )
    return (
        final_words.groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum(F.bit_count("word")).cast("bigint").alias("n_distinct"),
        )
        .orderBy("grp")
    )


@register(
    "t26_windowed_streaming_cms",
    oracle="""
WITH j4 AS (
  SELECT unnest(range(4)) AS row_id
), ev AS (
  SELECT CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) AS wsec, user_id
  FROM events
), cells AS (
  SELECT ev.wsec, j4.row_id,
         CAST('0x' || substr(md5(CAST(j4.row_id AS VARCHAR) || ':' ||
              CAST(ev.user_id AS VARCHAR)), 1, 8) AS BIGINT) % 256 AS bucket
  FROM ev, j4
), sketch AS (
  SELECT wsec, row_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cells GROUP BY 1, 2, 3
), truth AS (
  SELECT wsec, user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt
  FROM ev GROUP BY 1, 2
), probes AS (
  SELECT * FROM truth ORDER BY true_cnt DESC, wsec, user_id LIMIT 10
), pc AS (
  SELECT p.wsec, p.user_id, p.true_cnt, j4.row_id,
         CAST('0x' || substr(md5(CAST(j4.row_id AS VARCHAR) || ':' ||
              CAST(p.user_id AS VARCHAR)), 1, 8) AS BIGINT) % 256 AS bucket
  FROM probes p, j4
)
SELECT strftime(to_timestamp(pc.wsec), '%Y-%m-%d %H:%M:%S') AS wstart,
       pc.user_id, pc.true_cnt,
       CAST(MIN(s.cnt) AS BIGINT) AS cms_est,
       CAST(MIN(s.cnt) - pc.true_cnt AS BIGINT) AS overestimate
FROM pc JOIN sketch s USING (wsec, row_id, bucket)
GROUP BY pc.wsec, pc.user_id, pc.true_cnt
ORDER BY pc.true_cnt DESC, wstart, pc.user_id
""",
    doc="T26: the windowed streaming count-min sketch — t24's cells keyed "
    "by 30-min EVENT-TIME window with watermark GC, the one open cell in "
    "the windowed x sketch matrix (t18 = windowed counts, t23 = windowed "
    "HLL registers, t24 = global CMS cells; t26 = windowed CMS cells): "
    "per-window burst-frequency tracking whose closed windows the state "
    "store garbage-collects. State at any instant is bounded by OPEN "
    "windows x d*w = 1024 cells — input-size-free AND time-bounded "
    "(t23's eviction contract applied to a SUM-merged sketch; the "
    "layout test pins real eviction with zero watermark drops on the "
    "time-ordered replay). Update-mode emissions are MONOTONE (a cell's "
    "windowed count only grows), so the finishing max per (window, "
    "cell) equals the final cell value — t24's argument per window. "
    "The finishing probe pass is a22/t24's verbatim, per window: true "
    "top-10 (window, user) pairs (deterministic true_cnt DESC, wstart, "
    "user_id tie-break), estimate = MIN over the pair's 4 cells in ITS "
    "window, overestimate never negative. The PROBE side broadcasts "
    "(40 rows) rather than t24's sketch side — windows x 1024 cells is "
    "corpus-sized here, never assumed broadcastable. Oracle = the "
    "identical epoch-floored batch pipeline in DuckDB.",
)
def t26_windowed_streaming_cms(spark, sf_dir):
    from ez_cdc_spark.streaming.replay import _pin_confs, events_parquet_time_split

    # date_format over window bounds binds the session TZ at ANALYSIS time
    # (SURVEY §7 gotcha 7, found via t23) — pin UTC before building any
    # rendering expression.
    _pin_confs(spark)
    path = events_parquet_time_split(spark, sf_dir)
    ev = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    width, depth = 256, 4

    def bucket(j, key_col):
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(str(j)), key_col)), 1, 8
            ),
            16,
            10,
        ).cast("long")
        return h % width

    key = F.col("user_id").cast("string")
    cells = ev.withWatermark("ts", "1 minute").select(
        "ts",
        F.posexplode(F.array(*[bucket(j, key) for j in range(depth)])).alias(
            "row_id", "bucket"
        ),
    )
    regs = (
        cells.groupBy(F.window("ts", "30 minutes"), "row_id", "bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("wstart"),
            "row_id",
            "bucket",
            "cnt",
        )
    )
    emitted = run_to_memory(regs, "t26_windowed_cms", output_mode="update")
    sketch = emitted.groupBy("wstart", "row_id", "bucket").agg(
        F.max("cnt").cast("bigint").alias("cnt")
    )

    ev_b = t(spark, sf_dir, "events").select(
        F.expr(
            "cast(floor(unix_timestamp(ts) / 1800) * 1800 as bigint)"
        ).alias("wsec"),
        "user_id",
    )
    truth = ev_b.groupBy("wsec", "user_id").agg(
        F.count("*").cast("bigint").alias("true_cnt")
    )
    probes = truth.orderBy(
        F.desc("true_cnt"), F.asc("wsec"), F.asc("user_id")
    ).limit(10)
    probe_cells = probes.select(
        F.date_format(F.timestamp_seconds("wsec"), "yyyy-MM-dd HH:mm:ss").alias(
            "wstart"
        ),
        "user_id",
        "true_cnt",
        F.posexplode(
            F.array(
                *[bucket(j, F.col("user_id").cast("string")) for j in range(depth)]
            )
        ).alias("row_id", "bucket"),
    )
    return (
        sketch.join(F.broadcast(probe_cells), ["wstart", "row_id", "bucket"])
        .groupBy("wstart", "user_id", "true_cnt")
        .agg(F.min("cnt").cast("bigint").alias("cms_est"))
        .select(
            "wstart",
            "user_id",
            "true_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("true_cnt"))
            .cast("bigint")
            .alias("overestimate"),
        )
        .orderBy(F.desc("true_cnt"), F.asc("wstart"), F.asc("user_id"))
    )


@register(
    "t27_windowed_streaming_bitmap",
    oracle="""
WITH b AS (
  SELECT CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) AS wsec,
         event_type AS grp,
         user_id // 32 AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER)) AS word
  FROM events GROUP BY 1, 2, 3
)
SELECT strftime(to_timestamp(wsec), '%Y-%m-%d %H:%M:%S') AS wstart,
       grp,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(bit_count(word)) AS BIGINT) AS n_distinct
FROM b GROUP BY 1, 2 ORDER BY 1, 2
""",
    doc="T27: the windowed streaming EXACT-distinct bitmap — t25's "
    "per-(grp, word) bit_or keyed by 30-min EVENT-TIME window with "
    "watermark GC, extending the windowed x sketch matrix to its exact "
    "column (t18 = windowed counts, t23 = windowed HLL, t26 = windowed "
    "CMS, t27 = windowed exact bitmap): per-window exact distinct-user "
    "counts per event type whose closed windows the state store garbage-"
    "collects. State at any instant is bounded by OPEN windows x groups "
    "x (keyspace/32) words — input-size-free in the stream length AND "
    "time-bounded (t23's eviction contract; the layout test pins real "
    "eviction with zero watermark drops on the time-ordered replay). "
    "Update emissions are MONOTONE in the bit lattice per (window, grp, "
    "word) — OR only sets bits — so the finishing bit_or over all "
    "emitted updates equals the final word exactly, and unlike t26's "
    "SUM-merged cells the merge is IDEMPOTENT: replayed or duplicated "
    "emissions cannot corrupt the count (t25's at-least-once argument, "
    "per window). The finishing popcount rollup is a23's verbatim keyed "
    "by window. 100 TB shape: the streaming exchange carries one row "
    "per (window, grp, word) cell, never per event (map-side partial "
    "bit_or), and the finishing pass aggregates the bounded emission "
    "log, not the corpus. Oracle = the identical epoch-floored batch "
    "pipeline in DuckDB (t25's SQL keyed by wsec).",
)
def t27_windowed_streaming_bitmap(spark, sf_dir):
    from ez_cdc_spark.streaming.replay import _pin_confs, events_parquet_time_split

    # date_format over window bounds binds the session TZ at ANALYSIS time
    # (SURVEY §7 gotcha 7, found via t23) — pin UTC before building any
    # rendering expression.
    _pin_confs(spark)
    path = events_parquet_time_split(spark, sf_dir)
    ev = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    words = (
        ev.withWatermark("ts", "1 minute")
        .select(
            "ts",
            F.col("event_type").alias("grp"),
            F.expr("user_id div 32").alias("word_idx"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(user_id % 32 as int))"
            ).alias("bit"),
        )
        .groupBy(F.window("ts", "30 minutes"), "grp", "word_idx")
        .agg(F.bit_or("bit").alias("word"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("wstart"),
            "grp",
            "word_idx",
            "word",
        )
    )
    emitted = run_to_memory(words, "t27_windowed_bitmap", output_mode="update")
    final_words = emitted.groupBy("wstart", "grp", "word_idx").agg(
        F.bit_or("word").alias("word")
    )
    return (
        final_words.groupBy("wstart", "grp")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum(F.bit_count("word")).cast("bigint").alias("n_distinct"),
        )
        .orderBy("wstart", "grp")
    )


@register(
    "t28_streaming_ohlc",
    oracle="""
WITH b AS (
  SELECT user_id,
         strftime(to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)),
                  '%Y-%m-%d %H:%M:%S') AS wstart,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
         CAST(json_extract(props, '$.k') AS BIGINT) AS vol,
         CAST(epoch_us(ts) AS HUGEINT) * 100000000000000::HUGEINT
           + (CAST(CAST(value AS DECIMAL(12,2)) * 100 AS HUGEINT)
              + 2000000000000::HUGEINT) AS ordv
  FROM events
)
SELECT user_id, wstart,
       CAST(MIN(ordv) % 100000000000000::HUGEINT - 2000000000000 AS BIGINT)
         AS open_cents,
       CAST(MAX(cents) AS BIGINT) AS high_cents,
       CAST(MIN(cents) AS BIGINT) AS low_cents,
       CAST(MAX(ordv) % 100000000000000::HUGEINT - 2000000000000 AS BIGINT)
         AS close_cents,
       CASE WHEN SUM(vol) > 0
            THEN CAST(SUM(cents * vol) AS DOUBLE) / CAST(SUM(vol) AS DOUBLE)
            ELSE NULL END AS vwap_cents,
       CAST(SUM(vol) AS BIGINT) AS volume,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM b
GROUP BY user_id, wstart
ORDER BY user_id, wstart
""",
    doc="T28: streaming OHLC bar builder — w20's EXACT shared expression "
    "(operators/resample.py: the decimal (time, price) arg-extrema "
    "encoding) run over the file-replay event stream in complete mode, "
    "proving the batch bar semantics and the streaming bar semantics are "
    "ONE definition, not two implementations: the oracle is literally "
    "w20's SQL, so hash-green means the stream's per-window running "
    "state (eight scalars: two decimal extrema, two bigint extrema, two "
    "sums, a count — all min/max/SUM-mergeable, so micro-batch merge "
    "order cannot change the result) converged to the batch answer "
    "bar-for-bar, vwap bit included. At 100 TB streaming: state is O(1) "
    "per open (user, bucket) window; production would add a watermark + "
    "append mode for eviction (t23/t26/t27 prove that machinery for "
    "this exact window shape) — complete mode here is what makes the "
    "full-history oracle comparison meaningful.",
)
def t28_streaming_ohlc(spark, sf_dir):
    from ez_cdc_spark.operators.resample import ohlc_bars

    ev = stream_events(spark, sf_dir)
    bars = ohlc_bars(ev, "30 minutes")
    return run_to_memory(bars, "t28_streaming_ohlc").orderBy("user_id", "wstart")


@register(
    "t29_stream_dim_interval_join",
    oracle="""
SELECT b.event_id AS purchase_id, b.user_id,
       strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS dim_ts,
       CAST(CAST(a.value AS DECIMAL(12,2)) * 100 AS BIGINT) AS tier_cents,
       CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS age_s
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'signup' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 30 MINUTE
ORDER BY purchase_id, dim_ts, tier_cents
""",
    doc="T29: stream-stream VALIDITY-INTERVAL enrichment join — the other "
    "state-retention path beside j11's symmetric band self-join: a "
    "slowly-updated dimension stream (signup events carrying a tier "
    "attribute, the versioned-dimension stand-in) enriches a fact stream "
    "(purchases) under a HALF-OPEN validity window — fact.ts ∈ "
    "[dim.ts, dim.ts + 30 min) — with ASYMMETRIC watermarks (dimension "
    "2 h, fact 1 h: the dimension side must be retained longer, and "
    "Spark derives each side's state-eviction bound from the OTHER "
    "side's watermark through the join condition — the retention "
    "machinery j11's equal-delay band never exercises). The half-open "
    "upper bound pins the validity-boundary semantics (a fact exactly "
    "at dim.ts + 30 min matches the NEXT version, never two): '<' vs "
    "'<=' is load-bearing and the oracle mirrors it. Inner join, append "
    "mode, availableNow replay; batch-equivalence vs DuckDB's theta "
    "join; cross-batch state handoff forced in pytest via the "
    "time-split one-file-per-trigger layout (dimension rows arriving "
    "in earlier micro-batches than the facts they enrich). At 100 TB: "
    "state is bounded by watermark x validity width per side — the "
    "dimension state holds one 2-h window of versions, never the "
    "dimension's history.",
)
def t29_stream_dim_interval_join(spark, sf_dir):
    ev = stream_events(spark, sf_dir)
    dim = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("dim_user"),
            F.col("ts").alias("dim_ts_t"),
            (F.col("value").cast("decimal(12,2)") * 100)
            .cast("bigint")
            .alias("tier_cents"),
        )
        .withWatermark("dim_ts_t", "2 hours")
    )
    fact = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("fact_ts"),
        )
        .withWatermark("fact_ts", "1 hour")
    )
    joined = fact.join(
        dim,
        (F.col("user_id") == F.col("dim_user"))
        & (F.col("fact_ts") >= F.col("dim_ts_t"))
        & (F.col("fact_ts") < F.col("dim_ts_t") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "purchase_id",
        "user_id",
        F.date_format("dim_ts_t", "yyyy-MM-dd HH:mm:ss").alias("dim_ts"),
        "tier_cents",
        (F.unix_timestamp("fact_ts") - F.unix_timestamp("dim_ts_t"))
        .cast("bigint")
        .alias("age_s"),
    )
    return run_to_memory(joined, "t29_dim_interval", output_mode="append").orderBy(
        "purchase_id", "dim_ts", "tier_cents"
    )


@register(
    "t30_lakehouse_cdc_merge",
    oracle=ENV_CTE
    + """
, latest AS (
  SELECT id,
         max_by(op, lsn) AS op,
         CAST(MAX(lsn) AS BIGINT) AS lsn,
         max_by(first_name, lsn) AS first_name,
         max_by(last_name, lsn) AS last_name,
         max_by(email, lsn) AS email
  FROM env GROUP BY id
)
SELECT id, lsn, first_name, last_name, email
FROM latest WHERE op <> 'd'
ORDER BY id
""",
    doc="T30: streaming CDC -> lakehouse — the t9 upsert and the s30 "
    "copy-on-write MERGE composed end to end, the full engine analog of "
    "the reference's purpose (README.md:331 op codes, init.sql:10): every "
    "micro-batch of Debezium envelopes lands as ONE merge_cow manifest "
    "commit (streaming/cdc.py:lakehouse_merge_batch) — stats-pruned "
    "rewrite of only the files the batch's keys hit, untouched files "
    "carried by reference, one pointer swap per batch — so a reader "
    "racing the sink sees a complete committed state, never a "
    "half-applied batch (exact isolation where t9's bucket-dir swap "
    "approximates it). Idempotence is the Delta txn-version pattern: the "
    "manifest records (tag, batch_id) and a replayed batch at or below "
    "the committed watermark is skipped without reading data "
    "(kill+restart pinned in tests/test_cdc_goldens.py). Replay is the "
    "lsn-split layout one file per trigger, so the merge provably spans "
    "multiple micro-batches under t9's per-key-order input contract. "
    "Oracle: the same declarative last-event-wins replay that anchors "
    "t9 — hash-green proves the per-batch atomic commits compose to the "
    "identical final state. At 100 TB: per-batch cost tracks the BATCH "
    "(stats-pruned rewrite + O(files) metadata), state lives in plain "
    "parquet + manifests, and every intermediate generation is a free "
    "time-travel snapshot of the table's history.",
)
def t30_lakehouse_cdc_merge(spark, sf_dir):
    from ez_cdc_spark.streaming.cdc import materialize_lakehouse

    state = materialize_lakehouse(spark, sf_dir)
    return state.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("lsn").cast("bigint").alias("lsn"),
        "first_name",
        "last_name",
        "email",
    ).orderBy("id")


@register(
    "t31_lakehouse_schema_drift",
    oracle="""
WITH env AS (
  SELECT CAST(event_id % 200 AS BIGINT) AS id,
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op,
         CAST(event_id AS BIGINT) AS lsn,
         event_type AS first_name,
         CAST(user_id AS VARCHAR) AS last_name,
         CAST(user_id AS VARCHAR) || '@' || event_type AS email,
         CASE WHEN event_id >= (SELECT MAX(event_id) // 2 FROM events)
              THEN 'p-' || CAST(event_id AS VARCHAR) END AS phone
  FROM events
  UNION ALL
  SELECT CAST(event_id % 200 AS BIGINT),
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END,
         CAST(event_id AS BIGINT), event_type, CAST(user_id AS VARCHAR),
         CAST(user_id AS VARCHAR) || '@' || event_type,
         CASE WHEN event_id >= (SELECT MAX(event_id) // 2 FROM events)
              THEN 'p-' || CAST(event_id AS VARCHAR) END
  FROM events WHERE event_id % 97 = 0
), latest AS (
  SELECT id, op, lsn, first_name, last_name, email, phone,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY lsn DESC) AS rn
  FROM env
)
SELECT id, lsn, first_name, last_name, email, phone
FROM latest WHERE rn = 1 AND op <> 'd'
ORDER BY id
""",
    doc="T31: streaming ADDITIVE SCHEMA DRIFT — the Debezium `ALTER TABLE "
    "ADD COLUMN` lifecycle replayed through the live lakehouse sink (r14 "
    "verdict #2): the raw-text envelope stream gains an `after.phone` "
    "field at the mid-replay LSN threshold (pre-drift lines genuinely "
    "LACK the key — the envelope is self-describing per message, "
    "reference README.md:331); the sink detects the widened key set with "
    "one bounded json_object_keys aggregation per micro-batch, commits an "
    "S32 additive evolution (pure metadata, txn watermark carried), then "
    "decodes against the evolved stored schema and merges as usual "
    "(streaming/cdc.py:lakehouse_drift_merge_batch). Keys whose LAST "
    "event precedes the drift read phone as NULL — the NULL-filled "
    "replay the oracle reproduces with a guarded CASE; last-event-wins "
    "is expressed as ROW_NUMBER-over-lsn rather than max_by because the "
    "winning event's phone CAN be NULL and the oracle must take the "
    "winner's value verbatim, not the last non-null. The maintenance "
    "policy runs mid-stream, so partial compaction restages NULL-filled "
    "pre-drift rows under the evolved schema too. Kill+restart across "
    "the evolution boundary is pinned in tests/test_cdc_goldens.py. At "
    "100 TB: detection is map-side and bounded by column count, the "
    "evolution is one O(files) metadata commit with zero data I/O, and "
    "the merge cost still tracks the batch.",
)
def t31_lakehouse_schema_drift(spark, sf_dir):
    from ez_cdc_spark.streaming.cdc import materialize_lakehouse_drift

    state = materialize_lakehouse_drift(spark, sf_dir)
    return state.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("lsn").cast("bigint").alias("lsn"),
        "first_name",
        "last_name",
        "email",
        "phone",
    ).orderBy("id")


@register(
    "t30b_lakehouse_cdc_merge_partitioned",
    oracle=ENV_CTE
    + """
, latest AS (
  SELECT id,
         max_by(op, lsn) AS op,
         CAST(MAX(lsn) AS BIGINT) AS lsn,
         max_by(first_name, lsn) AS first_name,
         max_by(last_name, lsn) AS last_name,
         max_by(email, lsn) AS email
  FROM env GROUP BY id
)
SELECT id, lsn, first_name, last_name, email
FROM latest WHERE op <> 'd'
ORDER BY id
""",
    doc="T30b: streaming CDC -> PARTITIONED lakehouse — t30's sink "
    "composed with the r14 partitioned merge (s30b), end to end in the "
    "live streaming path: the table bootstraps partitioned by first_name "
    "(the event type), each micro-batch lands as one partitioned "
    "merge_cow commit whose rewrite stages back under the Hive layout, "
    "and the manifest keeps partition pruning across the whole replay. "
    "first_name is chosen DELIBERATELY because it changes across a key's "
    "updates: every update that flips a key's event type MOVES the row "
    "between partitions, so the replay exercises the default key-range "
    "pruning regime's correctness under cross-partition moves on every "
    "batch — the old row deleted wherever it lives, the new row landing "
    "in its new partition dir, no duplicates and no strandings, which is "
    "exactly what hash-equality against the same declarative last-event-"
    "wins oracle as t9/t30 certifies. The maintenance policy runs too "
    "(threshold compact + gc inside the single-writer loop), so "
    "partitioned compaction is exercised under streaming commits. At "
    "100 TB: a CDC stream lands into a date/tenant-partitioned lakehouse "
    "table with per-batch cost tracking the batch, and readers get "
    "partition-pruned scans plus atomic snapshots for free.",
)
def t30b_lakehouse_cdc_merge_partitioned(spark, sf_dir):
    from ez_cdc_spark.streaming.cdc import materialize_lakehouse

    state = materialize_lakehouse(
        spark, sf_dir, tag="t30b", partition_col="first_name"
    )
    return state.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("lsn").cast("bigint").alias("lsn"),
        "first_name",
        "last_name",
        "email",
    ).orderBy("id")


@register(
    "t32_change_feed_consumer",
    oracle=ENV_CTE
    + """
, latest AS (
  SELECT id,
         max_by(op, lsn) AS op,
         max_by(first_name, lsn) AS first_name,
         CAST(MAX(lsn) AS BIGINT) AS lsn
  FROM env GROUP BY id
)
SELECT first_name,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(lsn) AS BIGINT) AS sum_lsn
FROM latest WHERE op <> 'd'
GROUP BY first_name
ORDER BY first_name
""",
    doc="T32: STREAMING CHANGE-FEED CONSUMPTION (r15 verdict #2) — the "
    "reference's downstream half (python/cdc_test/main.py:39-47 consumes "
    "the change topic and processes each event) re-expressed as Delta-CDF-"
    "style incremental consumption: t30's lakehouse sink commits each "
    "micro-batch as a merge_cow generation, and INSIDE the same trigger a "
    "downstream consumer folds the interval (cursor, cur]'s net delta "
    "into a per-event-type aggregate table — over s35's churn-sized feed "
    "sides (sources/manifest.py:change_feed_sides), TO-side rows add "
    "(+1, +lsn) and FROM-side rows subtract, which equals the signed sum "
    "over change_feed's labelled rows without building the labels; "
    "groups whose net delta is (0, 0) drop, and groups whose count "
    "returns to zero are tombstoned (streaming/cdc.py:consume_feed_step). "
    "The consumer's cursor is the last upstream generation applied, "
    "recorded transactionally in the DOWNSTREAM manifest's txn watermark, "
    "so consume-and-commit is one atomic step: a crash between producer "
    "and consumer commits replays into 'skip upstream, apply exactly the "
    "missed interval'; after both, both skip — exactly-once from "
    "at-least-once with the offset stored in the sink (the reference "
    "relies on Kafka group offsets + autocommit, main.py:52, which is "
    "at-most/at-least-once across crashes; the engine's is exact). "
    "Maintenance compaction runs mid-stream with retention (no gc while "
    "the consumer lags — the Delta CDF retention contract); pure-"
    "compaction intervals net to zero and commit nothing. The oracle "
    "recomputes the final aggregate declaratively from the same envelope "
    "derivation — hash-green proves every incremental feed application "
    "composed to the exact full recompute. At 100 TB: feed I/O per step "
    "is the interval's churn (manifest metadata excludes the untouched "
    "table), the delta is one churn-sized groupBy, and the downstream "
    "commit rewrites only the group keys the interval touched.",
)
def t32_change_feed_consumer(spark, sf_dir):
    from ez_cdc_spark.streaming.cdc import materialize_feed_consumer

    agg = materialize_feed_consumer(spark, sf_dir)
    return agg.select(
        "first_name",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_lsn").cast("bigint").alias("sum_lsn"),
    ).orderBy("first_name")


@register(
    "t33_lakehouse_mor_sink",
    oracle=ENV_CTE
    + """
, latest AS (
  SELECT id,
         max_by(op, lsn) AS op,
         CAST(MAX(lsn) AS BIGINT) AS lsn,
         max_by(first_name, lsn) AS first_name,
         max_by(last_name, lsn) AS last_name,
         max_by(email, lsn) AS email
  FROM env GROUP BY id
)
SELECT id, lsn, first_name, last_name, email
FROM latest WHERE op <> 'd'
ORDER BY id
""",
    doc="T33: streaming CDC -> lakehouse with MERGE-ON-READ commits — "
    "t30's exact contract (one atomic generation per micro-batch, "
    "(tag, batch_id) txn-watermark idempotence, per-key order across "
    "batches) under the commit shape that survives UNIFORM-key churn: "
    "each batch lands via merge_mor (s36) as new data files plus one "
    "equality-delete file, REWRITING NOTHING — per-batch cost is "
    "O(batch) however the keys spread, where the envelope stream's ids "
    "(event_id % 200, uniform over the key space) are exactly the shape "
    "that saturates merge_cow's touched-file split at "
    "rewrite-the-whole-table (measured: "
    "bench_scaling.py:t30_churn_spread_probe, 64/64 files at 200 spread "
    "keys — the r15 verdict #4 outlier explained and fixed). Read "
    "amplification is bounded in-loop: past max_delete_files the sink "
    "folds the log with compact_mor (resolve once, publish COW, txn "
    "watermark carried) and gc/vacuums superseded generations "
    "(streaming/cdc.py:lakehouse_mor_batch). The final state resolves "
    "through read_mor — the same declarative last-event-wins oracle as "
    "t9/t30, so hash-green proves the sequence-numbered kill rule "
    "composes across micro-batches AND across mid-stream compactions to "
    "the identical replayed state. At 100 TB: hash-keyed upstream PKs "
    "(the common CDC case) stream into the lakehouse at O(batch) per "
    "trigger with bounded read cost — the Iceberg v2 / Delta "
    "deletion-vector production architecture.",
)
def t33_lakehouse_mor_sink(spark, sf_dir):
    from ez_cdc_spark.streaming.cdc import materialize_lakehouse_mor

    state = materialize_lakehouse_mor(spark, sf_dir)
    return state.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("lsn").cast("bigint").alias("lsn"),
        "first_name",
        "last_name",
        "email",
    ).orderBy("id")


@register(
    "t34_mor_feed_consumer",
    oracle=ENV_CTE
    + """
, latest AS (
  SELECT id,
         max_by(op, lsn) AS op,
         max_by(first_name, lsn) AS first_name,
         CAST(MAX(lsn) AS BIGINT) AS lsn
  FROM env GROUP BY id
)
SELECT first_name,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(lsn) AS BIGINT) AS sum_lsn
FROM latest WHERE op <> 'd'
GROUP BY first_name
ORDER BY first_name
""",
    doc="T34: the FULL merge-on-read produce→consume loop — t33's MOR "
    "sink and the t32 incremental consumer composed through s36b's feed "
    "sides (sources/manifest.py:change_feed_mor_sides — the consumer folds "
    "their net delta, not the labelled change_feed_mor), "
    "with the fold cadence set aggressively LOW so compact_mor fires "
    "repeatedly MID-STREAM between the consumer's reads "
    "(streaming/cdc.py:lakehouse_mor_fanout_batch): every few triggers "
    "the consumer's interval (previous merge generation → current merge "
    "generation) CROSSES a fold commit and composes through it via the "
    "r16 chain-split — zero coordination between the consumer and the "
    "maintenance policy, which is the property that makes MOR feeds "
    "operable (a consumer that must outrun compaction is a pager, not a "
    "pipeline). The consumer maintains the same per-event-type aggregate "
    "as t32 (net signed delta; cursor stored transactionally in the "
    "downstream manifest's txn watermark: exactly-once from "
    "at-least-once), and the oracle recomputes the final aggregate "
    "declaratively — hash-green proves every churn-pruned, fold-crossing "
    "incremental application composed to the exact full recompute. At "
    "100 TB: uniform-PK CDC commits at O(batch), downstream consumers "
    "read churn-proportional feeds, and maintenance runs on its own "
    "schedule.",
)
def t34_mor_feed_consumer(spark, sf_dir):
    from ez_cdc_spark.streaming.cdc import materialize_mor_feed_consumer

    agg = materialize_mor_feed_consumer(spark, sf_dir)
    return agg.select(
        "first_name",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_lsn").cast("bigint").alias("sum_lsn"),
    ).orderBy("first_name")


@register(
    "t35_lakehouse_restore_replay",
    oracle=ENV_CTE
    + """
, latest AS (
  SELECT id,
         max_by(op, lsn) AS op,
         CAST(MAX(lsn) AS BIGINT) AS lsn,
         max_by(first_name, lsn) AS first_name,
         max_by(last_name, lsn) AS last_name,
         max_by(email, lsn) AS email
  FROM env GROUP BY id
)
SELECT id, lsn, first_name, last_name, email
FROM latest WHERE op <> 'd'
ORDER BY id
""",
    doc="T35: RESTORE-aware streaming sink — the s37 watermark-rewind "
    "contract exercised through the LIVE t30 sink (r16 candidate #4): a "
    "full lsn-staged replay lands one merge_cow commit per micro-batch, "
    "the table is then RESTOREd to the mid-stream generation batch 1 "
    "committed (one by-reference metadata commit, zero data I/O, which "
    "rewinds the sink's txn watermark together with the data — "
    "sources/manifest.py:restore), and a FRESH-checkpoint replay "
    "redelivers every batch, the at-least-once redelivery a restarted "
    "consumer of a keyed Kafka partition sees (reference "
    "python/cdc_test/main.py:39 resumes from the committed offset; here "
    "the offset IS the rewound watermark). Batches at or below the "
    "rewound watermark skip without reading data; exactly the batches "
    "the rollback un-applied re-apply in order "
    "(streaming/cdc.py:_run_lakehouse_restore, recovery pinned in "
    "tests/test_cdc_goldens.py). Hash-equality against the SAME "
    "full-replay oracle as t30 is the load-bearing check: had restore "
    "carried the NEWER watermark instead of the target's, the second "
    "replay would skip everything and the table would be stuck at the "
    "rolled-back state — silent data loss by bookkeeping. At 100 TB: "
    "rollback cost is O(files) metadata, recovery cost is the un-applied "
    "churn, never the table.",
)
def t35_lakehouse_restore_replay(spark, sf_dir):
    from ez_cdc_spark.streaming.cdc import materialize_lakehouse_restore

    state = materialize_lakehouse_restore(spark, sf_dir)
    return state.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("lsn").cast("bigint").alias("lsn"),
        "first_name",
        "last_name",
        "email",
    ).orderBy("id")


@register(
    "t37_restore_feed_consumer",
    oracle=ENV_CTE
    + """
, latest AS (
  SELECT id,
         max_by(op, lsn) AS op,
         max_by(first_name, lsn) AS first_name,
         CAST(MAX(lsn) AS BIGINT) AS lsn
  FROM env GROUP BY id
)
SELECT first_name,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(lsn) AS BIGINT) AS sum_lsn
FROM latest WHERE op <> 'd'
GROUP BY first_name
ORDER BY first_name
""",
    doc="T37: upstream ROLLBACK PROPAGATED DOWNSTREAM through the change "
    "feed — the third corner of the restore story (t35 = producer "
    "recovery, t32 = steady-state consumption): the t32 produce→consume "
    "loop runs, the upstream table RESTOREs to a mid-stream generation, "
    "and the redelivery fanout resumes. The consumer's cursor is NOT "
    "rewound (downstream was not restored), so its next step consumes "
    "the interval pre-restore-head → restore-commit; the COW feed sides "
    "are STRUCTURAL (file symmetric difference between any two "
    "generations), so that interval's net delta is exactly the "
    "rollback's churn, correctly signed — the rewound rows sit on the "
    "FROM side, the consumer subtracts them, and the aggregate follows "
    "the rollback down and the "
    "re-applied batches back up with no special casing "
    "(streaming/cdc.py:_run_restore_feed_consumer; contrast "
    "change_feed_mor, which refuses restore-crossing intervals because "
    "a churn-proportional chain cannot express a rewind). Hash-equality "
    "against the same declarative recompute as t32 is load-bearing: a "
    "consumer that ignored the rollback double-counts every re-applied "
    "batch; one that mis-signs it goes negative. At 100 TB: the "
    "rollback's feed costs the rolled-back churn, never the table.",
)
def t37_restore_feed_consumer(spark, sf_dir):
    from ez_cdc_spark.streaming.cdc import materialize_restore_feed_consumer

    agg = materialize_restore_feed_consumer(spark, sf_dir)
    return agg.select(
        "first_name",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_lsn").cast("bigint").alias("sum_lsn"),
    ).orderBy("first_name")


@register(
    "t35b_partitioned_restore_replay",
    oracle=ENV_CTE
    + """
, latest AS (
  SELECT id,
         max_by(op, lsn) AS op,
         CAST(MAX(lsn) AS BIGINT) AS lsn,
         max_by(first_name, lsn) AS first_name,
         max_by(last_name, lsn) AS last_name,
         max_by(email, lsn) AS email
  FROM env GROUP BY id
)
SELECT id, lsn, first_name, last_name, email
FROM latest WHERE op <> 'd'
ORDER BY id
""",
    doc="T35b: PARTITIONED restore-replay — t35's rollback-recover loop "
    "under the t30b regime: the table is Hive-partitioned by first_name "
    "(the event type, which CHANGES across a key's updates — every "
    "re-applied batch exercises cross-partition key moves), restore "
    "carries the partition map by reference together with files, stats, "
    "and the rewound txn watermark, and the redelivered batches run "
    "PARTITIONED merge_cow commits on top of the restored layout "
    "(streaming/cdc.py:_run_lakehouse_restore with partition_col). "
    "Hash-equality against the same full-replay oracle as t30/t30b "
    "proves the rewound partitioned replay converges — a dropped "
    "partition-map entry, a mis-restored directory key, or a moved key "
    "stranded by the rollback would all surface as row diffs. At 100 TB: "
    "rollback of a partitioned table is STILL one O(files) metadata "
    "commit — no partition directory is touched — and recovery keeps "
    "partition pruning because the map travels with the manifest, not "
    "the directory tree.",
)
def t35b_partitioned_restore_replay(spark, sf_dir):
    from ez_cdc_spark.streaming.cdc import materialize_lakehouse_restore

    state = materialize_lakehouse_restore(
        spark, sf_dir, tag="t35b", partition_col="first_name"
    )
    return state.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("lsn").cast("bigint").alias("lsn"),
        "first_name",
        "last_name",
        "email",
    ).orderBy("id")


@register(
    "t36_mor_restore_replay",
    oracle=ENV_CTE
    + """
, latest AS (
  SELECT id,
         max_by(op, lsn) AS op,
         CAST(MAX(lsn) AS BIGINT) AS lsn,
         max_by(first_name, lsn) AS first_name,
         max_by(last_name, lsn) AS last_name,
         max_by(email, lsn) AS email
  FROM env GROUP BY id
)
SELECT id, lsn, first_name, last_name, email
FROM latest WHERE op <> 'd'
ORDER BY id
""",
    doc="T36: MERGE-ON-READ restore — t35's restore-replay loop under "
    "s36's commit shape, restoring TO a generation that still carries a "
    "pending equality-delete log (folds disabled so every commit stays "
    "MOR): s37 carries the delete log, per-file sequence numbers, and "
    "mor_key by reference, the rewound watermark makes the fresh "
    "at-least-once redelivery skip the still-applied prefix, and the "
    "re-applied batches land NEW merge_mor commits ON TOP of the carried "
    "log (streaming/cdc.py:_run_lakehouse_mor_restore). Sequence "
    "correctness across the rewind is structural: seqs are generation "
    "numbers, so re-applied deletes (committed strictly above everything "
    "the restore carried) kill every carried version of a changed key — "
    "Iceberg v2's strict-greater rule — while the carried log keeps "
    "killing what it always killed. read_mor of the final state "
    "hash-matches the same uninterrupted-replay oracle as t33 "
    "(recovery pinned in tests/test_cdc_goldens.py). At 100 TB this is "
    "the rollback story for the uniform-churn regime: O(batch) commits, "
    "O(files) metadata rollback, zero data rewritten to roll back OR to "
    "recover — recovery cost is the un-applied churn.",
)
def t36_mor_restore_replay(spark, sf_dir):
    from ez_cdc_spark.streaming.cdc import materialize_lakehouse_mor_restore

    state = materialize_lakehouse_mor_restore(spark, sf_dir)
    return state.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("lsn").cast("bigint").alias("lsn"),
        "first_name",
        "last_name",
        "email",
    ).orderBy("id")


@register(
    "t38_lakehouse_wap_sink",
    oracle="""
WITH env AS (
  SELECT CAST(event_id % 200 AS BIGINT) AS id,
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op,
         CAST(event_id AS BIGINT) AS lsn,
         event_type AS first_name,
         CAST(user_id AS VARCHAR) AS last_name,
         CASE WHEN event_id % 83 = 0
              THEN 'corrupt-' || CAST(event_id AS VARCHAR)
              ELSE CAST(user_id AS VARCHAR) || '@' || event_type END AS email
  FROM events
  UNION ALL
  SELECT CAST(event_id % 200 AS BIGINT),
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END,
         CAST(event_id AS BIGINT), event_type, CAST(user_id AS VARCHAR),
         CASE WHEN event_id % 83 = 0
              THEN 'corrupt-' || CAST(event_id AS VARCHAR)
              ELSE CAST(user_id AS VARCHAR) || '@' || event_type END
  FROM events WHERE event_id % 97 = 0
), kept AS (
  SELECT * FROM env WHERE op = 'd' OR email NOT LIKE 'corrupt-%'
), latest AS (
  SELECT id,
         max_by(op, lsn) AS op,
         CAST(MAX(lsn) AS BIGINT) AS lsn,
         max_by(first_name, lsn) AS first_name,
         max_by(last_name, lsn) AS last_name,
         max_by(email, lsn) AS email
  FROM kept GROUP BY id
)
SELECT id, lsn, first_name, last_name, email
FROM latest WHERE op <> 'd'
ORDER BY id
""",
    doc="T38: write-audit-publish through the LIVE CDC sink — s38 branches "
    "+ s39 constraints composed into t30's streaming merge loop as the "
    "dead-letter-queue ingest pattern "
    "(streaming/cdc.py:lakehouse_wap_batch): every micro-batch CUTS a "
    "staging branch at the committed main head, merges ON the branch "
    "(the s39 gate runs there — the branch is a real constrained table), "
    "and on a constraint refusal splits the RAW events by the same "
    "expressions: poisoned events (a deterministic upstream incident — "
    "after.email = 'corrupt-...' at event_id %% 83 == 0) append to a "
    "quarantine dir for post-fix replay, the clean remainder re-merges. "
    "A STRUCTURAL audit row constraints cannot express (primary-key "
    "uniqueness over the whole branch head) gates publication; then one "
    "atomic fast_forward makes the audited state visible and t30's "
    "maintenance policy runs on main. Raw-event filtering (not post-image "
    "filtering) is the load-bearing choice: it keeps last-event-wins "
    "consistent with the declarative oracle that drops poisoned events "
    "BEFORE replaying — an in-batch corrupt event superseded by a clean "
    "later one is absorbed either way, and a corrupt winner falls back to "
    "the batch's clean prefix exactly as the filtered replay does. "
    "Idempotence is t30's txn watermark, advanced only at PUBLICATION: a "
    "crash after the branch merge but before fast_forward re-processes "
    "from a fresh branch (the leftover branch's commits were never "
    "visible; it is abandoned on entry — crash-windows pinned in "
    "tests/test_cdc_goldens.py, quarantine==corrupt-envelope "
    "reconciliation in the same test). Readers see pre-batch or "
    "audited-batch states only — never unaudited data, the exact gap "
    "t30 leaves open (its merge commits are immediately visible). At "
    "100 TB: the gate costs one batch-sized aggregate, quarantining "
    "costs the poison not the batch, and the audit cost is the WAP "
    "trade — paid while the data is invisible, amortizable to periodic "
    "publishes.",
)
def t38_lakehouse_wap_sink(spark, sf_dir):
    from ez_cdc_spark.streaming.cdc import materialize_lakehouse_wap

    state = materialize_lakehouse_wap(spark, sf_dir)
    return state.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("lsn").cast("bigint").alias("lsn"),
        "first_name",
        "last_name",
        "email",
    ).orderBy("id")


@register(
    "t39_catalog_fanout_sink",
    oracle=ENV_CTE
    + """
, latest AS (
  SELECT id,
         max_by(op, lsn) AS op,
         CAST(MAX(lsn) AS BIGINT) AS lsn,
         max_by(email, lsn) AS email
  FROM env GROUP BY id
),
log_counts AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(MAX(lsn) AS BIGINT) AS max_log_lsn
  FROM (SELECT DISTINCT id, lsn FROM env)
  GROUP BY id
)
SELECT l.id, l.lsn, l.email, c.n_events, c.max_log_lsn
FROM latest l JOIN log_counts c ON l.id = c.id
WHERE l.op <> 'd'
ORDER BY l.id
""",
    doc="T39: multi-sink exactly-once fan-out — ONE CDC stream maintaining "
    "TWO downstream tables (current state by id; keyed event log by lsn), "
    "published atomically per micro-batch through an S41 catalog "
    "transaction (streaming/cdc.py:catalog_fanout_batch): both tables "
    "commit through their own manifest chains first (ordinary merge_cow "
    "commits — the log is keyed by lsn so redelivery is idempotent BY "
    "VALUE for both), then ONE catalog pointer swap names both new "
    "generations with the sink's (tag, batch_id) watermark folded into "
    "the SNAPSHOT itself. The watermark advancing exactly at publication "
    "is the load-bearing design: a crash after either table commit but "
    "before the swap leaves it untouched, the redelivered batch re-runs "
    "both merges (new generations, same content) and re-publishes — so "
    "the cross-table invariant holds at EVERY catalog version: the state "
    "table IS the last-event-wins fold of the log table, which t30's "
    "single-table commits cannot promise about a sibling (pinned "
    "version-by-version plus crash-window and kill/restart in "
    "tests/test_cdc_goldens.py). The log absorbs the stream's duplicate "
    "envelopes by keying on lsn (the oracle counts DISTINCT (id, lsn)). "
    "The result joins the final state with per-id event counts from the "
    "log AT the same catalog version. At 100 TB: N mutually-consistent "
    "downstream tables cost O(tables) metadata per batch with no "
    "distributed transaction — the catalog swap is the only coordination "
    "point.",
)
def t39_catalog_fanout_sink(spark, sf_dir):
    from ez_cdc_spark.streaming.cdc import materialize_catalog_fanout

    state, log = materialize_catalog_fanout(spark, sf_dir)
    counts = log.groupBy("id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max("lsn").cast("bigint").alias("max_log_lsn"),
    )
    return (
        state.join(counts, "id")
        .select(
            F.col("id").cast("bigint").alias("id"),
            F.col("lsn").cast("bigint").alias("lsn"),
            "email",
            "n_events",
            "max_log_lsn",
        )
        .orderBy("id")
    )


@register(
    "t40_catalog_rollback_replay",
    oracle=ENV_CTE
    + """
, latest AS (
  SELECT id,
         max_by(op, lsn) AS op,
         CAST(MAX(lsn) AS BIGINT) AS lsn,
         max_by(email, lsn) AS email
  FROM env GROUP BY id
),
log_counts AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(MAX(lsn) AS BIGINT) AS max_log_lsn
  FROM (SELECT DISTINCT id, lsn FROM env)
  GROUP BY id
)
SELECT l.id, l.lsn, l.email, c.n_events, c.max_log_lsn
FROM latest l JOIN log_counts c ON l.id = c.id
WHERE l.op <> 'd'
ORDER BY l.id
""",
    doc="T40: catalog ROLLBACK through the live fan-out — s37's "
    "restore-replay contract at LAKE scope (sources/catalog.py:rollback + "
    "streaming/cdc.py:_run_catalog_fanout_rollback): the t39 two-table "
    "loop runs to completion, the lake rolls back to the version batch 1 "
    "published — per-table restore commits rewind BOTH table chains (a "
    "catalog-pointer-only rollback would leave redelivered merges "
    "stacking onto un-rolled-back table heads — the composition bug this "
    "op exists to close), then ONE catalog version names the restored "
    "generations carrying the TARGET's txn watermarks (commit() would "
    "carry the current watermarks forward — the silent skip-everything "
    "loss, s37's data-loss-by-bookkeeping multiplied by the fan-out) — "
    "and a fresh-checkpoint at-least-once redelivery replays the stream: "
    "batches at or below the rewound watermark skip without touching "
    "either table, the un-applied batches re-apply through the same "
    "transactional loop, and both tables converge together (the "
    "state == fold(log) invariant holds at every version down the "
    "rewind and back up; pinned in tests/test_cdc_goldens.py along with "
    "the carried-watermark counterfactual and the expired-target "
    "refusal). Hash-green against t39's uninterrupted-replay oracle "
    "proves convergence. At 100 TB: a bad deploy spanning N downstream "
    "tables rolls back in O(tables) metadata commits + one swap; "
    "recovery costs exactly the un-applied churn on each table.",
)
def t40_catalog_rollback_replay(spark, sf_dir):
    from ez_cdc_spark.streaming.cdc import _run_catalog_fanout_rollback

    state, log = _run_catalog_fanout_rollback(spark, sf_dir)
    counts = log.groupBy("id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max("lsn").cast("bigint").alias("max_log_lsn"),
    )
    return (
        state.join(counts, "id")
        .select(
            F.col("id").cast("bigint").alias("id"),
            F.col("lsn").cast("bigint").alias("lsn"),
            "email",
            "n_events",
            "max_log_lsn",
        )
        .orderBy("id")
    )


@register(
    "t41_event_lake_ingest",
    oracle="""
WITH bounds AS (
    SELECT MIN(ts) + INTERVAL 2 DAY AS lo, MIN(ts) + INTERVAL 5 DAY AS hi
    FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
       CAST(MIN(event_id) AS BIGINT) AS min_eid,
       CAST(MAX(event_id) AS BIGINT) AS max_eid
FROM events, bounds
WHERE ts >= lo AND ts <= hi
GROUP BY event_type
ORDER BY event_type
""",
    doc="T41: streaming event-lake ingest — s42's hidden partitioning "
    "made a live append-only sink (streaming/cdc.py:"
    "event_lake_append_batch): each micro-batch of LOGICAL event rows "
    "lands as one append_hidden_partitioned commit where the derived "
    "days(ts) value is recomputed from the manifest's transform spec "
    "INSIDE the writer — the sink can never drift from the table's "
    "partitioning, and a batch arriving with the physical column is "
    "refused (the drift the spec exists to prevent) — with the "
    "(tag, batch_id) watermark folded in (t30's Delta txn replay-skip; "
    "publish_append gained first-class txn support for this). "
    "Maintenance is t30's policy; partial compaction stages back under "
    "the Hive layout and every producer now CARRIES the transform spec "
    "(append/merge/compact-partial/full-compact — dropping it would "
    "make the transform-pruned read refuse the next generation; "
    "pytest-pinned). The query side then aggregates a 3-day window "
    "through read_transform_pruned — time pruning decided from manifest "
    "metadata over a table the stream built file by file. Hash-green "
    "against the same declarative window oracle as s42 proves the "
    "streamed, compacted, era-spanning lake equals the one-shot batch "
    "publish. At 100 TB: the firehose half of an event lake — O(batch) "
    "appends, O(window) query pruning, maintenance tracking small-file "
    "churn (kill+restart and spec-carry pinned in "
    "tests/test_cdc_goldens.py).",
)
def t41_event_lake_ingest(spark, sf_dir):
    import datetime as dt

    from ez_cdc_spark.sources.manifest import read_transform_pruned
    from ez_cdc_spark.streaming.cdc import materialize_event_lake

    ev = t(spark, sf_dir, "events")  # pins UTC before any day renders
    table_dir = materialize_event_lake(spark, sf_dir)
    min_ts = ev.agg(F.min("ts")).first()[0]
    lo = min_ts + dt.timedelta(days=2)
    hi = min_ts + dt.timedelta(days=5)
    return (
        read_transform_pruned(spark, table_dir, lo, hi)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("value").cast("double").alias("total_value"),
            F.min("event_id").cast("bigint").alias("min_eid"),
            F.max("event_id").cast("bigint").alias("max_eid"),
        )
        .orderBy("event_type")
    )


@register(
    "t42_manifest_stream_tail",
    oracle="""
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(c_custkey) AS BIGINT) AS key_sum
FROM customer
GROUP BY c_nationkey ORDER BY c_nationkey
""",
    doc="T42: STREAMING reads of a manifest table through Spark's own "
    "source surface — spark.readStream.format('ezmanifest') "
    "(sources/pyds.py ManifestStreamReader): the offset is the committed "
    "GENERATION NUMBER, each micro-batch plans one input split per file "
    "appended between offsets, and splits read with the same vectorized "
    "arrow path as the batch reader. The append-only guard is "
    "STRUCTURAL, not lineage-label trust: files(start) must be a subset "
    "of files(end) — every old file still present proves every new row "
    "lives in a new file (a pure-insert merge is served correctly; an "
    "update/compact/restore breaks the subset and refuses with Delta's "
    "non-append streaming-source contract). The query publishes gen 1 "
    "with the ENGINE's publish, tails it live, appends gen 2 with "
    "publish_append and gen 3 through df.write.format('ezmanifest') — "
    "the S44 writer feeding the T42 stream, a produce/consume loop that "
    "never leaves Spark's IO surface — and the memory-sink aggregate "
    "must equal the full-table recompute. At 100 TB: a micro-batch "
    "costs O(new files) driver planning (one manifest JSON read) and "
    "executor-parallel reads of exactly the new bytes — no listing, no "
    "re-scan of old data.",
)
def t42_manifest_stream_tail(spark, sf_dir):
    import re
    import shutil
    import time

    from ez_cdc_spark.sources.manifest import publish, publish_append
    from ez_cdc_spark.sources.pyds import register_ezmanifest
    from ez_cdc_spark.streaming.replay import checkpoint_dir

    register_ezmanifest(spark)
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    table_dir = tempfile.mkdtemp(prefix="t42tail-")
    shutil.rmtree(table_dir, ignore_errors=True)
    key = F.col("c_custkey")
    publish(c.filter(key % 3 == 0), table_dir, generation=1)

    stream = spark.readStream.format("ezmanifest").option("path", table_dir).load()
    agg = stream.groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c_custkey").cast("bigint").alias("key_sum"),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t42_tail")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir())
        .trigger(processingTime="0 seconds")
        .start()
    )

    def drained(gen, timeout=240):
        deadline = time.time() + timeout
        while time.time() < deadline:
            p = q.lastProgress
            if p and p["sources"]:
                eo = p["sources"][0].get("endOffset")
                m = re.search(r"['\"]gen['\"]\s*:\s*(\d+)", str(eo or ""))
                if m and int(m.group(1)) >= gen and p["numInputRows"] == 0:
                    return True
            time.sleep(0.2)
        raise TimeoutError(f"stream never drained generation {gen}")

    try:
        drained(1)
        publish_append(c.filter(key % 3 == 1), table_dir, generation=2)
        drained(2)
        # gen 3 arrives through the S44 writer: Spark IO end to end
        (
            c.filter(key % 3 == 2)
            .write.format("ezmanifest")
            .option("path", table_dir)
            .mode("append")
            .save()
        )
        drained(3)
    finally:
        q.stop()
        q.awaitTermination()
    return spark.table("t42_tail").orderBy("c_nationkey")


@register(
    "t43_manifest_stream_pipeline",
    oracle="""
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(c_custkey) AS BIGINT) AS key_sum
FROM customer
GROUP BY c_nationkey ORDER BY c_nationkey
""",
    doc="T43: an EXACTLY-ONCE table-to-table streaming pipeline that never "
    "leaves Spark's IO surface — the T42 stream tail feeding the S44 "
    "writer: spark.readStream.format('ezmanifest') tails the upstream "
    "table's appends (generation offsets, one split per new file) and "
    "foreachBatch lands each micro-batch on the downstream table with "
    "df.write.format('ezmanifest') under txnTag/txnVersion=epoch_id — "
    "the Delta idempotent-writes contract turns any at-least-once "
    "redelivery into a committed no-op. The query proves the replay "
    "path explicitly: after the stream drains, it re-applies the last "
    "batch VERBATIM under its recorded version and pins the downstream "
    "generation unchanged; the final aggregate reads the downstream "
    "through the format reader and must equal the full upstream "
    "recompute. At 100 TB this is the engine's CDC relay shape with "
    "zero engine imports on either side: O(new files) planning per "
    "batch upstream, O(batch) parquet + one pointer CAS downstream, "
    "watermark folded into the downstream manifest's multi-writer txns "
    "map.",
)
def t43_manifest_stream_pipeline(spark, sf_dir):
    import re
    import shutil
    import time

    from ez_cdc_spark.sources.manifest import (
        publish,
        publish_append,
        read_manifest,
    )
    from ez_cdc_spark.sources.pyds import register_ezmanifest
    from ez_cdc_spark.streaming.replay import checkpoint_dir

    register_ezmanifest(spark)
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    up = tempfile.mkdtemp(prefix="t43up-")
    down = tempfile.mkdtemp(prefix="t43down-")
    shutil.rmtree(up, ignore_errors=True)
    shutil.rmtree(down, ignore_errors=True)
    key = F.col("c_custkey")
    publish(c.filter(key % 3 == 0), up, generation=1)

    replays = []  # (batch_df_recipe, version) of the LAST batch, for the proof

    def relay(batch_df, epoch_id):
        rows = batch_df.persist()
        try:  # r20 hygiene: release even when the relay write raises
            if rows.count():
                (
                    rows.write.format("ezmanifest")
                    .option("path", down)
                    .option("txnTag", "t43-relay")
                    .option("txnVersion", str(epoch_id))
                    .mode("append")
                    .save()
                )
                replays.append(epoch_id)
        finally:
            rows.unpersist()

    stream = spark.readStream.format("ezmanifest").option("path", up).load()
    q = (
        stream.writeStream.foreachBatch(relay)
        .option("checkpointLocation", checkpoint_dir())
        .trigger(processingTime="0 seconds")
        .start()
    )

    def drained(gen, timeout=240):
        deadline = time.time() + timeout
        while time.time() < deadline:
            p = q.lastProgress
            if p and p["sources"]:
                eo = p["sources"][0].get("endOffset")
                m = re.search(r"['\"]gen['\"]\s*:\s*(\d+)", str(eo or ""))
                if m and int(m.group(1)) >= gen and p["numInputRows"] == 0:
                    return True
            time.sleep(0.2)
        raise TimeoutError(f"pipeline never drained generation {gen}")

    try:
        drained(1)
        publish_append(c.filter(key % 3 == 1), up, generation=2)
        drained(2)
        publish_append(c.filter(key % 3 == 2), up, generation=3)
        drained(3)
    finally:
        q.stop()
        q.awaitTermination()

    # the exactly-once proof: redeliver the last batch VERBATIM under its
    # recorded version — a committed no-op, downstream generation pinned
    g_before = read_manifest(down)["generation"]
    (
        c.filter(key % 3 == 2)
        .write.format("ezmanifest")
        .option("path", down)
        .option("txnTag", "t43-relay")
        .option("txnVersion", str(replays[-1]))
        .mode("append")
        .save()
    )
    if read_manifest(down)["generation"] != g_before:
        raise AssertionError("replayed batch must be a committed no-op")

    lake = spark.read.format("ezmanifest").option("path", down).load()
    return (
        lake.groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("c_custkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "t44_manifest_native_stream_sink",
    oracle="""
WITH gen AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, 3000))
SELECT CASE CAST(i % 3 AS INT) WHEN 0 THEN 'c' WHEN 1 THEN 'u' ELSE 'd' END AS op,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(i) AS BIGINT) AS lsn_sum,
       CAST(SUM((i * 7) % 1000) AS BIGINT) AS value_sum
FROM gen GROUP BY 1 ORDER BY op
""",
    doc="T44: the NATIVE streaming sink — df.writeStream.format("
    "'ezmanifest') (sources/pyds.py ManifestStreamWriter, a "
    "DataSourceStreamArrowWriter), completing the Spark-IO matrix "
    "(S43/S44 batch read/write, T42 stream read): one append-shaped "
    "generation commit per micro-batch, exactly-once via txn = {tag, "
    "version: epoch_id} folded into the multi-writer map (a redelivered "
    "epoch at-or-below the recorded watermark is a committed no-op; "
    "parent state re-resolves PER EPOCH so the sink interleaves with "
    "other writers under the same CAS). Vacuum safety is STRUCTURAL: "
    "epochs stage into the sink's stable data/stream-<tag> dir under a "
    "lease file whose mtime refreshes each commit — vacuum treats a "
    "leased dir like an S33 reservation (vacuum(0.0) mid-epoch safe, "
    "pinned), and gc ages dead leases out with the crashed-writer "
    "liveness probe. The query streams the deterministic envelopegen "
    "source (3000 rows, 3 epochs) into a table and the DuckDB oracle "
    "REGENERATES the same rows from the pure row formula — hash-green "
    "proves every row crossed the native sink exactly once. At 100 TB: "
    "per-epoch cost is O(batch) parquet + one O(files) manifest + one "
    "pointer CAS; generation numbers stay dense (no per-epoch "
    "reservation debris — measured and redesigned from the G-reservation "
    "draft, which leaked 2 reservations/epoch because Spark constructs "
    "stream writers per epoch).",
)
def t44_manifest_native_stream_sink(spark, sf_dir):
    import re
    import shutil
    import time

    from ez_cdc_spark.sources.pyds import register_envelopegen, register_ezmanifest
    from ez_cdc_spark.streaming.replay import checkpoint_dir

    register_envelopegen(spark)
    register_ezmanifest(spark)
    table_dir = tempfile.mkdtemp(prefix="t44sink-")
    shutil.rmtree(table_dir, ignore_errors=True)

    src = (
        spark.readStream.format("envelopegen")
        .option("n", 3000)
        .option("batch_size", 1000)
        .load()
    )
    q = (
        src.writeStream.format("ezmanifest")
        .option("path", table_dir)
        .option("txnTag", "t44-sink")
        .option("checkpointLocation", checkpoint_dir())
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 240
    try:
        while time.time() < deadline:
            p = q.lastProgress
            if p and p["sources"]:
                eo = str(p["sources"][0].get("endOffset") or "")
                m = re.search(r"['\"]i['\"]\s*:\s*(\d+)", eo)
                if m and int(m.group(1)) >= 3000 and p["numInputRows"] == 0:
                    break
            time.sleep(0.2)
        else:
            raise TimeoutError("native sink never drained the source")
    finally:
        q.stop()
        q.awaitTermination()

    lake = spark.read.format("ezmanifest").option("path", table_dir).load()
    return (
        lake.groupBy("op")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("lsn").cast("bigint").alias("lsn_sum"),
            F.sum("value").cast("bigint").alias("value_sum"),
        )
        .orderBy("op")
    )


@register(
    "t45_manifest_stream_cascade",
    oracle="""
WITH gen AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, 3000))
SELECT CASE CAST(i % 3 AS INT) WHEN 0 THEN 'c' WHEN 1 THEN 'u' ELSE 'd' END AS op,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(i) AS BIGINT) AS lsn_sum,
       CAST(SUM((i * 7) % 1000) AS BIGINT) AS value_sum
FROM gen GROUP BY 1 ORDER BY op
""",
    doc="T45: the full Spark-IO CDC cascade, LIVE — two concurrent "
    "streaming queries chained purely through format() calls with zero "
    "foreachBatch and zero engine imports: envelopegen → "
    "writeStream.format('ezmanifest') lands table A one exactly-once "
    "epoch commit at a time (T44), while a SECOND live query "
    "readStream.format('ezmanifest') TAILS A's generations as they "
    "appear (T42 offsets) and relays them into table B through another "
    "native sink — the downstream stream discovers each upstream commit "
    "from the pointer alone, while both sinks' watermarks ride their "
    "own tables' txns maps. The final aggregate over B must equal the "
    "row formula regenerated by the oracle: hash-green proves every row "
    "crossed TWO exactly-once hops live. This is the reference's whole "
    "pipeline shape (capture → topic → consumer → sink, "
    "docker-compose.yml:1-72) rebuilt as two Spark streaming queries "
    "over one table format. At 100 TB: each hop is O(new files) "
    "planning + O(batch) data per trigger, and hops compose without "
    "coordination because the table IS the queue.",
)
def t45_manifest_stream_cascade(spark, sf_dir):
    import os
    import re
    import shutil
    import time

    from ez_cdc_spark.sources.pyds import register_envelopegen, register_ezmanifest
    from ez_cdc_spark.streaming.replay import checkpoint_dir

    register_envelopegen(spark)
    register_ezmanifest(spark)
    a_dir = tempfile.mkdtemp(prefix="t45a-")
    b_dir = tempfile.mkdtemp(prefix="t45b-")
    shutil.rmtree(a_dir, ignore_errors=True)
    shutil.rmtree(b_dir, ignore_errors=True)

    q1 = (
        spark.readStream.format("envelopegen")
        .option("n", 3000)
        .option("batch_size", 1000)
        .load()
        .writeStream.format("ezmanifest")
        .option("path", a_dir)
        .option("txnTag", "t45-hop1")
        .option("checkpointLocation", checkpoint_dir())
        .trigger(processingTime="0 seconds")
        .start()
    )
    # the relay can only resolve A's schema once A exists: wait for the
    # first upstream commit, then attach the tail mid-flight
    deadline = time.time() + 300
    while not os.path.exists(os.path.join(a_dir, "_MANIFEST")):
        if time.time() > deadline:
            q1.stop()
            raise TimeoutError("hop 1 never committed its first epoch")
        time.sleep(0.2)
    q2 = (
        spark.readStream.format("ezmanifest")
        .option("path", a_dir)
        .load()
        .writeStream.format("ezmanifest")
        .option("path", b_dir)
        .option("txnTag", "t45-hop2")
        .option("checkpointLocation", checkpoint_dir())
        .trigger(processingTime="0 seconds")
        .start()
    )

    def _drained(q, pattern, target):
        p = q.lastProgress
        if not p or not p["sources"]:
            return False
        m = re.search(pattern, str(p["sources"][0].get("endOffset") or ""))
        return bool(m) and int(m.group(1)) >= target and p["numInputRows"] == 0

    try:
        while time.time() < deadline:
            if _drained(q1, r"['\"]i['\"]\s*:\s*(\d+)", 3000):
                break
            time.sleep(0.2)
        else:
            raise TimeoutError("hop 1 never drained")
        from ez_cdc_spark.sources.manifest import current_generation

        a_head = current_generation(a_dir)
        while time.time() < deadline:
            if _drained(q2, r"['\"]gen['\"]\s*:\s*(\d+)", a_head):
                break
            time.sleep(0.2)
        else:
            raise TimeoutError("hop 2 never caught up with the upstream head")
    finally:
        q1.stop()
        q2.stop()
        q1.awaitTermination()
        q2.awaitTermination()

    lake = spark.read.format("ezmanifest").option("path", b_dir).load()
    return (
        lake.groupBy("op")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("lsn").cast("bigint").alias("lsn_sum"),
            F.sum("value").cast("bigint").alias("value_sum"),
        )
        .orderBy("op")
    )


@register(
    "t46_manifest_change_feed_stream",
    oracle=ENV_CTE
    + """
, per AS (
  SELECT CAST(CEIL(COUNT(*) / 4.0) AS BIGINT) AS per FROM env
), staged AS (
  SELECT e.*,
         CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY e.lsn) - 1) / p.per)
              AS BIGINT) AS stage
  FROM env e, per p
), batchres AS (
  SELECT stage, id,
         max_by(op, lsn) AS op,
         CAST(MAX(lsn) AS BIGINT) AS lsn,
         max_by(first_name, lsn) AS first_name,
         max_by(last_name, lsn) AS last_name,
         max_by(email, lsn) AS email
  FROM staged GROUP BY stage, id
), pre AS (
  SELECT b.stage AS stage, s.id,
         max_by(s.op, s.lsn) AS op,
         CAST(MAX(s.lsn) AS BIGINT) AS lsn,
         max_by(s.first_name, s.lsn) AS first_name,
         max_by(s.last_name, s.lsn) AS last_name,
         max_by(s.email, s.lsn) AS email
  FROM staged s JOIN (SELECT DISTINCT stage FROM staged) b ON s.stage < b.stage
  GROUP BY b.stage, s.id
), prelive AS (
  SELECT * FROM pre WHERE op <> 'd'
), feed AS (
  SELECT 'update_preimage' AS _change_type,
         p.id, p.lsn, p.first_name, p.last_name, p.email
  FROM batchres b JOIN prelive p ON p.stage = b.stage AND p.id = b.id
  WHERE b.op <> 'd'
  UNION ALL
  SELECT 'update_postimage', b.id, b.lsn, b.first_name, b.last_name, b.email
  FROM batchres b JOIN prelive p ON p.stage = b.stage AND p.id = b.id
  WHERE b.op <> 'd'
  UNION ALL
  SELECT 'insert', b.id, b.lsn, b.first_name, b.last_name, b.email
  FROM batchres b LEFT JOIN prelive p ON p.stage = b.stage AND p.id = b.id
  WHERE b.op <> 'd' AND p.id IS NULL
  UNION ALL
  SELECT 'delete', p.id, p.lsn, p.first_name, p.last_name, p.email
  FROM batchres b JOIN prelive p ON p.stage = b.stage AND p.id = b.id
  WHERE b.op = 'd'
)
SELECT _change_type, id, lsn, first_name, last_name, email
FROM feed
ORDER BY id, lsn, _change_type
""",
    doc="T46: the NATIVE row-level change-feed STREAM (r16 verdict #2; "
    "Delta readChangeFeed analog) — readStream.format('ezmanifest')"
    ".option('changeFeed','true') emits _change_type rows per commit "
    "interval. Producer: t30's sink loop with record_change_feed=True — "
    "each micro-batch merge MATERIALIZES its churn-sized feed as "
    "committed change files (the Delta CDF _change_data design; "
    "sources/manifest.py:merge_cow computes pre/post images from the "
    "touched files it already reads, so recording costs the churn, never "
    "the table). Consumer: the stream's offsets are generation numbers; "
    "each trigger traces the commit chain through lineage parents and "
    "plans the interval's change files (appends/genesis as constant "
    "'insert' splits; compact/fold/evolve contribute NOTHING — the CDF "
    "maintenance-invisibility contract; merges without recorded feeds, "
    "restores, and MOR commits REFUSE loudly with the owning surface "
    "named — sources/pyds.py:ManifestChangeFeedStreamReader). The oracle "
    "replays the same lsn-staged batches declaratively: per stage, the "
    "last-event-wins batch resolution against the fold of all earlier "
    "stages classifies each key into insert / update pre+post pair / "
    "delete — hash-green proves the materialized per-commit feeds "
    "concatenate to the exact declarative replay, pre-images included. "
    "Restart-mid-feed continuation, maintenance invisibility, and the "
    "refusal classes are pinned in tests/test_pyds_manifest.py. This "
    "closes the reference's consume loop (main.py:39-47) natively: a "
    "downstream job tails row-level change events off the TABLE with "
    "exactly-once offsets in its own checkpoint, no broker required. At "
    "100 TB: per trigger, O(chain) manifest reads plan the batch and "
    "executors scan only the interval's churn.",
)
def t46_manifest_change_feed_stream(spark, sf_dir):
    from ez_cdc_spark.streaming.cdc import materialize_change_feed_stream

    feed = materialize_change_feed_stream(spark, sf_dir)
    return feed.select(
        "_change_type",
        F.col("id").cast("bigint").alias("id"),
        F.col("lsn").cast("bigint").alias("lsn"),
        "first_name",
        "last_name",
        "email",
    ).orderBy("id", "lsn", "_change_type")


@register(
    "t47_mor_change_feed_stream",
    oracle=ENV_CTE
    + """
, per AS (
  SELECT CAST(CEIL(COUNT(*) / 4.0) AS BIGINT) AS per FROM env
), staged AS (
  SELECT e.*,
         CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY e.lsn) - 1) / p.per)
              AS BIGINT) AS stage
  FROM env e, per p
), batchres AS (
  SELECT stage, id,
         max_by(op, lsn) AS op,
         CAST(MAX(lsn) AS BIGINT) AS lsn,
         max_by(first_name, lsn) AS first_name,
         max_by(last_name, lsn) AS last_name,
         max_by(email, lsn) AS email
  FROM staged GROUP BY stage, id
), pre AS (
  SELECT b.stage AS stage, s.id,
         max_by(s.op, s.lsn) AS op,
         CAST(MAX(s.lsn) AS BIGINT) AS lsn,
         max_by(s.first_name, s.lsn) AS first_name,
         max_by(s.last_name, s.lsn) AS last_name,
         max_by(s.email, s.lsn) AS email
  FROM staged s JOIN (SELECT DISTINCT stage FROM staged) b ON s.stage < b.stage
  GROUP BY b.stage, s.id
), prelive AS (
  SELECT * FROM pre WHERE op <> 'd'
), feed AS (
  SELECT 'update_preimage' AS _change_type,
         p.id, p.lsn, p.first_name, p.last_name, p.email
  FROM batchres b JOIN prelive p ON p.stage = b.stage AND p.id = b.id
  WHERE b.op <> 'd'
  UNION ALL
  SELECT 'update_postimage', b.id, b.lsn, b.first_name, b.last_name, b.email
  FROM batchres b JOIN prelive p ON p.stage = b.stage AND p.id = b.id
  WHERE b.op <> 'd'
  UNION ALL
  SELECT 'insert', b.id, b.lsn, b.first_name, b.last_name, b.email
  FROM batchres b LEFT JOIN prelive p ON p.stage = b.stage AND p.id = b.id
  WHERE b.op <> 'd' AND p.id IS NULL
  UNION ALL
  SELECT 'delete', p.id, p.lsn, p.first_name, p.last_name, p.email
  FROM batchres b JOIN prelive p ON p.stage = b.stage AND p.id = b.id
  WHERE b.op = 'd'
)
SELECT _change_type, id, lsn, first_name, last_name, email
FROM feed
ORDER BY id, lsn, _change_type
""",
    doc="T47: the row-level change-feed STREAM over a MERGE-ON-READ "
    "producer (r17 verdict #1) — t46's reader refused MOR commits, yet "
    "merge_mor is the engine's own recommended commit shape for "
    "uniform-key churn at 100 TB (bench_scaling.py churn-spread probe: "
    "200 uniform keys rewrite 64/64 COW files), so the scale-correct CDC "
    "sink had no native streaming consumer exactly where scale demands "
    "one. Producer: a t33-shaped MOR sink loop over the lsn-staged "
    "envelope replay — one merge_mor generation per micro-batch (new "
    "upsert files + one equality-delete file, ZERO rewrites), with "
    "compact_mor folding the log mid-chain past max_delete_files and NO "
    "gc (feed retention is gc retention — consume before reclaiming). "
    "Consumer: the same readStream.format('ezmanifest')"
    ".option('changeFeed','true') stream as t46; a merge_mor commit now "
    "plans as key-hash-bucket splits that derive its churn feed ON READ "
    "(sources/pyds.py:_read_mor_feed_split): the commit's equality-"
    "delete file IS the churn key set; pre-images resolve via read_mor's "
    "sequence-number kill rule over the stats-pruned parent files; "
    "post-images are the commit's own upsert files (its delete entry "
    "kills every older version of a changed key, so a changed key's "
    "live post-image can only be the commit's upsert); identical rows "
    "multiset-cancel (the batch change_feed_mor's exceptAll) and the "
    "rest classify into the four Delta change types — shuffle-free, one "
    "executor per (commit, bucket). Fold commits contribute nothing "
    "(maintenance invisibility, crossed mid-interval here). The oracle "
    "replays the same lsn-staged batches declaratively (t46's exact "
    "shape) — hash-green proves the on-read churn derivation "
    "concatenates to the per-stage declarative classification, "
    "pre-images included. Restart-mid-feed, fold invisibility, and "
    "refusal classes are pinned in tests/test_pyds_manifest.py. At "
    "100 TB: the producer commits O(batch) per trigger however keys "
    "spread, and each consumer trigger reads O(churn + stat-overlapping "
    "parent files) — never the table, on either side.",
)
def t47_mor_change_feed_stream(spark, sf_dir):
    from ez_cdc_spark.streaming.cdc import materialize_mor_change_feed_stream

    feed = materialize_mor_change_feed_stream(spark, sf_dir)
    return feed.select(
        "_change_type",
        F.col("id").cast("bigint").alias("id"),
        F.col("lsn").cast("bigint").alias("lsn"),
        "first_name",
        "last_name",
        "email",
    ).orderBy("id", "lsn", "_change_type")


@register(
    "t48_stream_fed_aggregate",
    oracle=ENV_CTE
    + """
, latest AS (
  SELECT id,
         max_by(op, lsn) AS op,
         max_by(first_name, lsn) AS first_name,
         CAST(MAX(lsn) AS BIGINT) AS lsn
  FROM env GROUP BY id
)
SELECT first_name,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(lsn) AS BIGINT) AS sum_lsn
FROM latest WHERE op <> 'd'
GROUP BY first_name
ORDER BY first_name
""",
    doc="T48: CDC table → NATIVE change-feed STREAM → downstream "
    "incremental aggregate, all three hops exactly-once and fully "
    "DECOUPLED (r18; composes t47 with t32's signed fold) — the "
    "reference's whole topology (Postgres → topic → consumer, "
    "python/cdc_test/main.py:39-53) with the table as the topic and no "
    "broker anywhere. Producer: the lsn-staged envelope replay drives "
    "the t47 MOR sink (merge_mor per micro-batch, mid-chain compact_mor "
    "folds, feed retained — streaming/cdc.py:mor_cdf_sink_batch). "
    "Consumer: readStream.format('ezmanifest').option('changeFeed',"
    "'true') → foreachBatch applying the signed fold "
    "(insert/update_post add, delete/update_pre subtract, zero-count "
    "groups tombstone out) to a downstream manifest table "
    "(stream_feed_agg_batch). The decoupling is the point vs t32/t34: "
    "their consumers run INSIDE the producer's trigger and fold the batch "
    "feed sides with explicit generation cursors; t48's consumer "
    "is an independent job — Spark's checkpoint offsets pick the "
    "intervals, the downstream (tag, batch_id) watermark makes replays "
    "no-ops, and neither side knows the other's cadence, which is what "
    "lets N downstream jobs tail one table independently. The oracle "
    "recomputes the final aggregate declaratively from the envelope "
    "stream — hash-green proves the stream-chosen intervals' signed "
    "deltas telescope to the exact full recompute, across MOR commits "
    "AND folds. Restart-mid-consume is pinned in "
    "tests/test_cdc_goldens.py. At 100 TB: producer commits O(batch) "
    "however keys spread; each consumer trigger reads O(interval churn) "
    "feed rows; the downstream read-modify-write touches only the group "
    "keys the interval changed.",
)
def t48_stream_fed_aggregate(spark, sf_dir):
    from ez_cdc_spark.streaming.cdc import materialize_stream_fed_aggregate

    agg = materialize_stream_fed_aggregate(spark, sf_dir)
    return agg.select(
        "first_name",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_lsn").cast("bigint").alias("sum_lsn"),
    ).orderBy("first_name")
