"""Kafka wiring (S4/S8/R5-R8) unit tests — no broker: the decode/encode
layer is pure column logic over Kafka's column shape, so a static DataFrame
stands in for the streaming scan (sources/kafka.py module docstring)."""

import json

from pyspark.sql import functions as F

from ez_cdc_spark.sources.kafka import (
    decode_envelopes,
    encode_envelopes,
    topic_for,
)


def _kafka_shaped(spark, values):
    """Rows shaped like a Kafka scan: value BINARY, timestamp TIMESTAMP."""
    rows = [
        (None if v is None else bytearray(json.dumps(v).encode()), "2024-01-01 00:00:%02d" % i)
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(
        rows, "value BINARY, timestamp STRING"
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))


ENV = {
    "before": None,
    "after": {"id": 1, "first_name": "alex", "last_name": "foley", "email": "alex.foley"},
    "source": {"version": "2.4.0.Final", "connector": "postgresql", "name": "cdctest",
               "ts_ms": 1703166387948, "snapshot": "false", "db": "cdctest",
               "sequence": "[null,\"24284336\"]", "schema": "public",
               "table": "customers", "txId": 731, "lsn": 24284336, "xmin": None},
    "op": "c",
    "ts_ms": 1703166388457,
    "kafka_timestamp": 1703166388741,
}


def test_topic_naming_scheme():
    # customers_conf.json:11 + README.md:166-174
    assert topic_for("cdctest", "public", "customers") == "cdctest.public.customers"


def test_decode_null_guard_and_fields(spark):
    # a None value models a Kafka tombstone; main.py:42 skips it
    df = _kafka_shaped(spark, [ENV, None])
    out = decode_envelopes(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["op"] == "c" and r["before"] is None
    assert r["after"]["first_name"] == "alex"
    assert r["source"]["lsn"] == 24284336
    assert r["broker_ts"] is not None  # main.py:45 msg.timestamp


def test_encode_decode_roundtrip(spark):
    decoded = decode_envelopes(_kafka_shaped(spark, [ENV]))
    wire = encode_envelopes(decoded.drop("broker_ts"))
    row = wire.collect()[0]
    assert json.loads(bytes(row["key"]).decode()) == {"id": 1}
    back = json.loads(bytes(row["value"]).decode())
    assert back["op"] == "c" and back["after"]["email"] == "alex.foley"
    assert back["source"]["lsn"] == 24284336


def test_decode_is_streaming_compatible(spark, tmp_path):
    """The same decode works on an actual streaming source (file stand-in
    with Kafka's column shape), proving it composes with readStream."""
    p = tmp_path / "kafka_shape"
    _kafka_shaped(spark, [ENV]).write.parquet(str(p))
    stream = spark.readStream.schema("value BINARY, timestamp TIMESTAMP").parquet(str(p))
    decoded = decode_envelopes(stream)
    assert decoded.isStreaming


def test_console_sink_runs(spark, tmp_path):
    """S8: console sink executes a replayed micro-batch without error (the
    reference's R9 log sink analog; memory-sink goldens cover values)."""
    import json as _json

    src = tmp_path / "console_src"
    src.mkdir()
    (src / "p.jsonl").write_text(
        "\n".join(_json.dumps({"x": i}) for i in range(3)) + "\n"
    )
    stream = spark.readStream.schema("x INT").json(str(src))
    q = (
        stream.writeStream.format("console")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress is not None


def test_envelopegen_pushdown_clamps_generation(spark):
    """Filter pushdown in the Python datasource: lsn predicates narrow the
    generation range at the source (reader-level), and results match."""
    from ez_cdc_spark.sources.pyds import make_envelopegen_source, register_envelopegen
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan, EqualTo

    # unit level: the reader narrows [lo, hi)
    cls = make_envelopegen_source()
    reader = cls(options={"n": "1000", "parts": "4"}).reader(None)
    rest = list(reader.pushFilters([
        GreaterThanOrEqual(("lsn",), 100),
        LessThan(("lsn",), 200),
        EqualTo(("op",), "c"),
    ]))
    assert reader.lo == 100 and reader.hi == 200
    assert len(rest) == 1 and isinstance(rest[0], EqualTo)  # op filter stays with Spark
    parts = reader.partitions()
    assert sum(p.end - p.start for p in parts) == 100

    # end to end: query result equals the closed form
    register_envelopegen(spark)
    df = (
        spark.read.format("envelopegen").option("n", 1000).load()
        .filter("lsn >= 100 AND lsn < 200 AND op = 'c'")
    )
    rows = sorted(r["lsn"] for r in df.collect())
    assert rows == [i for i in range(100, 200) if i % 3 == 0]


def test_envelopegen_stream_resumes_from_checkpoint(spark, tmp_path):
    """Crash-replay of the streaming Python datasource: stop after the
    first micro-batch, restart on the same checkpoint, and the complete-
    mode aggregate still equals the closed form (readBetweenOffsets
    replays the committed prefix exactly)."""
    import time

    from pyspark.sql import functions as F

    from ez_cdc_spark.sources.pyds import register_envelopegen
    from ez_cdc_spark.streaming.replay import wait_drained

    register_envelopegen(spark)
    ckpt = str(tmp_path / "ckpt")
    n = 2000

    def start(name):
        df = (
            spark.readStream.format("envelopegen")
            .option("n", n).option("batch_size", 500).load()
        )
        agg = df.groupBy("op").agg(F.count("*").alias("cnt"), F.sum("lsn").alias("s"))
        return (
            agg.writeStream.format("memory").queryName(name).outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds").start()
        )

    q = start("resume_a")
    deadline = time.time() + 60
    while time.time() < deadline and not q.recentProgress:
        time.sleep(0.2)
    q.stop(); q.awaitTermination()  # "crash" partway through

    q2 = start("resume_b")
    try:
        wait_drained(q2, "i", n, timeout=120)
    finally:
        q2.stop(); q2.awaitTermination()

    got = {r["op"]: (r["cnt"], r["s"]) for r in spark.table("resume_b").collect()}
    want = {}
    for i in range(n):
        op = ("c", "u", "d")[i % 3]
        c, s = want.get(op, (0, 0))
        want[op] = (c + 1, s + i)
    assert got == want
