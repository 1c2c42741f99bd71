"""S43: the ezmanifest Python DataSource.

Pins the s43 docstring's surfaces: format reads equal read_committed,
time travel and branch heads as reader options, SQL via USING,
partition-column reconstruction at the stored type, additive-evolution
NULL-fill, and the MOR / epoch refusals.
"""

import os
import shutil

import pytest
from pyspark.sql.types import LongType, StructField

from ez_cdc_spark.sources.manifest import (
    create_branch,
    evolve_schema,
    merge_mor,
    publish,
    publish_append,
    publish_partitioned,
    read_committed,
    rename_column,
)
from ez_cdc_spark.sources.pyds import register_ezmanifest
from ez_cdc_spark.streaming.replay import wait_drained

SCRATCH = "/tmp/ez_cdc_test_pyds_manifest"


def _fmt(spark, d, **opts):
    register_ezmanifest(spark)
    r = spark.read.format("ezmanifest").option("path", d)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def _table(spark, name, n=100):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    publish(spark.range(n).selectExpr("id AS k", "id*2 AS v"), d, 1)
    return d


def test_format_read_equals_read_committed_and_travels(spark):
    d = _table(spark, "basic")
    publish_append(spark.range(100, 150).selectExpr("id AS k", "id*2 AS v"), d, 2)
    got = sorted((r["k"], r["v"]) for r in _fmt(spark, d).collect())
    want = sorted((r["k"], r["v"]) for r in read_committed(spark, d).collect())
    assert got == want and len(got) == 150
    assert _fmt(spark, d, generation=1).count() == 100
    create_branch(d, "b")
    publish_append(
        spark.range(150, 160).selectExpr("id AS k", "id*2 AS v"), d, 3, ref="b"
    )
    assert _fmt(spark, d, ref="b").count() == 160
    assert _fmt(spark, d).count() == 150  # main untouched


def test_sql_using_surface(spark):
    d = _table(spark, "sql")
    register_ezmanifest(spark)
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW ezm_sql_lake "
        f"USING ezmanifest OPTIONS (path '{d}')"
    )
    row = spark.sql(
        "SELECT COUNT(*) AS n, SUM(v) AS s FROM ezm_sql_lake"
    ).first()
    assert (row["n"], row["s"]) == (100, 9900)


def test_partition_reconstruction_at_stored_type(spark):
    d = os.path.join(SCRATCH, "part")
    shutil.rmtree(d, ignore_errors=True)
    publish_partitioned(
        spark.range(60).selectExpr("id AS k", "CAST(id % 3 AS STRING) AS p"),
        d,
        1,
        partition_col="p",
    )
    r = _fmt(spark, d)
    assert dict(r.dtypes)["p"] == "string"
    assert sorted((x["p"], x["count"]) for x in r.groupBy("p").count().collect()) == [
        ("0", 20), ("1", 20), ("2", 20),
    ]


def test_additive_evolution_null_fills(spark):
    d = _table(spark, "evolve")
    evolve_schema(d, 2, [StructField("w", LongType(), True)])
    publish_append(
        spark.range(100, 105).selectExpr("id AS k", "id*2 AS v", "id*9 AS w"), d, 3
    )
    r = _fmt(spark, d)
    assert r.filter("w IS NULL").count() == 100
    assert r.filter("w IS NOT NULL AND w <> k * 9").count() == 0


def test_refusals(spark):
    d = _table(spark, "morrefuse")
    merge_mor(
        spark,
        d,
        spark.range(3).selectExpr("id AS k", "id*9 AS v", "'u' AS op", "1 AS seq"),
        key_col="k",
        generation=2,
    )
    with pytest.raises(Exception, match="merge-on-read"):
        _fmt(spark, d).count()
    d2 = _table(spark, "epochrefuse")
    rename_column(d2, 2, "v", "val")
    with pytest.raises(Exception, match="epoch"):
        _fmt(spark, d2).count()
    with pytest.raises(Exception, match="path"):
        register_ezmanifest(spark)
        spark.read.format("ezmanifest").load().count()


def test_stats_pushdown_prunes_splits(spark):
    """S28 file skipping THROUGH the DataSource API: a predicate on a
    stats column drops whole splits at planning (rdd.getNumPartitions is
    the witness — one split per kept file), results stay exact (every
    filter is handed back to Spark), and columns without stats keep
    everything — conservative, never wrong."""
    d = os.path.join(SCRATCH, "pushdown")
    shutil.rmtree(d, ignore_errors=True)
    publish(
        spark.range(1000)
        .selectExpr("id AS k", "id*2 AS v")
        .repartitionByRange(10, "k")
        .sortWithinPartitions("k"),
        d,
        1,
        stats_columns=["k"],
    )
    register_ezmanifest(spark)

    def r():
        # pruneFiles opts in (r17: pruning is off by default — a shared
        # JVM scan builder serves the LAST pushdown's splits to every
        # branch of one load(), so stateful pruning carries a
        # single-reference contract); fresh load() per filtered read
        return (
            spark.read.format("ezmanifest")
            .option("path", d)
            .option("pruneFiles", "true")
            .load()
        )

    assert r().rdd.getNumPartitions() == 10
    ranged = r().filter("k >= 850 AND k < 900")
    assert ranged.rdd.getNumPartitions() < 10
    assert ranged.count() == 50
    point = r().filter("k = 123")
    assert point.rdd.getNumPartitions() == 1
    assert [(x["k"], x["v"]) for x in point.collect()] == [(123, 246)]
    # no stats on v: every split kept, result still exact
    nostats = r().filter("v >= 1900")
    assert nostats.rdd.getNumPartitions() == 10
    assert nostats.count() == 50
    # default (no option): no planning-time pruning, results identical
    dflt = spark.read.format("ezmanifest").option("path", d).load()
    assert dflt.filter("k = 123").rdd.getNumPartitions() == 10
    assert dflt.filter("k = 123").count() == 1


# ----- S44: the write path -----


def _write(spark, df, d, mode="append", **opts):
    register_ezmanifest(spark)
    w = df.write.format("ezmanifest").option("path", d)
    for k, v in opts.items():
        w = w.option(k, v)
    w.mode(mode).save()


def test_writer_creates_appends_and_engine_reads(spark):
    d = os.path.join(SCRATCH, "w_basic")
    shutil.rmtree(d, ignore_errors=True)
    _write(spark, spark.range(100).selectExpr("id AS k", "id*2 AS v"), d,
           statsColumns="k")
    _write(spark, spark.range(100, 150).selectExpr("id AS k", "id*2 AS v"), d)
    from ez_cdc_spark.sources.manifest import read_manifest

    man = read_manifest(d)
    assert man["generation"] == 2 and man["append"]["parent"] == 1
    # engine reader serves writer commits; format round-trips its own
    got = sorted(r["k"] for r in read_committed(spark, d).collect())
    assert got == list(range(150))
    assert _fmt(spark, d).count() == 150
    # appended files inherited the stats columns -> every file has k stats
    assert all("k" in s for s in man["stats"].values())
    assert len(man["stats"]) == man["n_files"]


def test_writer_overwrite_replaces_state(spark):
    d = os.path.join(SCRATCH, "w_over")
    shutil.rmtree(d, ignore_errors=True)
    _write(spark, spark.range(100).selectExpr("id AS k", "id*2 AS v"), d)
    _write(spark, spark.range(10).selectExpr("id AS k", "id*2 AS v"), d,
           mode="overwrite")
    assert read_committed(spark, d).count() == 10
    # history is still a chain: gen 1 remains time-travelable
    assert _fmt(spark, d, generation=1).count() == 100


def test_writer_txn_idempotent_replay_and_fold(spark):
    d = os.path.join(SCRATCH, "w_txn")
    shutil.rmtree(d, ignore_errors=True)
    base = spark.range(50).selectExpr("id AS k", "id*2 AS v")
    _write(spark, base, d)
    batch = spark.range(50, 80).selectExpr("id AS k", "id*2 AS v")
    _write(spark, batch, d, txnTag="loader", txnVersion="3")
    n = read_committed(spark, d).count()
    # exact replay: committed no-op, no new generation
    from ez_cdc_spark.sources.manifest import current_generation, read_manifest

    g = current_generation(d)
    _write(spark, batch, d, txnTag="loader", txnVersion="3")
    assert read_committed(spark, d).count() == n
    assert current_generation(d) == g
    # a second writer's tag folds alongside, never last-writer-wins
    _write(spark, spark.range(80, 90).selectExpr("id AS k", "id*2 AS v"), d,
           txnTag="other", txnVersion="1")
    txns = read_manifest(d)["txns"]
    assert txns["loader"]["version"] == 3 and txns["other"]["version"] == 1


def test_writer_refusals(spark):
    d = _table(spark, "w_refuse")
    df = spark.range(5).selectExpr("id AS k", "id*2 AS v")
    with pytest.raises(Exception, match="schema mismatch"):
        _write(spark, spark.range(5).selectExpr("id AS k"), d)
    with pytest.raises(Exception, match="main head only"):
        _write(spark, df, d, ref="b")
    from ez_cdc_spark.sources.manifest import alter_constraints

    alter_constraints(spark, d, 2, add={"k_nonneg": "k >= 0"})
    with pytest.raises(Exception, match="constraints"):
        _write(spark, df, d)
    # S44b: partitioned tables WRITE (layout inherited); changing the
    # layout refuses — that is a rewrite, not a write
    dp = os.path.join(SCRATCH, "w_refuse_part")
    shutil.rmtree(dp, ignore_errors=True)
    publish_partitioned(
        spark.range(20).selectExpr("id AS k", "CAST(id % 3 AS LONG) AS p"),
        dp, 1, partition_col="p",
    )
    _write(spark, spark.range(20, 26).selectExpr("id AS k", "CAST(id % 3 AS LONG) AS p"), dp)
    assert read_committed(spark, dp).count() == 26
    with pytest.raises(Exception, match="rewrite, not a write"):
        _write(
            spark,
            spark.range(5).selectExpr("id AS k", "CAST(id % 3 AS LONG) AS p"),
            dp,
            partitionBy="k",
        )
    # MOR generations refuse
    dm = _table(spark, "w_refuse_mor")
    merge_mor(spark, dm, spark.range(3).selectExpr(
        "id AS k", "id*2 AS v", "'u' AS op", "id AS seq"), "k", 2)
    with pytest.raises(Exception, match="delete_files"):
        _write(spark, df, dm)


def test_writer_cas_loser_retriable(spark):
    """A writer racing an engine commit: exactly one wins; the loser's
    manifest never becomes committed history and its debris is
    reclaimable."""
    d = _table(spark, "w_race")
    from ez_cdc_spark.sources import manifest as M
    from ez_cdc_spark.sources.pyds import make_ezmanifest_source

    src = make_ezmanifest_source(with_pushdown=False)
    # plan the write (reserves gen 2) but commit an engine append first
    from pyspark.sql.types import StructType
    schema = spark.range(1).selectExpr("id AS k", "id*2 AS v").schema
    w = src(options={"path": d}).writer(schema, overwrite=False)
    assert w.gen == 2
    publish_append(spark.range(100, 110).selectExpr("id AS k", "id*2 AS v"), d, 3)
    import pyarrow as pa
    msg = w.write(iter([pa.record_batch({"k": [999], "v": [0]})]))
    with pytest.raises(RuntimeError, match="commit conflict"):
        w.commit([msg])
    w.abort([msg])
    # the loser's generation is not committed and not readable as history
    assert M.current_generation(d) == 3
    with pytest.raises(FileNotFoundError):
        M.read_manifest(d, as_of_generation=2)
    assert sorted(r["k"] for r in read_committed(spark, d).collect()) == list(range(110))
    # loser debris is vacuum-reclaimable once aged (reservation released)
    assert not os.path.exists(os.path.join(d, "_manifests", ".reserve-gen-2"))


def test_writer_staging_protected_from_vacuum(spark):
    """vacuum(0.0) during the staged-but-uncommitted window must keep the
    writer's files: the reservation is held until the manifest is linked."""
    d = _table(spark, "w_vac")
    from ez_cdc_spark.sources import manifest as M
    from ez_cdc_spark.sources.pyds import make_ezmanifest_source

    src = make_ezmanifest_source(with_pushdown=False)
    schema = spark.range(1).selectExpr("id AS k", "id*2 AS v").schema
    w = src(options={"path": d}).writer(schema, overwrite=False)
    import pyarrow as pa
    msg = w.write(iter([pa.record_batch({"k": [500], "v": [1000]})]))
    staged = os.path.join(d, msg.rel)
    assert os.path.exists(staged)
    M.vacuum(d, older_than_s=0.0)
    assert os.path.exists(staged), "reservation must protect mid-write staging"
    w.commit([msg])
    assert read_committed(spark, d).count() == 101


# ----- T42: the streaming tail -----


def test_stream_reader_plans_only_new_files(spark):
    d = _table(spark, "s_plan")
    publish_append(spark.range(100, 130).selectExpr("id AS k", "id*2 AS v"), d, 2)
    from ez_cdc_spark.sources.pyds import make_ezmanifest_source

    src = make_ezmanifest_source(with_pushdown=False)
    r = src(options={"path": d}).streamReader(None)
    assert r.initialOffset() == {"gen": 0}
    assert r.latestOffset() == {"gen": 2}
    # full-history batch = all files; incremental batch = gen-2's files only
    full = r.partitions({"gen": 0}, {"gen": 2})
    inc = r.partitions({"gen": 1}, {"gen": 2})
    assert len(inc) < len(full)
    rows = [row for s in inc for b in r.read(s) for row in b.to_pylist()]
    assert sorted(x["k"] for x in rows) == list(range(100, 130))
    assert r.partitions({"gen": 2}, {"gen": 2}) == []


def test_stream_reader_refuses_nonappend(spark):
    from ez_cdc_spark.sources.manifest import compact
    from ez_cdc_spark.sources.pyds import make_ezmanifest_source

    d = _table(spark, "s_refuse")
    publish_append(spark.range(100, 120).selectExpr("id AS k", "id*2 AS v"), d, 2)
    compact(spark, d, 3)
    src = make_ezmanifest_source(with_pushdown=False)
    r = src(options={"path": d}).streamReader(None)
    with pytest.raises(ValueError, match="non-append change"):
        r.partitions({"gen": 1}, {"gen": 3})
    # a fresh checkpoint (offset 0) serves the compacted state fine
    full = r.partitions({"gen": 0}, {"gen": 3})
    rows = [row for s in full for b in r.read(s) for row in b.to_pylist()]
    assert sorted(x["k"] for x in rows) == list(range(120))


def test_stream_reader_serves_pure_insert_merge(spark):
    """The structural subset guard admits a merge that only INSERTS (all
    old files carried): its new rows live in new files and tail correctly."""
    from ez_cdc_spark.sources.manifest import merge_cow
    from ez_cdc_spark.sources.pyds import make_ezmanifest_source

    d = os.path.join(SCRATCH, "s_insmerge")
    shutil.rmtree(d, ignore_errors=True)
    publish(
        spark.range(100).selectExpr("id AS k", "id*2 AS v"), d, 1,
        stats_columns=["k"],
    )
    merge_cow(
        spark, d,
        spark.range(1000, 1010).selectExpr(
            "id AS k", "id*2 AS v", "'u' AS op", "id AS seq"
        ),
        "k", 2,
    )
    src = make_ezmanifest_source(with_pushdown=False)
    r = src(options={"path": d}).streamReader(None)
    splits = r.partitions({"gen": 1}, {"gen": 2})
    rows = [row for s in splits for b in r.read(s) for row in b.to_pylist()]
    assert sorted(x["k"] for x in rows) == list(range(1000, 1010))


def test_stream_pipeline_restart_continues_from_checkpoint(spark):
    """T43: a relay stream restarted on the SAME checkpoint resumes from
    the persisted generation offset — no re-read, no duplicates — and the
    downstream txns map records the relay watermark."""

    from ez_cdc_spark.sources.manifest import publish_append, read_manifest

    up = os.path.join(SCRATCH, "pipe_up")
    down = os.path.join(SCRATCH, "pipe_down")
    ck = os.path.join(SCRATCH, "pipe_ck")
    for d in (up, down, ck):
        shutil.rmtree(d, ignore_errors=True)
    publish(spark.range(100).selectExpr("id AS k", "id*2 AS v"), up, 1)
    register_ezmanifest(spark)

    def relay(batch_df, epoch_id):
        if batch_df.count():
            (
                batch_df.write.format("ezmanifest").option("path", down)
                .option("txnTag", "pipe").option("txnVersion", str(epoch_id))
                .mode("append").save()
            )

    def run_until(gen):
        q = (
            spark.readStream.format("ezmanifest").option("path", up).load()
            .writeStream.foreachBatch(relay)
            .option("checkpointLocation", ck)
            .trigger(processingTime="0 seconds").start()
        )
        try:
            wait_drained(q, "gen", gen, timeout=120)
        finally:
            q.stop()
            q.awaitTermination()

    run_until(1)
    assert read_committed(spark, down).count() == 100
    publish_append(spark.range(100, 150).selectExpr("id AS k", "id*2 AS v"), up, 2)
    run_until(2)  # restart on the same checkpoint: serves ONLY gen 2
    got = sorted(r["k"] for r in read_committed(spark, down).collect())
    assert got == list(range(150))  # no duplicates from the restart
    assert "pipe" in read_manifest(down)["txns"]


# ----- S47: bloom point-lookup pruning -----


def test_bloom_pruning_never_false_drops_and_proves_absence(spark):
    from ez_cdc_spark.sources.manifest import (
        bloom_pruned_files,
        publish_append,
        read_manifest,
        read_point_lookup,
    )

    d = os.path.join(SCRATCH, "bloom")
    shutil.rmtree(d, ignore_errors=True)
    # clustered by v -> k scattered: stats on k keep everything
    df = spark.range(2000).selectExpr(
        "id AS k", "id % 8 AS v", "CAST(id AS STRING) AS s"
    )
    publish(
        df.repartitionByRange(8, "v"), d, 1,
        stats_columns=["k", "v"], bloom_columns=["k", "s"],
    )
    man = read_manifest(d)
    # r17: bitsets live in _blooms/ SIDECARS, never inline — the manifest
    # stays O(files) however many bloom-indexed files accumulate
    from ez_cdc_spark.sources.manifest import table_blooms

    assert "blooms" not in man
    assert len(man["bloom_meta"]["sidecars"]) == 1
    assert len(table_blooms(d, man)) == man["n_files"]
    # every present key keeps its own file (no false drop), and the
    # lookup read returns exactly the row
    for key in range(0, 2000, 97):
        kept, _ = bloom_pruned_files(d, "k", key, manifest=man)
        assert 1 <= len(kept) < man["n_files"]
        assert read_point_lookup(spark, d, "k", key).filter(
            f"k = {key}"
        ).count() == 1
    # string column blooms work the same way
    kept, _ = bloom_pruned_files(d, "s", "1337", manifest=man)
    assert len(kept) == 1
    # absence is provable
    kept, _ = bloom_pruned_files(d, "k", 10**9, manifest=man)
    assert kept == []
    # appends inherit the bloom columns; new keys resolve
    publish_append(
        spark.range(2000, 2100).selectExpr(
            "id AS k", "id % 8 AS v", "CAST(id AS STRING) AS s"
        ),
        d, 2,
    )
    man2 = read_manifest(d)
    assert "blooms" not in man2
    assert len(man2["bloom_meta"]["sidecars"]) == 2  # parent chain + new
    assert len(table_blooms(d, man2)) == man2["n_files"]
    kept, _ = bloom_pruned_files(d, "k", 2050, manifest=man2)
    assert len(kept) == 1


def test_bloom_pushdown_through_format_reader(spark):
    d = os.path.join(SCRATCH, "bloom_fmt")
    shutil.rmtree(d, ignore_errors=True)
    publish(
        spark.range(2000).selectExpr(
            "id AS k", "id % 8 AS v", "id % 100 AS w"
        ).repartitionByRange(8, "v"),
        d, 1, stats_columns=["v"], bloom_columns=["k"],
    )
    register_ezmanifest(spark)

    def r():
        return (
            spark.read.format("ezmanifest")
            .option("path", d)
            .option("pruneFiles", "true")
            .load()
        )

    full = r().rdd.getNumPartitions()
    point = r().filter("k = 999")
    assert point.rdd.getNumPartitions() < full
    assert [(x["k"], x["v"]) for x in point.collect()] == [(999, 7)]
    # equality on a stats-less, bloom-less scattered column: conservative,
    # every split kept, result exact (v = 3 by contrast IS stats-pruned —
    # the table is range-clustered by v)
    assert r().filter("w = 3").rdd.getNumPartitions() == full
    assert r().filter("w = 3").count() == 20
    assert r().filter("v = 3").rdd.getNumPartitions() == 1


def test_bloom_floats_and_bools_unencodable(spark):
    from ez_cdc_spark.sources.manifest import bloom_pruned_files, read_manifest

    d = os.path.join(SCRATCH, "bloom_types")
    shutil.rmtree(d, ignore_errors=True)
    publish(
        spark.range(100).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS f", "id % 2 = 0 AS b"
        ),
        d, 1, bloom_columns=["k", "f", "b"],
    )
    man = read_manifest(d)
    from ez_cdc_spark.sources.manifest import table_blooms

    # float/bool columns record no bloom; probes on them keep everything
    assert all(set(per) == {"k"} for per in table_blooms(d, man).values())
    kept, _ = bloom_pruned_files(d, "f", 3.0, manifest=man)
    assert len(kept) == man["n_files"]


def test_bloom_sidecars_keep_manifest_flat_and_survive_maintenance(spark):
    """r16 verdict #3: inline bitsets made the manifest O(files·bits).
    Pins (a) manifest byte growth per bloom-indexed append is sidecar-
    NAME-sized, not bitset-sized; (b) the index survives merge_cow,
    compact_partial and full compact (ADVICE r16 — they used to strip
    it), with a full compact RESETTING the sidecar chain; (c) gc reclaims
    sidecars exactly when no surviving manifest references them."""
    import json as _json

    from ez_cdc_spark.sources.manifest import (
        bloom_pruned_files,
        compact,
        compact_partial,
        gc,
        merge_cow,
        publish_append,
        read_manifest,
        table_blooms,
    )

    d = os.path.join(SCRATCH, "bloom_flat")
    shutil.rmtree(d, ignore_errors=True)
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id AS k", "id % 4 AS v"
    )
    publish(
        mk(0, 1000).repartitionByRange(4, "v"), d, 1,
        stats_columns=["k", "v"], bloom_columns=["k"], bloom_bits=65536,
    )

    def msize():
        g = read_manifest(d)["generation"]
        return os.path.getsize(os.path.join(d, "_manifests", f"gen-{g}.json"))

    base = msize()
    for i in range(5):
        publish_append(
            mk(1000 + i * 100, 1100 + i * 100).coalesce(1), d, i + 2
        )
    # 5 appends added 5 bloom-indexed files; with inline bitsets the
    # manifest would grow >= 5 * b64(bits/8) ≈ 54 KiB — sidecars keep the
    # per-append growth to a name + file/stats entries (~1 KiB total)
    assert msize() - base < 5 * (65536 // 8) // 4
    man = read_manifest(d)
    assert len(man["bloom_meta"]["sidecars"]) == 6
    assert len(table_blooms(d, man)) == man["n_files"]
    kept, _ = bloom_pruned_files(d, "k", 1450)
    assert len(kept) == 1

    # merge keeps the index (rewritten files re-indexed)
    ch = spark.createDataFrame(
        [(5, 999999, "u", 1)], "k long, v long, op string, seq long"
    )
    merge_cow(spark, d, ch, key_col="k", generation=10)
    kept, _ = bloom_pruned_files(d, "k", 5)
    assert 1 <= len(kept) < read_manifest(d)["n_files"]
    # partial compaction keeps it
    compact_partial(spark, d, 11, max_file_bytes=10**9, target_files=2)
    man = read_manifest(d)
    assert man["bloom_meta"]["sidecars"]
    kept, _ = bloom_pruned_files(d, "k", 1450, manifest=man)
    assert 1 <= len(kept) <= 2
    # full compact resets the chain to ONE fresh sidecar
    compact(spark, d, 12, target_files=3)
    man = read_manifest(d)
    assert len(man["bloom_meta"]["sidecars"]) == 1
    assert len(table_blooms(d, man)) == man["n_files"]
    assert bloom_pruned_files(d, "k", 10**9, manifest=man)[0] == []

    # gc: old generations' sidecars are reclaimed once their manifests
    # age out; the live chain survives
    bdir = os.path.join(d, "_blooms")
    n_before = len(os.listdir(bdir))
    assert n_before > 1
    gc(d, older_than_s=None)
    live = set(man["bloom_meta"]["sidecars"])
    assert set(os.listdir(bdir)) == live
    kept, _ = bloom_pruned_files(d, "k", 1450)
    assert len(kept) >= 1


def test_format_writer_and_sink_carry_bloom_index(spark):
    """ADVICE r16 (low): one format-writer append to an S47 table used to
    permanently strip the bloom index (and bloom_meta with it, so later
    engine appends never rebuilt). Pins: the format writer extends the
    sidecar chain with fresh bitsets for ITS files, lookups keep pruning,
    and a later ENGINE append still inherits."""
    from ez_cdc_spark.sources.manifest import (
        bloom_pruned_files,
        publish_append,
        read_manifest,
        table_blooms,
    )

    d = os.path.join(SCRATCH, "bloom_writer_carry")
    shutil.rmtree(d, ignore_errors=True)
    publish(
        spark.range(2000).selectExpr("id AS k", "id % 8 AS v")
        .repartitionByRange(8, "v"),
        d, 1, stats_columns=["v"], bloom_columns=["k"],
    )
    _write(spark, spark.range(2000, 2100).selectExpr("id AS k", "id % 8 AS v"), d)
    man = read_manifest(d)
    assert man["bloom_meta"]["columns"] == ["k"]
    assert len(man["bloom_meta"]["sidecars"]) == 2
    assert len(table_blooms(d, man)) == man["n_files"]
    # the format-written file's keys prune to exactly their file
    kept, _ = bloom_pruned_files(d, "k", 2050)
    assert len(kept) == 1
    kept, _ = bloom_pruned_files(d, "k", 10**9)
    assert kept == []
    # engine appends after a format write still inherit the index
    publish_append(
        spark.range(3000, 3050).selectExpr("id AS k", "id % 8 AS v"), d, 3
    )
    kept, _ = bloom_pruned_files(d, "k", 3025)
    assert len(kept) == 1


def test_pushdown_multi_branch_safe_pattern(spark):
    """Upstream Spark limitation (see ManifestReader._push_filters
    docstring): one load() owns one JVM scan builder, so the LAST
    branch's pushed pruning serves every branch of that relation in one
    plan. With pruneFiles opted in, the single-reference contract — a
    fresh load() per branch — yields exactly the right rows with the
    tightest pruning active on each branch."""
    d = os.path.join(SCRATCH, "bloom_union")
    shutil.rmtree(d, ignore_errors=True)
    publish(
        spark.range(2000).selectExpr("id AS k", "id % 8 AS v")
        .repartitionByRange(8, "v"),
        d, 1, stats_columns=["v"], bloom_columns=["k"],
    )
    register_ezmanifest(spark)

    def rel():
        return (
            spark.read.format("ezmanifest")
            .option("path", d)
            .option("pruneFiles", "true")
            .load()
        )

    a = rel().filter("k = 7")      # lives in v=7's file
    b = rel().filter("k = 1000")   # lives in v=0's file
    assert a.rdd.getNumPartitions() == 1
    assert b.rdd.getNumPartitions() == 1
    got = sorted((x["k"], x["v"]) for x in a.unionByName(b).collect())
    assert got == [(7, 7), (1000, 0)]
    # joins of two fresh relations prune per side and stay correct too
    from pyspark.sql import functions as F  # noqa: N812

    j = a.join(b.selectExpr("k AS k2", "v AS v2"), F.expr("v = v2"), "left")
    assert [(r["k"], r["k2"]) for r in j.collect()] == [(7, None)]


def test_writer_partitioned_create_and_cross_read(spark):
    """S44b: the writer creates a partitioned table (Hive dirs + manifest
    value map, partition column excluded from file bytes), appends
    inherit the layout, and BOTH read paths reconstruct the column."""
    from ez_cdc_spark.sources.manifest import read_manifest

    d = os.path.join(SCRATCH, "w_part")
    shutil.rmtree(d, ignore_errors=True)
    df = spark.range(300).selectExpr("id AS k", "CAST(id % 3 AS LONG) AS p")
    _write(spark, df, d, partitionBy="p", statsColumns="k")
    man = read_manifest(d)
    assert man["partition_col"] == "p"
    # canonical STRING values, the engine's _stage_partitioned convention
    # (ADVICE r16) — mixed engine/format writers share one value space
    assert set(man["partitions"].values()) == {"0", "1", "2"}
    assert all(f"p={v}" in rel for rel, v in man["partitions"].items())
    eng = sorted(tuple(r) for r in read_committed(spark, d).groupBy("p").count().collect())
    fmt = sorted(tuple(r) for r in _fmt(spark, d).groupBy("p").count().collect())
    assert eng == fmt == [(0, 100), (1, 100), (2, 100)]
    # append without re-declaring: layout is table identity
    _write(spark, spark.range(300, 330).selectExpr("id AS k", "CAST(id % 3 AS LONG) AS p"), d)
    man2 = read_manifest(d)
    assert len(man2["partitions"]) == man2["n_files"]
    assert read_committed(spark, d).count() == 330
    # the engine's partitioned appenders compose on the writer's table
    publish_append(
        spark.range(330, 333).selectExpr("id AS k", "CAST(id % 3 AS LONG) AS p"),
        d, 3,
    )
    assert _fmt(spark, d).count() == 333


def test_writer_partition_values_compose_with_engine_pruning(spark):
    """ADVICE r16 (medium): the format writer canonicalizes partition
    values to the engine's string convention, so
    read_committed_partitions(values=["3"]) selects format-written files
    too (the old natively-typed map silently dropped them), and a
    format-written NULL partition reads back as NULL through the
    engine's basePath read — never the literal string 'None'."""
    from ez_cdc_spark.sources.manifest import (
        read_committed_partitions,
        read_manifest,
    )

    d = os.path.join(SCRATCH, "w_part_canon")
    shutil.rmtree(d, ignore_errors=True)
    df = spark.range(90).selectExpr(
        "id AS k", "CASE WHEN id % 3 = 2 THEN NULL ELSE CAST(id % 3 AS LONG) END AS p"
    )
    _write(spark, df, d, partitionBy="p")
    man = read_manifest(d)
    assert set(man["partitions"].values()) == {"0", "1", None}
    assert not any("p=None" in rel for rel in man["files"])
    assert any("__HIVE_DEFAULT_PARTITION__" in rel for rel in man["files"])
    # engine partition pruning selects format-written files by STRING value
    sel = read_committed_partitions(spark, d, values=["1"])
    assert sorted(r["k"] for r in sel.collect()) == [
        i for i in range(90) if i % 3 == 1
    ]
    # NULL partition: honest null through both read paths
    eng_null = read_committed(spark, d).filter("p IS NULL").count()
    fmt_null = _fmt(spark, d).filter("p IS NULL").count()
    assert eng_null == fmt_null == 30
    assert _fmt(spark, d).filter("CAST(p AS STRING) = 'None'").count() == 0
    # engine appends then compose on the same value space
    from ez_cdc_spark.sources.manifest import publish_append

    publish_append(
        spark.range(90, 96).selectExpr("id AS k", "CAST(1 AS LONG) AS p"), d, 2
    )
    sel2 = read_committed_partitions(spark, d, values=["1"])
    assert sel2.count() == 30 + 6


def test_default_read_safe_for_any_plan_shape(spark):
    """ADVICE r16 (medium), escalated by the r17 re-characterization:
    with stateful pruning always-on, one load()'s shared JVM scan
    builder served the LAST pushdown's splits to EVERY branch — two
    differently-filtered branches lost the earlier branch's rows, and an
    UNFILTERED branch (which never triggers a pushdown roundtrip) lost
    rows too, so no in-pushFilters accumulation can cover it. The
    structural fix: pruning is opt-in (pruneFiles), and the DEFAULT read
    is stateless — correct for every plan shape. This pins the three
    shapes that used to lose rows."""
    d = os.path.join(SCRATCH, "one_load_union")
    shutil.rmtree(d, ignore_errors=True)
    publish(
        spark.range(2000).selectExpr("id AS k", "id % 8 AS v")
        .repartitionByRange(8, "v"),
        d, 1, stats_columns=["v", "k"],
    )
    register_ezmanifest(spark)
    df = spark.read.format("ezmanifest").option("path", d).load()
    # (1) two differently-filtered branches of one load()
    a = df.filter("k = 7")
    b = df.filter("k = 1000")
    got = sorted((x["k"], x["v"]) for x in a.unionByName(b).collect())
    assert got == [(7, 7), (1000, 0)]
    # (2) disjoint range branches of one load()
    df2 = spark.read.format("ezmanifest").option("path", d).load()
    u = df2.filter("v <= 1").unionByName(df2.filter("v >= 6"))
    assert u.count() == 1000
    # (3) unfiltered branch beside a filtered one — the shape no pruning
    # scheme inside pushFilters can serve (it never calls in)
    df3 = spark.read.format("ezmanifest").option("path", d).load()
    assert df3.unionByName(df3.filter("v >= 6")).count() == 2500
    df4 = spark.read.format("ezmanifest").option("path", d).load()
    assert df4.filter("v >= 6").unionByName(df4).count() == 2500
    # self-join of one load()
    df5 = spark.read.format("ezmanifest").option("path", d).load()
    j = df5.filter("v = 0").selectExpr("k AS k0").join(
        df5.filter("v = 7").selectExpr("k AS k7"), on=None, how="cross"
    )
    assert j.count() == 250 * 250


# ----- T44: the native streaming sink -----


def _run_sink(spark, d, ck, n, tag="sinktest", extra=None):
    from ez_cdc_spark.sources.pyds import register_envelopegen

    register_envelopegen(spark)
    register_ezmanifest(spark)
    w = (
        spark.readStream.format("envelopegen")
        .option("n", n).option("batch_size", 1000).load()
        .writeStream.format("ezmanifest")
        .option("path", d).option("txnTag", tag)
        .option("checkpointLocation", ck)
        .trigger(processingTime="0 seconds")
    )
    for k, v in (extra or {}).items():
        w = w.option(k, v)
    q = w.start()
    try:
        wait_drained(q, "i", n, timeout=120)
    finally:
        q.stop()
        q.awaitTermination()


def test_native_sink_exactly_once_lease_and_maintenance(spark):
    import time

    from ez_cdc_spark.sources.manifest import gc, read_manifest, vacuum

    d = os.path.join(SCRATCH, "sink_basic")
    ck = os.path.join(SCRATCH, "sink_basic_ck")
    for x in (d, ck):
        shutil.rmtree(x, ignore_errors=True)
    _run_sink(spark, d, ck, 3000)
    man = read_manifest(d)
    assert man["txns"]["sinktest"]["version"] == 2  # 3 epochs: 0,1,2
    assert man["generation"] == 3  # dense: one generation per epoch
    assert read_committed(spark, d).count() == 3000
    # restart on the same checkpoint: offsets persisted, no duplicates
    _run_sink(spark, d, ck, 3000)
    assert read_committed(spark, d).count() == 3000
    # an aggressive vacuum never touches committed or leased state
    vacuum(d, 0.0)
    assert read_committed(spark, d).count() == 3000
    # the dead stream's lease ages out; the table survives maintenance
    lease = os.path.join(d, "_manifests", ".reserve-stream-sinktest")
    assert os.path.exists(lease)
    time.sleep(1.1)
    gc(d, older_than_s=1.0)
    assert not os.path.exists(lease)
    vacuum(d, 0.0)
    assert read_committed(spark, d).count() == 3000


def test_native_sink_epoch_replay_is_noop(spark):
    """The exactly-once core, exercised directly: committing the same
    batchId twice produces ONE generation (the replay sees its version
    at-or-below the recorded watermark and skips)."""
    from ez_cdc_spark.sources.manifest import current_generation
    from ez_cdc_spark.sources.pyds import make_ezmanifest_source

    d = os.path.join(SCRATCH, "sink_replay")
    shutil.rmtree(d, ignore_errors=True)
    src = make_ezmanifest_source(with_pushdown=False)
    schema = spark.range(1).selectExpr("id AS k", "id*2 AS v").schema
    w = src(options={"path": d, "txntag": "rp"}).streamWriter(schema, False)
    import pyarrow as pa

    msg = w.write(iter([pa.record_batch({"k": [1, 2], "v": [2, 4]})]))
    w.commit([msg], batchId=0)
    assert current_generation(d) == 1
    msg2 = w.write(iter([pa.record_batch({"k": [1, 2], "v": [2, 4]})]))
    w.commit([msg2], batchId=0)  # redelivery: committed no-op
    assert current_generation(d) == 1
    assert read_committed(spark, d).count() == 2
    msg3 = w.write(iter([pa.record_batch({"k": [9], "v": [18]})]))
    w.commit([msg3], batchId=1)
    assert current_generation(d) == 2
    assert read_committed(spark, d).count() == 3


def test_native_sink_partitioned(spark):
    from ez_cdc_spark.sources.manifest import read_manifest

    d = os.path.join(SCRATCH, "sink_part")
    ck = os.path.join(SCRATCH, "sink_part_ck")
    for x in (d, ck):
        shutil.rmtree(x, ignore_errors=True)
    _run_sink(spark, d, ck, 2000, extra={"partitionBy": "op"})
    man = read_manifest(d)
    assert man["partition_col"] == "op"
    assert set(man["partitions"].values()) == {"c", "u", "d"}
    got = sorted(
        (r["op"], r["count"])
        for r in read_committed(spark, d).groupBy("op").count().collect()
    )
    assert got == [("c", 667), ("d", 666), ("u", 667)]
    assert _fmt(spark, d).count() == 2000


def test_writer_merge_schema_evolves_additively(spark):
    """S44c: option('mergeSchema','true') — an append whose dataframe
    extends the stored schema with new NULLABLE tail columns evolves and
    lands in one commit; old files NULL-fill on read (the S32 contract),
    and non-additive shapes still refuse."""
    from ez_cdc_spark.sources.manifest import read_manifest

    d = os.path.join(SCRATCH, "w_merge")
    shutil.rmtree(d, ignore_errors=True)
    _write(spark, spark.range(50).selectExpr("id AS k", "id*2 AS v"), d)
    # without the option: refuse, with the hint
    with pytest.raises(Exception, match="mergeSchema"):
        _write(spark, spark.range(50, 60).selectExpr(
            "id AS k", "id*2 AS v", "id*9 AS w"), d)
    _write(spark, spark.range(50, 60).selectExpr(
        "id AS k", "id*2 AS v", "id*9 AS w"), d, mergeSchema="true")
    man = read_manifest(d)
    assert man["evolve"]["added"] == ["w"]
    assert [f["name"] for f in man["schema"]["fields"]] == ["k", "v", "w"]
    r = read_committed(spark, d)
    assert r.count() == 60
    assert r.filter("w IS NULL").count() == 50
    assert r.filter("w IS NOT NULL AND w <> k * 9").count() == 0
    assert _fmt(spark, d).filter("w IS NULL").count() == 50
    # the evolved table keeps appending with the full schema, no option
    _write(spark, spark.range(60, 70).selectExpr(
        "id AS k", "id*2 AS v", "id*9 AS w"), d)
    assert read_committed(spark, d).count() == 70
    # non-additive shapes refuse even with the option
    with pytest.raises(Exception, match="schema mismatch"):
        _write(spark, spark.range(5).selectExpr(
            "id AS k", "id*9 AS w"), d, mergeSchema="true")
    # the streaming sink refuses the option up front
    from ez_cdc_spark.sources.pyds import make_ezmanifest_source

    src = make_ezmanifest_source(with_pushdown=False)
    with pytest.raises(ValueError, match="mid-stream"):
        src(options={"path": d, "mergeschema": "true"}).streamWriter(
            spark.range(1).selectExpr("id AS k").schema, False
        )


# ----- T46: the native change-feed stream -----


def _feed_table(spark, name):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("lsn", LongType()),
            StructField("email", StringType()),
        ]
    )
    publish(spark.createDataFrame([], schema), d, 1, stats_columns=["id"])
    return d, schema


def _feed_batch(spark, rows):
    return spark.createDataFrame(
        rows, "id long, lsn long, email string, op string, seq long"
    )


def _drain_feed(spark, d, ck, out):
    register_ezmanifest(spark)
    q = (
        spark.readStream.format("ezmanifest")
        .option("path", d)
        .option("changeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select("_change_type", "id", "lsn", "email", "_commit_generation")
        .collect()
    )


def test_change_feed_stream_restart_continues_and_maintenance_invisible(
    spark, tmp_path
):
    """T46 pins (r16 verdict #2 'Done' criteria): (a) restart-mid-feed
    continuation — a second availableNow run on the same checkpoint
    consumes exactly the commits that landed since, never re-emitting;
    (b) content-preserving maintenance (compact_partial) between merges
    contributes NOTHING to the feed — the CDF maintenance-invisibility
    contract; (c) feed rows carry exact pre-images."""
    from ez_cdc_spark.sources.manifest import compact_partial, merge_cow

    d, _schema = _feed_table(spark, "cdf_restart")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    merge_cow(
        spark, d,
        _feed_batch(spark, [(1, 10, "a@x", "c", 10), (2, 11, "b@x", "c", 11)]),
        "id", 2,
    )
    got1 = _drain_feed(spark, d, ck, out)
    assert got1 == [
        ("insert", 1, 10, "a@x", 2),
        ("insert", 2, 11, "b@x", 2),
    ]
    # more commits: merge + maintenance + merge
    merge_cow(
        spark, d,
        _feed_batch(spark, [(1, 20, "a2@x", "u", 20), (3, 21, "c@x", "c", 21)]),
        "id", 3,
    )
    compact_partial(spark, d, 4, max_file_bytes=10**9, target_files=1)
    merge_cow(
        spark, d,
        _feed_batch(spark, [(2, 30, None, "d", 30)]),
        "id", 5,
    )
    got2 = _drain_feed(spark, d, ck, out)
    new = sorted(set(got2) - set(got1))
    assert new == [
        ("delete", 2, 11, "b@x", 5),
        ("insert", 3, 21, "c@x", 3),
        ("update_postimage", 1, 20, "a2@x", 3),
        ("update_preimage", 1, 10, "a@x", 3),
    ]
    assert len(got2) == len(got1) + 4  # nothing re-emitted, compact added 0


def test_change_feed_stream_refusals(spark, tmp_path):
    """T46 honest-refusal classes: a restore-crossing interval refuses
    through the stream, never a silent wrong feed. Cases (1) and (3) were
    refusals once and are served now: a copy-on-write merge's feed is
    derived from its file delta (it used to need a merge-time recorded
    feed), and a MOR commit's since r18 (t47)."""
    import pytest as _pytest

    from ez_cdc_spark.sources.manifest import merge_cow, restore

    register_ezmanifest(spark)

    def drain(d, ck, out):
        q = (
            spark.readStream.format("ezmanifest")
            .option("path", d)
            .option("changeFeed", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # (1) a plain copy-on-write merge: served from its file delta
    d, _ = _feed_table(spark, "cdf_refuse_plain")
    merge_cow(
        spark, d, _feed_batch(spark, [(1, 10, "a@x", "c", 10)]), "id", 2
    )
    drain(d, str(tmp_path / "ck1"), str(tmp_path / "o1"))
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "o1"))
        .select("_change_type", "id", "lsn", "email", "_commit_generation")
        .collect()
    )
    assert got == [("insert", 1, 10, "a@x", 2)]

    # (2) restore-crossing interval
    d2, _ = _feed_table(spark, "cdf_refuse_restore")
    merge_cow(
        spark, d2, _feed_batch(spark, [(1, 10, "a@x", "c", 10)]),
        "id", 2,
    )
    merge_cow(
        spark, d2, _feed_batch(spark, [(1, 20, "a2@x", "u", 20)]),
        "id", 3,
    )
    restore(d2, 4, as_of_generation=2)
    with _pytest.raises(Exception, match="restore"):
        drain(d2, str(tmp_path / "ck2"), str(tmp_path / "o2"))

    # (3) merge-on-read commit — REFUSED through r17, SERVED as of r18
    # (t47): the same drain that used to point at change_feed_mor now
    # emits the MOR commit's derived churn feed alongside the COW one
    from ez_cdc_spark.sources.manifest import merge_mor

    d3, _ = _feed_table(spark, "cdf_refuse_mor")
    merge_cow(
        spark, d3, _feed_batch(spark, [(1, 10, "a@x", "c", 10)]),
        "id", 2,
    )
    merge_mor(
        spark, d3, _feed_batch(spark, [(1, 20, "a2@x", "u", 20)]), "id", 3
    )
    drain(d3, str(tmp_path / "ck3"), str(tmp_path / "o3"))
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "o3"))
        .select("_change_type", "id", "lsn", "email", "_commit_generation")
        .collect()
    )
    assert got == [
        ("insert", 1, 10, "a@x", 2),
        ("update_postimage", 1, 20, "a2@x", 3),
        ("update_preimage", 1, 10, "a@x", 3),
    ]


def test_change_feed_stream_starting_generation_and_batch_refusal(
    spark, tmp_path
):
    """T46 surface edges: option('startingGeneration', g) skips history at
    or below g (the Delta startingVersion analog), and changeFeed on a
    BATCH read refuses loudly (the engine's change_feed(from, to) owns
    batch intervals)."""
    import pytest as _pytest

    from ez_cdc_spark.sources.manifest import merge_cow

    d, _ = _feed_table(spark, "cdf_startgen")
    merge_cow(
        spark, d, _feed_batch(spark, [(1, 10, "a@x", "c", 10)]),
        "id", 2,
    )
    merge_cow(
        spark, d, _feed_batch(spark, [(2, 20, "b@x", "c", 20)]),
        "id", 3,
    )
    register_ezmanifest(spark)
    q = (
        spark.readStream.format("ezmanifest")
        .option("path", d)
        .option("changeFeed", "true")
        .option("startingGeneration", 2)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "out"))
        .select("_change_type", "id", "_commit_generation")
        .collect()
    )
    assert rows == [("insert", 2, 3)]  # gen 2's feed skipped
    with _pytest.raises(Exception, match="STREAMING read option"):
        spark.read.format("ezmanifest").option("path", d).option(
            "changeFeed", "true"
        ).load().collect()


def test_change_feed_stream_partitioned_merges(spark, tmp_path):
    """T46 × S30b: partitioned copy-on-write merges materialize their feed
    with the partition column riding IN the feed rows (the change files
    are unpartitioned churn-sized artifacts), and the stream serves
    partitioned APPEND commits with the partition value reconstructed
    from the manifest map."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ez_cdc_spark.sources.manifest import (
        merge_cow,
        publish_append,
        publish_partitioned,
    )

    d = os.path.join(SCRATCH, "cdf_part")
    shutil.rmtree(d, ignore_errors=True)
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("p", StringType()),
            StructField("lsn", LongType()),
        ]
    )
    publish_partitioned(
        spark.createDataFrame([(1, "a", 10), (2, "b", 11)], schema),
        d, 1, partition_col="p", stats_columns=["id"],
    )
    merge_cow(
        spark, d,
        spark.createDataFrame(
            [(1, "a", 20, "u", 20), (3, "b", 21, "c", 21)],
            "id long, p string, lsn long, op string, seq long",
        ),
        "id", 2,
    )
    publish_append(
        spark.createDataFrame([(4, "c", 30)], schema), d, 3
    )
    register_ezmanifest(spark)
    q = (
        spark.readStream.format("ezmanifest")
        .option("path", d)
        .option("changeFeed", "true")
        .option("startingGeneration", 1)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "out"))
        .select("_change_type", "id", "p", "lsn", "_commit_generation")
        .collect()
    )
    assert rows == [
        ("insert", 3, "b", 21, 2),
        ("insert", 4, "c", 30, 3),  # partitioned append: p from the map
        ("update_postimage", 1, "a", 20, 2),
        ("update_preimage", 1, "a", 10, 2),
    ]


def _split_rows(reader, start, end):
    """Plan the interval ``start``..``end`` on a change-feed stream reader
    and read every split driver-side: row tuples, sorted by ``repr`` (a
    NULL key does not compare with an int)."""
    rows = []
    for sp in reader.partitions({"gen": start}, {"gen": end}):
        for batch in reader.read(sp) or []:
            cols = batch.to_pydict()
            rows.extend(zip(*cols.values()))
    return sorted(rows, key=repr)


def test_change_feed_stream_equals_batch_feed_commit_by_commit(
    spark, tmp_path
):
    """The stream derives every commit's feed from its file delta, so
    commit by commit it equals the batch feed: change_feed(g-1, g, key)
    for copy-on-write commits, change_feed_mor(g-1, g) for merge-on-read
    ones. The chain holds a COW merge, a merge that moves a key to
    another partition, a redelivered upsert that changes nothing (emits
    nothing), a NULL key, a partial compaction, an append, a merge_mor
    and a compact_mor fold. One stream drained over the whole chain
    emits the concatenation."""
    from ez_cdc_spark.sources.manifest import (
        change_feed,
        change_feed_mor,
        compact_mor,
        compact_partial,
        merge_cow,
        merge_mor,
        publish_append,
        publish_partitioned,
        read_manifest,
    )

    d = os.path.join(SCRATCH, "cdf_equals_batch")
    shutil.rmtree(d, ignore_errors=True)
    ddl = "id long, p string, lsn long"

    def batch(rows):
        return spark.createDataFrame(rows, ddl + ", op string, seq long")

    publish_partitioned(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 11), (3, "a", 12), (5, "b", 13)], ddl
        ),
        d, 1, partition_col="p", stats_columns=["id"],
    )
    merge_cow(spark, d, batch(
        [(1, "a", 20, "u", 20), (4, "b", 21, "c", 21), (5, None, None, "d", 22)]
    ), "id", 2)
    merge_cow(spark, d, batch([(2, "a", 30, "u", 30)]), "id", 3)  # b -> a
    merge_cow(spark, d, batch([(4, "b", 21, "c", 21)]), "id", 4)  # no-op
    merge_cow(spark, d, batch([(None, "a", 50, "c", 50)]), "id", 5)
    compact_partial(spark, d, 6, max_file_bytes=10**9, target_files=1)
    publish_append(spark.createDataFrame([(6, "c", 60)], ddl), d, 7)
    merge_mor(
        spark, d, batch([(3, "a", 80, "u", 80), (1, None, None, "d", 81)]),
        "id", 8,
    )
    compact_mor(spark, d, 9, target_files=1)

    reader = _feed_reader(d)
    want_all = []
    for g in range(2, 10):
        man = read_manifest(d, g)
        if "mor" in man or "fold" in man:
            feed = change_feed_mor(spark, d, g - 1, g)
        else:
            feed = change_feed(spark, d, g - 1, g, key_col="id")
        want = sorted(
            ((*tuple(r), g) for r in feed.select(
                "_change_type", "id", "p", "lsn").collect()),
            key=repr,
        )
        got = _split_rows(reader, g - 1, g)
        assert got == want, (g, got, want)
        want_all.extend(want)
    # the no-op redelivery and both maintenance commits feed nothing
    assert not [r for r in want_all if r[-1] in (4, 6, 9)]
    assert ("update_preimage", 2, "b", 11, 3) in want_all
    assert ("insert", None, "a", 50, 5) in want_all

    register_ezmanifest(spark)
    q = (
        spark.readStream.format("ezmanifest")
        .option("path", d)
        .option("changeFeed", "true")
        .option("startingGeneration", 1)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    drained = sorted(
        (
            tuple(r)
            for r in spark.read.parquet(str(tmp_path / "out"))
            .select("_change_type", "id", "p", "lsn", "_commit_generation")
            .collect()
        ),
        key=repr,
    )
    assert drained == sorted(want_all, key=repr)


def test_change_feed_stream_never_pairs_a_null_key(spark):
    """A commit that rewrites a NULL-key row labels it delete + insert in
    the stream, as the batch feed does: NULL never equals NULL as a key,
    so only non-NULL keys pair into update_preimage/update_postimage.
    The commit is built from the commit protocol directly — a merge
    lineage over a rewritten file — because merge_cow never removes a
    NULL-key row."""
    from ez_cdc_spark.sources.manifest import (
        _commit_manifest,
        change_feed,
        derive_manifest,
        publish,
        read_manifest,
        stage_only,
        take_generation,
    )

    d = os.path.join(SCRATCH, "cdf_null_key")
    shutil.rmtree(d, ignore_errors=True)
    ddl = "id long, lsn long, email string"
    publish(
        spark.createDataFrame([(None, 1, "n@x"), (5, 1, "a@x")], ddl),
        d, 1, stats_columns=["id"],
    )
    parent = read_manifest(d)
    g = take_generation(d, None)
    staged = stage_only(
        spark.createDataFrame([(None, 2, "n2@x"), (5, 2, "a2@x")], ddl), d, g
    )
    _commit_manifest(
        d, g,
        derive_manifest(
            parent, g,
            added=[os.path.relpath(f, d) for f in staged],
            removed=parent["files"],
            merge={"parent": parent["generation"], "key": "id"},
        ),
        expected_parent=parent["generation"],
    )
    want = sorted(
        (
            (*tuple(r), g)
            for r in change_feed(spark, d, 1, g, key_col="id")
            .select("_change_type", "id", "lsn", "email")
            .collect()
        ),
        key=repr,
    )
    assert want == [
        ("delete", None, 1, "n@x", g),
        ("insert", None, 2, "n2@x", g),
        ("update_postimage", 5, 2, "a2@x", g),
        ("update_preimage", 5, 1, "a@x", g),
    ]
    assert _split_rows(_feed_reader(d), 1, g) == want


def _labelled_diff(before, after):
    """The labelled multiset diff of two reads of a table keyed on its
    first column: rows only in ``before`` are pre-images, rows only in
    ``after`` post-images, and a non-NULL key holding both pairs into an
    update (the NULL-key rule in manifest.py's module docstring)."""
    from collections import Counter

    old, new = Counter(before), Counter(after)
    gone, came = old - new, new - old
    upd = ({r[0] for r in gone} & {r[0] for r in came}) - {None}
    out = []
    for rows, pair, plain in (
        (gone, "update_preimage", "delete"),
        (came, "update_postimage", "insert"),
    ):
        for r, n in rows.items():
            out += [(pair if r[0] in upd else plain, *r)] * n
    return out


_DIFF_DDL = "id long, v long, s string"


def _assert_feeds_equal_table_diff(spark, d, g):
    """Commit ``g``'s feed three ways, one multiset: the stream's split
    rows, the batch feed over (g-1, g) — change_feed_mor for merge-on-read
    and fold commits, change_feed keyed on ``id`` otherwise — and the
    labelled diff of the table read at g-1 and at g. Returns it."""
    from ez_cdc_spark.sources.manifest import (
        change_feed,
        change_feed_mor,
        read_manifest,
        read_mor,
    )

    cols = ["id", "v", "s"]
    man = read_manifest(d, g)
    if "mor" in man or "fold" in man:
        feed = change_feed_mor(spark, d, g - 1, g)
    else:
        feed = change_feed(spark, d, g - 1, g, key_col="id")
    batch = sorted(
        ((*r, g) for r in feed.select("_change_type", *cols).collect()), key=repr
    )

    def table(gen):
        return [tuple(r) for r in read_mor(spark, d, gen).select(*cols).collect()]

    truth = sorted(
        ((*r, g) for r in _labelled_diff(table(g - 1), table(g))), key=repr
    )
    stream = _split_rows(_feed_reader(d), g - 1, g)
    assert stream == batch == truth, (g, stream, batch, truth)
    return truth


@pytest.mark.parametrize("merge", ["merge_mor", "merge_mor_executor_keys", "merge_cow"])
def test_change_feeds_follow_the_null_key_rule(spark, tmp_path, monkeypatch, merge):
    """Upserting a NULL key inserts: the parent's NULL-key rows stay live
    (a NULL key never matches), so the stream, the batch feed and the
    table diff all emit one insert, and a later commit's NULL upsert
    beside a key update emits its insert next to the update pair. Under
    merge_mor the NULL delete entry of the first commit must not kill a
    NULL row in the second commit's pre-image; ``merge_mor_executor_keys``
    has change_feed_mor read its changed keys on the executor path."""
    import ez_cdc_spark.sources.manifest as m

    if merge == "merge_mor_executor_keys":
        monkeypatch.setattr(m, "_FEED_KEYS_DRIVER_MAX_ROWS", 0)
        merge = "merge_mor"
    d = str(tmp_path / "t")
    m.publish(
        spark.createDataFrame([(None, 1, "n"), (5, 1, "a")], _DIFF_DDL),
        d, 1, stats_columns=["id"],
    )

    def batch(rows):
        return spark.createDataFrame(rows, _DIFF_DDL + ", op string, seq long")

    getattr(m, merge)(spark, d, batch([(None, 2, "n", "u", 2)]), "id", 2)
    assert _assert_feeds_equal_table_diff(spark, d, 2) == [
        ("insert", None, 2, "n", 2)
    ]
    getattr(m, merge)(
        spark, d, batch([(None, 3, "n", "u", 3), (5, 9, "a", "u", 3)]), "id", 3
    )
    assert _assert_feeds_equal_table_diff(spark, d, 3) == [
        ("insert", None, 3, "n", 3),
        ("update_postimage", 5, 9, "a", 3),
        ("update_preimage", 5, 1, "a", 3),
    ]


def _random_chain(spark, d, family, seed):
    """A seeded random commit chain over ``_DIFF_DDL`` keyed on ``id``:
    merges of 3-5 events over a small key domain with NULL keys, deletes,
    re-inserts and redeliveries (an event repeated in its batch, or the
    previous batch's last event sent again), mixed with appends and
    partial compactions (``cow``) or merge-on-read folds (``mor``).
    Returns the last generation."""
    import random

    import ez_cdc_spark.sources.manifest as m

    rng = random.Random(seed)
    m.publish(
        spark.createDataFrame(
            [(None, 0, "n"), (None, 0, None), (1, 0, "a"), (2, 0, "b"), (3, 0, None)],
            _DIFF_DDL,
        ).repartition(2),
        d, 1, stats_columns=["id"],
    )
    domain, fresh = [None, 1, 2, 3, 4, 5], iter(range(100, 200))
    seq, last = 0, None
    steps = ["merge"] * 3 + (["append", "compact"] if family == "cow" else ["fold"])
    step = None
    for _ in range(7):
        # a fold needs merge-on-read churn since the last one
        step = "merge" if step in (None, "fold") else rng.choice(steps)
        if step == "append":
            rows = [(rng.choice([None, next(fresh)]), rng.randrange(9), "x")]
            domain += [k for k, *_ in rows if k is not None]
            m.publish_append(spark.createDataFrame(rows, _DIFF_DDL), d, None)
        elif step == "compact":
            m.compact_partial(spark, d, None, max_file_bytes=10**9, target_files=1)
        elif step == "fold":
            m.compact_mor(spark, d, None, target_files=1)
        else:
            events = []
            for _ in range(rng.randint(3, 5)):
                seq += 1
                op = rng.choice("ccuud")
                val = rng.randrange(9) if op != "d" else None
                s = rng.choice(["p", None])
                events.append((rng.choice(domain), val, s, op, seq))
            if rng.random() < 0.5:
                events.append(rng.choice(events))
            if last is not None and rng.random() < 0.5:
                events.append(last)
            last = events[-1]
            merge = m.merge_mor if family == "mor" else m.merge_cow
            merge(
                spark, d,
                spark.createDataFrame(events, _DIFF_DDL + ", op string, seq long"),
                "id", None,
            )
    return m.read_manifest(d)["generation"]


@pytest.mark.parametrize("family", ["cow", "mor"])
def test_change_feeds_equal_table_diff_on_random_chains(spark, tmp_path, family):
    """Differential check of both labelled-feed kernels against the
    definition: on a seeded random chain (``_random_chain``), for every
    commit g the stream's rows, the batch feed over (g-1, g) and the
    labelled diff of the table read at g-1 and at g are one multiset."""
    d = str(tmp_path / "t")
    last = _random_chain(spark, d, family, seed=20261020)
    assert last >= 4
    for g in range(2, last + 1):
        _assert_feeds_equal_table_diff(spark, d, g)


def test_change_feed_stream_ignores_planted_change_files(spark, tmp_path):
    """Manifests once listed merge-time ``change_files`` under
    ``data/gen-N/_changefeed/``. The stream derives every merge's feed
    from its file delta, so a planted ``change_files`` entry changes
    nothing it emits, and vacuum reclaims the files: no manifest key
    protects them any more."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ez_cdc_spark.sources.manifest import merge_cow, vacuum

    d, _ = _feed_table(spark, "cdf_planted")
    merge_cow(
        spark, d, _feed_batch(spark, [(1, 10, "a@x", "c", 10)]), "id", 2
    )
    merge_cow(
        spark, d, _feed_batch(spark, [(1, 20, "a2@x", "u", 20)]), "id", 3
    )
    planted = os.path.join(d, "data", "gen-3", "_changefeed", "part-0.parquet")
    os.makedirs(os.path.dirname(planted))
    pq.write_table(
        pa.table({
            "_change_type": ["delete"], "id": [99], "lsn": [0], "email": ["z"],
        }),
        planted,
    )
    mpath = os.path.join(d, "_manifests", "gen-3.json")
    with open(mpath) as fh:
        man = json.load(fh)
    man["change_files"] = [os.path.relpath(planted, d)]
    man["change_feed_key"] = "id"
    with open(mpath, "w") as fh:
        json.dump(man, fh)

    got = _drain_feed(spark, d, str(tmp_path / "ck"), str(tmp_path / "out"))
    assert got == [
        ("insert", 1, 10, "a@x", 2),
        ("update_postimage", 1, 20, "a2@x", 3),
        ("update_preimage", 1, 10, "a@x", 3),
    ]
    assert planted in vacuum(d, older_than_s=0.0)
    assert not os.path.exists(planted)
    assert all(os.path.exists(os.path.join(d, r)) for r in man["files"])

    # a merge recorded before merge records named their key: the same
    # rows, labelled without update pairs (the batch feed without key_col)
    del man["merge"]["key"]
    with open(mpath, "w") as fh:
        json.dump(man, fh)
    assert _split_rows(_feed_reader(d), 2, 3) == [
        ("delete", 1, 10, "a@x", 3),
        ("insert", 1, 20, "a2@x", 3),
    ]


def test_stream_readers_tail_branch_heads(spark, tmp_path):
    """r17 (round-18 candidate landed early): both stream readers honor
    option('ref', name) — S38 refs share the generation space, so only
    the head resolution changes. A WAP-style staging branch can be
    tailed (T42) and feed-consumed (T46) without publishing to main."""
    from ez_cdc_spark.sources.manifest import create_branch, merge_cow, publish_append

    d, schema = _feed_table(spark, "branch_tail")
    create_branch(d, "stage")
    merge_cow(
        spark, d, _feed_batch(spark, [(1, 10, "a@x", "c", 10)]),
        "id", 2, ref="stage",
    )
    publish_append(
        spark.createDataFrame([(2, 20, "b@x")], schema), d, 3, ref="stage"
    )
    register_ezmanifest(spark)
    # T46 feed off the branch
    q = (
        spark.readStream.format("ezmanifest")
        .option("path", d)
        .option("changeFeed", "true")
        .option("ref", "stage")
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "feed"))
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    feed = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "feed"))
        .select("_change_type", "id", "lsn")
        .collect()
    )
    assert feed == [("insert", 1, 10), ("insert", 2, 20)]
    # T42 append-tail off the branch (the merge created the table's first
    # data, so from gen 2 the chain is append-only on the branch)
    q2 = (
        spark.readStream.format("ezmanifest")
        .option("path", d)
        .option("ref", "stage")
        .option("startingGeneration", 2)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "tail"))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    tail = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "tail"))
        .select("id", "lsn")
        .collect()
    )
    assert tail == [(2, 20)]
    # main never saw any of it
    from ez_cdc_spark.sources.manifest import read_committed

    assert read_committed(spark, d).count() == 0


def test_bloom_index_survives_mor_epochs(spark):
    """S47 × S36 (r17): merge_mor carries the declared bloom index
    verbatim through the epoch (point-lookup pruning is suspended while
    reads resolve through read_mor), and compact_mor's fold RE-INDEXES
    every live file into a fresh sidecar chain — one MOR epoch used to
    permanently strip the index."""
    from ez_cdc_spark.sources.manifest import (
        bloom_pruned_files,
        compact_mor,
        merge_mor,
        read_manifest,
        table_blooms,
    )

    d = os.path.join(SCRATCH, "bloom_mor")
    shutil.rmtree(d, ignore_errors=True)
    publish(
        spark.range(2000).selectExpr("id AS k", "id % 8 AS v")
        .repartitionByRange(8, "v"),
        d, 1, stats_columns=["v"], bloom_columns=["k"],
    )
    merge_mor(
        spark, d,
        spark.createDataFrame(
            [(5, 999, "u", 1), (7, -1, "d", 2)],
            "k long, v long, op string, seq long",
        ),
        "k", 2,
    )
    man = read_manifest(d)
    assert man["bloom_meta"]["columns"] == ["k"]  # carried through the epoch
    compact_mor(spark, d, 3, target_files=4)
    man = read_manifest(d)
    assert len(man["bloom_meta"]["sidecars"]) == 1  # fold re-indexed fresh
    assert len(table_blooms(d, man)) == man["n_files"]
    kept, _ = bloom_pruned_files(d, "k", 5)
    assert 1 <= len(kept) < man["n_files"]
    assert bloom_pruned_files(d, "k", 10**9)[0] == []


def test_change_feed_stream_live_tail_races_producer(spark, tmp_path):
    """T46 live: a PROCESSING-TIME changeFeed consumer attached BEFORE any
    merge discovers each commit from the pointer alone and emits exactly
    its materialized feed — the produce→consume loop with no restarts,
    racing the producer commit-by-commit (the t45 pattern for the feed)."""
    import time

    from ez_cdc_spark.sources.manifest import merge_cow

    d, _ = _feed_table(spark, "cdf_live")
    out = str(tmp_path / "out")
    register_ezmanifest(spark)
    q = (
        spark.readStream.format("ezmanifest")
        .option("path", d)
        .option("changeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="0 seconds")
        .start()
    )

    try:
        merge_cow(
            spark, d, _feed_batch(spark, [(1, 10, "a@x", "c", 10)]),
            "id", 2,
        )
        wait_drained(q, "gen", 2, timeout=120)
        merge_cow(
            spark, d,
            _feed_batch(spark, [(1, 20, "a2@x", "u", 20), (2, 21, "b@x", "c", 21)]),
            "id", 3,
        )
        wait_drained(q, "gen", 3, timeout=120)
        merge_cow(
            spark, d, _feed_batch(spark, [(2, 30, None, "d", 30)]),
            "id", 4,
        )
        wait_drained(q, "gen", 4, timeout=120)
        # drain: wait until the sink has flushed the last batch
        deadline = time.time() + 60
        want = [
            ("delete", 2, 21, "b@x", 4),
            ("insert", 1, 10, "a@x", 2),
            ("insert", 2, 21, "b@x", 3),
            ("update_postimage", 1, 20, "a2@x", 3),
            ("update_preimage", 1, 10, "a@x", 3),
        ]
        got = None
        while time.time() < deadline:
            try:
                got = sorted(
                    tuple(r)
                    for r in spark.read.parquet(out)
                    .select(
                        "_change_type", "id", "lsn", "email",
                        "_commit_generation",
                    )
                    .collect()
                )
            except Exception:
                got = None
            if got == want:
                break
            time.sleep(0.3)
        assert got == want
    finally:
        q.stop()
        q.awaitTermination()


# ----- T47: merge-on-read commits through the change-feed stream -----


def test_mor_change_feed_stream_restart_fold_invisible_and_preimages(
    spark, tmp_path
):
    """T47 pins (r17 verdict #1 'Done' criteria): (a) restart-mid-feed
    continuation over MOR commits — a second availableNow run on the
    same checkpoint consumes exactly the merge_mor commits that landed
    since, never re-emitting; (b) a compact_mor FOLD between merges
    contributes NOTHING (maintenance invisibility), and the merge after
    the fold resolves its pre-images against the folded COW parent;
    (c) feed rows carry exact pre-images derived on read from the
    equality-delete churn keys."""
    from ez_cdc_spark.sources.manifest import compact_mor, merge_mor

    d, _schema = _feed_table(spark, "mor_cdf_restart")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    merge_mor(
        spark, d,
        _feed_batch(spark, [(1, 10, "a@x", "c", 10), (2, 11, "b@x", "c", 11)]),
        "id", 2,
    )
    got1 = _drain_feed(spark, d, ck, out)
    assert got1 == [
        ("insert", 1, 10, "a@x", 2),
        ("insert", 2, 11, "b@x", 2),
    ]
    merge_mor(
        spark, d,
        _feed_batch(spark, [(1, 20, "a2@x", "u", 20), (3, 21, "c@x", "c", 21)]),
        "id", 3,
    )
    compact_mor(spark, d, 4, target_files=1)  # fold mid-feed
    merge_mor(
        spark, d,
        _feed_batch(spark, [(2, 30, None, "d", 30)]),
        "id", 5,
    )
    got2 = _drain_feed(spark, d, ck, out)
    new = sorted(set(got2) - set(got1))
    assert new == [
        ("delete", 2, 11, "b@x", 5),
        ("insert", 3, 21, "c@x", 3),
        ("update_postimage", 1, 20, "a2@x", 3),
        ("update_preimage", 1, 10, "a@x", 3),
    ]
    assert len(got2) == len(got1) + 4  # nothing re-emitted; the fold added 0


def test_change_feed_stream_mixed_cow_and_mor_commits(spark, tmp_path):
    """One commit chain holding BOTH commit shapes drains through ONE
    consumer: a recorded COW merge, then a MOR commit on top of it, a
    fold, then another recorded COW merge after the fold — the sink can
    switch commit shapes per batch (COW for clustered churn, MOR for
    uniform churn) without the consumer noticing."""
    from ez_cdc_spark.sources.manifest import compact_mor, merge_cow, merge_mor

    d, _schema = _feed_table(spark, "mixed_cdf")
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    merge_cow(
        spark, d, _feed_batch(spark, [(1, 10, "a@x", "c", 10)]),
        "id", 2,
    )
    merge_mor(
        spark, d,
        _feed_batch(spark, [(1, 20, "a2@x", "u", 20), (2, 21, "b@x", "c", 21)]),
        "id", 3,
    )
    compact_mor(spark, d, 4, target_files=1)
    merge_cow(
        spark, d, _feed_batch(spark, [(2, 30, None, "d", 30)]),
        "id", 5,
    )
    got = _drain_feed(spark, d, ck, out)
    assert got == sorted(
        [
            ("insert", 1, 10, "a@x", 2),
            ("update_preimage", 1, 10, "a@x", 3),
            ("update_postimage", 1, 20, "a2@x", 3),
            ("insert", 2, 21, "b@x", 3),
            ("delete", 2, 21, "b@x", 5),
        ]
    )


def test_mor_change_feed_stream_restore_refusal_and_bucket_invariance(
    spark, tmp_path
):
    """T47 refusal + determinism pins: (a) the feed content is invariant
    under the key-hash bucket count (feedBuckets=1/3/8 — the split
    partitioner is a pure partitioning of the churn keys); (b) an
    interval crossing a RESTORE refuses loudly through the stream."""
    from ez_cdc_spark.sources.manifest import merge_mor, restore

    d, _schema = _feed_table(spark, "mor_cdf_refuse")
    merge_mor(spark, d, _feed_batch(spark, [(1, 10, "a@x", "c", 10)]), "id", 2)
    merge_mor(spark, d, _feed_batch(spark, [(1, 20, "a2@x", "u", 20)]), "id", 3)
    want = [
        ("insert", 1, 10, "a@x", 2),
        ("update_postimage", 1, 20, "a2@x", 3),
        ("update_preimage", 1, 10, "a@x", 3),
    ]
    register_ezmanifest(spark)
    for i, nb in enumerate((1, 3, 8)):
        ck, out = str(tmp_path / f"ck{i}"), str(tmp_path / f"out{i}")
        q = (
            spark.readStream.format("ezmanifest")
            .option("path", d)
            .option("changeFeed", "true")
            .option("feedBuckets", str(nb))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("_change_type", "id", "lsn", "email", "_commit_generation")
            .collect()
        )
        assert got == want, f"feedBuckets={nb}"
    restore(d, 4, as_of_generation=2)
    ck, out = str(tmp_path / "ckR"), str(tmp_path / "outR")
    with pytest.raises(Exception, match="restore"):
        _drain_feed(spark, d, ck, out)


def test_mor_change_feed_stream_partitioned_key_moves_partition(
    spark, tmp_path
):
    """T47 × partitioned MOR: the genesis snapshot reconstructs partition
    values from the manifest map, and a merge_mor whose key MOVES
    partitions feeds the move exactly (pre-image in the old partition,
    post-image in the new — the reason merge_mor's equality-delete file
    is global, never partition-scoped)."""
    from ez_cdc_spark.sources.manifest import merge_mor, publish_partitioned

    d = os.path.join(SCRATCH, "mor_cdf_part")
    shutil.rmtree(d, ignore_errors=True)
    seed = spark.createDataFrame(
        [(1, 10, "us"), (2, 11, "eu")], "id long, lsn long, region string"
    )
    publish_partitioned(seed, d, 1, partition_col="region", stats_columns=["id"])
    merge_mor(
        spark, d,
        spark.createDataFrame(
            [(1, 20, "eu", "u", 20), (3, 21, "us", "c", 21)],
            "id long, lsn long, region string, op string, seq long",
        ),
        "id", 2,
    )
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    register_ezmanifest(spark)
    q = (
        spark.readStream.format("ezmanifest")
        .option("path", d)
        .option("changeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select("_change_type", "id", "lsn", "region", "_commit_generation")
        .collect()
    )
    assert got == sorted(
        [
            ("insert", 1, 10, "us", 1),
            ("insert", 2, 11, "eu", 1),
            ("update_preimage", 1, 10, "us", 2),
            ("update_postimage", 1, 20, "eu", 2),
            ("insert", 3, 21, "us", 2),
        ]
    )


def test_mor_change_feed_stream_long_partition_column(spark, tmp_path):
    """ADVICE r18 (medium): the manifest partitions map stores the Hive
    directory STRING, and the MOR feed split used to inject it verbatim
    into the typed output arrays — ArrowInvalid on any non-string
    partition column, a shape merge_mor supports. The split now coerces
    the value once per file to the column's logical type (the T46
    split's infer-then-cast), so a LongType-partitioned MOR commit
    feeds exactly — including a key that moves partitions and a
    delete."""
    from ez_cdc_spark.sources.manifest import merge_mor, publish_partitioned

    d = os.path.join(SCRATCH, "mor_cdf_part_long")
    shutil.rmtree(d, ignore_errors=True)
    seed = spark.createDataFrame(
        [(1, 10, 7), (2, 11, 8)], "id long, lsn long, shard long"
    )
    publish_partitioned(seed, d, 1, partition_col="shard", stats_columns=["id"])
    merge_mor(
        spark, d,
        spark.createDataFrame(
            [(1, 20, 8, "u", 20), (3, 21, 7, "c", 21), (2, 22, 8, "d", 22)],
            "id long, lsn long, shard long, op string, seq long",
        ),
        "id", 2,
    )
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    register_ezmanifest(spark)
    q = (
        spark.readStream.format("ezmanifest")
        .option("path", d)
        .option("changeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select("_change_type", "id", "lsn", "shard", "_commit_generation")
        .collect()
    )
    assert got == sorted(
        [
            ("insert", 1, 10, 7, 1),
            ("insert", 2, 11, 8, 1),
            ("update_preimage", 1, 10, 7, 2),
            ("update_postimage", 1, 20, 8, 2),
            ("insert", 3, 21, 7, 2),
            ("delete", 2, 11, 8, 2),
        ]
    )


@pytest.mark.parametrize("writer", ["publish_append", "format_write", "format_sink"])
def test_bloom_sidecar_chain_stays_bounded_under_append_heavy_load(spark, writer):
    """r17 verdict #6: each bloom-carrying append adds one sidecar, so an
    append-heavy steady state once made table_blooms walk O(appends)
    files per driver-side lookup. The carry now FOLDS the chain into one
    sidecar every _BLOOM_FOLD_EVERY commits (pruning entries for files a
    rewrite made dead), so across 50 appends with interleaved partial
    compactions: (a) the chain — the sidecar reads per lookup — never
    exceeds the fold cap at ANY commit; (b) every live file keeps a bloom
    entry; (c) point-lookup pruning stays correct and keeps proving
    absence at the end of the run. Every appending writer shares the
    carry: the engine's publish_append, ``df.write.format('ezmanifest')``
    and the format's streaming sink (one epoch commit per append)."""
    import pyarrow as pa

    from ez_cdc_spark.sources.manifest import (
        _BLOOM_FOLD_EVERY,
        bloom_pruned_files,
        compact_partial,
        current_generation,
        publish,
        publish_append,
        read_manifest,
        table_blooms,
    )
    from ez_cdc_spark.sources.pyds import make_ezmanifest_source

    d = os.path.join(SCRATCH, f"bloomchain_{writer}")
    shutil.rmtree(d, ignore_errors=True)
    publish(
        spark.range(10).selectExpr("id AS k", "id*2 AS v"),
        d, 1, stats_columns=["k"], bloom_columns=["k"], bloom_bits=4096,
    )
    src = make_ezmanifest_source(with_pushdown=False)
    schema = spark.range(1).selectExpr("id AS k", "id*2 AS v").schema

    def append(i):
        lo, hi = 10 + i * 10, 20 + i * 10
        if writer == "format_sink":
            w = src(options={"path": d, "txntag": "chain"}).streamWriter(
                schema, False
            )
            ks = list(range(lo, hi))
            msg = w.write(iter([pa.record_batch({"k": ks, "v": [k * 2 for k in ks]})]))
            w.commit([msg], i)
            return
        df = spark.range(lo, hi).coalesce(1).selectExpr("id AS k", "id*2 AS v")
        if writer == "format_write":
            _write(spark, df, d)
        else:
            publish_append(df, d, current_generation(d) + 1)

    max_chain = 0
    for i in range(50):
        append(i)
        max_chain = max(
            max_chain,
            len(read_manifest(d)["bloom_meta"]["sidecars"]),
        )
        if i % 10 == 9:  # interleaved maintenance, t30's sink pattern
            compact_partial(
                spark, d, current_generation(d) + 1,
                max_file_bytes=10**9, target_files=2,
            )
            max_chain = max(
                max_chain,
                len(read_manifest(d)["bloom_meta"]["sidecars"]),
            )
    man = read_manifest(d)
    assert max_chain <= _BLOOM_FOLD_EVERY, max_chain
    blooms = table_blooms(d, man)
    missing = [rel for rel in man["files"] if "k" not in blooms.get(rel, {})]
    assert not missing, missing  # every live file still indexed
    # present key: kept files must contain it; absent key: bloom+stats
    # prove absence across every file
    kept, skipped = bloom_pruned_files(d, "k", 463, manifest=man)
    got = sorted(
        r["k"]
        for r in spark.read.parquet(*kept).where("k = 463").collect()
    )
    assert got == [463] and set(kept) | set(skipped) == {
        os.path.join(d, rel) for rel in man["files"]
    }
    kept_absent, _ = bloom_pruned_files(d, "k", 10**9, manifest=man)
    assert kept_absent == []


def test_mor_change_feed_stream_live_tail_races_producer(spark, tmp_path):
    """T47 live: a PROCESSING-TIME changeFeed consumer attached BEFORE any
    commit races a merge_mor producer commit-by-commit — each trigger
    derives that commit's churn feed on read with no restarts, and a
    mid-stream fold stays invisible to the running consumer."""
    import time

    from ez_cdc_spark.sources.manifest import compact_mor, merge_mor

    d, _ = _feed_table(spark, "mor_cdf_live")
    out = str(tmp_path / "out")
    register_ezmanifest(spark)
    q = (
        spark.readStream.format("ezmanifest")
        .option("path", d)
        .option("changeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="0 seconds")
        .start()
    )

    try:
        merge_mor(
            spark, d, _feed_batch(spark, [(1, 10, "a@x", "c", 10)]), "id", 2
        )
        wait_drained(q, "gen", 2, timeout=120)
        merge_mor(
            spark, d,
            _feed_batch(spark, [(1, 20, "a2@x", "u", 20), (2, 21, "b@x", "c", 21)]),
            "id", 3,
        )
        wait_drained(q, "gen", 3, timeout=120)
        compact_mor(spark, d, 4, target_files=1)  # fold while live
        merge_mor(
            spark, d, _feed_batch(spark, [(2, 30, None, "d", 30)]), "id", 5
        )
        wait_drained(q, "gen", 5, timeout=120)
        deadline = time.time() + 60
        want = [
            ("delete", 2, 21, "b@x", 5),
            ("insert", 1, 10, "a@x", 2),
            ("insert", 2, 21, "b@x", 3),
            ("update_postimage", 1, 20, "a2@x", 3),
            ("update_preimage", 1, 10, "a@x", 3),
        ]
        got = None
        while time.time() < deadline:
            try:
                got = sorted(
                    tuple(r)
                    for r in spark.read.parquet(out)
                    .select(
                        "_change_type", "id", "lsn", "email",
                        "_commit_generation",
                    )
                    .collect()
                )
            except Exception:
                got = None
            if got == want:
                break
            time.sleep(0.3)
        assert got == want
    finally:
        q.stop()
        q.awaitTermination()


def test_stable_bucket64_parity_spark_python(spark):
    """r19 delete-read cut, the load-bearing invariant: the write-side
    Spark bucket expression (_bucket64_counts) and commit_core's
    _stable_bucket — the one Python hash both merge_mor's in-process
    counts and the feed reader's split planning use — must agree per key
    value: planning SKIPS splits and delete files from the write-side
    counts, so a disagreement silently drops feed rows. The reader side
    is pinned end-to-end by the planning-skip tests below (a wrong skip
    breaks their exact-feed assertions); here the pair is pinned directly
    on adversarial values, and the non-portable key types are pinned to
    OPT OUT (record nothing)."""
    from collections import Counter

    from ez_cdc_spark.sources.manifest import _bucket64_counts, _stable_bucket

    ints = [0, 1, -1, 5, 63, 64, 2**40, -(2**40), 999999937, 7, 7]
    got = _bucket64_counts(
        spark.createDataFrame([(v,) for v in ints], "k long"), "k"
    )
    want = Counter(str(_stable_bucket(v, 64)) for v in ints)
    assert got == dict(want)

    strs = ["", "a", "alex", "ünïcode-ключ", "foley", None]
    got_s = _bucket64_counts(
        spark.createDataFrame([(v,) for v in strs], "k string"), "k"
    )
    want_s = Counter(str(_stable_bucket(v, 64)) for v in strs)
    assert got_s == dict(want_s)
    assert _stable_bucket(None, 64) == 0

    # non-portable key types: no counts recorded (conservative read path)
    assert _bucket64_counts(
        spark.createDataFrame([(1.5,)], "k double"), "k"
    ) is None
    assert _bucket64_counts(
        spark.createDataFrame([(True,)], "k boolean"), "k"
    ) is None


def _feed_reader(d, n_buckets=8):
    from ez_cdc_spark.sources.pyds import make_ezmanifest_source

    ds = make_ezmanifest_source()(
        options={"path": d, "changefeed": "true", "feedbuckets": str(n_buckets)}
    )
    return ds.streamReader(None)


def _drain_splits(reader, start, end, monkeypatch):
    """Plan the interval and read every split driver-side, counting
    pq.read_table paths (the MOR feed reads delete files ONLY through
    read_table; data files go through ParquetFile)."""
    import pyarrow.parquet as pq

    reads = []
    orig = pq.read_table

    def counting(path, *a, **kw):
        reads.append(os.path.normpath(str(path)))
        return orig(path, *a, **kw)

    monkeypatch.setattr("pyarrow.parquet.read_table", counting)
    splits = reader.partitions({"gen": start}, {"gen": end})
    rows = []
    for sp in splits:
        for batch in reader.read(sp) or []:
            cols = batch.to_pydict()
            names = list(cols)
            rows.extend(
                tuple(cols[n][i] for n in names)
                for i in range(batch.num_rows)
            )
    monkeypatch.setattr("pyarrow.parquet.read_table", orig)
    return splits, rows, reads


def _delete_rels_by_seq(man, seq):
    """The delete files one merge_mor commit (sequence ``seq``) staged."""
    rels = [r for r in man["delete_files"] if man["delete_seq"][r] == seq]
    assert rels
    return rels


def _key_span(man, rels):
    """[min, max] over the recorded key ranges of ``rels``."""
    ranges = [man["delete_meta"][r]["range"] for r in rels]
    return [min(r[0] for r in ranges), max(r[1] for r in ranges)]


def test_mor_feed_planning_skips_churnfree_buckets_and_files(
    spark, monkeypatch
):
    """r18 verdict #4 / ADVICE r18: every one of the N feedBuckets splits
    used to read the commit's full churn key column and keep ~1/N. With
    merge_mor's recorded base-bucket counts, planning creates splits ONLY
    for buckets that hold churn, and the commit's delete file is read
    exactly once per live bucket — pinned here at the split level, with
    the feed content still exact."""
    from ez_cdc_spark.sources.manifest import (
        _stable_bucket,
        merge_mor,
        publish,
        read_manifest,
    )

    d = os.path.join(SCRATCH, "feed_bucket_skip")
    shutil.rmtree(d, ignore_errors=True)
    publish(
        spark.range(200).selectExpr("id AS k", "id*2 AS v"),
        d, 1, stats_columns=["k"],
    )
    churn = [(5, 500, "u", 1), (17, 1700, "u", 2), (777, 7, "c", 3), (9, 0, "d", 4)]
    merge_mor(
        spark, d,
        spark.createDataFrame(churn, "k long, v long, op string, seq long"),
        "k", 2,
    )
    man = read_manifest(d)
    drel = [r for r in man["delete_files"]][0]
    meta = man["delete_meta"][drel]
    want_buckets = {_stable_bucket(k, 64) % 8 for k, *_ in churn}
    assert {int(b) % 8 for b, n in meta["b64"].items() if n} == want_buckets
    assert meta["range"] == [5, 777]

    reader = _feed_reader(d, n_buckets=8)
    splits, rows, reads = _drain_splits(reader, 1, 2, monkeypatch)
    assert {sp.bucket for sp in splits} == want_buckets
    assert all(sp.new_delete_rels == [drel] for sp in splits)
    # the commit's delete file: exactly one read per LIVE bucket (the old
    # plan read it 8 times); no other read_table call happens here (the
    # parent has no delete log, data files go through ParquetFile)
    dpath = os.path.normpath(os.path.join(d, drel))
    assert reads.count(dpath) == len(want_buckets)
    assert len(reads) == len(want_buckets)

    assert sorted(rows) == sorted(
        [
            ("update_preimage", 5, 10, 2),
            ("update_postimage", 5, 500, 2),
            ("update_preimage", 17, 34, 2),
            ("update_postimage", 17, 1700, 2),
            ("insert", 777, 7, 2),
            ("delete", 9, 18, 2),
        ]
    )


def test_mor_feed_parent_delete_log_range_pruned(spark, monkeypatch):
    """r18 verdict #4, second half: a bucket with pre-image work used to
    re-read the parent's ENTIRE delete log. With per-delete-file key
    ranges recorded at merge time, a split prunes parent delete files
    whose range provably excludes its churn keys — here the older
    commit's delete log (keys 0..9) is never opened while feeding the
    newer commit (keys 500..509), and the feed is still exact."""
    from ez_cdc_spark.sources.manifest import merge_mor, publish, read_manifest

    d = os.path.join(SCRATCH, "feed_parent_prune")
    shutil.rmtree(d, ignore_errors=True)
    publish(
        spark.range(1000).selectExpr("id AS k", "id*2 AS v"),
        d, 1, stats_columns=["k"],
    )
    merge_mor(
        spark, d,
        spark.range(10).selectExpr(
            "id AS k", "id*10 AS v", "'u' AS op", "id AS seq"
        ),
        "k", 2,
    )
    merge_mor(
        spark, d,
        spark.range(500, 510).selectExpr(
            "id AS k", "id*3 AS v", "'u' AS op", "id AS seq"
        ),
        "k", 3,
    )
    man = read_manifest(d)
    # a commit stages one delete file per write task; each records the
    # key range of its own keys
    d2rels, d3rels = _delete_rels_by_seq(man, 2), _delete_rels_by_seq(man, 3)
    assert _key_span(man, d2rels) == [0, 9]
    assert _key_span(man, d3rels) == [500, 509]

    reader = _feed_reader(d, n_buckets=8)
    splits, rows, reads = _drain_splits(reader, 2, 3, monkeypatch)
    for rel in d2rels:  # parent delete log provably irrelevant
        assert os.path.normpath(os.path.join(d, rel)) not in reads
    assert all(r.endswith(".parquet") for r in reads)
    assert sorted(rows) == sorted(
        [("update_preimage", k, k * 2, 3) for k in range(500, 510)]
        + [("update_postimage", k, k * 3, 3) for k in range(500, 510)]
    )


def test_mor_feed_pre_r19_manifest_reads_everything(spark, monkeypatch):
    """The delete-read cut is pure metadata (manifest.py delete_meta):
    a manifest recorded before it existed must plan a split for EVERY
    feed bucket, hand the commit's delete file to each, and never
    range-prune the parent's delete log — exactly the old behavior,
    with the feed content still exact."""
    import json as _json

    from ez_cdc_spark.sources.manifest import (
        _manifest_path,
        read_manifest,
    )

    d = os.path.join(SCRATCH, "feed_pre_r19")
    shutil.rmtree(d, ignore_errors=True)
    publish(
        spark.range(100).selectExpr("id AS k", "id*2 AS v"),
        d, 1, stats_columns=["k"],
    )
    merge_mor(
        spark, d,
        spark.range(5).selectExpr(
            "id AS k", "id*10 AS v", "'u' AS op", "id AS seq"
        ),
        "k", 2,
    )
    merge_mor(
        spark, d,
        spark.createDataFrame([(50, 999, "u", 50)], "k long, v long, op string, seq long"),
        "k", 3,
    )
    # simulate a pre-r19 writer: strip the feed-planning metadata from
    # the committed (immutable-but-local-JSON) manifests
    for g in (2, 3):
        p = _manifest_path(d, g)
        with open(p) as fh:
            man = _json.load(fh)
        man.pop("delete_meta", None)
        with open(p, "w") as fh:
            _json.dump(man, fh)
    man = read_manifest(d)
    assert "delete_meta" not in man
    d2rels, d3rels = _delete_rels_by_seq(man, 2), _delete_rels_by_seq(man, 3)

    reader = _feed_reader(d, n_buckets=8)
    splits, rows, reads = _drain_splits(reader, 2, 3, monkeypatch)
    # without counts every bucket is live and every split gets the files
    assert {sp.bucket for sp in splits} == set(range(8))
    assert all(sp.new_delete_rels == d3rels for sp in splits)
    for rel in d3rels:
        assert reads.count(os.path.normpath(os.path.join(d, rel))) == 8
    # without a recorded range the pre-image bucket cannot prune the
    # parent's (provably irrelevant: keys 0..4 vs churn key 50) delete log
    for rel in d2rels:
        assert os.path.normpath(os.path.join(d, rel)) in reads
    assert sorted(rows) == sorted(
        [("update_preimage", 50, 100, 3), ("update_postimage", 50, 999, 3)]
    )


def test_change_feed_stream_epoch_refusal_names_batch_owner(spark, tmp_path):
    """r18 verdict #5 / SURVEY r19 #3: the changeFeed STREAM refuses
    rename/drop-mapped (epoch_maps) history for both commit shapes — the
    stream's splits read files by physical name and cannot map per-era
    columns — and the refusal must name the batch owner, which DOES
    resolve eras via _read_files. Pinned: the exact refusal class on an
    era-crossing interval, and the named batch path serving the same
    changes with the renamed logical column."""
    import pytest as _pytest

    from ez_cdc_spark.sources.manifest import (
        change_feed,
        merge_cow,
        rename_column,
    )

    d, _ = _feed_table(spark, "cdf_refuse_epoch")
    merge_cow(
        spark, d, _feed_batch(spark, [(1, 10, "a@x", "c", 10)]),
        "id", 2,
    )
    rename_column(d, 3, "email", "mail")
    merge_cow(
        spark, d,
        spark.createDataFrame(
            [(1, 20, "a2@x", "u", 20)],
            "id long, lsn long, mail string, op string, seq long",
        ),
        "id", 4,
    )
    register_ezmanifest(spark)
    q = (
        spark.readStream.format("ezmanifest")
        .option("path", d)
        .option("changeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with _pytest.raises(Exception, match="rename/drop history"):
        q.awaitTermination()

    # the refusal's named owner: the batch change_feed resolves the
    # era-crossing interval (pre-rename files answer under the renamed
    # logical column via the epoch maps)
    got = sorted(
        tuple(r)
        for r in change_feed(spark, d, 2, 4, key_col="id")
        .select("_change_type", "id", "lsn", "mail")
        .collect()
    )
    assert got == [
        ("update_postimage", 1, 20, "a2@x"),
        ("update_preimage", 1, 10, "a@x"),
    ]
