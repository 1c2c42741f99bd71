"""Local scaling probe: wall-time growth of key operators on 1x/3x/10x
content-varied corpora (NOT part of the driver protocol — run by hand:
``python bench_scaling.py``; factors/ops via env, see below).

Replication is CONTENT-VARIED so data characteristics scale the way a real
bigger corpus would, instead of degenerating:
  * documents: each replica's text goes through a DIFFERENT letter
    permutation (translate), so replicas are NOT near-duplicates of each
    other — shingle/dedup ops see fresh vocabulary per replica and the
    LSH/boilerplate/containment pair structure grows ~linearly (10 exact
    copies would instead square every bucket, measuring the fixture, not
    the engine);
  * embeddings: fresh vec_ids, each replica's vector shifted by a
    rep-dependent constant (cluster structure per replica preserved);
  * events: fresh event/user ids per replica (per-user series preserved);
  * orders/lineitem: row replication (aggregate inputs grow; a16's output
    is duplicate-insensitive by design — its cost still scales with rows).

Prints one JSON line per (op, factor) and a final summary with the
time ratio per 10x — the number the 100 TB design review predicts stays
near-linear (ratio ~10 for row-linear ops; sub-linear where output is
catalog-bounded and fixed per-stage latency dominates at 1x).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import functions as F

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
FACTORS = [int(x) for x in os.environ.get("SCALE_FACTORS", "1,3,10").split(",")]
OPS = os.environ.get(
    "SCALE_OPS",
    "a1_pricing_summary,x1_exact_dedup,x2_minhash_lsh,x19_boilerplate_ngrams,"
    "x40_ngram_containment,x45_dup_span_coverage,x38_kmeans_clusters,"
    "x3b_blocked_topk,a16_portable_hll,w12_rolling_mad_outlier,a17_trimmed_mean,"
    "w13_rolling_regression_slope,a18_weighted_trimmed_mean,j17_bloom_pruned_join,"
    "x46_bigram_logprob,x57_incremental_lsh,a22_count_min_sketch,"
    "a23_bitmap_distinct,w18_rolling_mode,x50_span_removal,"
    "w19_rolling_drawdown,x59_zipf_slope,x7d_stratum_ksample,"
    "x52_cluster_balanced_mix,s24_sorted_bucket_window,"
    "w20_ohlc_bars,x61_prefix_filter_join,x62_cooccurrence_pairs,"
    "s25_manifest_atomic_publish,t28_streaming_ohlc,x63_bm25_retrieval,"
    "s26_manifest_compaction,s27_manifest_time_travel,"
    "s28_manifest_stats_skipping,a24_hdr_rank_sketch,w21_ohlc_bar_anomaly,"
    "x64_neardup_contamination,x65_contamination_removal,s29_manifest_partition_publish,t29_stream_dim_interval_join,"
    "s30_manifest_merge_cow,a25_spacesaving_topk,s31_manifest_append,t30_lakehouse_cdc_merge,"
    "s30b_manifest_merge_cow_partitioned,s31b_manifest_append_partitioned,"
    "s32_manifest_schema_evolution,s33_concurrent_writers,s34_partial_compaction,"
    "s28b_temporal_stats_skipping,s28c_conjunctive_zorder_pruning,"
    "t30b_lakehouse_cdc_merge_partitioned,t31_lakehouse_schema_drift,"
    "s35_manifest_change_feed",
).split(",")
SCRATCH = os.path.join("/tmp", "ez_cdc_spark_scaling")

# ten distinct letter permutations for content variation (identity first)
_ALPHA = "etaoinsrhl"
_PERMS = [_ALPHA] + [_ALPHA[k:] + _ALPHA[:k] for k in range(1, 10)]


def build_scaled_dir(spark, base: str, factor: int) -> str:
    out = os.path.join(SCRATCH, f"x{factor}")
    marker = os.path.join(out, "_SUCCESS")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    reps = spark.range(factor).select(F.col("id").alias("rep"))

    def load(name):
        return spark.read.parquet(os.path.join(base, f"{name}.parquet"))

    # pass-through dims
    for name in ("region", "nation", "part", "customer", "supplier"):
        p = os.path.join(base, f"{name}.parquet")
        if os.path.exists(p):
            load(name).write.parquet(os.path.join(out, f"{name}.parquet"))

    for name in ("orders", "lineitem"):
        (
            load(name)
            .crossJoin(reps)
            .drop("rep")
            .repartition(32)
            .write.parquet(os.path.join(out, f"{name}.parquet"))
        )

    ev = load("events").crossJoin(reps)
    (
        ev.select(
            (F.col("event_id") + F.col("rep") * F.lit(100_000_000)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("rep") * F.lit(100_000_000)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .repartition(32)
        .write.parquet(os.path.join(out, "events.parquet"))
    )

    docs = load("documents").crossJoin(reps)
    variant = F.col("text")
    for k in range(1, 10):
        variant = F.when(
            F.col("rep") % 10 == k, F.translate("text", _ALPHA, _PERMS[k])
        ).otherwise(variant)
    (
        docs.select(
            (F.col("doc_id") + F.col("rep") * F.lit(100_000_000)).alias("doc_id"),
            variant.alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .repartition(32)
        .write.parquet(os.path.join(out, "documents.parquet"))
    )

    emb = load("embeddings").crossJoin(reps)
    (
        emb.select(
            (F.col("vec_id") + F.col("rep") * F.lit(100_000_000)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: (x + F.col("rep").cast("float") * F.lit(0.37)).cast("float"),
            ).alias("embedding"),
            *[c for c in emb.columns if c not in ("vec_id", "embedding", "rep")],
        )
        .repartition(32)
        .write.parquet(os.path.join(out, "embeddings.parquet"))
    )
    open(marker, "w").close()
    return out


def t30b_fixed_churn_probe(
    spark,
    seed_rows: int,
    sf_dir: str = BASE,
    n_stages: int = 6,
    small_file_bytes: int = 64 << 10,
) -> dict:
    """r14 verdict #7: the merge-scaling probe (fixed change batch, flat
    cost across table growth — f86c28e measured it for batch merge_cow)
    run through the PARTITIONED STREAMING sink with the maintenance
    policy ON, so t30b's per-batch-cost-tracks-churn claim is measured,
    not inferred.

    A table of ``seed_rows`` SETTLED rows (ids >= 10_000, partition
    values seed0..seed7, padded so every settled file sits ABOVE the
    small-file threshold) is pre-published as gen-1; the FIXED sf-dir
    envelope replay (ids 0..199 — disjoint from every settled key range)
    then streams through lakehouse_merge_batch one file per trigger.
    Steady-state shape by construction: merges touch only churn-sized
    files, and partial compaction's size filter selects only the churn's
    small tail — the settled files are carried by reference through
    EVERY commit, whatever the table size. Returns wall time plus the
    structural witness: total rewritten-file counts from the retained
    manifests' merge/compact lineage (these must be IDENTICAL across
    seed sizes — the flatness pin) and the settled-file carry count."""
    import json as _json

    from ez_cdc_spark.sources.manifest import publish_partitioned, read_manifest
    from ez_cdc_spark.streaming.cdc import (
        ENVELOPE_JSON_SCHEMA,
        envelopes_jsonl_lsn_split,
        lakehouse_merge_batch,
    )
    from ez_cdc_spark.streaming.replay import checkpoint_dir

    td = os.path.join(SCRATCH, f"t30b-churn-{seed_rows}")
    shutil.rmtree(td, ignore_errors=True)
    # incompressible padding (hex digests, not a repeated literal — snappy
    # would flatten the latter below any size threshold) and an explicit
    # (partition, bucket) file layout: hash-repartitioning on the pair
    # gives ~64 whole-combo files, no tiny partition-boundary slivers
    pad = F.concat_ws(
        "",
        *[F.sha2((F.col("id") + i).cast("string"), 256) for i in range(4)],
    )
    seed = spark.range(seed_rows).select(
        (F.col("id") + 10_000).alias("id"),
        F.lit(0).cast("bigint").alias("lsn"),
        F.concat(F.lit("seed"), (F.col("id") % 8).cast("string")).alias(
            "first_name"
        ),
        F.col("id").cast("string").alias("last_name"),
        F.concat(F.col("id").cast("string"), pad).alias("email"),
        ((F.col("id") / 8) % 8).cast("int").alias("bucket"),
    )
    n_seed_files = 64
    publish_partitioned(
        seed.repartition(n_seed_files, "first_name", "bucket").drop("bucket"),
        td,
        generation=1,
        partition_col="first_name",
        stats_columns=["id"],
    )
    man1 = read_manifest(td)
    settled = set(man1["files"])
    sizes = [os.path.getsize(os.path.join(td, r)) for r in settled]
    assert min(sizes) > small_file_bytes, (
        f"seed files must sit above the small-file threshold "
        f"({min(sizes)} <= {small_file_bytes}); raise seed_rows"
    )

    path = envelopes_jsonl_lsn_split(spark, sf_dir, n_stages=n_stages)
    env = (
        spark.readStream.schema(ENVELOPE_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(path)
    )
    t0 = time.perf_counter()
    q = (
        env.writeStream.foreachBatch(
            lakehouse_merge_batch(
                td,
                tag=f"t30bprobe{seed_rows}",
                # low headroom so the maintenance policy actually FIRES
                # during the replay — its size filter must select only the
                # churn tail, never the settled files
                max_files=len(settled) + 2,
                compact_target_files=4,
                gc_older_than_s=3600.0,
                compact_small_file_bytes=small_file_bytes,
            )
        )
        .option("checkpointLocation", checkpoint_dir())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sink_sec = round(time.perf_counter() - t0, 3)

    merge_rewritten = compact_rewritten = merges = compacts = 0
    mdir = os.path.join(td, "_manifests")
    for m in sorted(os.listdir(mdir)):
        if not (m.startswith("gen-") and m.endswith(".json")):
            continue
        with open(os.path.join(mdir, m)) as fh:
            man = _json.load(fh)
        if "merge" in man:
            merges += 1
            merge_rewritten += man["merge"]["rewritten_files"]
        if "compact" in man:
            compacts += 1
            compact_rewritten += man["compact"]["rewritten_files"]
    final = read_manifest(td)
    carried_settled = len(settled & set(final["files"]))
    return {
        "probe": "t30b_fixed_churn",
        "seed_rows": seed_rows,
        "seed_files": len(settled),
        "sink_sec": sink_sec,
        "micro_batches": merges,
        "merge_rewritten_files_total": merge_rewritten,
        "compactions": compacts,
        "compact_rewritten_files_total": compact_rewritten,
        "settled_files_carried_to_final": carried_settled,
    }


def t30_churn_spread_probe(
    spark,
    n_churn_keys: int,
    spread: str,
    seed_rows: int = 400_000,
    n_batches: int = 4,
    n_seed_files: int = 64,
) -> dict:
    """r15 verdict #4: isolate WHY the unpartitioned t30 sink's
    content-varied ratio (1.92 at 10×) outgrows t30b's (1.21) — measure
    the touched-file count per merge batch as churn GROWS and SPREADS on
    a range-clustered table. Two arms per churn size:

    * ``spread='uniform'`` — batch keys uniform over the settled id range:
      every file's key range overlaps some batch key once the batch has
      ~more keys than there are files, so the copy-on-write touched-file
      split SATURATES at the whole table — the degradation the verdict
      hypothesized, made measurable.
    * ``spread='local'`` — the same batch size confined to one narrow id
      band: touched files stay O(batch/file_rows) however large the
      batch, proving the saturation is the SPREAD, not the size.

    Returns per-batch rewritten/carried counts from the merge lineage —
    the structural witness for the SURVEY design note (copy-on-write's
    per-batch cost is O(touched files); uniform-key churn defeats any
    range clustering, and the honest scale paths are the partitioned
    sink for partition-local churn or the S36 merge-on-read commit for
    uniform churn)."""
    from ez_cdc_spark.sources.manifest import (
        merge_cow,
        merge_mor,
        publish,
        read_manifest,
    )

    td = os.path.join(SCRATCH, f"t30-spread-{spread}-{n_churn_keys}")
    shutil.rmtree(td, ignore_errors=True)
    seed = (
        spark.range(seed_rows)
        .select(
            F.col("id"),
            F.lit(0).cast("bigint").alias("lsn"),
            (F.col("id") % 97).cast("string").alias("first_name"),
            F.col("id").cast("string").alias("last_name"),
            F.concat(F.col("id").cast("string"), F.lit("@seed")).alias("email"),
        )
        .repartitionByRange(n_seed_files, "id")
    )
    publish(seed, td, generation=1, stats_columns=["id"])

    rows_per_file = seed_rows // n_seed_files
    per_batch = []
    t0 = time.perf_counter()
    for b in range(n_batches):
        if spread in ("uniform", "mor"):
            # n keys spread evenly across the whole settled range
            ids = [
                (i * seed_rows) // n_churn_keys + b  # shift per batch
                for i in range(n_churn_keys)
            ]
        else:  # 'local': same count confined to one file-sized band
            lo = (b % n_seed_files) * rows_per_file
            ids = [lo + (i % rows_per_file) for i in range(n_churn_keys)]
        ch = spark.createDataFrame(
            [
                (int(i), 100 + b, f"u{b}", str(i), f"{i}@b{b}", "u", 100 + b)
                for i in ids
            ],
            "id bigint, lsn bigint, first_name string, last_name string, "
            "email string, op string, seq bigint",
        )
        if spread == "mor":
            # the s36 fix arm: same uniform churn, merge-on-read commit —
            # zero rewrites by construction; record appended files instead
            man = merge_mor(
                spark, td, ch, "id", read_manifest(td)["generation"] + 1
            )
            per_batch.append((0, man["mor"]["appended_files"]))
        else:
            man = merge_cow(
                spark, td, ch, "id", read_manifest(td)["generation"] + 1
            )
            per_batch.append(
                (man["merge"]["rewritten_files"], man["merge"]["carried_files"])
            )
    wall = round(time.perf_counter() - t0, 3)
    return {
        "probe": "t30_churn_spread",
        "spread": spread,
        "n_churn_keys": n_churn_keys,
        "seed_files": n_seed_files,
        "per_batch_rewritten": [r for r, _ in per_batch],
        "per_batch_carried": [c for _, c in per_batch],
        "merge_wall_sec": wall,
    }


def s40_era_overhead_probe(spark, n_eras: int, rows_per_era: int = 200_000) -> dict:
    """S40 claim check: the epoch-mapped read pays one scan GROUP per
    live era, not per file — so with TOTAL rows held constant-ish
    (rows_per_era x n_eras grows linearly, the honest comparison is
    wall/row), per-row cost should stay flat as era count grows. Builds a
    table that alternates appends with renames (each rename opens an
    era), then times a full-scan aggregate."""
    from ez_cdc_spark.sources.manifest import (
        publish,
        publish_append,
        read_committed,
        rename_column,
    )

    td = os.path.join(SCRATCH, f"s40-eras-{n_eras}")
    shutil.rmtree(td, ignore_errors=True)
    df = spark.range(rows_per_era).selectExpr("id AS k", "id * 2 AS v0")
    publish(df, td, generation=1, stats_columns=["k"])
    gen = 1
    col = "v0"
    for e in range(1, n_eras):
        gen += 1
        new = f"v{e}"
        rename_column(td, gen, col, new)
        col = new
        gen += 1
        publish_append(
            spark.range(e * rows_per_era, (e + 1) * rows_per_era).selectExpr(
                "id AS k", f"id * 2 AS {col}"
            ),
            td,
            gen,
        )
    t0 = time.time()
    row = (
        read_committed(spark, td)
        .agg(F.count("*").alias("n"), F.sum(col).alias("s"))
        .first()
    )
    wall = time.time() - t0
    n = int(row["n"])
    assert n == n_eras * rows_per_era
    return {
        "probe": "s40_era_overhead",
        "n_eras": n_eras,
        "rows": n,
        "wall_s": round(wall, 3),
        "us_per_row": round(wall / n * 1e6, 3),
    }


def s44_writer_overhead_probe(spark, rows: int) -> dict:
    """S44 claim check: the arrow DataSource writer's per-row cost vs the
    engine's JVM publish path on identical data. The writer crosses the
    Python boundary once per arrow batch (never per row) and commits with
    the same O(files) metadata + one pointer swap, so its per-row cost
    should sit within a small constant factor of publish and stay FLAT
    with row count — if it grew, the boundary would be per-row after all.
    Both paths compute footer stats on k; parity is asserted by count."""
    from ez_cdc_spark.sources.manifest import publish, read_committed
    from ez_cdc_spark.sources.pyds import register_ezmanifest

    register_ezmanifest(spark)
    df = spark.range(rows).selectExpr(
        "id AS k", "id * 2 AS v", "CAST(id AS STRING) AS s"
    ).repartition(8)
    d_jvm = os.path.join(SCRATCH, f"s44-jvm-{rows}")
    d_pyw = os.path.join(SCRATCH, f"s44-pyw-{rows}")
    for d in (d_jvm, d_pyw):
        shutil.rmtree(d, ignore_errors=True)
    t0 = time.time()
    publish(df, d_jvm, generation=1, stats_columns=["k"])
    jvm_wall = time.time() - t0
    t0 = time.time()
    (
        df.write.format("ezmanifest").option("path", d_pyw)
        .option("statsColumns", "k").mode("append").save()
    )
    pyw_wall = time.time() - t0
    n = read_committed(spark, d_pyw).count()
    assert n == rows == read_committed(spark, d_jvm).count()
    return {
        "probe": "s44_writer_overhead",
        "rows": rows,
        "publish_wall_s": round(jvm_wall, 3),
        "writer_wall_s": round(pyw_wall, 3),
        "publish_us_per_row": round(jvm_wall / rows * 1e6, 3),
        "writer_us_per_row": round(pyw_wall / rows * 1e6, 3),
        "writer_over_publish": round(pyw_wall / jvm_wall, 2),
    }


def s42_window_prune_probe(spark, n_days: int, rows_per_day: int = 20_000) -> dict:
    """S42 claim check: a fixed 3-day window query costs O(window), not
    O(table) — wall time must stay flat as the table grows from 16 to
    256 days. Also returns the scanned-file count as the structural
    witness (must equal the window's partitions' files whatever the
    table size)."""
    import datetime as dt

    from ez_cdc_spark.sources.manifest import (
        publish_hidden_partitioned,
        read_transform_pruned,
    )

    td = os.path.join(SCRATCH, f"s42-days-{n_days}")
    shutil.rmtree(td, ignore_errors=True)
    df = spark.range(n_days * rows_per_day).selectExpr(
        "id AS k",
        f"timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, CAST(id / {rows_per_day} AS INT) * 86400 + id % 3600) AS ts",
        "id * 2 AS v",
    )
    publish_hidden_partitioned(df, td, 1, transform=("days", "ts", None))
    lo = dt.datetime(2024, 1, 5)
    hi = dt.datetime(2024, 1, 7, 23, 59, 59)
    t0 = time.time()
    r = read_transform_pruned(spark, td, lo, hi)
    n = r.count()
    wall = time.time() - t0
    return {
        "probe": "s42_window_prune",
        "n_days": n_days,
        "window_rows": n,
        "scanned_files": len(r.inputFiles()),
        "wall_s": round(wall, 3),
    }


def t47_mor_feed_derivation_probe(
    spark, settled_rows: int, batch_keys: int = 500
) -> dict:
    """T47 scale witness: the cost of DERIVING a merge_mor commit's feed
    ON READ must track the churn, never the table. One range-clustered
    settled table per size with ~100k-row files (file SIZE held constant
    as the table grows — the lakehouse discipline; file COUNT grows
    instead); the SAME narrow-band batch lands via merge_mor; the
    changeFeed stream with startingGeneration=1 drains exactly that
    commit's interval. As settled_rows grows 16x the drain wall must stay
    ~flat: each key-hash-bucket split reads the churn-sized delete/upsert
    files plus only the stats-overlapping parent files (a narrow band
    overlaps a bounded count however many files the table has), and the
    emitted rows stay exactly classification-sized (pre+post per key)."""
    import time as _time

    from pyspark.sql import functions as F  # noqa: N812

    from ez_cdc_spark.sources.manifest import merge_mor, publish
    from ez_cdc_spark.sources.pyds import register_ezmanifest

    d = f"/tmp/ez_scale_t47_{settled_rows}"
    out = f"{d}_out"
    ck = f"{d}_ck"
    for p in (d, out, ck):
        shutil.rmtree(p, ignore_errors=True)
    n_files = max(4, settled_rows // 100_000)
    base = (
        spark.range(settled_rows)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 7 % 1000).alias("v"),
        )
        .repartitionByRange(n_files, "k")
    )
    publish(base, d, 1, stats_columns=["k"])
    batch = spark.range(batch_keys).select(
        (F.col("id") + settled_rows // 2).alias("k"),
        F.lit(-1).cast("long").alias("v"),
        F.lit("u").alias("op"),
        (F.col("id") + 10_000_000).alias("seq"),
    )
    merge_mor(spark, d, batch, key_col="k", generation=2)

    register_ezmanifest(spark)
    t0 = _time.perf_counter()
    q = (
        spark.readStream.format("ezmanifest")
        .option("path", d)
        .option("changeFeed", "true")
        .option("startingGeneration", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    drain_sec = round(_time.perf_counter() - t0, 3)
    feed = spark.read.parquet(out)
    n_rows = feed.count()
    for p in (d, out, ck):
        shutil.rmtree(p, ignore_errors=True)
    return {
        "probe": "t47_mor_feed_derivation",
        "settled_rows": settled_rows,
        "n_files": n_files,
        "batch_keys": batch_keys,
        "drain_sec": drain_sec,
        "feed_rows": n_rows,  # pre+post per churn key
    }


def main() -> None:
    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.session import get_spark

    spark = get_spark("ez_cdc_spark-scaling")

    if os.environ.get("SCALE_T47_FEED"):
        out = [
            t47_mor_feed_derivation_probe(spark, n)
            for n in (100_000, 400_000, 1_600_000)
        ]
        for row in out:
            print(json.dumps(row))
        print(
            json.dumps(
                {
                    "t47_feed_summary": {
                        "drain_sec_by_size": {
                            str(r["settled_rows"]): r["drain_sec"] for r in out
                        },
                        "rows_churn_sized": all(
                            r["feed_rows"] == 2 * r["batch_keys"] for r in out
                        ),
                    }
                }
            )
        )
        return

    if os.environ.get("SCALE_S40_S42"):
        out = [s40_era_overhead_probe(spark, n) for n in (1, 4, 16)]
        out += [s44_writer_overhead_probe(spark, n) for n in (200_000, 1_000_000, 4_000_000)]
        out += [s42_window_prune_probe(spark, n) for n in (16, 64, 256)]
        for row in out:
            print(json.dumps(row))
        return

    if os.environ.get("SCALE_T30_SPREAD"):
        out = []
        for n in (200, 600, 2000):
            for spread in ("uniform", "local", "mor"):
                row = t30_churn_spread_probe(spark, n, spread)
                out.append(row)
                print(json.dumps(row))
        print(
            json.dumps(
                {
                    "t30_spread_summary": {
                        f"{r['spread']}_{r['n_churn_keys']}": max(
                            r["per_batch_rewritten"]
                        )
                        for r in out
                    }
                }
            )
        )
        return

    if os.environ.get("SCALE_T30B"):
        # fixed-churn probe through the partitioned streaming sink: the
        # envelope replay is CONSTANT while the settled table grows 16x —
        # rewritten-file totals must not move (r14 verdict #7)
        out = [
            t30b_fixed_churn_probe(spark, n)
            for n in (100_000, 400_000, 1_600_000)
        ]
        for row in out:
            print(json.dumps(row))
        base, top = out[0], out[-1]
        print(
            json.dumps(
                {
                    "t30b_churn_summary": {
                        "sink_sec_ratio_16x_vs_1x": round(
                            top["sink_sec"] / base["sink_sec"], 2
                        ),
                        "rewritten_flat": (
                            top["merge_rewritten_files_total"]
                            == base["merge_rewritten_files_total"]
                            and top["compact_rewritten_files_total"]
                            == base["compact_rewritten_files_total"]
                        ),
                    }
                }
            )
        )
        return

    reg = load_all()
    # warm codegen/scan paths once
    reg["a2_global_agg"].fn(spark, BASE).write.format("noop").mode("overwrite").save()

    dirs = {f: build_scaled_dir(spark, BASE, f) for f in FACTORS}
    # ops with session memoization must be timed on their FIRST call only —
    # a second call returns the cached assignment/pair set and would report
    # the cache hit, not the computation
    memoized = {"x38_kmeans_clusters", "x39_semantic_dedup", "x11_neardup_clusters"}
    results: dict[str, dict[int, float]] = {}
    for op in OPS:
        results[op] = {}
        for f in FACTORS:
            best = float("inf")
            for _ in range(1 if op in memoized else 2):
                t0 = time.perf_counter()
                reg[op].fn(spark, dirs[f]).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            results[op][f] = round(best, 3)
            print(json.dumps({"op": op, "factor": f, "sec": results[op][f]}))
    # Key named from the ACTUAL factors measured (r8 ADVICE: a custom
    # SCALE_FACTORS env made the hardcoded "10x_vs_1x" label a lie), and
    # the guard is an explicit not-None/positive check so a 0.0-rounded
    # base time yields None instead of a truthiness surprise.
    ratio_key = f"ratio_{FACTORS[-1]}x_vs_{FACTORS[0]}x"
    summary = {
        op: {
            "sec": v,
            ratio_key: round(v[FACTORS[-1]] / v[FACTORS[0]], 2)
            if v.get(FACTORS[0]) is not None and v[FACTORS[0]] > 0
            else None,
        }
        for op, v in results.items()
    }
    print(json.dumps({"scaling_summary": summary}))


if __name__ == "__main__":
    main()
