"""Schema-evolution contracts behind s11/s11b (SURVEY.md §2b S11).

s11 covers the additive half (new columns surface as NULL under
mergeSchema); s11b covers type widening, where mergeSchema REFUSES the
int32/int64 conflict and the engine instead scans every generation under an
explicitly widened schema (Spark's parquet reader upcasts int32 pages to
int64). These tests pin both halves of that contract plus the equivalence
of the single widened scan against the naive per-generation
read+cast+unionByName.
"""

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def generations(spark, tmp_path):
    v1 = str(tmp_path / "v1")
    v2 = str(tmp_path / "v2")
    spark.range(0, 50).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 2).cast("int").alias("n"),
    ).write.parquet(v1)
    spark.range(50, 100).select(
        F.col("id").cast("bigint").alias("k"),
        (F.col("id") * 2).cast("bigint").alias("n"),
        F.lit(2).alias("gen"),
    ).write.parquet(v2)
    return v1, v2


def test_merge_schema_refuses_widened_column(spark, generations):
    v1, v2 = generations
    with pytest.raises(Exception, match="(?i)merge|convert|incompatible"):
        spark.read.option("mergeSchema", "true").parquet(v1, v2).collect()


def test_widened_scan_upcasts_and_nulls_missing_columns(spark, generations):
    v1, v2 = generations
    wide = spark.read.schema("k BIGINT, n BIGINT, gen INT").parquet(v1, v2)
    assert wide.schema.simpleString() == "struct<k:bigint,n:bigint,gen:int>"
    rows = {r["k"]: (r["n"], r["gen"]) for r in wide.collect()}
    assert len(rows) == 100
    assert rows[0] == (0, None)  # v1 row: upcast value, NULL evolved column
    assert rows[99] == (198, 2)


def test_widened_scan_equals_union_by_name(spark, generations):
    v1, v2 = generations
    wide = spark.read.schema("k BIGINT, n BIGINT, gen INT").parquet(v1, v2)
    naive = (
        spark.read.parquet(v1)
        .select(F.col("k").cast("bigint"), F.col("n").cast("bigint"))
        .unionByName(spark.read.parquet(v2), allowMissingColumns=True)
    )
    assert sorted(map(tuple, wide.collect())) == sorted(map(tuple, naive.collect()))


def test_widened_scan_keeps_filter_pushdown(spark, generations):
    """The whole point of the single wide scan over per-generation unions:
    the filter must reach the parquet source as a pushed predicate."""
    v1, v2 = generations
    wide = spark.read.schema("k BIGINT, n BIGINT, gen INT").parquet(v1, v2)
    plan = wide.filter(F.col("k") > 90)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(k), GreaterThan(k,90)]" in plan


def test_s12_compaction_reduces_file_count(spark):
    """s12's layout claim: the compacted dir must hold ceil(bytes/target)
    parquet files — far fewer than the 64 fragments — while the registry
    query's content signature proves row-level parity."""
    import os

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.streaming.replay import rig_dir

    sf = "/root/testdata/sf0.001"
    load_all()["s12_small_file_compaction"].fn(spark, sf).collect()
    frag = rig_dir(sf, "s12frag")
    compacted = rig_dir(sf, "s12compact")
    n_frag = sum(f.endswith(".parquet") for f in os.listdir(frag))
    n_comp = sum(f.endswith(".parquet") for f in os.listdir(compacted))
    assert n_frag == 64
    assert n_comp < 8  # tiny fixture: well under one 4 MiB target file each


def test_data_bytes_matches_local_stat_and_takes_uris(spark, tmp_path):
    """The Hadoop-FS sizing helper behind s12 (r6 VERDICT: portable to
    object-store schemes): on a local dir it must agree byte-for-byte with
    os.stat, accept an explicit file: URI, and ignore non-data files
    (_SUCCESS, CRC sidecars)."""
    import os

    from ez_cdc_spark.sources.stats import data_bytes

    path = str(tmp_path / "sized")
    spark.range(0, 1000, 1, 4).write.mode("overwrite").parquet(path)
    expect = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    assert expect > 0
    assert data_bytes(spark, path) == expect
    assert data_bytes(spark, f"file:{path}") == expect


def test_s21_failfast_raises_and_counts_reconcile(spark, sf_dir):
    """s21's third mode: FAILFAST must abort the read on the first
    malformed line (pinned here because a registry query cannot return a
    raise), and the PERMISSIVE split must account for every file line."""
    import pytest
    from pyspark.sql import functions as F

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.streaming.replay import rig_dir

    rows = {
        r["mode"]: r
        for r in load_all()["s21_csv_malformed_modes"].fn(spark, sf_dir).collect()
    }
    path = rig_dir(sf_dir, "s21csv")
    n_lines = spark.read.text(path).count()
    assert rows["permissive_good"]["n"] + rows["permissive_corrupt"]["n"] == n_lines
    assert rows["dropmalformed"]["n"] == rows["permissive_good"]["n"]
    assert rows["permissive_corrupt"]["n"] > 0

    ff = (
        spark.read.schema("o_orderkey BIGINT, p DECIMAL(12,2)")
        .option("mode", "FAILFAST")
        .csv(path)
    )
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        # o_orderkey must be load-bearing here too (CSV column pruning)
        ff.agg(F.count("o_orderkey")).collect()


def test_s22_range_cluster_spans_disjoint_and_narrow(spark, sf_dir):
    """s22's layout contract: after repartitionByRange +
    sortWithinPartitions, per-file (min, max) l_shipdate spans are
    pairwise DISJOINT (footer min/max becomes a binary-searchable index —
    a date predicate prunes to the files covering it) and each file
    covers a small fraction of the global date domain."""
    from pyspark.sql import functions as F

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.streaming.replay import rig_dir

    load_all()["s22_range_clustered_rewrite"].fn(spark, sf_dir).collect()
    path = rig_dir(sf_dir, "s22range")
    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("l_shipdate").alias("lo"), F.max("l_shipdate").alias("hi"))
        .collect()
    )
    assert len(per_file) >= 8, "range partitioner must spread files"
    spans = sorted((r["lo"], r["hi"]) for r in per_file)
    glo = min(s[0] for s in spans)
    ghi = max(s[1] for s in spans)
    total = (ghi - glo).total_seconds()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, "file spans must be disjoint (boundary rows aside)"
    narrow = [s for s in spans if (s[1] - s[0]).total_seconds() < 0.25 * total]
    assert len(narrow) >= len(spans) - 2, (
        "each file must cover a small slice of the date domain"
    )
