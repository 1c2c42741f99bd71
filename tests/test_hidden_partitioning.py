"""S42 hidden partitioning (partition transforms).

Pins pruning exactness per transform kind (days / bucket / truncate), the
type-sensitive bucket probe, the conservative fallback for unbounded
predicates, logical-schema hiding, and the refusal set.
"""

import datetime as dt
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from ez_cdc_spark.sources.manifest import (
    publish,
    publish_hidden_partitioned,
    read_hidden,
    read_manifest,
    read_transform_pruned,
)

SCRATCH = "/tmp/ez_cdc_test_hidden"


def _scanned_values(df, pname):
    return sorted(
        {m.group(1) for f in df.inputFiles() if (m := re.search(rf"{pname}=([^/]+)/", f))}
    )


def _ts_table(spark, name):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    df = spark.range(1000).selectExpr(
        "id AS k",
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, id*3600) AS ts",
        "id * 2 AS v",
    )
    publish_hidden_partitioned(df, d, 1, transform=("days", "ts", None))
    return d, df


def test_days_pruning_is_exact_and_correct(spark):
    d, df = _ts_table(spark, "days")
    lo, hi = dt.datetime(2024, 1, 3), dt.datetime(2024, 1, 5, 23, 59, 59)
    r = read_transform_pruned(spark, d, lo, hi)
    # exactness: the scan touches exactly the window's day-partitions
    assert _scanned_values(r, "_p_days_ts") == ["2024-01-03", "2024-01-04", "2024-01-05"]
    # correctness vs the declarative filter over the source DataFrame
    want = df.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
    assert sorted(x["k"] for x in r.collect()) == sorted(x["k"] for x in want.collect())
    # the derived column stays hidden
    assert r.columns == ["k", "ts", "v"]
    assert read_hidden(spark, d).columns == ["k", "ts", "v"]


def test_bucket_point_lookup_scans_one_partition(spark):
    d = os.path.join(SCRATCH, "bucket")
    shutil.rmtree(d, ignore_errors=True)
    df = spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
    publish_hidden_partitioned(df, d, 1, transform=("bucket", "k", 8))
    r = read_transform_pruned(spark, d, 123, 123)
    assert [(x["k"], x["v"]) for x in r.collect()] == [(123, 246)]
    # exactly one bucket's partition value scanned — and it is the value
    # the WRITER's expression produced for k=123 at the stored bigint type
    scanned = _scanned_values(r, "_p_bucket_k")
    assert len(scanned) == 1
    want = (
        spark.range(1)
        .selectExpr("CAST(pmod(xxhash64(CAST(123 AS BIGINT)), 8) AS STRING) AS b")
        .first()["b"]
    )
    assert scanned == [want]
    # a RANGE over a bucket transform cannot prune — conservative full scan
    r2 = read_transform_pruned(spark, d, 100, 200)
    assert r2.count() == 101
    assert len(_scanned_values(r2, "_p_bucket_k")) == 8


def test_truncate_pruning(spark):
    d = os.path.join(SCRATCH, "trunc")
    shutil.rmtree(d, ignore_errors=True)
    publish_hidden_partitioned(
        spark.range(1000).selectExpr("id AS k", "id * 2 AS v"),
        d,
        1,
        transform=("truncate", "k", 100),
    )
    r = read_transform_pruned(spark, d, 250, 449)
    assert r.count() == 200
    assert _scanned_values(r, "_p_truncate_k") == ["200", "300", "400"]


def test_time_travel_and_refusals(spark):
    d, _ = _ts_table(spark, "refuse")
    # transform spec rides time travel
    assert read_manifest(d, as_of_generation=1)["partition_transform"]["kind"] == "days"
    with pytest.raises(ValueError, match="unknown transform"):
        publish_hidden_partitioned(
            spark.range(5).selectExpr("id AS k"),
            os.path.join(SCRATCH, "bad"),
            1,
            transform=("hours", "k", None),
        )
    with pytest.raises(ValueError, match="not in DataFrame"):
        publish_hidden_partitioned(
            spark.range(5).selectExpr("id AS k"),
            os.path.join(SCRATCH, "bad2"),
            1,
            transform=("days", "ts", None),
        )
    plain = os.path.join(SCRATCH, "plain")
    shutil.rmtree(plain, ignore_errors=True)
    publish(spark.range(5).selectExpr("id AS k"), plain, 1)
    with pytest.raises(ValueError, match="no partition_transform"):
        read_transform_pruned(spark, plain, 0, 1)


def test_transform_source_column_refuses_evolution(spark):
    """Renaming or dropping the transform's SOURCE column would orphan
    the predicate mapping every pruned read depends on — refused; other
    data columns evolve fine on a transform table."""
    from ez_cdc_spark.sources.manifest import drop_column, rename_column

    d, _ = _ts_table(spark, "srcguard")
    with pytest.raises(ValueError, match="transform's source column"):
        rename_column(d, 2, "ts", "event_ts")
    with pytest.raises(ValueError, match="transform's source column"):
        drop_column(d, 2, "ts")
    rename_column(d, 2, "v", "val")
    r = read_transform_pruned(spark, d, dt.datetime(2024, 1, 3), dt.datetime(2024, 1, 4))
    assert r.columns == ["k", "ts", "val"] and r.filter("val <> k * 2").count() == 0


def test_compact_mor_keeps_the_transform_spec(spark, tmp_path):
    """A merge-on-read epoch folded by compact_mor stays hidden-partitioned:
    the fold carries the transform spec, so pruned reads still answer and
    a full read still hides the derived column."""
    from ez_cdc_spark.sources.manifest import compact_mor, merge_mor

    d = str(tmp_path / "t")
    publish_hidden_partitioned(
        spark.range(100).selectExpr("id AS k", "id * 2 AS v"),
        d,
        1,
        transform=("truncate", "k", 10),
    )
    pname = read_manifest(d)["partition_transform"]["column"]
    changes = spark.createDataFrame(
        [(5, 500, "u", 1), (42, 0, "d", 1), (150, 3, "c", 1)],
        "k bigint, v bigint, op string, seq bigint",
    ).withColumn(pname, (F.col("k") - F.pmod("k", F.lit(10))).cast("string"))
    merge_mor(spark, d, changes, "k", None)
    compact_mor(spark, d, None)
    man = read_manifest(d)
    assert "fold" in man and man["partition_transform"]["column"] == pname
    assert read_hidden(spark, d).columns == ["k", "v"]
    r = read_transform_pruned(spark, d, 0, 49)
    assert _scanned_values(r, pname) == ["0", "10", "20", "30", "40"]
    got = {x["k"]: x["v"] for x in r.collect()}
    assert len(got) == 49 and got[5] == 500 and 42 not in got
    assert read_hidden(spark, d).filter("k = 150").first()["v"] == 3
