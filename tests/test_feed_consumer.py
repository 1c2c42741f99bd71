"""Feed consumer pins (streaming/cdc.py:consume_feed_step).

The consumer folds the interval's net delta, Σ(TO side) − Σ(FROM side),
over the churn-sized sides the change feeds are built from
(sources/manifest.py:change_feed_sides / change_feed_mor_sides), not the
labelled feed. These tests pin what that fold must keep: zero-net
intervals commit nothing, the sides open only churn files, the MOR
changed-key read switches to the executor path above its row bound, and
one consumer step costs a bounded number of Spark jobs.
"""

import os

import pytest
from pyspark.sql import functions as F  # noqa: N812

import ez_cdc_spark.sources.manifest as m
from ez_cdc_spark.streaming.cdc import consume_feed_step

UPSTREAM = "id bigint, lsn bigint, first_name string, last_name string, email string"
TAG = "feedpin"


def _setup(spark, root, n=400, files=4):
    """Upstream table of ``n`` keys in ``files`` range-clustered files plus
    the downstream per-first_name aggregate of it, both at generation 1."""
    td, ad = os.path.join(root, "up"), os.path.join(root, "agg")
    rows = [(k, k, f"f{k % 5}", f"l{k}", f"e{k}") for k in range(1, n + 1)]
    df = spark.createDataFrame(rows, UPSTREAM)
    m.publish(df.repartitionByRange(files, "id"), td, 1, stats_columns=["id"])
    agg = df.groupBy("first_name").agg(
        F.count(F.lit(1)).alias("n"), F.sum("lsn").cast("long").alias("sum_lsn")
    )
    m.publish(agg, ad, 1, stats_columns=["first_name"])
    return td, ad


def _changes(spark, rows):
    """(id, lsn, first_name, op) → a merge change batch sequenced by lsn."""
    return spark.createDataFrame(
        [(k, lsn, fn, f"l{k}", f"e{k}", op, lsn) for k, lsn, fn, op in rows],
        UPSTREAM + ", op string, seq bigint",
    )


def _agg(spark, ad):
    return sorted(tuple(r) for r in m.read_committed(spark, ad).collect())


def _recompute(state):
    return sorted(
        (r["first_name"], r["n"], r["s"])
        for r in state.groupBy("first_name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("lsn").alias("s"))
        .collect()
    )


def _consumed(ad):
    return m.txn_watermark(m.read_manifest(ad), TAG)["consumed_gen"]


def _jobid(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _opened(df):
    return {f.replace("file://", "") for f in df.inputFiles()}


def test_zero_net_cow_interval_commits_nothing(spark, tmp_path):
    """A compact_partial-only interval, and a merge whose rewrite changes
    no group's (count, lsn sum), net to (0, 0) in every group:
    consume_feed_step returns None, writes no downstream generation and
    leaves consumed_gen where it was."""
    td, ad = _setup(spark, str(tmp_path))
    m.merge_cow(
        spark, td, _changes(spark, [(7, 1007, "f9", "u"), (300, 1300, "f0", "d")]),
        "id", 2,
    )
    assert consume_feed_step(spark, td, ad, TAG) is not None
    assert _agg(spark, ad) == _recompute(m.read_committed(spark, td))
    agg_gen = m.read_manifest(ad)["generation"]
    assert _consumed(ad) == 2

    files = m.read_manifest(td)["files"]
    m.compact_partial(spark, td, 3, files=files[:2], target_files=1)
    assert consume_feed_step(spark, td, ad, TAG) is None
    assert m.read_manifest(ad)["generation"] == agg_gen
    assert _consumed(ad) == 2

    # the labelled feed of this interval is NOT empty (key 20's email
    # changes), but its signed sum is zero in every group
    m.merge_cow(
        spark, td,
        spark.createDataFrame(
            [(20, 20, "f0", "l20", "other", "u", 20)],
            UPSTREAM + ", op string, seq bigint",
        ),
        "id", 4,
    )
    assert m.change_feed(spark, td, 3, 4, key_col="id").count() == 2
    assert consume_feed_step(spark, td, ad, TAG) is None
    assert m.read_manifest(ad)["generation"] == agg_gen
    assert _consumed(ad) == 2
    assert _agg(spark, ad) == _recompute(m.read_committed(spark, td))


def test_zero_net_mor_fold_interval_commits_nothing(spark, tmp_path):
    """A compact_mor-fold-only interval has no feed sides at all:
    consume_feed_step(mor=True) returns None, writes no downstream
    generation and leaves consumed_gen where it was; the next merge's
    interval then crosses the fold and folds to the recompute."""
    td, ad = _setup(spark, str(tmp_path))
    m.merge_mor(
        spark, td, _changes(spark, [(7, 1007, "f9", "u"), (300, 1300, "f0", "d")]),
        "id", 2,
    )
    assert consume_feed_step(spark, td, ad, TAG, mor=True) is not None
    agg_gen = m.read_manifest(ad)["generation"]

    m.compact_mor(spark, td, 3, target_files=2)
    assert m.change_feed_mor_sides(spark, td, 2, 3) == []
    assert consume_feed_step(spark, td, ad, TAG, mor=True) is None
    assert m.read_manifest(ad)["generation"] == agg_gen
    assert _consumed(ad) == 2

    m.merge_mor(spark, td, _changes(spark, [(8, 1008, "f9", "u")]), "id", 4)
    assert consume_feed_step(spark, td, ad, TAG, mor=True) is not None
    assert _consumed(ad) == 4
    assert _agg(spark, ad) == _recompute(m.read_mor(spark, td))


def test_mor_sides_open_only_stats_pruned_files(spark, tmp_path):
    """The MOR sides the consumer folds open only the data files whose
    key range can hold a changed key (plus the delete log the resolve
    needs) — never the untouched range files."""
    td, _ = _setup(spark, str(tmp_path), files=8)
    m.merge_mor(
        spark, td, _changes(spark, [(10, 1010, "f9", "u"), (12, 1012, "f0", "d")]),
        "id", 2,
    )
    man1, man2 = m.read_manifest(td, 1), m.read_manifest(td, 2)

    def overlapping(man):
        out = set()
        for rel in man["files"]:
            lo, hi = man["stats"][rel]["id"]
            if lo <= 12 and hi >= 10:
                out.add(os.path.join(td, rel))
        return out

    dels = {os.path.join(td, r) for r in man2["delete_files"]}
    [(key, pre, post)] = m.change_feed_mor_sides(spark, td, 1, 2)
    assert key == "id"
    assert _opened(pre) == overlapping(man1)
    assert overlapping(man2) <= _opened(post) <= overlapping(man2) | dels
    untouched = {os.path.join(td, r) for r in man1["files"]} - overlapping(man1)
    assert len(untouched) >= 6
    assert not (_opened(pre) | _opened(post)) & untouched


def test_mor_changed_keys_switch_to_executor_path_above_row_bound(
    spark, tmp_path, monkeypatch
):
    """Above _FEED_KEYS_DRIVER_MAX_ROWS delete-file rows the changed keys
    are read by an executor job and restrict the resolves through a
    broadcast semi-join, not a literal In list; the feed is the same
    either way."""
    from ez_cdc_spark.plans.assertions import plan_str

    td, _ = _setup(spark, str(tmp_path))
    m.merge_mor(
        spark, td,
        _changes(spark, [(k, 1000 + k, "f9", "u") for k in (3, 5, 8)]),
        "id", 2,
    )
    dfiles = [os.path.join(td, r) for r in m.read_manifest(td)["delete_files"]]

    def feed():
        return sorted(
            tuple(r) for r in m.change_feed_mor(spark, td, 1, 2).collect()
        )

    assert sorted(m._read_key_column_driver(dfiles, "id")) == [3, 5, 8]
    [(_, pre, _)] = m.change_feed_mor_sides(spark, td, 1, 2)
    assert "LeftSemi" not in plan_str(pre)
    below = feed()

    monkeypatch.setattr(m, "_FEED_KEYS_DRIVER_MAX_ROWS", 2)
    assert m._read_key_column_driver(dfiles, "id") is None
    [(_, pre, post)] = m.change_feed_mor_sides(spark, td, 1, 2)
    for side in (pre, post):
        p = plan_str(side)
        assert "BroadcastHashJoin" in p and "LeftSemi" in p, p
    assert feed() == below
    assert len(below) == 6  # three update pre/post pairs


# Spark jobs one consume_feed_step call may run on these fixtures, as
# measured when the consumer began folding the feed sides (local[4]).
# Folding the labelled change_feed(_mor) instead cost 12 (COW) and 21
# (fold-crossing MOR): its eager count-table pins and classification
# joins fail these bounds loudly.
COW_STEP_JOBS = 8
MOR_STEP_JOBS = 13


def test_consume_feed_step_job_budget_cow(spark, tmp_path):
    td, ad = _setup(spark, str(tmp_path))
    m.merge_cow(
        spark, td, _changes(spark, [(7, 1007, "f9", "u"), (300, 1300, "f0", "d")]),
        "id", 2,
    )
    j0 = _jobid(spark)
    assert consume_feed_step(spark, td, ad, TAG) is not None
    jobs = _jobid(spark) - j0
    assert jobs <= COW_STEP_JOBS, jobs
    assert _agg(spark, ad) == _recompute(m.read_committed(spark, td))


def test_consume_feed_step_job_budget_mor_fold_crossing(spark, tmp_path):
    td, ad = _setup(spark, str(tmp_path))
    m.merge_mor(spark, td, _changes(spark, [(7, 1007, "f9", "u")]), "id", 2)
    assert consume_feed_step(spark, td, ad, TAG, mor=True) is not None
    m.merge_mor(spark, td, _changes(spark, [(300, 1300, "f0", "d")]), "id", 3)
    m.compact_mor(spark, td, 4, target_files=2)
    m.merge_mor(spark, td, _changes(spark, [(9, 1009, "f1", "u")]), "id", 5)
    assert len(m.change_feed_mor_sides(spark, td, 2, 5)) == 2  # crosses the fold
    j0 = _jobid(spark)
    assert consume_feed_step(spark, td, ad, TAG, mor=True) is not None
    jobs = _jobid(spark) - j0
    assert jobs <= MOR_STEP_JOBS, jobs
    assert _agg(spark, ad) == _recompute(m.read_mor(spark, td))


@pytest.mark.parametrize("mor", [False, True])
def test_signed_fold_equals_labelled_feed_sum(spark, tmp_path, mor):
    """The net delta the consumer folds equals the signed sum over the
    labelled feed of the same interval, group by group."""
    td, _ = _setup(spark, str(tmp_path))
    merge = m.merge_mor if mor else m.merge_cow
    merge(
        spark, td,
        _changes(spark, [(7, 1007, "f9", "u"), (300, 1300, "f0", "d"),
                         (999, 1999, "f2", "c"), (20, 1020, "f0", "u")]),
        "id", 2,
    )
    merge(spark, td, _changes(spark, [(7, 2007, "f3", "u")]), "id", 3)
    if mor:
        feed = m.change_feed_mor(spark, td, 1, 3)
        sides = [(pre, post) for _, pre, post in m.change_feed_mor_sides(spark, td, 1, 3)]
    else:
        feed = m.change_feed(spark, td, 1, 3, key_col="id")
        sides = [m.change_feed_sides(spark, td, 1, 3)]
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), 1
    ).otherwise(-1)
    labelled = feed.groupBy("first_name").agg(
        F.sum(sign).alias("dn"), F.sum(sign * F.col("lsn")).alias("ds")
    )
    signed = None
    for old, new in sides:
        for df, s in ((old, -1), (new, 1)):
            part = df.select("first_name", (F.lit(s) * F.col("lsn")).alias("l"),
                             F.lit(s).alias("s"))
            signed = part if signed is None else signed.unionByName(part)
    net = signed.groupBy("first_name").agg(
        F.sum("s").alias("dn"), F.sum("l").alias("ds")
    )
    want = sorted(tuple(r) for r in labelled.collect())
    got = sorted(tuple(r) for r in net.collect() if (r["dn"], r["ds"]) != (0, 0))
    assert got == want
