"""Merge-on-read resolve and fold pins (sources/manifest.py:_read_mor_manifest,
streaming/cdc.py:fold_mor_log).

The resolve kills a data row iff a delete entry for its key carries a
sequence strictly greater than the row's file sequence (Iceberg v2
equality deletes). It runs as one left-anti join against the raw delete
log, each side's sequence looked up per row from its file's name. These
tests hold it equal to the formulation it replaced, which reduced the log
to max(delete sequence) per key first, across the layouts and schemas the
resolve reads; pin the file-name lookup's failure modes; and pin that the
sinks' fold step counts commits, not delete files.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql.types import StringType, StructField, StructType

import ez_cdc_spark.sources.manifest as m

CH = ", op string, seq bigint"


def _reference(spark, td, man):
    """The max(_dseq) formulation: data files grouped by sequence, each
    group read with a literal sequence; the delete log reduced to its
    per-key maximum sequence; a left join keeping rows with no kill or a
    kill at or below their own sequence."""
    key = man["mor_key"]
    cols = [f["name"] for f in man["schema"]["fields"]]
    seq, dseq = m._flag_col("_rseq", cols), m._flag_col("_rdseq", cols)
    fseq = man.get("file_seq", {})
    groups: dict[int, list[str]] = {}
    for rel in man["files"]:
        groups.setdefault(int(fseq.get(rel, 0)), []).append(os.path.join(td, rel))
    data = None
    for s in sorted(groups):
        part = m._read_files(spark, man, td, groups[s]).withColumn(
            seq, F.lit(s).cast("long")
        )
        data = part if data is None else data.unionByName(part)
    key_field = StructType.fromJson(man["schema"])[key]
    dels = None
    for rel in man["delete_files"]:
        part = (
            spark.read.schema(StructType([key_field]))
            .parquet(os.path.join(td, rel))
            .withColumn(dseq, F.lit(int(man["delete_seq"][rel])).cast("long"))
        )
        dels = part if dels is None else dels.unionByName(part)
    dead = dels.groupBy(key).agg(F.max(dseq).alias(dseq))
    return (
        data.join(dead, on=key, how="left")
        .where(F.col(dseq).isNull() | (F.col(dseq) <= F.col(seq)))
        .select(*cols)
    )


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_resolves_like_reference(spark, td, gens):
    for g in gens:
        man = m.read_manifest(td, g)
        assert man.get("delete_files"), g
        got = _rows(m.read_mor(spark, td, g))
        assert got == _rows(_reference(spark, td, man)), g
        assert got  # a vacuous comparison proves nothing


def test_kill_rule_equals_max_dseq_reference_across_commits(spark, tmp_path):
    """A key deleted then re-inserted by a later commit, a key updated in
    two commits, and a delete-only commit, at every generation of the
    log."""
    td = str(tmp_path / "t")
    schema = "id bigint, v string"
    base = spark.createDataFrame([(k, f"b{k}") for k in range(60)], schema)
    m.publish(base.repartitionByRange(4, "id"), td, 1, stats_columns=["id"])
    for gen, batch in (
        (2, [(5, None, "d", 2), (10, "u10a", "u", 2), (11, "u11", "u", 2)]),
        (3, [(5, "back5", "c", 3), (10, "u10b", "u", 3), (70, "new", "c", 3)]),
        (4, [(11, None, "d", 4), (12, None, "d", 4), (40, None, "d", 4)]),
    ):
        m.merge_mor(spark, td, spark.createDataFrame(batch, schema + CH), "id", gen)
    _assert_resolves_like_reference(spark, td, (2, 3, 4))
    state = dict(_rows(m.read_mor(spark, td)))
    assert state[5] == "back5" and state[10] == "u10b" and state[70] == "new"
    assert not {11, 12, 40} & set(state)


def test_kill_rule_equals_reference_null_and_string_keys(spark, tmp_path):
    """NULL keys never match a delete entry, under both formulations, so
    every NULL-key row survives; string keys kill by value."""
    td = str(tmp_path / "t")
    schema = "k string, v bigint"
    base = spark.createDataFrame(
        [(None, 1), ("a", 2), ("b", 3), ("c", 4), ("d", 5)], schema
    )
    m.publish(base.repartition(2), td, 1, stats_columns=["k"])
    m.merge_mor(
        spark, td,
        spark.createDataFrame(
            [(None, 10, "u", 2), ("a", 20, "u", 2), ("b", None, "d", 2)],
            schema + CH,
        ),
        "k", 2,
    )
    m.merge_mor(
        spark, td,
        spark.createDataFrame([("a", 30, "u", 3), ("e", 7, "c", 3)], schema + CH),
        "k", 3,
    )
    _assert_resolves_like_reference(spark, td, (2, 3))
    got = _rows(m.read_mor(spark, td))
    assert sorted(v for k, v in got if k is None) == [1, 10]
    assert ("a", 30) in got and not any(k == "b" for k, _ in got)


def test_kill_rule_with_columns_named_like_its_own(spark, tmp_path):
    """Table columns named ``_metadata``, ``_seq`` and ``_dseq`` keep
    their values: the resolve's sequence columns and the file-name lookup
    step around them."""
    td = str(tmp_path / "t")
    schema = "id bigint, _metadata string, _seq bigint, _dseq bigint"
    base = spark.createDataFrame(
        [(k, f"m{k}", 100 + k, 200 + k) for k in range(20)], schema
    )
    m.publish(base.repartitionByRange(2, "id"), td, 1, stats_columns=["id"])
    m.merge_mor(
        spark, td,
        spark.createDataFrame(
            [(3, "x", 0, 0, "u", 2), (4, None, None, None, "d", 2)], schema + CH
        ),
        "id", 2,
    )
    m.merge_mor(
        spark, td,
        spark.createDataFrame([(3, "y", 1, 1, "u", 3)], schema + CH), "id", 3,
    )
    _assert_resolves_like_reference(spark, td, (2, 3))
    got = {r[0]: tuple(r[1:]) for r in m.read_mor(spark, td).collect()}
    assert got[3] == ("y", 1, 1) and got[7] == ("m7", 107, 207) and 4 not in got


def test_kill_rule_equals_reference_partitioned_and_evolved(spark, tmp_path):
    """The s36c partitioned layout (data files under several partition
    base dirs, keys moving partitions), across an additive schema
    evolution whose older files read the new column NULL."""
    td = str(tmp_path / "t")
    schema = "id bigint, p string, v string"
    base = spark.createDataFrame(
        [(k, f"p{k % 3}", f"b{k}") for k in range(30)], schema
    )
    m.publish_partitioned(base, td, 1, "p", stats_columns=["id"])
    m.merge_mor(
        spark, td,
        spark.createDataFrame(
            [(1, "p2", "moved", "u", 2), (2, None, None, "d", 2)], schema + CH
        ),
        "id", 2,
    )
    m.evolve_schema(td, 3, [StructField("w", StringType())])
    m.merge_mor(
        spark, td,
        spark.createDataFrame(
            [(1, "p0", "again", "w1", "u", 4), (2, "p1", "back", "w2", "c", 4)],
            schema + ", w string" + CH,
        ),
        "id", 4,
    )
    assert len({os.path.dirname(os.path.dirname(f))
                for f in m.read_manifest(td)["files"]}) > 1
    _assert_resolves_like_reference(spark, td, (2, 3, 4))
    got = {r["id"]: (r["p"], r["v"], r["w"]) for r in m.read_mor(spark, td).collect()}
    assert got[1] == ("p0", "again", "w1") and got[2] == ("p1", "back", "w2")
    assert got[5] == ("p2", "b5", None)


def test_kill_rule_equals_reference_under_epochs(spark, tmp_path):
    """A rename-evolved table (s36d): each era's scan carries its rows'
    sequences through the epoch-mapped read."""
    td = str(tmp_path / "t")
    base = spark.createDataFrame([(k, f"b{k}") for k in range(20)], "id bigint, v string")
    m.publish(base.repartitionByRange(2, "id"), td, 1, stats_columns=["id"])
    m.rename_column(td, 2, "v", "val")
    schema = "id bigint, val string"
    m.merge_mor(
        spark, td,
        spark.createDataFrame([(3, "x", "u", 3), (4, None, "d", 3)], schema + CH),
        "id", 3,
    )
    m.merge_mor(
        spark, td, spark.createDataFrame([(3, "y", "u", 4)], schema + CH), "id", 4,
    )
    _assert_resolves_like_reference(spark, td, (3, 4))
    got = dict(_rows(m.read_mor(spark, td)))
    assert got[3] == "y" and got[7] == "b7" and 4 not in got


def test_kill_rule_equals_reference_on_stats_pruned_manifest(spark, tmp_path):
    """A file-pruned manifest, as change_feed_mor_sides resolves it: the
    full delete log still kills the rows of the files that remain."""
    td = str(tmp_path / "t")
    schema = "id bigint, v string"
    base = spark.createDataFrame([(k, f"b{k}") for k in range(80)], schema)
    m.publish(base.repartitionByRange(4, "id"), td, 1, stats_columns=["id"])
    m.merge_mor(
        spark, td,
        spark.createDataFrame(
            [(5, "u5", "u", 2), (50, None, "d", 2), (6, None, "d", 2)], schema + CH
        ),
        "id", 2,
    )
    m.merge_mor(
        spark, td, spark.createDataFrame([(5, "v5", "u", 3)], schema + CH), "id", 3,
    )
    man = m.read_manifest(td)
    kept = [r for r in man["files"] if man["stats"][r]["id"][0] <= 10]
    assert 0 < len(kept) < len(man["files"])
    pruned = {**man, "files": kept, "n_files": len(kept)}
    got = _rows(m._read_mor_manifest(spark, td, pruned))
    assert got == _rows(_reference(spark, td, pruned))
    assert (5, "v5") in got and (5, "u5") not in got and not any(k == 6 for k, _ in got)


def test_kill_join_sort_merge_fallback(spark, tmp_path):
    """Unhinted: with broadcasts off the kill join plans as a sort-merge
    anti-join and resolves the same rows."""
    from ez_cdc_spark.plans.assertions import plan_str

    td = str(tmp_path / "t")
    schema = "id bigint, v string"
    base = spark.createDataFrame([(k, f"b{k}") for k in range(40)], schema)
    m.publish(base.repartitionByRange(2, "id"), td, 1, stats_columns=["id"])
    m.merge_mor(
        spark, td,
        spark.createDataFrame([(5, "u5", "u", 2), (6, None, "d", 2)], schema + CH),
        "id", 2,
    )
    broadcast = _rows(m.read_mor(spark, td))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = m.read_mor(spark, td)
        p = plan_str(df)
        assert "SortMergeJoin" in p and "LeftAnti" in p, p
        assert "Broadcast" not in p, p
        assert _rows(df) == broadcast
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_file_name_with_two_sequences_raises(spark, tmp_path):
    """Sequences are looked up by file name, so a name shared by files of
    different sequences is refused before any row could be misjudged."""
    td = str(tmp_path / "t")
    schema = "id bigint, v string"
    base = spark.createDataFrame([(k, f"b{k}") for k in range(10)], schema)
    m.publish(base.coalesce(1), td, 1, stats_columns=["id"])
    m.merge_mor(
        spark, td, spark.createDataFrame([(5, None, "d", 2)], schema + CH), "id", 2,
    )
    man = m.read_manifest(td)
    [rel] = [r for r in man["files"] if man["file_seq"][r] == 1]
    twin = os.path.join("data", "twin", os.path.basename(rel))
    os.makedirs(os.path.join(td, "data", "twin"))
    shutil.copy(os.path.join(td, rel), os.path.join(td, twin))
    bad = {**man, "files": man["files"] + [twin],
           "file_seq": {**man["file_seq"], twin: 2}}
    with pytest.raises(ValueError, match="maps to sequences 1 and 2"):
        m._read_mor_manifest(spark, td, bad)
    # the same name at the same sequence is not ambiguous
    same = {**bad, "file_seq": {**man["file_seq"], twin: 1}}
    assert len(m._read_mor_manifest(spark, td, same).collect()) == 18


def test_row_from_a_file_without_a_sequence_raises(spark, tmp_path):
    """A row whose file has no sequence entry fails the query instead of
    reading a NULL sequence, which would keep every row the log killed."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(3).write.parquet(a)
    spark.range(3).write.parquet(b)
    fa = m._parquet_files(a)
    df = spark.read.parquet(*fa, *m._parquet_files(b))
    seq_of = {os.path.basename(f): 7 for f in fa}
    out = df.withColumn("s", m._file_seq_value(df, fa, seq_of))
    with pytest.raises(Exception, match="no sequence recorded for"):
        out.collect()


def _envelopes(spark, n, lsn):
    """``n`` Debezium-shaped upsert envelopes over keys 0..n-1."""
    row = F.struct(
        F.col("id"), (F.col("id") + lsn).alias("lsn"),
        F.lit("f").alias("first_name"), F.lit("l").alias("last_name"),
        F.lit("e").alias("email"),
    )
    return spark.range(n).select(
        row.alias("after"), F.struct(F.col("id")).alias("before"),
        F.struct((F.col("id") + lsn).alias("lsn")).alias("source"),
        F.lit("u").alias("op"),
    )


def test_mor_sink_fold_counts_commits_not_delete_files(spark, tmp_path, monkeypatch):
    """A batch whose merge stages 4 delete files (4 write tasks) is one
    commit: under ``max_delete_files=1`` the sink folds only when a
    second commit lands."""
    from ez_cdc_spark.streaming.cdc import _genesis, lakehouse_mor_batch

    td = _genesis(spark, str(tmp_path / "t"))
    sink = lakehouse_mor_batch(td, tag="foldpin", max_delete_files=1)
    # a batch this small would resolve and write in one task
    # (_one_task_if_small); the 4 write tasks need the shuffle
    monkeypatch.setattr(m, "_ONE_TASK_MAX_BYTES", 0)
    confs = {"spark.sql.shuffle.partitions": "4",
             "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        sink(_envelopes(spark, 100, 1000), 0)
        man = m.read_manifest(td)
        assert len(man["delete_files"]) == 4
        assert man["generation"] == 2 and "mor" in man  # not folded
        sink(_envelopes(spark, 50, 2000), 1)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    man = m.read_manifest(td)
    assert man["generation"] == 4 and "fold" in man and not man.get("delete_files")
    got = {r["id"]: r["lsn"] for r in m.read_committed(spark, td).collect()}
    assert got == {k: k + (2000 if k < 50 else 1000) for k in range(100)}
