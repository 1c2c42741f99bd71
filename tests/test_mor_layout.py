"""merge_mor staging layout pins (sources/manifest.py:merge_mor).

One partitionBy(<kind>) write stages a commit's upsert files under
``data/gen-N/<kind>=data/`` and its equality-delete files under
``data/gen-N/<kind>=deletes/``. These tests pin the edges of that layout:
batches with only one kind of row, an empty batch, a table column named
like the kind column, partitioned tables (delete rows in the null
partition, reads anchored below the kind dir), maintenance leaving no
kind dirs behind, and the per-delete-file feed-planning counts.
"""

import collections
import os

import pyarrow.parquet as pq
import pytest

import ez_cdc_spark.sources.manifest as m

SCHEMA = "id bigint, p string, val string"
CHANGES = SCHEMA + ", op string, seq bigint"


def _base(spark, td, n=100, partitioned=False):
    rows = [(k, str(k % 3), f"v{k}") for k in range(n)]
    df = spark.createDataFrame(rows, SCHEMA)
    if partitioned:
        m.publish_partitioned(df, td, 1, "p", stats_columns=["id"])
    else:
        m.publish(df.repartitionByRange(4, "id"), td, 1, stats_columns=["id"])
    return {k: (p, v) for k, p, v in rows}


def _changes(spark, rows, schema=CHANGES):
    return spark.createDataFrame(rows, schema)


def _state(spark, td):
    return {r["id"]: (r["p"], r["val"]) for r in m.read_mor(spark, td).collect()}


def _new_files(td, gen):
    man = m.read_manifest(td, as_of_generation=gen)
    parent = m.read_manifest(td, as_of_generation=gen - 1)
    data = [r for r in man["files"] if r not in set(parent["files"])]
    dels = [
        r for r in man.get("delete_files") or []
        if r not in set(parent.get("delete_files") or [])
    ]
    return man, data, dels


def _keys(td, rel, col="id"):
    return pq.read_table(os.path.join(td, rel), columns=[col]).column(col).to_pylist()


def test_all_delete_batch_stages_no_data_file(spark, tmp_path):
    td = str(tmp_path / "t")
    state = _base(spark, td)
    m.merge_mor(
        spark, td,
        _changes(spark, [(k, None, None, "d", k) for k in (3, 50, 99)]), "id", 2,
    )
    man, data, dels = _new_files(td, 2)
    assert data == [] and dels
    assert all("/_kind=deletes/" in f"/{r}" for r in dels)
    assert sorted(k for r in dels for k in _keys(td, r)) == [3, 50, 99]
    assert not os.path.exists(os.path.join(td, "data", "gen-2", "_kind=data"))
    for k in (3, 50, 99):
        del state[k]
    assert _state(spark, td) == state


def test_all_insert_batch_kills_nothing_it_did_not_write(spark, tmp_path):
    td = str(tmp_path / "t")
    state = _base(spark, td)
    new = [(k, "9", f"n{k}", "c", k) for k in (1000, 1001, 1002)]
    m.merge_mor(spark, td, _changes(spark, new), "id", 2)
    man, data, dels = _new_files(td, 2)
    assert data and all("/_kind=data/" in f"/{r}" for r in data)
    # every changed key, inserted ones included, has its delete entry
    assert sorted(k for r in dels for k in _keys(td, r)) == [1000, 1001, 1002]
    # delete rows carry the key and NULL payload
    for r in dels:
        t = pq.read_table(os.path.join(td, r))
        assert t.column("val").null_count == t.num_rows
    state.update({k: (p, v) for k, p, v, _, _ in new})
    assert _state(spark, td) == state


def test_empty_batch_leaves_read_mor_unchanged(spark, tmp_path):
    td = str(tmp_path / "t")
    _base(spark, td)
    m.merge_mor(
        spark, td, _changes(spark, [(5, "1", "x", "u", 1)]), "id", 2
    )
    before = sorted(map(tuple, m.read_mor(spark, td).collect()))
    out = m.merge_mor(spark, td, _changes(spark, []), "id", 3)
    assert out["generation"] == 3
    _, data, dels = _new_files(td, 3)
    assert data == [] and dels == []
    assert sorted(map(tuple, m.read_mor(spark, td).collect())) == before


def test_table_column_named_like_the_kind_column(spark, tmp_path):
    td = str(tmp_path / "t")
    schema = "id bigint, _kind string"
    m.publish(
        spark.createDataFrame([(k, f"k{k}") for k in range(10)], schema), td, 1
    )
    m.merge_mor(
        spark, td,
        _changes(
            spark, [(2, "new", "u", 1), (4, None, "d", 2), (20, "ins", "c", 3)],
            schema + ", op string, seq bigint",
        ),
        "id", 2,
    )
    _, data, dels = _new_files(td, 2)
    # the kind dir takes a name no table column has
    assert all("/_kind_=data/" in f"/{r}" for r in data)
    assert all("/_kind_=deletes/" in f"/{r}" for r in dels)
    got = {r["id"]: r["_kind"] for r in m.read_mor(spark, td).collect()}
    want = {k: f"k{k}" for k in range(10) if k != 4}
    want.update({2: "new", 20: "ins"})
    assert got == want
    assert m.read_mor(spark, td).columns == ["id", "_kind"]


def test_partitioned_layout_and_pruning(spark, tmp_path):
    """s36c shape: upserts move keys across partitions; data files land
    under ``_kind=data/p=<v>/`` with their partition recorded, delete rows
    land in the kind dir's null partition and stay out of the partitions
    map; a data file read alone reconstructs its partition column (the
    read anchors below the kind dir); after the fold, a partition read
    opens only that partition's files."""
    td = str(tmp_path / "t")
    state = _base(spark, td, partitioned=True)
    batch = [(k, "9", f"m{k}", "u", k) for k in range(0, 100, 10)]
    batch += [(7, None, None, "d", 500), (500, None, "nullp", "c", 501)]
    m.merge_mor(spark, td, _changes(spark, batch), "id", 2)
    man, data, dels = _new_files(td, 2)

    assert {man["partitions"][r] for r in data} == {"9", None}
    for r in data:
        pv = man["partitions"][r]
        hive = "__HIVE_DEFAULT_PARTITION__" if pv is None else pv
        assert f"/data/gen-2/_kind=data/p={hive}/" in f"/{r}"
        # the file read alone: partition column from its dir, no kind column
        df = m._read_files(spark, man, td, [os.path.join(td, r)])
        assert sorted(df.columns) == ["id", "p", "val"]
        assert {row["p"] for row in df.collect()} == {pv}
    assert all(
        "/data/gen-2/_kind=deletes/p=__HIVE_DEFAULT_PARTITION__/" in f"/{r}"
        for r in dels
    )
    assert not set(dels) & set(man["partitions"]) and not set(dels) & set(man["files"])

    for k, p, v, op, _ in batch:
        if op == "d":
            del state[k]
        else:
            state[k] = (p, v)
    assert _state(spark, td) == state

    m.compact_mor(spark, td, 3, target_files=2)
    folded = m.read_manifest(td)
    want = {
        os.path.join(td, r) for r in folded["files"] if folded["partitions"][r] == "9"
    }
    df = m.read_committed_partitions(spark, td, ["9"])
    assert {f.replace("file://", "") for f in df.inputFiles()} == want
    assert {r["id"] for r in df.collect()} == {
        k for k, (p, _) in state.items() if p == "9"
    }


@pytest.mark.parametrize("partitioned", [False, True])
def test_gc_vacuum_after_fold_leave_no_kind_dirs(spark, tmp_path, partitioned):
    td = str(tmp_path / "t")
    _base(spark, td, partitioned=partitioned)
    for g in (2, 3):
        m.merge_mor(
            spark, td,
            _changes(spark, [(g, "1", f"x{g}", "u", g), (g + 10, None, None, "d", g)]),
            "id", g,
        )
    assert any(
        d.startswith("_kind=")
        for _, dirs, _ in os.walk(os.path.join(td, "data")) for d in dirs
    )
    cols = ["id", "p", "val"]
    want = sorted(map(tuple, m.read_mor(spark, td).select(*cols).collect()))
    m.compact_mor(spark, td, 4, target_files=2)
    m.gc(td, older_than_s=0.0)
    m.vacuum(td, older_than_s=0.0)
    left = [
        os.path.join(root, d)
        for root, dirs, _ in os.walk(os.path.join(td, "data")) for d in dirs
        if d.startswith("_kind")
    ]
    assert left == []
    assert sorted(map(tuple, m.read_committed(spark, td).select(*cols).collect())) == want


def test_b64_recorded_per_delete_file(spark, tmp_path, monkeypatch):
    """With AQE coalescing off, one commit stages several delete files;
    each records base-bucket counts of its own keys, whether counted
    in-process or, above the driver byte bound, by an executor agg over
    the staged file. The MOR feeds over that commit equal the feeds over
    the same commit staged as a single delete file."""
    from ez_cdc_spark.sources.pyds import make_ezmanifest_source

    churn = [(k, "2", f"c{k}", "u", k) for k in range(0, 200, 7)]
    churn += [(k, None, None, "d", 1000 + k) for k in range(3, 200, 11)]

    def build(name, coalesce):
        td = str(tmp_path / name)
        _base(spark, td, n=200)
        conf = "spark.sql.adaptive.coalescePartitions.enabled"
        prev = spark.conf.get(conf)
        spark.conf.set(conf, str(coalesce).lower())
        try:
            m.merge_mor(spark, td, _changes(spark, churn).repartition(4), "id", 2)
        finally:
            spark.conf.set(conf, prev)
        return td

    def feeds(td):
        batch = sorted(map(tuple, m.change_feed_mor(spark, td, 1, 2).collect()))
        reader = make_ezmanifest_source()(
            options={"path": td, "changefeed": "true", "feedbuckets": "8"}
        ).streamReader(None)
        stream = []
        for sp in reader.partitions({"gen": 1}, {"gen": 2}):
            for rb in reader.read(sp) or []:
                cols = rb.to_pydict()
                stream.extend(zip(*cols.values()))
        return batch, sorted(stream)

    one = build("one", True)
    assert len(m.read_manifest(one)["delete_files"]) == 1
    many = build("many", False)
    man = m.read_manifest(many)
    assert len(man["delete_files"]) > 1
    for rel in man["delete_files"]:
        want = collections.Counter(str(m._stable_bucket(k, 64)) for k in _keys(many, rel))
        assert man["delete_meta"][rel]["b64"] == dict(want)

    key_field = m.StructType.fromJson(man["schema"])["id"]
    monkeypatch.setattr(m, "_BLOOMS_DRIVER_MAX_BYTES", 0)
    for rel in man["delete_files"]:
        path = os.path.join(many, rel)
        assert m._bucket64_counts_driver(key_field, path) is None
        assert m._delete_file_bucket64(spark, key_field, path) == (
            man["delete_meta"][rel]["b64"]
        )
    monkeypatch.undo()

    assert feeds(many) == feeds(one)
