"""Last-event-wins resolve pins (sources/manifest.py:_resolve_last_event).

Both merge writers resolve a change batch to one row per key with one
``max`` over ``struct(seq, op, *payload)``. These tests hold the helper,
``merge_cow`` and ``merge_mor`` equal to the formulation it replaced,
``max_by(struct(op, *payload), struct(seq, op, *payload))``, on the
batches where the order matters: exact (key, seq, op) duplicates with
different payloads, a delete and an upsert at one sequence, NULL payload
fields, a NULL op, string keys and a NULL key. They also pin that table
columns named like the resolve's own fields merge through both writers,
that merge_cow's rewrite gives the same rows whether it drops the
changed keys as literals or through the broadcast anti-join, and that a
batch under the one-task bound (_one_task_if_small) resolves without a
shuffle to the same tables.
"""

import os

import pytest
from pyspark.sql import functions as F  # noqa: N812

import ez_cdc_spark.sources.manifest as m

SCHEMA = "k string, v bigint, s string"
CH = ", op string, seq bigint"

# Every row of one key competes; comments name what each key exercises.
BATCH = [
    # duplicate (key, seq, op) with different payloads: the payload decides
    ("a", 1, "x", "u", 5),
    ("a", 2, "w", "u", 5),
    ("a", 2, "y", "u", 5),
    ("a", 9, "z", "u", 4),
    # a delete and an upsert at the same seq: op "u" > "d" wins
    ("b", 7, "del", "d", 3),
    ("b", 8, "up", "u", 3),
    # ... and the delete wins when it is later
    ("c", 1, "up", "u", 2),
    ("c", None, None, "d", 6),
    # NULL payload fields order below values
    ("e", None, None, "u", 4),
    ("e", None, "t", "u", 4),
    ("f", None, None, "c", 1),
    # a NULL op at the winning seq: staged as neither upsert nor kept row
    ("g", 3, "n", None, 9),
    ("g", 2, "m", "u", 8),
    # a NULL op that loses to a later upsert
    ("h", 1, "p", None, 1),
    ("h", 4, "q", "c", 2),
    # a NULL key groups like any other key
    (None, 1, "nk1", "u", 1),
    (None, 2, "nk2", "u", 2),
    # a key only inserted
    ("new", 42, "n", "c", 1),
]


def _max_by_reference(changes, key_col, table_cols, op_col="op", seq_col="seq"):
    """The formulation the helper replaced: the payload rides twice, as
    the value and inside the ordering."""
    payload = [F.col(c) for c in table_cols if c != key_col]
    return (
        changes.groupBy(key_col)
        .agg(
            F.max_by(
                F.struct(F.col(op_col).alias("_op"), *payload),
                F.struct(F.col(seq_col), F.col(op_col), *payload),
            ).alias("_last")
        )
        .select(key_col, "_last.*")
    )


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _changes(spark):
    # several input partitions, so partial aggregates really merge
    return spark.createDataFrame(BATCH, SCHEMA + CH).repartition(3)


def test_helper_equals_max_by_reference(spark):
    changes = _changes(spark)
    got, op = m._resolve_last_event(changes, "k", ["k", "v", "s"], "op", "seq")
    assert got.columns == ["k", op, "v", "s"] and op == "_op"
    ref = _rows(_max_by_reference(changes, "k", ["k", "v", "s"]))
    assert _rows(got) == ref
    winners = {r[0]: r[1:] for r in ref}
    assert winners["a"] == ("u", 2, "y") and winners["b"] == ("u", 8, "up")
    assert winners["c"] == ("d", None, None) and winners["e"] == ("u", None, "t")
    assert winners["g"] == (None, 3, "n") and winners["h"] == ("c", 4, "q")
    assert winners[None] == ("u", 2, "nk2")


def _parquet_changes(spark, tmp_path):
    """BATCH read back from three parquet files: a known size estimate,
    so the resolve runs in one task under the default bound."""
    path = str(tmp_path / "batch")
    _changes(spark).write.parquet(path)
    return spark.read.parquet(path)


def _resolve_shuffles(batch):
    from ez_cdc_spark.plans.assertions import plan_str

    final, _ = m._resolve_last_event(batch, "k", ["k", "v", "s"], "op", "seq")
    return "hashpartitioning" in plan_str(final)


def test_small_batch_resolves_without_a_shuffle(spark, tmp_path, monkeypatch):
    """Under _ONE_TASK_MAX_BYTES the resolve plans no Exchange; a batch
    above the bound, or of unknown size (an RDD), keeps the shuffle."""
    batch = _parquet_changes(spark, tmp_path)
    assert not _resolve_shuffles(batch)
    assert _resolve_shuffles(_changes(spark))
    monkeypatch.setattr(m, "_ONE_TASK_MAX_BYTES", 0)
    assert _resolve_shuffles(batch)


def _base(spark):
    return spark.createDataFrame(
        [(k, i, f"b{k}") for i, k in enumerate("abcdefgh")], SCHEMA
    )


def _expected_after_merge(spark):
    """Base rows whose key the batch does not name, plus the reference's
    upserts (a delete or NULL op stages no row). A NULL key matches no
    base row."""
    ref = _max_by_reference(_changes(spark), "k", ["k", "v", "s"]).collect()
    changed = {r["k"] for r in ref}
    kept = [tuple(r) for r in _base(spark).collect() if r["k"] not in changed]
    ups = [(r["k"], r["v"], r["s"]) for r in ref if r["_op"] not in (None, "d")]
    return sorted(kept + ups, key=repr)


@pytest.mark.parametrize("writer", ["merge_cow", "merge_mor"])
def test_merge_writers_equal_max_by_reference(spark, tmp_path, writer):
    td = str(tmp_path / "t")
    m.publish(_base(spark).coalesce(2), td, 1, stats_columns=["k"])
    getattr(m, writer)(spark, td, _changes(spark), "k", None)
    got = _rows(m.read_mor(spark, td))
    assert got == _expected_after_merge(spark)
    assert ("a", 2, "y") in got and not any(r[0] in ("c", "g") for r in got)


@pytest.mark.parametrize("writer", ["merge_cow", "merge_mor"])
def test_one_task_resolve_equals_the_shuffled_one(spark, tmp_path, monkeypatch, writer):
    """BATCH (ties, NULL op, NULL key, string keys) merges to the same
    table with the one-task bound at its default and at 0 (always
    shuffle)."""
    batch = _parquet_changes(spark, tmp_path)
    tables = []
    for bound in (m._ONE_TASK_MAX_BYTES, 0):
        monkeypatch.setattr(m, "_ONE_TASK_MAX_BYTES", bound)
        td = str(tmp_path / f"t{bound}")
        m.publish(_base(spark).coalesce(2), td, 1, stats_columns=["k"])
        getattr(m, writer)(spark, td, batch, "k", None)
        tables.append(_rows(m.read_mor(spark, td)))
    assert tables[0] == tables[1] == _expected_after_merge(spark)


@pytest.mark.parametrize("writer", ["merge_cow", "merge_mor"])
def test_columns_named_like_the_resolve_fields(spark, tmp_path, writer):
    """``_op``, ``_seq`` and ``_last`` are ordinary table columns: the
    resolve's struct fields step around them, and the batch's own op and
    seq columns still decide the winner."""
    td = str(tmp_path / "t")
    schema = "id bigint, _op string, _seq bigint, _last string"
    base = spark.createDataFrame(
        [(k, "d", 100 + k, f"l{k}") for k in range(6)], schema
    )
    m.publish(base.coalesce(1), td, 1, stats_columns=["id"])
    batch = spark.createDataFrame(
        [
            (1, "d", 0, "x", "u", 2),
            (1, "u", 9, "y", "u", 1),
            (2, "x", 1, "z", "d", 2),
            (3, "c", 5, "w", "u", 1),
            (3, "c", 6, "v", "d", 1),
            (9, "d", 7, "n", "c", 1),
        ],
        schema + CH,
    )
    getattr(m, writer)(spark, td, batch, "id", None)
    got = {r[0]: tuple(r[1:]) for r in m.read_mor(spark, td).collect()}
    assert got == {
        0: ("d", 100, "l0"),
        1: ("d", 0, "x"),
        3: ("c", 5, "w"),
        4: ("d", 104, "l4"),
        5: ("d", 105, "l5"),
        9: ("d", 7, "n"),
    }


def _rewrite_both_ways(spark, td, batch, key, cols):
    """merge_cow's rewrite of every committed file, built with the
    driver-held keys (literal path up to the bound) and without them
    (broadcast anti-join): (literal rows, broadcast rows, literal plan)."""
    from ez_cdc_spark.plans.assertions import plan_str

    man = m.read_manifest(td)
    files = [os.path.join(td, r) for r in man["files"]]
    final, op = m._resolve_last_event(batch, key, cols, "op", "seq")
    upserts = final.filter(F.col(op) != "d").select(*cols)
    keys = [r[0] for r in final.select(key).collect()]
    lit = m._merge_rewrite(spark, man, td, files, final, upserts, key, keys)
    bc = m._merge_rewrite(spark, man, td, files, final, upserts, key)
    return _rows(lit), _rows(bc), plan_str(lit)


def test_rewrite_literal_keys_equal_broadcast_string_and_null_keys(spark, tmp_path):
    """String keys, a NULL-keyed table row and a NULL batch key: a NULL
    table key survives both forms, a NULL batch key removes nothing and
    its upsert is staged."""
    td = str(tmp_path / "t")
    m.publish(
        spark.createDataFrame(
            [(None, 0, "tn")] + [(f"k{i}", i, f"t{i}") for i in range(20)], SCHEMA
        ).coalesce(2),
        td, 1, stats_columns=["k"],
    )
    batch = spark.createDataFrame(
        [("k1", 1, "u1", "u", 1), ("k2", None, None, "d", 1), ("new", 5, "n", "c", 1),
         (None, 9, "un", "u", 1), ("k3", 3, "x", "u", 1), ("k3", None, None, "d", 2)],
        SCHEMA + CH,
    )
    lit, bc, plan = _rewrite_both_ways(spark, td, batch, "k", ["k", "v", "s"])
    assert lit == bc
    assert "BroadcastExchange" not in plan and "LeftAnti" not in plan, plan
    assert (None, 0, "tn") in lit and (None, 9, "un") in lit
    assert not any(r[0] in ("k2", "k3") for r in lit)


@pytest.mark.parametrize("extra", [0, 1])
def test_rewrite_literal_keys_equal_broadcast_at_the_bound(spark, tmp_path, extra):
    """Exactly the bound of non-NULL int keys (plus a NULL batch key,
    which does not count) takes the literal path; one more key takes the
    broadcast path. Both give the broadcast rows."""
    bound = m._REWRITE_LITERAL_MAX_KEYS
    td = str(tmp_path / "t")
    m.publish(
        spark.createDataFrame(
            [(None, -1, "tn")] + [(i, i, f"t{i}") for i in range(2 * bound)],
            "k bigint, v bigint, s string",
        ).coalesce(3),
        td, 1, stats_columns=["k"],
    )
    rows = [(i * 2, i, f"u{i}", "d" if i % 3 == 0 else "u", 1)
            for i in range(bound + extra)] + [(None, 7, "un", "u", 1)]
    batch = spark.createDataFrame(rows, "k bigint, v bigint, s string" + CH)
    lit, bc, plan = _rewrite_both_ways(spark, td, batch, "k", ["k", "v", "s"])
    assert lit == bc
    assert ("BroadcastExchange" in plan) == bool(extra), plan[:800]
    deleted = {r[0] for r in rows if r[3] == "d"}
    assert deleted and not any(r[0] in deleted for r in lit)
    assert (None, -1, "tn") in lit and (None, 7, "un") in lit
