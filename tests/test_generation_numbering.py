"""Writers take their own generation numbers (``generation=None``).

``commit_core.take_generation`` reserves the next free number above the
committed head: a number held by an orphan manifest of a crashed attempt,
or by another writer's reservation, is skipped. Explicit numbers keep
their checks (pinned by the conflict tests in test_scale_ops.py). A
merge_cow batch that resolves to no rows takes no number at all.
"""

import json
import os
import shutil
import tempfile
import threading

import pytest

from ez_cdc_spark.sources.manifest import (
    _manifest_path,
    _reserve_path,
    compact_mor,
    current_generation,
    merge_cow,
    merge_mor,
    publish,
    publish_append,
    read_committed,
    read_manifest,
    read_mor,
    retry_commit,
)

DDL = "id bigint, v string"
CHANGES_DDL = DDL + ", op string, seq bigint"


def _plant_debris(td: str) -> int:
    """An orphan manifest right above the head and a stale reservation
    above that, as a crashed writer leaves them; returns the head."""
    head = current_generation(td)
    with open(_manifest_path(td, head + 1), "w") as fh:
        json.dump({**read_manifest(td), "generation": head + 1}, fh)
    open(_reserve_path(td, head + 2), "w").close()
    return head


def test_none_skips_orphan_manifest_and_stale_reservation(spark):
    td = tempfile.mkdtemp(prefix="ez_gen_none_")
    try:
        publish(
            spark.createDataFrame([(i, f"v{i}") for i in range(10)], DDL),
            td, 1, stats_columns=["id"],
        )
        head = _plant_debris(td)
        cow = merge_cow(
            spark, td,
            spark.createDataFrame([(3, "u3", "u", 1)], CHANGES_DDL),
            "id", None,
        )
        assert cow["generation"] == head + 3 == current_generation(td)
        assert cow["merge"]["parent"] == head

        head = _plant_debris(td)
        mor = merge_mor(
            spark, td,
            spark.createDataFrame([(4, None, "d", 2)], CHANGES_DDL),
            "id", None,
        )
        assert mor["generation"] == head + 3 == current_generation(td)
        assert mor["mor"]["parent"] == head

        head = _plant_debris(td)
        fold = compact_mor(spark, td, None, target_files=1)
        assert fold["generation"] == head + 3 == current_generation(td)
        assert fold["fold"]["parent"] == head

        # each commit released its own reservation; the planted stale
        # ones are left for gc to age out
        left = sorted(
            f for f in os.listdir(os.path.join(td, "_manifests"))
            if f.startswith(".reserve-gen-")
        )
        assert left == [".reserve-gen-3", ".reserve-gen-6", ".reserve-gen-9"]
        got = {r["id"]: r["v"] for r in read_mor(spark, td).collect()}
        assert got == {**{i: f"v{i}" for i in range(10) if i != 4}, 3: "u3"}
    finally:
        shutil.rmtree(td, ignore_errors=True)


def test_concurrent_appends_land_on_distinct_numbers(spark):
    td = tempfile.mkdtemp(prefix="ez_gen_race_")
    try:
        publish(spark.createDataFrame([(0, "base")], DDL), td, 1)
        start = threading.Barrier(2)
        commits, errors = [], []

        def append(i: int) -> None:
            batch = spark.createDataFrame([(i, f"t{i}")], DDL)
            start.wait()
            try:
                commits.append(retry_commit(
                    lambda g: publish_append(batch, td, g), td
                ))
            except Exception as e:  # surfaced by the assert below
                errors.append(e)

        threads = [threading.Thread(target=append, args=(i,)) for i in (1, 2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        gens = sorted(m["generation"] for m in commits)
        assert len(set(gens)) == 2 and gens[-1] == current_generation(td)
        assert not [
            f for f in os.listdir(os.path.join(td, "_manifests"))
            if f.startswith(".reserve-gen-")
        ]
        ids = sorted(r["id"] for r in read_committed(spark, td).collect())
        assert ids == [0, 1, 2]
    finally:
        shutil.rmtree(td, ignore_errors=True)


def _reservations(td: str) -> list[str]:
    return [
        f for f in os.listdir(os.path.join(td, "_manifests"))
        if f.startswith(".reserve-gen-")
    ]


def test_empty_merge_cow_commits_nothing(spark):
    """An empty batch, with ``generation=None`` and with an explicit free
    number, commits nothing, reserves nothing and returns the head
    manifest. An explicit number that is used or below the head is still
    refused with the message a nonempty batch gets."""
    td = tempfile.mkdtemp(prefix="ez_gen_empty_")
    try:
        publish(
            spark.createDataFrame([(i, f"v{i}") for i in range(4)], DDL),
            td, 1, stats_columns=["id"],
        )
        merge_cow(
            spark, td, spark.createDataFrame([(1, "u1", "u", 1)], CHANGES_DDL),
            "id", None,
        )
        head = read_manifest(td)
        g = head["generation"]
        empty = spark.createDataFrame([], CHANGES_DDL)
        for gen in (None, g + 5):
            assert merge_cow(spark, td, empty, "id", gen) == head
            assert current_generation(td) == g
            assert not _reservations(td)
            assert not os.path.exists(_manifest_path(td, g + 1))
            assert not os.path.exists(_manifest_path(td, g + 5))
            assert not os.path.exists(os.path.join(td, "data", f"gen-{g + 1}"))

        # an orphan manifest above the head holds the next number
        with open(_manifest_path(td, g + 1), "w") as fh:
            json.dump({**head, "generation": g + 1}, fh)
        one = spark.createDataFrame([(2, "u2", "u", 2)], CHANGES_DDL)
        for gen, err in ((g, ValueError), (1, ValueError), (g + 1, FileExistsError)):
            with pytest.raises(err) as nonempty:
                merge_cow(spark, td, one, "id", gen)
            with pytest.raises(err) as got:
                merge_cow(spark, td, empty, "id", gen)
            assert str(got.value) == str(nonempty.value)
        assert current_generation(td) == g and not _reservations(td)
    finally:
        shutil.rmtree(td, ignore_errors=True)
