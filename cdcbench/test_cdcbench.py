"""Tests for the benchmark itself: run with ``python3 -m pytest cdcbench``."""

from __future__ import annotations

import dataclasses
import filecmp
import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import reference  # noqa: E402
from run import tail  # noqa: E402
from spans import self_time  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMALL = {
    name: dataclasses.replace(w, rows=3000, batch=200)
    for name, w in gen.WORKLOADS.items()
}


@pytest.mark.parametrize("name", sorted(SMALL))
def test_generator_is_a_function_of_the_seed(tmp_path, name):
    w = SMALL[name]
    a = gen.write_inputs(w, 7, 4, str(tmp_path / "a"))
    b = gen.write_inputs(w, 7, 4, str(tmp_path / "b"))
    c = gen.write_inputs(w, 8, 4, str(tmp_path / "c"))
    for x, y in zip([a[0], *a[1]], [b[0], *b[1]]):
        assert filecmp.cmp(x, y, shallow=False), (x, y)
    assert a[2] == b[2]
    assert not filecmp.cmp(a[1][0], c[1][0], shallow=False)
    assert not filecmp.cmp(a[0], c[0], shallow=False)


def test_generator_stream_contract():
    w = SMALL["mor-uniform-rw"]
    lsns, dups, ops = [], 0, set()
    for lines in gen.change_batches(w, 3, 4):
        for prev, line in zip([None, *lines], lines):
            if line == prev:
                dups += 1
                continue
            e = json.loads(line)
            lsns.append(e["source"]["lsn"])
            ops.add(e["op"])
    assert lsns == sorted(set(lsns))  # strictly increasing across batches
    assert ops == {"c", "u", "d"} and dups > 0
    # a longer stream starts with the same batches
    assert list(gen.change_batches(w, 3, 2)) == list(gen.change_batches(w, 3, 4))[:2]


def test_seconds_give_whole_cycles_of_timed_batches():
    mor = gen.WORKLOADS["mor-uniform-rw"]
    assert mor.timed_batches(0) == mor.cycle
    assert mor.timed_batches(15) % mor.cycle == 0
    assert gen.WORKLOADS["feed-hot"].timed_batches(0) == 1


def _env(op, key, lsn, first="Ada", last="L001"):
    return gen._envelope(op, key, lsn, first, last)


def _write_case(tmp_path):
    snap = str(tmp_path / "snap.parquet")
    pq.write_table(
        pa.table({
            "id": pa.array([1, 2, 3], pa.int64()),
            "lsn": pa.array([1, 2, 3], pa.int64()),
            "first_name": ["Ada", "Alan", "Grace"],
            "last_name": ["L000", "L000", "L000"],
            "email": ["a", "b", "c"],
        }),
        snap,
    )
    b0 = [_env("u", 1, 10, "Tim"), _env("u", 1, 10, "Tim"),  # duplicate
          _env("c", 4, 11, "Ken"), _env("d", 2, 12)]
    b1 = [_env("u", 1, 13, "Linus"), _env("d", 4, 14), _env("c", 5, 15, "Hedy")]
    files = []
    for i, lines in enumerate((b0, b1)):
        path = tmp_path / f"b{i}.json"
        path.write_text("\n".join(lines) + "\n")
        files.append(str(path))
    return snap, files


def _table(rows):
    cols = ["id", "lsn", "first_name", "last_name", "email"]
    return pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)},
                    schema=pa.schema([("id", pa.int64()), ("lsn", pa.int64()),
                                      ("first_name", pa.string()),
                                      ("last_name", pa.string()),
                                      ("email", pa.string())]))


def test_reference_applies_last_event_wins(tmp_path):
    snap, files = _write_case(tmp_path)
    right = [
        (1, 13, "Linus", "L001", "linus.l001.1@example.com"),
        (3, 3, "Grace", "L000", "c"),
        (5, 15, "Hedy", "L001", "hedy.l001.5@example.com"),
    ]
    pq.write_table(_table(right), str(tmp_path / "right.parquet"))
    out = reference.check(snap, files, str(tmp_path / "right.parquet"))
    assert out == {"mismatched_rows": 0, "live_rows": 3}

    # only the first batch applied: key 2 deleted, key 4 inserted
    pq.write_table(_table([
        (1, 10, "Tim", "L001", "tim.l001.1@example.com"),
        (3, 3, "Grace", "L000", "c"),
        (4, 11, "Ken", "L001", "ken.l001.4@example.com"),
    ]), str(tmp_path / "first.parquet"))
    assert reference.check(snap, files[:1], str(tmp_path / "first.parquet"))["mismatched_rows"] == 0


@pytest.mark.parametrize("wrong", [
    "stale_update", "resurrected_delete", "duplicate_row", "missing_insert",
])
def test_reference_catches_a_wrong_table(tmp_path, wrong):
    snap, files = _write_case(tmp_path)
    rows = {
        1: (1, 13, "Linus", "L001", "linus.l001.1@example.com"),
        3: (3, 3, "Grace", "L000", "c"),
        5: (5, 15, "Hedy", "L001", "hedy.l001.5@example.com"),
    }
    table = list(rows.values())
    if wrong == "stale_update":
        table[0] = (1, 10, "Tim", "L001", "tim.l001.1@example.com")
    elif wrong == "resurrected_delete":
        table.append((2, 2, "Alan", "L000", "b"))
    elif wrong == "duplicate_row":
        table.append(rows[3])
    else:
        table = table[:2]
    path = str(tmp_path / "wrong.parquet")
    pq.write_table(_table(table), path)
    assert reference.check(snap, files, path)["mismatched_rows"] > 0


def test_reference_checks_the_feed_aggregate(tmp_path):
    snap, files = _write_case(tmp_path)
    table = str(tmp_path / "t.parquet")
    pq.write_table(_table([
        (1, 13, "Linus", "L001", "linus.l001.1@example.com"),
        (3, 3, "Grace", "L000", "c"),
        (5, 15, "Hedy", "L001", "hedy.l001.5@example.com"),
    ]), table)
    agg = pa.table({"first_name": ["Linus", "Grace", "Hedy"],
                    "n": pa.array([1, 1, 1], pa.int64()),
                    "sum_lsn": pa.array([13, 3, 15], pa.int64())})
    pq.write_table(agg, str(tmp_path / "agg.parquet"))
    assert reference.check(snap, files, table, str(tmp_path / "agg.parquet"))[
        "mismatched_agg_rows"] == 0
    pq.write_table(agg.set_column(1, "n", pa.array([1, 2, 1], pa.int64())),
                   str(tmp_path / "bad.parquet"))
    assert reference.check(snap, files, table, str(tmp_path / "bad.parquet"))[
        "mismatched_agg_rows"] == 2


def test_self_time_subtracts_the_union_of_children():
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0},
            {"start": 6.0, "end": 7.0}, {"start": 9.5, "end": 12.0}]
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0 - 0.5)


def test_tail_keeps_samples_beyond_it():
    xs = [float(i) for i in range(100)]
    assert tail(xs) == (89.0, 90.0)  # ten samples beyond
    assert tail(xs[:20]) == (14.0, 75.0)  # n // 4 beyond


def test_benchmark_json_matches_the_printed_metrics():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == {
        k: u for k, (u, _) in run.PER_LAYER.items()}
    assert {x["name"] for x in doc["workloads"]} <= set(gen.WORKLOADS)


def _run(trace):
    out = subprocess.run(
        [sys.executable, "cdcbench/run.py", "--workload", "feed-hot", "--seed", "5",
         "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    detail, result = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
    return detail, result


def test_tracing_does_not_change_job_counts():
    plain, plain_result = _run(0)
    traced, traced_result = _run(1)
    assert plain_result["correct"] and traced_result["correct"]
    assert plain["timed_batches"] == traced["timed_batches"] == 1
    assert plain["batch_jobs"] == traced["batch_jobs"]
    assert plain_result["metrics"]["jobs_per_trigger"]["value"] > 0
    assert traced_result["metrics"]["sink.jobs"]["value"] > 0
    assert traced_result["metrics"]["consume_feed_step.s"]["value"] > 0
