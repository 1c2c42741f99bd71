"""Golden manifests: every writer's committed manifest, pinned.

A scripted sequence of writer calls runs on a tiny table and every
manifest it commits is compared, with dict equality, against
``golden_manifests.json``. The sequence covers each manifest-building
path: publish with stats, blooms and constraints, append, a txn-tagged
copy-on-write merge, partial compaction, additive evolution, rename,
two merge-on-read commits, the fold, restore and ALTER CONSTRAINT. It
runs on a flat table, and on a partitioned table with a branch commit
and a column drop; a hidden-partitioned run adds the full compaction,
a merge across hidden partitions and nested evolution, and a last run
writes through the ``ezmanifest`` data source.

Staged part files (engine and data source) and bloom sidecars embed a
random uuid, so each uuid is replaced by the ordinal at which it first
appears (walking the manifests in commit order, keys sorted). Input frames are coalesced to
one partition, and shuffles and file scans run with one partition, so
the number of files each write stages does not depend on the host's
core count.

Regenerate the fixture (only when a manifest change is intended) with
``python -m tests.test_golden_manifests`` from the repo root.
"""

import json
import os
import re
import shutil
import tempfile

from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql.types import StringType, StructField

from ez_cdc_spark.sources.manifest import (
    alter_constraints,
    append_hidden_partitioned,
    branch_head,
    compact,
    compact_mor,
    compact_partial,
    create_branch,
    drop_column,
    evolve_schema,
    evolve_schema_nested,
    merge_cow,
    merge_mor,
    publish,
    publish_append,
    publish_hidden_partitioned,
    publish_partitioned,
    read_manifest,
    rename_column,
    restore,
)
from ez_cdc_spark.sources.pyds import register_ezmanifest

FIXTURE = os.path.join(os.path.dirname(__file__), "golden_manifests.json")

_TOKEN = re.compile(
    r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    r"|(?<=part-)[0-9a-f]{32}(?=\.parquet)"
    r"|(?<=gen-)(\d+-)([0-9a-f]{12})(?=\.json)"
)


def _normalize(manifests: list) -> list:
    """Replace every part-file uuid and sidecar suffix by its first-seen
    ordinal, walking the manifests in commit order with sorted keys."""
    seen: dict[str, int] = {}

    def sub(m):
        tok = m.group(2) or m.group(0)
        ordinal = seen.setdefault(tok, len(seen))
        return f"{m.group(1)}<{ordinal}>" if m.group(2) else f"<{ordinal}>"

    return [
        [label, json.loads(_TOKEN.sub(sub, json.dumps(man, sort_keys=True)))]
        for label, man in manifests
    ]


def _rows(spark, rows, ddl):
    return spark.createDataFrame(rows, ddl).coalesce(1)


def _flat(spark, td):
    out = []

    def rec(label, man):
        out.append([label, man])

    ddl = "id bigint, val string"
    rec("publish", publish(
        _rows(spark, [(i, f"v{i}") for i in range(20)], ddl), td, 1,
        stats_columns=["id"], bloom_columns=["id"], bloom_bits=1024,
        constraints={"id_nonneg": "id >= 0"},
    ))
    rec("publish_append", publish_append(
        _rows(spark, [(i, f"v{i}") for i in range(20, 30)], ddl), td, 2,
    ))
    changes = _rows(
        spark,
        [(3, "u3", "u", 1), (5, None, "d", 2), (40, "c40", "c", 3)],
        ddl + ", op string, seq bigint",
    )
    rec("merge_cow", merge_cow(
        spark, td, changes, "id", 3, txn={"tag": "sink", "version": 7},
    ))
    rec("compact_partial", compact_partial(
        spark, td, 4, files=read_manifest(td)["files"][:2],
    ))
    rec("evolve_schema", evolve_schema(
        td, 5, [StructField("extra", StringType())],
    ))
    rec("rename_column", rename_column(td, 6, "val", "v"))
    mddl = "id bigint, v string, extra string, op string, seq bigint"
    rec("merge_mor_1", merge_mor(spark, td, _rows(
        spark, [(1, "m1", "x", "u", 1), (25, None, None, "d", 2)], mddl,
    ), "id", 7))
    rec("merge_mor_2", merge_mor(spark, td, _rows(
        spark, [(1, "m2", "y", "u", 3), (50, "c50", None, "c", 4)], mddl,
    ), "id", 8, txn={"tag": "sink", "version": 8}))
    rec("compact_mor", compact_mor(spark, td, 9, target_files=1))
    rec("restore", restore(td, 10, as_of_generation=7))
    rec("alter_constraints", alter_constraints(
        spark, td, 11, add={"id_small": "id < 1000"}, drop=["id_nonneg"],
    ))
    return out


def _partitioned(spark, td):
    out = []

    def rec(label, man):
        out.append([label, man])

    ddl = "id bigint, val string, p string"
    rec("publish_partitioned", publish_partitioned(
        _rows(spark, [(i, f"v{i}", str(i % 3)) for i in range(18)], ddl), td, 1,
        "p", stats_columns=["id"], bloom_columns=["id"], bloom_bits=1024,
        constraints={"id_nonneg": "id >= 0"},
    ))
    rec("publish_append", publish_append(
        _rows(spark, [(i, f"v{i}", str(i % 3)) for i in range(18, 24)], ddl),
        td, 2, txn={"tag": "app", "version": 1},
    ))
    create_branch(td, "wap")
    rec("publish_append_branch", publish_append(
        _rows(spark, [(100, "b", "0")], ddl), td, 3, ref="wap",
    ))
    rec("branch_head", branch_head(td, "wap"))
    changes = _rows(
        spark,
        [(4, "u4", "1", "u", 1), (7, None, None, "d", 2), (60, "c60", "0", "c", 3)],
        ddl + ", op string, seq bigint",
    )
    rec("merge_cow", merge_cow(
        spark, td, changes, "id", 4, txn={"tag": "sink", "version": 1},
    ))
    rec("compact_partial", compact_partial(
        spark, td, 5, files=read_manifest(td)["files"][:2],
    ))
    rec("evolve_schema", evolve_schema(
        td, 6, [StructField("extra", StringType())],
    ))
    rec("rename_column", rename_column(td, 7, "val", "v"))
    mddl = "id bigint, v string, p string, extra string, op string, seq bigint"
    rec("merge_mor_1", merge_mor(spark, td, _rows(
        spark, [(1, "m1", "2", "x", "u", 1), (20, None, None, None, "d", 2)], mddl,
    ), "id", 8, txn={"tag": "sink", "version": 2}))
    rec("merge_mor_2", merge_mor(spark, td, _rows(
        spark, [(1, "m2", "1", None, "u", 3), (70, "c70", "1", "z", "c", 4)], mddl,
    ), "id", 9))
    rec("compact_mor", compact_mor(spark, td, 10, target_files=1))
    rec("restore", restore(td, 11, as_of_generation=7))
    rec("alter_constraints", alter_constraints(
        spark, td, 12, add={"id_small": "id < 1000"},
    ))
    rec("drop_column", drop_column(td, 13, "extra"))
    return out


def _hidden(spark, td):
    out = []

    def rec(label, man):
        out.append([label, man])

    ddl = "id bigint, s struct<a: string>"
    rows = [(i, (f"a{i}",)) for i in range(12)]
    rec("publish_hidden_partitioned", publish_hidden_partitioned(
        _rows(spark, rows, ddl), td, 1, ("truncate", "id", 5),
        stats_columns=["id"], txn={"tag": "h", "version": 1},
    ))
    rec("append_hidden_partitioned", append_hidden_partitioned(
        _rows(spark, [(20, ("a20",))], ddl), td, 2,
    ))
    changes = _rows(
        spark,
        [(2, ("u2",), "u", 1), (8, None, "d", 2)],
        ddl + ", op string, seq bigint",
    ).withColumn("_p_truncate_id", (F.col("id") - F.col("id") % 5).cast("string"))
    rec("merge_cow_change_feed", merge_cow(
        spark, td, changes.select("id", "s", "_p_truncate_id", "op", "seq"),
        "id", 3,
    ))
    rec("compact", compact(spark, td, 4))
    rec("evolve_schema_nested", evolve_schema_nested(
        td, 5, "s", [StructField("b", StringType())],
    ))
    return out


def _pyds(spark, td):
    out = []
    register_ezmanifest(spark)
    ddl = "id bigint, val string"
    publish(
        _rows(spark, [(i, f"v{i}") for i in range(10)], ddl), td, 1,
        stats_columns=["id"], bloom_columns=["id"], bloom_bits=1024,
    )
    out.append(["publish", read_manifest(td)])

    def write(df, label, mode="append", **opts):
        w = df.write.format("ezmanifest").option("path", td)
        for k, v in opts.items():
            w = w.option(k, v)
        w.mode(mode).save()
        out.append([label, read_manifest(td)])

    write(_rows(spark, [(i, f"v{i}") for i in range(10, 15)], ddl),
          "append_txn", txnTag="fmt", txnVersion="3")
    write(_rows(spark, [(15, "v15", "e")], ddl + ", extra string"),
          "append_merge_schema", mergeSchema="true")
    write(_rows(spark, [(0, "o", "e")], ddl + ", extra string"),
          "overwrite", mode="overwrite")
    return out


def golden_manifests(spark) -> dict:
    """The three scripted runs' manifests, normalized, keyed by run."""
    root = tempfile.mkdtemp(prefix="ez_golden_manifests_")
    pinned = {
        "spark.sql.shuffle.partitions": "1",
        "spark.sql.files.minPartitionNum": "1",
    }
    saved = {k: spark.conf.get(k, None) for k in pinned}
    for k, v in pinned.items():
        spark.conf.set(k, v)
    try:
        return {
            name: _normalize(run(spark, os.path.join(root, name)))
            for name, run in (
                ("flat", _flat),
                ("partitioned", _partitioned),
                ("hidden", _hidden),
                ("pyds", _pyds),
            )
        }
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        shutil.rmtree(root, ignore_errors=True)


def test_writers_reproduce_golden_manifests(spark):
    with open(FIXTURE) as fh:
        want = json.load(fh)
    got = golden_manifests(spark)
    for run in want:
        assert [label for label, _ in got[run]] == [label for label, _ in want[run]]
        for (label, g), (_, w) in zip(got[run], want[run]):
            assert g == w, f"{run}/{label} manifest differs from the golden one"


if __name__ == "__main__":
    from ez_cdc_spark.session import get_spark

    golden = golden_manifests(get_spark("golden-manifests"))
    with open(FIXTURE, "w") as fh:
        json.dump(golden, fh, indent=1)
        fh.write("\n")
