"""The ezmanifest data source under an external driver.

An external driver creates its own SparkSession and reaches this repo only
through ``sys.path.insert`` — no ``PYTHONPATH`` entry, working directory
outside the repo — so the Python workers that run the data source's
``write()`` and ``commit()`` cannot import ``ez_cdc_spark``. Everything
they call must travel inside the pickle: the data source's classes are
defined inside its registration function, and ``sources/commit_core.py``
registers itself with cloudpickle by value. A module the writers reference
that is pickled by reference fails here with ``ModuleNotFoundError: No
module named 'ez_cdc_spark'``.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = r"""
import importlib.util, json, os, sys
sys.path.insert(0, sys.argv[1])
root = sys.argv[2]
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.driver.memory", "1g")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
from ez_cdc_spark.sources.manifest import publish, read_committed, read_manifest
from ez_cdc_spark.sources.pyds import register_ezmanifest

register_ezmanifest(spark)
out = {}
out["worker_imports_pkg"] = spark.sparkContext.parallelize([0], 1).map(
    lambda _: importlib.util.find_spec("ez_cdc_spark") is not None
).collect()[0]

def rows(lo, hi):
    return spark.range(lo, hi).selectExpr("id AS k", "id * 2 AS v")

def write(df, path, **opts):
    w = df.write.format("ezmanifest").option("path", path)
    for k, v in opts.items():
        w = w.option(k, v)
    w.mode("append").save()

# create + append through the format, stats column declared at create
plain = os.path.join(root, "plain")
write(rows(0, 10), plain, statsColumns="k")
write(rows(10, 20), plain)
man = read_manifest(plain)
out["plain"] = {
    "gens": man["generation"],
    "stats_files": sorted(len(s) for s in man["stats"].values()),
    "n_files": man["n_files"],
    "k": sorted(r["k"] for r in read_committed(spark, plain).collect()),
}

# a bloom-indexed table: format append, then one streaming-sink epoch
indexed = os.path.join(root, "indexed")
publish(rows(0, 10), indexed, 1, stats_columns=["k"], bloom_columns=["k"], bloom_bits=1024)
write(rows(10, 20), indexed)
src = os.path.join(root, "src")
rows(20, 30).coalesce(1).write.parquet(src)
q = (
    spark.readStream.schema(rows(0, 1).schema).parquet(src)
    .writeStream.format("ezmanifest")
    .option("path", indexed)
    .option("checkpointLocation", os.path.join(root, "ck"))
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination(240)
q.stop()
man = read_manifest(indexed)
from ez_cdc_spark.sources.manifest import table_blooms
blooms = table_blooms(indexed, man)
out["indexed"] = {
    "gens": man["generation"],
    "txns": man.get("txns"),
    "stats_all": all("k" in man["stats"].get(rel, {}) for rel in man["files"]),
    "blooms_all": all("k" in blooms.get(rel, {}) for rel in man["files"]),
    "k": sorted(
        r["k"]
        for r in spark.read.format("ezmanifest").option("path", indexed).load().collect()
    ),
}
spark.stop()
print("RESULT " + json.dumps(out))
"""


def test_ezmanifest_writers_and_sink_under_an_external_driver(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER, REPO, str(tmp_path)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    out = json.loads(lines[-1][len("RESULT "):])
    assert out["worker_imports_pkg"] is False  # the setup under test
    assert out["plain"]["gens"] == 2
    assert out["plain"]["k"] == list(range(20))
    assert out["plain"]["stats_files"] == [1] * out["plain"]["n_files"]
    idx = out["indexed"]
    assert idx["gens"] == 3
    assert idx["txns"] == {"ezmanifest-stream": {"version": 0}}
    assert idx["stats_all"] and idx["blooms_all"]
    assert idx["k"] == list(range(30))
