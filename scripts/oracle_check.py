#!/usr/bin/env python
"""Driver-simulation oracle check for named queries (hostile TZ).

    python scripts/oracle_check.py t32 t34 t37 t48

A name is a registry key or its prefix before the first underscore
(``t32`` runs ``t32_change_feed_consumer``).
Prints PASS/FAIL per query with the Spark job count its check ran (the
DAGScheduler ``nextJobId`` delta around ``compare_query``: the query's
build, the rig's replay and the result collect) and the Spark-side result
hash. Job counts do not move with host load, so per-rig tables compare
them across commits. t45 (a live stream tail racing its producer) moves
by one job with timing: compare it in a run of its own. Runs on
``local[$SPARK_GRAFT_CPUS]`` (default 8) against ``$EZ_CDC_TEST_SF_DIR``.
"""
import os, sys
os.environ["TZ"] = "America/New_York"
import time as _t; _t.tzset()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sf_dir = os.environ.get("EZ_CDC_TEST_SF_DIR", "/root/testdata/sf0.01")
from ez_cdc_spark.session import get_spark
from ez_cdc_spark.harness.oracle import compare_query
from ez_cdc_spark.queries import load_all
names = sorted(load_all())
spark = get_spark("oracle-check", master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
dag = spark.sparkContext._jsc.sc().dagScheduler()
bad = 0
for arg in sys.argv[1:]:
    name = arg if arg in names else next(n for n in names if n.split("_")[0] == arg)
    j0 = dag.nextJobId()
    ok, detail = compare_query(spark, name, sf_dir)
    jobs = dag.nextJobId() - j0
    print(("PASS" if ok else "FAIL"), name, f"jobs={jobs}", {k: v for k, v in detail.items() if k in ("spark_rows","duck_rows","spark_hash","mode")}, flush=True)
    bad += 0 if ok else 1
sys.exit(1 if bad else 0)
