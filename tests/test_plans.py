"""Plan-shape assertions: scale rules hold structurally (SURVEY §4.2/§5.2)."""

import re

import pytest
from pyspark.sql import functions as F

from ez_cdc_spark.plans.assertions import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filter,
    assert_whole_stage_codegen,
    plan_str,
)
from ez_cdc_spark.queries import load_all
from ez_cdc_spark.sources.tables import load_table


def test_filter_pushdown_reaches_parquet(spark, sf_smoke):
    df = load_table(spark, sf_smoke, "lineitem").filter(F.col("l_orderkey") <= 500)
    assert_pushed_filter(df)
    assert_whole_stage_codegen(df.select("l_orderkey"))


def test_column_pruning(spark, sf_smoke):
    df = load_table(spark, sf_smoke, "lineitem").select("l_orderkey", "l_quantity")
    p = plan_str(df)
    assert "ReadSchema" in p
    # scan must not read all 11 columns for a 2-column projection
    assert "l_extendedprice" not in p.split("ReadSchema")[1][:400]


def test_dim_joins_broadcast(spark, sf_smoke):
    q = load_all()["j2_broadcast_dim_join"]
    assert_broadcast_join(q.fn(spark, sf_smoke))


def test_j1_broadcasts_dims_no_cartesian(spark, sf_smoke):
    df = load_all()["j1_inner_revenue_per_nation"].fn(spark, sf_smoke)
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_theta_and_range_joins_not_cartesian(spark, sf_smoke):
    for name in ("j6_theta_join", "j7_range_join"):
        assert_no_cartesian(load_all()[name].fn(spark, sf_smoke))


def test_topk_uses_take_ordered(spark, sf_smoke):
    df = load_all()["o2_limit_topk"].fn(spark, sf_smoke)
    assert "TakeOrderedAndProject" in plan_str(df)


def test_lsh_join_is_hash_join_on_bands(spark, sf_smoke):
    df = load_all()["x2_minhash_lsh"].fn(spark, sf_smoke)
    assert_no_cartesian(df)


def test_approx_count_distinct_accuracy(spark, sf_dir):
    # SURVEY A4: approx within 5% of exact
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.select(F.countDistinct("l_orderkey")).collect()[0][0]
    approx = load_all()["a4_approx_count_distinct"].fn(spark, sf_dir).collect()[0][0]
    assert abs(approx - exact) / exact < 0.05


def test_tfidf_pushes_doc_filter_and_broadcasts_df(spark, sf_smoke):
    df = load_all()["x4d_tfidf"].fn(spark, sf_smoke)
    assert_pushed_filter(df, "LessThan(doc_id,50)")
    assert_broadcast_join(df)


def test_pipeline_ops_plan_shapes(spark, sf_smoke):
    """New training-pipeline ops keep their declared scale shapes:
    x7's portable-hash sample predicate evaluates AT the scan (map-side,
    no pre-sort shuffle), x9/x6d stay shuffle-free except the
    determinism ORDER BY, x8 shuffles exactly once (the per-stratum
    cumsum window)."""
    reg = load_all()
    for name in ("x7_stratified_sample", "x9_pii_scrub", "x6d_quantize_int8"):
        p = plan_str(reg[name].fn(spark, sf_smoke))
        assert p.count("hashpartitioning") == 0, f"{name} shuffles: {p[:400]}"
    # x7's hash predicate is md5-based so parquet can't evaluate it, but it
    # must run map-side: a Filter node BEFORE any exchange (the only
    # exchange allowed is the determinism ORDER BY rangepartitioning).
    p7 = plan_str(reg["x7_stratified_sample"].fn(spark, sf_smoke))
    assert "md5" in p7 and p7.count("hashpartitioning") == 0
    # formatted explain numbers nodes bottom-up: the Filter's section (with
    # the conv/md5 condition) must render before the Exchange's section,
    # i.e. the sample filter runs below the only (ORDER BY) shuffle
    assert p7.index("conv") < p7.index("Arguments: rangepartitioning")
    p8 = plan_str(reg["x8_sequence_packing"].fn(spark, sf_smoke))
    assert p8.count("hashpartitioning") == 1, "x8 must shuffle exactly once"


def test_x2e_banding_no_cartesian(spark, sf_smoke):
    df = load_all()["x2e_lsh_embedding_neardup"].fn(spark, sf_smoke)
    assert_no_cartesian(df)


def test_j13_bucketed_join_colocated(spark, sf_smoke):
    """j13 joins same-bucketed tables with SMJ and bucketed scans; the only
    shuffles are the downstream aggregate's, never the join's inputs."""
    df = load_all()["j13_bucketed_join"].fn(spark, sf_smoke)
    p = plan_str(df)
    assert "SortMergeJoin" in p
    assert "Bucketed: true" in p, "join inputs must scan as bucketed tables"


@pytest.mark.parametrize("name", sorted(load_all()))
def test_registry_output_shapes_are_driver_canonicalizable(
    spark, sf_smoke, name
):
    """Gate for the f_array2/w6 failure classes (r2 post-mortem): the
    correctness driver canonicalizes every query result with a pandas
    sort_values over all columns followed by a stringified hash, so

      * array/map/struct/binary cells are fatal (unhashable in the sort),
      * bare DECIMAL cells are a silent hash hazard (Spark renders
        Decimal('81.10'), DuckDB's pandas conversion renders 81.1 —
        numerically equal, string-unequal).

    Every registry query must therefore emit only atomic, identically-
    rendered types: string / boolean / integral / float / double / date /
    timestamp. Queries needing vector or decimal results render them as
    joined strings or DOUBLE (w3/f_array2 convention).

    r20: parametrized per query (one 10-minute monolith ran every rig
    serially and pinned a whole shard of the sharded suite — same total
    coverage, now spreadable; per-query failures also report by name).
    """
    from pyspark.sql import types as T

    allowed = (
        T.StringType,
        T.BooleanType,
        T.ByteType,
        T.ShortType,
        T.IntegerType,
        T.LongType,
        T.FloatType,
        T.DoubleType,
        T.DateType,
        T.TimestampType,
        T.TimestampNTZType,
    )
    spec = load_all()[name]
    df = spec.fn(spark, sf_smoke)
    offenders = [
        f"{name}.{field.name}: {field.dataType.simpleString()}"
        for field in df.schema.fields
        if not isinstance(field.dataType, allowed)
    ]
    assert not offenders, f"non-canonicalizable output columns: {offenders}"


def test_round3_curation_ops_plan_shapes(spark, sf_smoke):
    """Round-3 ops keep their declared scale shapes: x12's benchmark gram
    set joins as a broadcast (the corpus side must never shuffle on gram),
    x3d's query block broadcasts against the corpus (no corpus-side
    exchange for the scoring join), x14 aggregates map-side first (its
    only exchanges are the 16-group agg + ORDER BY)."""
    reg = load_all()
    p12 = plan_str(reg["x12_contamination"].fn(spark, sf_smoke))
    assert "BroadcastHashJoin" in p12 or "BroadcastNestedLoop" in p12
    assert "SortMergeJoin" not in p12.split("BroadcastHashJoin")[0], (
        "the gram probe must be the broadcast join, not an SMJ"
    )
    p3d = plan_str(reg["x3d_quantized_topk"].fn(spark, sf_smoke))
    assert "Broadcast" in p3d
    p14 = plan_str(reg["x14_token_histogram"].fn(spark, sf_smoke))
    assert p14.count("hashpartitioning") <= 1, "x14: one agg exchange at most"


def test_x15_x16_plan_shapes(spark, sf_smoke):
    """x15: both shard and position keys are map-side; the ONLY
    hashpartitioning exchange is the per-shard window (the trailing
    ORDER BY is a rangepartitioning for oracle determinism). x16: the
    snapshot diff must shuffle (doc_id, md5) projections only — no
    Exchange node may carry the text column, because at 100 TB that is
    the difference between moving 40-byte rows and moving the corpus."""
    import re

    reg = load_all()
    p15 = plan_str(reg["x15_shard_shuffle"].fn(spark, sf_smoke))
    assert p15.count("hashpartitioning") == 1, "x15: one shard exchange only"
    p16 = plan_str(reg["x16_snapshot_diff"].fn(spark, sf_smoke))
    # formatted explain renders one "(N) Exchange ..." section per node,
    # each listing its Input columns; none may include the text column
    for section in re.split(r"\n\n", p16):
        if section.lstrip().startswith("(") and "Exchange" in section.splitlines()[0]:
            assert "text#" not in section, f"x16 shuffles document text:\n{section}"


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_smoke):
    """Catalyst injects a runtime bloom filter from a selective dim side
    onto the fact scan (might_contain probe before the join's shuffle).
    With default confs this only fires for >=10 GB application-side scans
    — i.e. exactly the 100 TB case — so the test lowers the scan-size
    threshold to observe the injection on the small fixture. The filter
    prunes fact rows BEFORE the exchange: at scale this cuts the
    dominant fact-fact shuffle by the dim's selectivity."""
    import pyspark.sql.functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_smoke}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        assert "might_contain" in plan_str(j), "expected a runtime bloom filter probe"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_smoke, tmp_path):
    """Scale artifact behind S7's partitioned sink: a partition-keyed join
    with a filtered dim side must insert a dynamic-pruning subquery on the
    fact scan, so only matching partitions are read — at 100 TB this is
    the difference between scanning 5 partitions and all of them."""
    import pyspark.sql.functions as F

    fpath = str(tmp_path / "fact")
    dpath = str(tmp_path / "dim")
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(fpath)
    orders.select("o_orderpriority").distinct().withColumn(
        "rank", F.substring("o_orderpriority", 1, 1).cast("int")
    ).write.mode("overwrite").parquet(dpath)
    fact = spark.read.parquet(fpath)
    dim = spark.read.parquet(dpath).filter(F.col("rank") <= 2)
    j = fact.join(dim, "o_orderpriority").groupBy("o_orderpriority").count()
    assert "dynamicpruning" in plan_str(j), "expected a DPP subquery on the fact scan"


def test_round5_curation_ops_plan_shapes(spark, sf_smoke):
    """Round-5 ops keep their declared scale shapes. x18: the two-phase
    top-k pays exactly two window exchanges ((source, salt) then source)
    plus the deterministic trailing sort — a hot source never funnels
    unpruned rows to one task. x19: the gram->doc-frequency aggregate
    partial-aggregates before its exchange, and no Exchange carries the
    text column (same 100 TB rule as x16). x20: one window exchange on
    source plus the trailing sort, and the running sum is computed from
    map-side-projected (doc_id, source, n_tokens, okey) rows only."""
    import re

    reg = load_all()

    p18 = plan_str(reg["x18_source_cap"].fn(spark, sf_smoke))
    assert p18.count("hashpartitioning") == 2, (
        "x18: exactly two window exchanges (salt-local prune + final)"
    )

    p19 = plan_str(reg["x19_boilerplate_ngrams"].fn(spark, sf_smoke))
    assert "partial_count" in p19 or "HashAggregate" in p19
    # x19 widens the narrow fixture scan (one round-robin rebalance of the
    # projected (doc_id, text) rows — a no-op on a wide 100 TB source), so
    # the no-text rule applies to KEYED exchanges: a hashpartitioning
    # shuffle carrying text would scale with data, the rebalance does not.
    for section in re.split(r"\n\n", p19):
        head = section.splitlines()[0] if section.strip() else ""
        if section.lstrip().startswith("(") and "Exchange" in head:
            if "hashpartitioning" in section:
                assert "text#" not in section, f"x19 hash-shuffles text:\n{section}"

    p20 = plan_str(reg["x20_token_budget_mix"].fn(spark, sf_smoke))
    assert p20.count("hashpartitioning") == 1, "x20: one window exchange on source"
    for section in re.split(r"\n\n", p20):
        if section.lstrip().startswith("(") and "Exchange" in section.splitlines()[0]:
            assert "text#" not in section, f"x20 shuffles document text:\n{section}"


def test_x21_x22_plan_shapes(spark, sf_smoke):
    """x21: per-source totals join as broadcasts (catalog-sized dims), the
    self-join on gram is a hash/SMJ equi-join, never a cartesian. x22: the
    corpus is touched by ONE scan + partial-agg'd histogram; no Exchange
    carries the text column, and the 9-row fraction table broadcasts."""
    import re

    reg = load_all()

    p21 = plan_str(reg["x21_source_overlap"].fn(spark, sf_smoke))
    assert_no_cartesian(reg["x21_source_overlap"].fn(spark, sf_smoke))
    assert "BroadcastHashJoin" in p21, "x21 totals must broadcast"

    p22 = plan_str(reg["x22_quality_thresholds"].fn(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in p22 or "BroadcastHashJoin" in p22, (
        "x22 fraction table must broadcast"
    )
    for section in re.split(r"\n\n", p22):
        if section.lstrip().startswith("(") and "Exchange" in section.splitlines()[0]:
            assert "text#" not in section, f"x22 shuffles document text:\n{section}"


def test_cdc_analytics_plan_shapes(spark, sf_smoke):
    """Round-6 CDC analytics keep their declared single-exchange shapes.
    x25 (SCD2): duplicate collapse, lead(), and version numbering all ride
    ONE id-keyed exchange (same partitioning + sort — no second shuffle).
    x26 (as-of state): the pivot is a broadcast and the winner-per-key is
    one id-keyed max_by aggregate — no self-join, so exactly one keyed
    exchange. x27 (audit): the (id,lsn) duplicate collapse plus the id
    rollup — two keyed exchanges, nothing more."""
    reg = load_all()

    p25 = plan_str(reg["x25_scd2_history"].fn(spark, sf_smoke))
    assert p25.count("hashpartitioning") == 1, "x25: one id-keyed exchange"

    p26 = plan_str(reg["x26_state_asof_lsn"].fn(spark, sf_smoke))
    assert p26.count("hashpartitioning") == 1, "x26: one id-keyed exchange"
    assert "Broadcast" in p26, "x26: pivot must broadcast"

    p27 = plan_str(reg["x27_change_audit"].fn(spark, sf_smoke))
    assert p27.count("hashpartitioning") == 2, "x27: dedup + rollup exchanges"

    # x33 (PIT enrich): the facts-vs-changes as-of match is a UNION + LOCF
    # window inside one id-keyed exchange — there must be NO join node.
    p33 = plan_str(reg["x33_pit_enrich"].fn(spark, sf_smoke))
    assert p33.count("hashpartitioning") == 1, "x33: one id-keyed exchange"
    assert "Join" not in p33, "x33 must not plan a join"


def test_w8_funnel_single_exchange(spark, sf_smoke):
    """w8's shape claim: the per-user signup-anchor window and the final
    per-user aggregate share ONE user-keyed exchange — no self-join, no
    second shuffle."""
    reg = load_all()
    p = plan_str(reg["w8_funnel_conversion"].fn(spark, sf_smoke))
    assert p.count("hashpartitioning") == 1, "w8: one user-keyed exchange"
    assert "Join" not in p, "w8 must not self-join"


def test_round7_ops_plan_shapes(spark, sf_smoke):
    """Round-7 additions keep their declared scale shapes.
    j14: the no-equi-key interval join must plan as a hash equi-join on
    bin id — the entire point is avoiding the cartesian/BNLJ Spark would
    otherwise pick for a pure range predicate.
    x30: the FK check probes a broadcast dim — the fact side must not
    shuffle for the anti-join.
    x31: the corpus must never enter a keyed exchange — ranks come from
    the distinct-value histogram and join back via broadcast."""
    reg = load_all()

    p14 = plan_str(reg["j14_interval_bin_join"].fn(spark, sf_smoke))
    assert "CartesianProduct" not in p14 and "BroadcastNestedLoop" not in p14
    assert "Join" in p14  # it IS a join — just an equi one on the bin key

    p30 = plan_str(reg["x30_expectations"].fn(spark, sf_smoke))
    assert "BroadcastHashJoin" in p30 and "LeftAnti" in p30

    p31 = plan_str(reg["x31_rank_normalize"].fn(spark, sf_smoke))
    assert "BroadcastHashJoin" in p31, "x31: rank map joins back via broadcast"
    # the only hashpartitioning exchanges are over the (source, n_chars)
    # histogram / per-source totals — tiny; the corpus itself reaches the
    # broadcast join with no keyed exchange on its lineage. Cheap proxy:
    # no SortMergeJoin anywhere (a corpus-side keyed exchange would appear
    # as SMJ given the size imbalance).
    assert "SortMergeJoin" not in p31

    # x32: the per-user anchor rides the window's user exchange — no
    # first-touch self-join; the only other keyed exchange is the
    # (cohort, week) rollup (count_distinct may add its expand's
    # repartition on the same grouping, but never a join).
    p32 = plan_str(reg["x32_cohort_retention"].fn(spark, sf_smoke))
    assert "Join" not in p32, "x32 must not self-join for the anchor"

    # w10: gap-mark lag, session-number running sum, AND the
    # (user_id, session_no) rollup all ride ONE hash(user_id) exchange —
    # hash(user_id) satisfies the group's ClusteredDistribution because
    # the grouping keys are a superset of the partitioning key. The only
    # other exchange is the final presentation rangepartitioning.
    p10 = plan_str(reg["w10_sessionize"].fn(spark, sf_smoke))
    assert p10.count("hashpartitioning") == 1, "w10: one user-keyed exchange"
    assert "Join" not in p10, "w10 must not self-join"

    # x34/x35: the vocab-sized frequency tables join back via BROADCAST —
    # the exploded corpus must never reach a sort-merge join.
    for nm in ("x34_unigram_logprob", "x35_source_kl"):
        p = plan_str(reg[nm].fn(spark, sf_smoke))
        assert "BroadcastHashJoin" in p, f"{nm}: vocab joins must broadcast"
        assert "SortMergeJoin" not in p, f"{nm}: corpus must not SMJ"

    # a14: the Misra-Gries partials are MAP-SIDE (no Exchange anywhere in
    # the subtree BELOW the checkpointed partials — only sketch rows ever
    # shuffle, the token stream never does), and the corpus pass is paid
    # once: the plan consumes the pinned partials as a scan, so no
    # MapInPandas (and no second corpus scan) appears in it at all.
    pa = plan_str(reg["a14_heavy_hitters"].fn(spark, sf_smoke))
    assert "MapInPandas" not in pa, "a14 partials must be pinned once"
    assert "Scan ExistingRDD" in pa, "a14 must read the checkpointed partials"

    # u7: pure map-side Arrow transform — zero keyed exchanges; the only
    # exchange is the final presentation rangepartitioning.
    pu = plan_str(reg["u7_map_in_arrow"].fn(spark, sf_smoke))
    assert "MapInArrow" in pu
    assert pu.count("hashpartitioning") == 0, "u7 must not shuffle on a key"


def test_headline_batch_queries_stay_in_codegen(spark, sf_smoke):
    """The 'stay JVM-side' rule, asserted across the whole frozen batch
    headline set: every plan must contain WholeStageCodegen spans, and no
    row-at-a-time Python eval (BatchEvalPython) may appear anywhere — the
    only sanctioned Python is Arrow-batched (ArrowEvalPython/MapInPandas),
    and only in the queries whose operators are declared Python-backed
    (x2's minhash banding, x3b's GEMM scoring)."""
    import bench

    reg = load_all()
    for name in bench.BATCH_QUERIES:
        df = reg[name].fn(spark, sf_smoke)
        df.collect()  # AQE prints codegen ids only on the executed final plan
        p = plan_str(df)
        assert "codegen id" in p, f"{name}: no WholeStageCodegen span"
        assert "BatchEvalPython" not in p, f"{name}: row-at-a-time Python"
        if name not in ("x2_minhash_lsh", "x3b_blocked_topk"):
            assert "ArrowEvalPython" not in p and "MapInPandas" not in p, (
                f"{name}: unexpected Python stage"
            )


def test_x38_kmeans_plan_shape(spark, sf_smoke):
    """x38's scale claims. Final plan (post-checkpoint): cluster sizes join
    back via broadcast, never SMJ. Per-iteration assignment: the centroid
    set reaches every vector as a ONE-ROW broadcast (BroadcastNestedLoop
    over a single row is a broadcast var in disguise and costs O(1)) and
    the argmin is a map-side fold — the corpus must not enter a keyed
    exchange to get assigned; the only keyed exchange per round is the
    k*d-cell partial-aggregate update."""
    reg = load_all()
    p = plan_str(reg["x38_kmeans_clusters"].fn(spark, sf_smoke))
    assert "BroadcastHashJoin" in p, "x38: cluster_n joins back via broadcast"
    assert "SortMergeJoin" not in p, "x38: corpus must not SMJ"


def test_round8_ops_plan_shapes(spark, sf_smoke):
    """Round-8 additions keep their declared scale shapes.
    x39: cluster-bounded pair-gen is an equi-join on cid — never a
    cartesian/BNLJ. x40: pair-gen is the inverted-index gram join over the
    PINNED exploded projection (checkpoint scan, no re-explode), never
    all-pairs. x41/f_url: pure map-side — zero keyed exchanges. w11: the
    fold rides ONE user-keyed exchange, no join. x42: only broadcast
    joins reach the vocab histogram — no SMJ. a15: histogram + window +
    rollup, no join anywhere. j15: the as-of-with-tolerance is J8's
    union+LOCF — zero join nodes."""
    reg = load_all()

    p39 = plan_str(reg["x39_semantic_dedup"].fn(spark, sf_smoke))
    assert "CartesianProduct" not in p39 and "BroadcastNestedLoop" not in p39

    p40 = plan_str(reg["x40_ngram_containment"].fn(spark, sf_smoke))
    assert "CartesianProduct" not in p40 and "BroadcastNestedLoop" not in p40
    assert "Scan ExistingRDD" in p40, "x40 must reuse the pinned gram rows"
    # r9 (ADVICE): the df∈[2,20] band must join the gram stream BEFORE any
    # collect_list materializes, so no zipf-head gram ever builds an
    # unbounded single-group list buffer. The band therefore appears as a
    # join ON GRAM in the plan (broadcast at fixture scale; keyed at 100 TB).
    import re

    assert re.search(r"Left keys \[1\]: \[gram#\d+\]", p40), (
        "x40: df-band must gate the gram stream via a join before collect_list"
    )

    p41 = plan_str(reg["x41_chunk_overlap"].fn(spark, sf_smoke))
    assert p41.count("hashpartitioning") == 0, "x41 must not shuffle on a key"

    pu = plan_str(reg["f_url"].fn(spark, sf_smoke))
    assert pu.count("hashpartitioning") == 0, "f_url must not shuffle on a key"

    p11 = plan_str(reg["w11_integer_ewma"].fn(spark, sf_smoke))
    assert "Join" not in p11, "w11 must not join"
    assert p11.count("hashpartitioning") == 1, "w11: one user-keyed exchange"

    p42 = plan_str(reg["x42_vocab_coverage"].fn(spark, sf_smoke))
    assert "SortMergeJoin" not in p42, "x42: rank joins must broadcast"
    assert "BroadcastHashJoin" in p42 or "BroadcastNestedLoop" in p42

    p15a = plan_str(reg["a15_weighted_percentile"].fn(spark, sf_smoke))
    assert "Join" not in p15a, "a15 must not join"

    p15j = plan_str(reg["j15_asof_tolerance"].fn(spark, sf_smoke))
    assert "Join" not in p15j, "j15 must not plan a join (union+LOCF)"

    # x43: one k-row aggregate over the memoized assignment; sizes join
    # back via broadcast, never SMJ.
    p43 = plan_str(reg["x43_cluster_quality"].fn(spark, sf_smoke))
    assert "SortMergeJoin" not in p43

    # x44: the apply side is pure map-side — the new batch must reach its
    # assignment with ZERO keyed exchanges (the one-row centroid broadcast
    # is a BroadcastNestedLoop over a single row, not a shuffle).
    p44 = plan_str(reg["x44_incremental_assign"].fn(spark, sf_smoke))
    assert p44.count("hashpartitioning") == 0, "x44 apply must not shuffle"

def test_round8b_ops_plan_shapes(spark, sf_smoke):
    """Second round-8 batch keeps its declared scale shapes.
    a16: the register table partial-aggregates map-side — the exchange
    carries (grp, bucket) rows, and nothing joins. j16: the grid join is
    an EQUI hash join on cell keys — never cartesian/BNLJ for a distance
    predicate. w12: median+MAD ride ONE user-keyed exchange, no join.
    x45: gram doc-frequency join over the pinned exploded positions —
    cartesian-free, checkpoint reused."""
    reg = load_all()

    p16a = plan_str(reg["a16_portable_hll"].fn(spark, sf_smoke))
    assert "Join" not in p16a, "a16 must not join"
    assert "HashAggregate" in p16a, "a16 registers are a hash aggregate"

    p16j = plan_str(reg["j16_grid_proximity_join"].fn(spark, sf_smoke))
    assert "CartesianProduct" not in p16j and "BroadcastNestedLoop" not in p16j
    assert "Join" in p16j, "j16 IS a join — an equi one on cell keys"

    p12 = plan_str(reg["w12_rolling_mad_outlier"].fn(spark, sf_smoke))
    assert "Join" not in p12, "w12 must not join"
    assert p12.count("hashpartitioning") == 1, "w12: one user-keyed exchange"

    p45 = plan_str(reg["x45_dup_span_coverage"].fn(spark, sf_smoke))
    assert "CartesianProduct" not in p45 and "BroadcastNestedLoop" not in p45
    assert "Scan ExistingRDD" in p45, "x45 must reuse the pinned positions"

def test_s16_dynamic_partition_pruning_fires(spark, sf_smoke):
    """s16's fact scan must carry a dynamicpruningexpression in its
    PartitionFilters — the runtime-subquery partition skip is the entire
    point of the partitioned layout (Catalyst additionally infers the
    static length predicate through the join; both prune)."""
    reg = load_all()
    p = plan_str(reg["s16_dpp_partition_prune"].fn(spark, sf_smoke))
    assert "dynamicpruning" in p, "s16: DPP subquery missing from fact scan"
    assert "PartitionFilters" in p

def test_a17_is_histogram_shaped(spark, sf_smoke):
    """a17 must not rank data rows: no join anywhere, and the windows run
    over the (group, value) histogram produced by one hash aggregate."""
    reg = load_all()
    p = plan_str(reg["a17_trimmed_mean"].fn(spark, sf_smoke))
    assert "Join" not in p, "a17 must not join"
    assert "HashAggregate" in p


def test_j17_bloom_filter_injects_into_fact_scan(spark, sf_smoke):
    """Inside j17's conf scope, InjectRuntimeFilter must (a) build the
    bloom_filter_agg subquery over the selective dim's join keys and
    (b) push might_contain(xxhash64(l_orderkey)) into the FACT side —
    row-level scan pruning, the s16-DPP sibling. Outside the scope the
    session confs must be restored (other queries' plans untouched)."""
    from ez_cdc_spark.queries.joins import _J17_CONFS, _j17_bloom_plan

    before = {k: spark.conf.get(k, None) for k in _J17_CONFS}
    try:
        for k, v in _J17_CONFS.items():
            spark.conf.set(k, v)
        p = plan_str(_j17_bloom_plan(spark, sf_smoke))
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "bloom_filter_agg" in p, "j17: no bloom filter built on the dim side"
    assert "might_contain" in p, "j17: fact scan not bloom-pruned"
    assert "CartesianProduct" not in p
    # conf scope restored
    assert {k: spark.conf.get(k, None) for k in _J17_CONFS} == before
    # and the registered entry's own run leaves the session clean too
    load_all()["j17_bloom_pruned_join"].fn(spark, sf_smoke).collect()
    assert {k: spark.conf.get(k, None) for k in _J17_CONFS} == before


def test_w13_a18_plan_shapes(spark, sf_smoke):
    """w13: all five regression sums ride ONE user-keyed exchange in a
    single Window pass — no join, no second hashpartitioning, no frame
    array. a18 inherits a17's histogram shape: the cumsum window runs
    over (flag, value) histogram rows, never ranking a data row."""
    reg = load_all()

    p13 = plan_str(reg["w13_rolling_regression_slope"].fn(spark, sf_smoke))
    assert "Join" not in p13, "w13 must not join"
    assert p13.count("hashpartitioning") == 1, "w13: one user-keyed exchange"
    assert p13.count("+- Window") == 1, "w13: all five sums in one Window pass"

    # w14 adds Syy to the same shape: still ONE Window pass, one exchange
    p14 = plan_str(reg["w14_rolling_correlation"].fn(spark, sf_smoke))
    assert "Join" not in p14, "w14 must not join"
    assert p14.count("hashpartitioning") == 1, "w14: one user-keyed exchange"
    assert p14.count("+- Window") == 1, "w14: all six sums in one Window pass"

    p18 = plan_str(reg["a18_weighted_trimmed_mean"].fn(spark, sf_smoke))
    assert "Join" not in p18, "a18 must not join"
    assert "HashAggregate" in p18

    # a19: both median picks run over histogram rows; the only joins are
    # broadcasts of group-cardinality-sized median tables — never SMJ.
    p19 = plan_str(reg["a19_weighted_mad"].fn(spark, sf_smoke))
    assert "SortMergeJoin" not in p19, "a19 joins must broadcast"
    assert "BroadcastHashJoin" in p19
    assert "HashAggregate" in p19

def test_x46_plan_shape(spark, sf_smoke):
    """x46: the corpus joins the bigram freq table by SHUFFLE (never assumed
    broadcastable) but the unigram-sized prefix table broadcasts; pair-gen
    reads the pinned exploded projection; no cartesian anywhere."""
    reg = load_all()
    p = plan_str(reg["x46_bigram_logprob"].fn(spark, sf_smoke))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "BroadcastHashJoin" in p, "x46: prefix join must broadcast"
    assert "Scan ExistingRDD" in p, "x46 must reuse the pinned bigram rows"


def test_a20_plan_shape(spark, sf_smoke):
    """a20: the corpus collapses in ONE partial-aggregated exchange to five
    power sums per group — no histogram rows, no join, no window; the
    128-bit moment combination runs over group-cardinality scalars."""
    reg = load_all()
    p = plan_str(reg["a20_weighted_skew_kurtosis"].fn(spark, sf_smoke))
    assert "Join" not in p, "a20 must not join"
    assert "Window" not in p, "a20 needs no window"
    assert "HashAggregate" in p
    assert p.count("hashpartitioning") == 1, "a20: one group-keyed exchange"


def test_x47_plan_shape(spark, sf_smoke):
    """x47: the hash arm is map-side; the floor arm's deficient-source set
    joins back via BROADCAST only (never SMJ), and the window ranking runs
    behind the x18 salt-local two-phase guard."""
    reg = load_all()
    p = plan_str(reg["x47_holdout_with_floors"].fn(spark, sf_smoke))
    assert "SortMergeJoin" not in p, "x47: deficient-source join must broadcast"
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_w15_plan_shape(spark, sf_smoke):
    """w15: the CUSUM closed form rides ONE user-keyed exchange; both window
    passes share the partitioning AND ordering, so there is exactly one
    Sort below them and no join anywhere."""
    reg = load_all()
    p = plan_str(reg["w15_cusum_drift"].fn(spark, sf_smoke))
    assert "Join" not in p, "w15 must not join"
    assert p.count("hashpartitioning") == 1, "w15: one user-keyed exchange"
    assert p.count("+- Window") <= 2, "w15: at most two Window nodes"


def test_x49_plan_shape(spark, sf_smoke):
    """x49: one partial-agg exchange collapses the corpus to the
    (source, word) histogram; the rank window and final agg touch
    vocabulary rows only — no join anywhere."""
    reg = load_all()
    p = plan_str(reg["x49_vocab_gini"].fn(spark, sf_smoke))
    assert "Join" not in p, "x49 must not join"
    assert "HashAggregate" in p and "+- Window" in p


def test_j18_plan_shape(spark, sf_smoke):
    """j18: the keyless range anti-join must never plan a cartesian or
    broadcast-nested-loop — the match set is a bin equi-join and the anti
    step is an equi anti on event_id."""
    reg = load_all()
    p = plan_str(reg["j18_range_anti_join"].fn(spark, sf_smoke))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "LeftAnti" in p, "j18 must end in an equi left anti"


def test_o6_plan_shape(spark, sf_smoke):
    reg = load_all()
    p = plan_str(reg["o6_intersect_all_bag"].fn(spark, sf_smoke))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_x48_plan_shape(spark, sf_smoke):
    """x48: the near-dup flag table broadcasts; no cartesian; the exact
    groups ride one md5-keyed exchange."""
    reg = load_all()
    p = plan_str(reg["x48_dedup_dashboard"].fn(spark, sf_smoke))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "BroadcastHashJoin" in p, "x48: flag join must broadcast"


def test_w16_x53_plan_shapes(spark, sf_smoke):
    """w16: one user-keyed exchange, one Window node, no join. x53: pair
    rows join slim signature rows — no cartesian."""
    reg = load_all()
    p16 = plan_str(reg["w16_rolling_distinct"].fn(spark, sf_smoke))
    assert "Join" not in p16 and p16.count("hashpartitioning") == 1
    assert p16.count("+- Window") == 1
    p53 = plan_str(reg["x53_minhash_calibration"].fn(spark, sf_smoke))
    assert "CartesianProduct" not in p53 and "BroadcastNestedLoop" not in p53


def test_a21_x56_plan_shapes(spark, sf_smoke):
    """a21: one partial-agg exchange, no join/window (a20's shape). x56:
    histogram collapse first; the boundary table joins back via BROADCAST
    only — no SMJ, nothing corpus-sized past the first aggregate."""
    reg = load_all()
    p21 = plan_str(reg["a21_weighted_correlation"].fn(spark, sf_smoke))
    assert "Join" not in p21 and "Window" not in p21
    assert p21.count("hashpartitioning") == 1, "a21: one group-keyed exchange"
    p56 = plan_str(reg["x56_equidepth_bins"].fn(spark, sf_smoke))
    assert "SortMergeJoin" not in p56
    assert "BroadcastNestedLoop" in p56 or "BroadcastHashJoin" in p56, (
        "x56: the 1-row boundary table must broadcast"
    )


def test_w17_s19_a22_plan_shapes(spark, sf_smoke):
    """w17: w11's fold shape — one user-keyed exchange, JVM HOF fold, no
    Window/join/Python. s19: nested-schema pruning — the merged scan reads
    only the struct members the query touches (no meta.lang). a22: the
    sketch side partial-aggregates to <=2048 cells and BROADCASTS into the
    probe join — no SMJ between probe cells and sketch."""
    reg = load_all()
    p17 = plan_str(reg["w17_timedecay_ewma"].fn(spark, sf_smoke))
    assert "Join" not in p17 and "Window" not in p17
    assert "BatchEvalPython" not in p17 and "ArrowEvalPython" not in p17
    assert p17.count("hashpartitioning") == 1, "w17: one user-keyed exchange"

    p19 = plan_str(reg["s19_nested_schema_evolution"].fn(spark, sf_smoke))
    read = p19.split("ReadSchema")[-1][:300]
    assert "source" in read and "n_chars" in read
    assert "lang" not in read, "s19: untouched nested member must be pruned"

    p22 = plan_str(reg["a22_count_min_sketch"].fn(spark, sf_smoke))
    assert "BroadcastHashJoin" in p22, "a22: sketch must broadcast"
    assert "SortMergeJoin" not in p22 and "CartesianProduct" not in p22


def test_a23_t24_plan_shapes(spark, sf_smoke):
    """a23: two-level partial aggregate — no Expand (the distinct-rewrite
    node) and no join; raw keys never shuffle (first exchange already
    carries words). t24's finishing pass: probe cells broadcast-join the
    1024-cell sketch — no SMJ."""
    reg = load_all()
    p23 = plan_str(reg["a23_bitmap_distinct"].fn(spark, sf_smoke))
    assert "Expand" not in p23 and "Join" not in p23
    assert p23.count("hashpartitioning") == 2, "a23: word then group exchange"


def test_w18_s20_plan_shapes(spark, sf_smoke):
    """w18: the w12/w16 contract — one user-keyed exchange, one Window
    node, no join, HOFs stay JVM-side. s20: after the layout migration,
    a source predicate on the partitioned generation becomes a
    PartitionFilter (directory skipping), not a post-scan filter."""
    reg = load_all()
    p18 = plan_str(reg["w18_rolling_mode"].fn(spark, sf_smoke))
    assert "Join" not in p18 and p18.count("hashpartitioning") == 1
    assert p18.count("+- Window") == 1
    assert "BatchEvalPython" not in p18 and "ArrowEvalPython" not in p18

    from ez_cdc_spark.streaming.replay import rig_dir

    reg["s20_partition_evolution"].fn(spark, sf_smoke).collect()
    g2 = spark.read.parquet(rig_dir(sf_smoke, "s20v2")).filter(
        F.col("source") == "src3"
    )
    p20 = plan_str(g2)
    part = p20.split("PartitionFilters")[1][:200] if "PartitionFilters" in p20 else ""
    assert "src3" in part, "source predicate must prune partitions, not rows"


def test_x57_plan_shape(spark, sf_smoke):
    """x57: the probe must hit the index via an equi-join on the band key —
    no cartesian/nested-loop anywhere (the full pair set never forms)."""
    p = plan_str(load_all()["x57_incremental_lsh"].fn(spark, sf_smoke))
    assert "band_sig" in p, "probe/index join must be keyed by band signature"
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_x58_plan_shape(spark, sf_smoke):
    """x58: one category-bounded exchange; the totals row joins by
    BROADCAST (nested-loop on a 1-row side is fine, SMJ is not); no
    Window, no driver-side action before the returned plan."""
    p = plan_str(load_all()["x58_snapshot_drift"].fn(spark, sf_smoke))
    assert "SortMergeJoin" not in p and "Window" not in p
    assert "BroadcastNestedLoop" in p or "BroadcastHashJoin" in p


def test_x50_plan_shape(spark, sf_smoke):
    """x50: the covered-set subtraction must be a hash LEFT ANTI join on
    (doc_id, pos) — never a cartesian/BNLJ — with zero Python eval nodes
    (pure HOF reassembly), and the checkpointed gram projection keeps the
    interpreted 8-gram HOF out of the executed plan entirely."""
    p = plan_str(load_all()["x50_span_removal"].fn(spark, sf_smoke))
    assert "LeftAnti" in p, "covered-position subtraction must be anti-join"
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_w19_plan_shape(spark, sf_smoke):
    """w19: the nested running max (mdd over dd over peak) must share ONE
    user-keyed exchange and stack at most two Window nodes on the same
    sort (w15's contract in max form) — no join, no HOF/array state, no
    Python."""
    reg = load_all()
    p = plan_str(reg["w19_rolling_drawdown"].fn(spark, sf_smoke))
    assert "Join" not in p, "w19 must not join"
    assert p.count("hashpartitioning") == 1, "w19: one user-keyed exchange"
    assert p.count("+- Window") <= 2, "w19: at most two stacked Window nodes"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_j19_decorrelation_plan_shape(spark, sf_smoke):
    """j19: Catalyst must rewrite the correlated scalar subqueries and the
    EXISTS into key-partitioned aggregate + join plans — equi-joins only,
    zero cartesian/nested-loop nodes (executing as written would be
    O(|orders| x |lineitem|) re-scans)."""
    p = plan_str(load_all()["j19_correlated_subqueries"].fn(spark, sf_smoke))
    n_joins = sum(
        p.count(x)
        for x in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    assert n_joins >= 2, "subqueries must decorrelate into equi-joins"
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_j20_naaj_and_s23_bucketed_agg_plan_shapes(spark, sf_smoke):
    """j20: without the single-column null-aware-anti-join optimization,
    the NOT-IN-with-NULL variant CANNOT be a hash join at all (the
    null-aware condition forces BroadcastNestedLoop) — so three
    BroadcastHashJoin LeftAnti nodes and zero BNLJ IS the NAAJ proof.
    s23: the bucketed scan satisfies the aggregate's distribution, so no
    hash exchange appears anywhere (the only exchange is the presentation
    sort's range partitioning)."""
    reg = load_all()
    p20 = plan_str(reg["j20_not_in_null_aware"].fn(spark, sf_smoke))
    assert "BroadcastNestedLoop" not in p20 and "CartesianProduct" not in p20
    assert p20.count("BroadcastHashJoin LeftAnti") == 3

    p23 = plan_str(reg["s23_bucketed_agg"].fn(spark, sf_smoke))
    assert "Bucketed: true" in p23, "scan must read bucket layout"
    assert "hashpartitioning" not in p23, "bucketed agg must not re-shuffle"

    pv = plan_str(reg["f_variant"].fn(spark, sf_smoke))
    assert "hashpartitioning" not in pv and "Python" not in pv


def test_x52_plan_shape(spark, sf_smoke):
    """x52: the k-row weight table must reach the corpus gate by BROADCAST
    (never SMJ — the corpus must not shuffle to be sampled), the total
    rides a one-row broadcast cross join, and the gate itself is pure JVM
    (no Python eval nodes)."""
    p = plan_str(load_all()["x52_cluster_balanced_mix"].fn(spark, sf_smoke))
    assert "BroadcastHashJoin" in p, "x52: weight table must broadcast to the gate"
    assert "SortMergeJoin" not in p, "x52: corpus must not SMJ to be sampled"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_s24_plan_shape(spark, sf_smoke):
    """s24: the per-customer running-total Window must plan with ZERO
    Exchange and ZERO Sort — the sorted single-file-per-bucket layout
    satisfies both the Window's distribution and its ordering straight
    off the scan (the sorted-bucket merge-read contract) — and both
    window expressions (rn, running_total) share ONE Window node. The
    legacy outputOrdering conf must be restored after the call."""
    conf_key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    spark.conf.set(conf_key, "false")
    df = load_all()["s24_sorted_bucket_window"].fn(spark, sf_smoke)
    assert spark.conf.get(conf_key) == "false", "conf must be restored"
    # simple string plan: tree prints top-down, so everything at/after the
    # Window line is the window's input subtree — the final global orderBy
    # above it is allowed its range exchange+sort; the WINDOW itself must
    # sit directly on the sorted bucketed scan
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("+- Window") == 1, "rn and running_total share one Window"
    win = p[p.index("+- Window") :]
    assert "Exchange" not in win, "window input must not shuffle"
    assert "Sort" not in win, "window input must not re-sort"
    assert "Bucketed: true" in win, "scan must be the bucketed table"


def test_s24_contract_conditions_are_load_bearing(spark, sf_smoke):
    """Negative controls for the s24 sorted-bucket contract: each of the
    two documented conditions, violated alone, makes Spark re-insert the
    Sort under the Window — proving the query's setup is load-bearing,
    not superstition. (a) sorted buckets but SEVERAL files per bucket:
    sort metadata is untrusted (per-file runs would need a merge the
    scan node doesn't do); (b) one file per bucket but the legacy
    outputOrdering conf off: sort metadata is ignored by default."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ez_cdc_spark.queries._util import t
    from ez_cdc_spark.sources.bucketing import write_bucketed

    o = t(spark, sf_smoke, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    conf_key = "spark.sql.legacy.bucketedTableScan.outputOrdering"

    def window_plan(table):
        w = (
            Window.partitionBy("o_custkey")
            .orderBy("o_orderdate", "o_orderkey")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        df = spark.table(table).select(
            "o_orderkey", F.count("*").over(w).alias("rn")
        )
        return df._jdf.queryExecution().executedPlan().toString()

    # (a) several files per bucket (no pre-repartition: 2+ writer tasks
    # per bucket), conf ON -> Sort must appear
    write_bucketed(
        o.repartition(4),
        "s24_neg_multifile",
        "o_custkey",
        sort_cols=["o_custkey", "o_orderdate", "o_orderkey"],
        one_file_per_bucket=False,
    )
    prev = spark.conf.get(conf_key, "false")
    spark.conf.set(conf_key, "true")
    try:
        p = window_plan("s24_neg_multifile")
        win = p[p.index("Window") :]
        assert "Sort" in win, "multi-file buckets must force a Sort"
        assert "Exchange" not in win, "bucketing still satisfies distribution"
    finally:
        spark.conf.set(conf_key, prev)

    # (b) one file per bucket but conf OFF (the default) -> Sort appears
    write_bucketed(
        o,
        "s24_neg_confoff",
        "o_custkey",
        sort_cols=["o_custkey", "o_orderdate", "o_orderkey"],
        one_file_per_bucket=True,
    )
    spark.conf.set(conf_key, "false")
    p = window_plan("s24_neg_confoff")
    win = p[p.index("Window") :]
    assert "Sort" in win, "default conf must ignore bucket sort metadata"
    assert "Exchange" not in win, "bucketing still satisfies distribution"


def test_w20_plan_shape(spark, sf_smoke):
    """w20: the whole bar aggregate must be HASH aggregation — the point of
    the decimal (time, price) encoding is that neither min_by's struct
    buffer nor a string extremum key is UnsafeRow-mutable, and either one
    silently drags ALL eight bar aggregates into SortAggregate (a full
    map-side sort of the input). One keyed exchange, no Window, no join,
    no Python."""
    p = plan_str(load_all()["w20_ohlc_bars"].fn(spark, sf_smoke))
    assert "SortAggregate" not in p, "w20 must hash-aggregate, not sort"
    assert "HashAggregate" in p
    assert "Join" not in p and "+- Window" not in p
    assert p.count("hashpartitioning(") == 1, "w20: one keyed exchange"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_x61_plan_shape(spark, sf_smoke):
    """x61: the prefix-filter join must never plan a cartesian/BNLJ — the
    self-join is equi on prefix shingle, the verify joins are equi on
    doc_id — and the whole pipeline stays JVM-side (no Python eval)."""
    p = plan_str(load_all()["x61_prefix_filter_join"].fn(spark, sf_smoke))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_x62_plan_shape(spark, sf_smoke):
    """x62: pair generation happens inside one basket-keyed aggregation
    (array_sort + slice + nested transform), so the plan must contain NO
    self-join on basket (no SortMergeJoin at all at smoke scale) and no
    cartesian; the pruned frequency dim joins as broadcast; pair explosion
    is a Generate over the capped in-array pair list."""
    p = plan_str(load_all()["x62_cooccurrence_pairs"].fn(spark, sf_smoke))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "BroadcastHashJoin" in p, "pruned frequency dim must broadcast"
    assert "SortMergeJoin" not in p, "x62 must not self-join baskets"
    assert "Generate" in p and "explode(flatten(transform" in p, (
        "pair expansion must be the in-array nested-transform explode"
    )
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_s25_plan_reads_only_manifest_files(spark, sf_smoke):
    """s25: the readback scan's file listing must come from the manifest —
    the plan's scan location names exactly the committed generation's
    directory, never gen-1 (superseded) or gen-3 (aborted)."""
    df = load_all()["s25_manifest_atomic_publish"].fn(spark, sf_smoke)
    p = plan_str(df)
    assert "gen-2" in p, "scan must target the committed generation"
    assert "gen-1" not in p and "gen-3" not in p


def test_x63_plan_shape(spark, sf_smoke):
    """x63: the 4-row idf table must broadcast (never SMJ the query-term tf
    rows against it); the 1-row totals reach the pipeline as broadcast
    scalar joins; no cartesian product. The full-corpus token explode
    feeds only the map-side IN-list filter and the doc-length partial
    aggregate — never a token-keyed join."""
    p = plan_str(load_all()["x63_bm25_retrieval"].fn(spark, sf_smoke))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p, "idf must broadcast onto tf"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_f_interval_plan_shape(spark, sf_smoke):
    """f_interval: a pure map-side projection — the ONLY exchange is the
    determinism ORDER BY (rangepartitioning); the key filter is pushed to
    the parquet scan."""
    p = plan_str(load_all()["f_interval"].fn(spark, sf_smoke))
    assert p.count("hashpartitioning") == 0, "f_interval must not shuffle"
    assert "PushedFilters: [" in p and "LessThanOrEqual(o_orderkey,2000)" in p


def test_s26_plan_reads_only_compacted_generation(spark, sf_smoke):
    """s26: the readback scan must name only the compacted generation's
    directory — neither the 12-file pre-compaction generation nor anything
    outside the manifest."""
    p = plan_str(load_all()["s26_manifest_compaction"].fn(spark, sf_smoke))
    assert "gen-2" in p and "gen-1" not in p


def test_s27_plan_two_generation_scans(spark, sf_smoke):
    """s27: the union's two legs scan DIFFERENT generations of the same
    table dir — the as-of leg names gen-1, the current leg gen-2; nothing
    outside the two manifests (no directory-walk scan of data/)."""
    p = plan_str(load_all()["s27_manifest_time_travel"].fn(spark, sf_smoke))
    assert "gen-1" in p and "gen-2" in p
    assert "Union" in p


def test_s28_plan_scans_only_unpruned_files(spark, sf_smoke):
    """s28: the scan's file list is the manifest-pruned subset — the
    executed plan reads strictly fewer files than the generation holds,
    the BETWEEN predicate is still pushed to the parquet scan, and the
    pre-Spark pruning shows up as the scan naming only kept files."""
    import os

    from ez_cdc_spark.sources.manifest import pruned_files
    from ez_cdc_spark.streaming.replay import rig_dir

    df = load_all()["s28_manifest_stats_skipping"].fn(spark, sf_smoke)
    p = plan_str(df)
    assert "PushedFilters: [" in p and "GreaterThanOrEqual(o_orderkey,1000)" in p
    kept, skipped = pruned_files(rig_dir(sf_smoke, "s28skip"), "o_orderkey", 1000, 5000)
    assert skipped, "pruning must bite on the range-clustered layout"
    opened = {os.path.basename(f) for f in df.inputFiles()}
    assert opened == {os.path.basename(f) for f in kept}
    assert not opened & {os.path.basename(f) for f in skipped}


def test_a24_plan_shape(spark, sf_smoke):
    """a24: the ONLY data-sized exchange is the (group, bucket) partial
    HashAggregate — input-size-free shuffle like a16/a22/a23; everything
    downstream (windows, quantile pick) runs on the bucket table; the
    4-row quantile dim joins as broadcast; no SortAggregate on the data
    path, no Python UDF."""
    p = plan_str(load_all()["a24_hdr_rank_sketch"].fn(spark, sf_smoke))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, (
        "quantile dim must broadcast"
    )
    assert "CartesianProduct" not in p
    head = p.split("Window")[0]  # the data path: scan -> bucket agg
    assert "HashAggregate" in head and "SortAggregate" not in head


def test_w21_plan_two_keyed_exchanges(spark, sf_smoke):
    """w21: the resample->detect pipeline is ONE plan with exactly two
    keyed exchanges — the bar HashAggregate's (user, bucket) partial agg
    and the user-keyed frame window; the bar layer must stay HashAggregate
    (the decimal arg-extrema encoding), no UDF anywhere."""
    p = plan_str(load_all()["w21_ohlc_bar_anomaly"].fn(spark, sf_smoke))
    assert p.count("hashpartitioning") == 2, p[:600]
    assert "SortAggregate" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_x64_probe_plan_no_allpairs(spark, sf_smoke):
    """x64: the contamination probe joins the benchmark band rows against
    the index on (band_id, band_sig) — cartesian-free, no corpus-side
    self-join, no UDF; verify is candidates-only."""
    p = plan_str(load_all()["x64_neardup_contamination"].fn(spark, sf_smoke))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "band_sig" in p, "candidates must join on the band signature"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_s29_plan_scans_only_requested_partitions(spark, sf_smoke):
    """s29: the scan's location names only the requested partitions'
    directories; the basePath read reconstructs the partition column."""
    df = load_all()["s29_manifest_partition_publish"].fn(spark, sf_smoke)
    p = plan_str(df)
    assert "1-URGENT" in p or "1-URGENT" in " ".join(df.inputFiles())
    for other in ("2-HIGH", "3-MEDIUM", "4-NOT"):
        assert other not in " ".join(df.inputFiles()), other


def test_x65_plan_broadcast_single_corpus_pass(spark, sf_smoke):
    """x65: the flagged-id set is benchmark-bounded and must broadcast
    into ONE left join over a SINGLE corpus scan (removal + accounting
    fold into one conditional aggregate — never two documents scans);
    no cartesian, no UDF."""
    p = plan_str(load_all()["x65_contamination_removal"].fn(spark, sf_smoke))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("documents.parquet") == 1, "corpus must be scanned once"


def test_s30_plan_broadcast_anti_join_and_pruned_rewrite(spark, sf_smoke):
    """s30: the merge's data path is bounded by the CHANGE, not the table —
    the changed-key removal is a broadcast LEFT ANTI hash join (the batch
    side broadcasts, never a shuffle of the table), no cartesian, no UDF;
    and the final read's inputFiles mix carried gen-1 files with rewritten
    gen-2 files, proving the stats pruning kept the out-of-range files out
    of the rewrite."""
    df = load_all()["s30_manifest_merge_cow"].fn(spark, sf_smoke)
    p = plan_str(df)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    opened = " ".join(df.inputFiles())
    assert "gen-2" in opened, "rewritten files must be read"
    # at the smoke SF all 150 keys may fall inside the batch's range —
    # carried-by-reference coverage is pinned at the oracle SF in
    # test_scale_ops.py::test_s30_merge_carries_untouched_files_byte_identical

    # the rewrite plan itself: broadcast LEFT ANTI, table side unshuffled
    import pyspark.sql.functions as F  # noqa: N812

    from ez_cdc_spark.sources.manifest import (
        _merge_rewrite,
        committed_files,
        read_manifest,
    )
    from ez_cdc_spark.streaming.replay import rig_dir

    td = rig_dir(sf_smoke, "s30merge")
    man = read_manifest(td)
    batch = spark.range(5).select(
        F.col("id").alias("c_custkey"),
        F.lit("n").alias("c_name"),
        F.lit(0).cast("bigint").alias("c_nationkey"),
        F.lit(None).cast("decimal(12,2)").alias("c_acctbal"),
        F.lit("d").alias("_op"),
    )
    rw = _merge_rewrite(
        spark,
        man,
        td,
        committed_files(td),
        batch.select("c_custkey", "_op"),
        batch.filter("_op <> 'd'").drop("_op"),
        "c_custkey",
    )
    rp = plan_str(rw)
    assert "BroadcastHashJoin" in rp and "LeftAnti" in rp, rp[:800]
    assert "CartesianProduct" not in rp


def test_merge_rewrite_small_key_set_filters_by_literal(spark, tmp_path):
    """Below the literal bound, merge_cow's rewrite drops the driver-held
    changed keys with a literal predicate: no broadcast build and no anti
    join in the plan (the broadcast form is pinned above)."""
    from ez_cdc_spark.sources.manifest import (
        _merge_rewrite,
        committed_files,
        publish,
        read_manifest,
    )

    td = str(tmp_path / "t")
    publish(
        spark.range(50).select("id", F.col("id").cast("string").alias("v")),
        td, 1, stats_columns=["id"],
    )
    batch = spark.createDataFrame(
        [(3, "x", "u"), (7, None, "d"), (None, "n", "u")],
        "id bigint, v string, _op string",
    )
    rw = _merge_rewrite(
        spark,
        read_manifest(td),
        td,
        committed_files(td),
        batch.select("id", "_op"),
        batch.filter("_op <> 'd'").drop("_op"),
        "id",
        [3, 7, None],
    )
    rp = plan_str(rw)
    assert "BroadcastExchange" not in rp and "LeftAnti" not in rp, rp[:800]
    assert "CartesianProduct" not in rp


def test_merge_resolve_partial_aggregate_holds_one_struct(spark):
    """The last-event-wins resolve both merge writers share aggregates one
    ``struct(seq, op, *payload)`` buffer with ``max``: the partial
    aggregate ships each payload once, not once as the value and again
    inside a ``max_by`` ordering."""
    from ez_cdc_spark.sources.manifest import _resolve_last_event

    changes = spark.createDataFrame(
        [(1, "a", "u", 1), (1, "b", "d", 2)],
        "id bigint, v string, op string, seq bigint",
    )
    final, _ = _resolve_last_event(changes, "id", ["id", "v"], "op", "seq")
    p = plan_str(final)
    assert "partial_max(struct(" in p, p
    assert "max_by" not in p and "extremumOrdering" not in p, p


def test_a25_plan_shape(spark, sf_smoke):
    """a25: the token stream is consumed ONCE by the mapInPandas partials
    (localCheckpoint-pinned, like a14); everything downstream — token
    merge, ranking window, rival/mu dims — runs over sketch-sized rows
    with the two 1-row dims joined as broadcast; no cartesian, no
    row-at-a-time Python UDF (the partials are the one Arrow exchange)."""
    p = plan_str(load_all()["a25_spacesaving_topk"].fn(spark, sf_smoke))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, (
        "the 1-row rival/mu dims must broadcast"
    )
    # the corpus pass is pinned: the plan reads the checkpointed partials,
    # never documents.parquet directly
    assert "documents.parquet" not in p, "partials must be checkpoint-pinned"


def test_s30b_partitioned_plan_broadcast_anti_and_partition_scoped_rewrite(
    spark, sf_smoke
):
    """s30b: the partitioned merge keeps the s30 plan discipline — no
    cartesian, no row-at-a-time Python, broadcast LEFT ANTI in the rewrite
    — and under stable partition pruning the final read's inputFiles mix
    carried gen-1 partition files with rewritten gen-2 files (the
    untargeted segments never entered the rewrite)."""
    df = load_all()["s30b_manifest_merge_cow_partitioned"].fn(spark, sf_smoke)
    p = plan_str(df)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    opened = " ".join(df.inputFiles())
    assert "gen-2" in opened, "rewritten files must be read"
    assert "gen-1" in opened, "untargeted partitions must carry by reference"
    # partition scoping: every rewritten (gen-2) file sits in a targeted
    # segment's Hive dir
    for f in df.inputFiles():
        if "gen-2" in f:
            assert (
                "c_mktsegment=BUILDING" in f or "c_mktsegment=MACHINERY" in f
            ), f


def test_s35_change_feed_plan_no_cartesian_and_churn_only_scan(spark, sf_smoke):
    """s35's feed plan: no cartesian anywhere (the update classification is
    a keyed join over two churn-sized delta sides), and the scan set is the
    symmetric difference only — the structural reason feed I/O tracks the
    churn at 100 TB."""
    df = load_all()["s35_manifest_change_feed"].fn(spark, sf_smoke)
    assert_no_cartesian(df)
    # churn-only I/O is pinned by inputFiles in
    # tests/test_scale_ops.py::test_s35_change_feed_reads_only_touched_files…
    # (exceptAll itself compiles to joins/aggregates, no physical node to
    # assert on)


def test_s36_mor_resolve_plan_no_cartesian_and_seq_kill_join(spark, sf_smoke):
    """s36's resolve plan (read_mor): the kill rule compiles to ONE keyed
    left-anti join straight against the raw delete log, its condition the
    sequence test ``_dseq > _seq``, with no per-key max(_dseq) aggregate
    over the log before it — no cartesian, no nested loop; the registered
    query's whole lifecycle plan stays cartesian-free. The join is
    unhinted: the delete side is churn-since-compaction-sized, so the
    planner broadcasts it while it fits and sort-merges above the
    threshold; what we pin structurally here is the join SHAPE, not the
    strategy."""
    df = load_all()["s36_merge_on_read"].fn(spark, sf_smoke)
    assert_no_cartesian(df)
    p = plan_str(df)
    assert "LeftAnti" in p, p
    assert re.search(r"Join condition: \(_dseq#\d+L? > _seq#\d+L?\)", p), p
    assert "max(_dseq" not in p, p


def test_s36b_mor_feed_plan_broadcast_keys_and_no_cartesian(spark, sf_smoke):
    """s36b's feed plan: the changed-key restriction on the pre/post
    resolves is churn-bounded — at micro-batch scale a LITERAL In
    predicate that reaches the parquet scan (r20; the keys are read
    in-process from the churn-sized delete files), above the driver
    bounds an explicit BROADCAST left-semi join (the r19 shape) — and
    nothing in the derivation introduces a cartesian. The labelled feed is
    one lazy plan, so the restriction is asserted on the returned frame's
    own plan, the one a consumer runs."""
    df = load_all()["s36b_mor_change_feed"].fn(spark, sf_smoke)
    assert_no_cartesian(df)
    # the registered fn wraps the feed (select/orderBy), so probe the raw
    # feed over the rig's table
    from ez_cdc_spark.sources.manifest import change_feed_mor
    from ez_cdc_spark.streaming.replay import rig_dir

    feed = change_feed_mor(spark, rig_dir(sf_smoke, "s36bfeed"), 1, 3)
    assert_no_cartesian(feed)
    p = plan_str(feed)
    restricted = (
        ("BroadcastHashJoin" in p and "LeftSemi" in p)  # executor path
        or " IN (" in p
        or "In(k" in p
        or "isin" in p
    )
    assert restricted, f"no churn-key restriction in feed plan:\n{p}"


def test_s36b_mor_feed_sides_restrict_to_churn_keys(spark, sf_smoke):
    """The s36b pin above, on the unlabelled sides the feed consumer
    folds (change_feed_mor_sides): each pre/post resolve carries the
    churn-key restriction and no cartesian, and opens no more files than
    the labelled feed itself."""
    from ez_cdc_spark.sources.manifest import change_feed_mor, change_feed_mor_sides
    from ez_cdc_spark.streaming.replay import rig_dir

    load_all()["s36b_mor_change_feed"].fn(spark, sf_smoke).collect()
    td = rig_dir(sf_smoke, "s36bfeed")
    sides = change_feed_mor_sides(spark, td, 1, 3)
    assert sides
    feed_files = set(change_feed_mor(spark, td, 1, 3).inputFiles())
    for _key, pre, post in sides:
        for side in (pre, post):
            assert_no_cartesian(side)
            p = plan_str(side)
            restricted = (
                ("BroadcastHashJoin" in p and "LeftSemi" in p)  # executor path
                or " IN (" in p
                or "In(k" in p
                or "isin" in p
            )
            assert restricted, f"no churn-key restriction in side plan:\n{p}"
            assert set(side.inputFiles()) <= feed_files


def test_s36c_partitioned_mor_plan_no_cartesian(spark, sf_smoke):
    """s36c: the partitioned MOR lifecycle's final aggregate plan stays
    cartesian-free, and the partition column survives the fold (grouping
    on it is served by the reconstructed directory values)."""
    df = load_all()["s36c_merge_on_read_partitioned"].fn(spark, sf_smoke)
    assert_no_cartesian(df)
    assert "c_mktsegment" in plan_str(df)


def test_s40_epoch_read_pushes_filters_into_every_era_scan(spark):
    """The epoch-mapped read (s40) must not cost pushdown: a filter on a
    surviving column reaches the parquet scan of EVERY era group (each
    group is an ordinary explicit-schema scan; the union is above them),
    and the per-era physical column binds under its own name."""
    import shutil

    from ez_cdc_spark.plans.assertions import assert_no_cartesian, plan_str
    from ez_cdc_spark.sources.manifest import (
        publish,
        publish_append,
        read_committed,
        rename_column,
    )

    d = "/tmp/ez_cdc_test_plans_epochs"
    shutil.rmtree(d, ignore_errors=True)
    publish(
        spark.range(100).selectExpr("id AS k", "id*2 AS v"),
        d,
        generation=1,
        stats_columns=["k"],
    )
    rename_column(d, 2, "v", "val")
    publish_append(
        spark.range(100, 150).selectExpr("id AS k", "id*2 AS val"), d, 3
    )
    df = read_committed(spark, d).filter("k >= 120")
    p = plan_str(df)
    assert_no_cartesian(df)
    # both era scans present, each with the k-filter pushed to parquet
    assert p.count("PushedFilters: [") >= 2
    assert p.count("GreaterThanOrEqual(k,120)") >= 2
    # era 0 reads the OLD physical name; era 1 the new one
    assert "ReadSchema" in p and "v:" in p and "val:" in p


def test_s42_transform_pruned_scan_reads_only_admissible_partitions(spark):
    """s42's pruning happens BEFORE Spark sees the file list: the plan's
    scan holds only the admissible partitions' files, and the exact
    source-column predicate is pushed into that scan."""
    import shutil

    from ez_cdc_spark.plans.assertions import plan_str
    from ez_cdc_spark.sources.manifest import (
        publish_hidden_partitioned,
        read_transform_pruned,
    )

    d = "/tmp/ez_cdc_test_plans_hidden"
    shutil.rmtree(d, ignore_errors=True)
    publish_hidden_partitioned(
        spark.range(1000).selectExpr("id AS k", "id*2 AS v"),
        d,
        1,
        transform=("truncate", "k", 100),
    )
    df = read_transform_pruned(spark, d, 250, 449)
    files = df.inputFiles()
    assert files and all(
        any(f"_p_truncate_k={v}/" in f for v in ("200", "300", "400"))
        for f in files
    )
    p = plan_str(df)
    assert "GreaterThanOrEqual(k,250)" in p and "LessThanOrEqual(k,449)" in p
