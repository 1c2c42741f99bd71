"""Property tests (SURVEY.md §5.2 item 4): randomized micro-tables checked
against pure-Python reference folds for the two custom operators (J8 as-of
join, T9 upsert) plus a window-frame identity. Hypothesis drives the data;
examples are kept small and few — each example is a Spark job."""

import json
import os
import shutil
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from ez_cdc_spark.operators.asof import asof_join
from ez_cdc_spark.streaming.cdc import upsert_batch

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# (key, ts, value) rows on a tiny domain so collisions/ties actually occur
side_rows = st.lists(
    st.tuples(
        st.integers(0, 2),  # by-key
        st.integers(0, 20),  # event time
        st.integers(-100, 100),  # payload
    ),
    min_size=0,
    max_size=12,
)


@settings(**SETTINGS)
@given(left=side_rows, right=side_rows)
def test_asof_join_matches_python_fold(spark, left, right):
    """For each left row: value of the greatest right.ts <= left.ts in the
    same key; ties on (key, ts) on the right broken by max tiebreak col."""
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t, _) in enumerate(left)], "k INT, ts INT, lid INT"
    )
    rdf = spark.createDataFrame(right, "k INT, ts INT, v INT")
    got = {
        r["lid"]: r["r_v"]
        for r in asof_join(
            ldf, rdf, on="ts", by="k", value_cols=["v"], right_tiebreak="v"
        ).collect()
    }

    def expect(k, t):
        cand = [(rt, v) for (rk, rt, v) in right if rk == k and rt <= t]
        if not cand:
            return None
        best_t = max(rt for rt, _ in cand)
        return max(v for rt, v in cand if rt == best_t)  # max-tiebreak wins

    for i, (k, t, _) in enumerate(left):
        assert got[i] == expect(k, t), (i, k, t)


op_seq = st.lists(
    st.tuples(
        st.integers(0, 3),  # pk
        st.sampled_from(["c", "u", "d"]),
        st.integers(0, 50),  # payload discriminator
    ),
    min_size=1,
    max_size=15,
)


@settings(**SETTINGS)
@given(seq=op_seq, dup_every=st.integers(2, 4))
def test_upsert_equals_replay_fold(spark, seq, dup_every):
    """Upsert state == Python fold of the same ops in lsn order, under
    injected at-least-once duplicates and multi-batch splits."""
    envs = []
    for lsn, (pk, op, payload) in enumerate(seq):
        row = None if op == "d" else {
            "id": pk, "first_name": f"f{payload}", "last_name": "l", "email": "e",
        }
        # u/d carry a full before-image (REPLICA IDENTITY FULL, init.sql:10)
        before = None if op == "c" else {
            "id": pk, "first_name": "prev", "last_name": "l", "email": "e",
        }
        env = {
            "before": before, "after": row,
            "source": {"version": "t", "connector": "t", "name": "t",
                       "ts_ms": lsn, "snapshot": "false", "db": "t",
                       "sequence": "[]", "schema": "public", "table": "t",
                       "txId": lsn, "lsn": lsn, "xmin": None},
            "op": op, "ts_ms": lsn, "kafka_timestamp": lsn,
        }
        envs.append(env)
        if lsn % dup_every == 0:
            envs.append(env)  # at-least-once duplicate

    state_dir = tempfile.mkdtemp(prefix="prop_upsert_")
    try:
        from ez_cdc_spark.streaming.cdc import ENVELOPE_JSON_SCHEMA

        apply = upsert_batch(state_dir)
        # split into two micro-batches at an arbitrary point
        mid = max(1, len(envs) // 2)
        for bid, chunk in enumerate([envs[:mid], envs[mid:]]):
            if not chunk:
                continue
            df = spark.read.schema(ENVELOPE_JSON_SCHEMA).json(
                spark.sparkContext.parallelize([json.dumps(e) for e in chunk])
            )
            apply(df, bid)
        got = {
            r["id"]: (r["lsn"], r["after"]["first_name"])
            for r in spark.read.parquet(os.path.join(state_dir, "current")).collect()
        }
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)

    # Python fold in lsn order (dedupe on lsn first)
    expect = {}
    for lsn, (pk, op, payload) in enumerate(seq):
        if op == "d":
            expect.pop(pk, None)
        else:
            expect[pk] = (lsn, f"f{payload}")
    assert got == expect


@settings(**SETTINGS)
@given(rows=side_rows)
def test_running_sum_window_identity(spark, rows):
    """W3 frame identity: running sum over (key ORDER BY ts, id) equals the
    Python prefix sum of the same total order."""
    if not rows:
        return
    df = spark.createDataFrame(
        [(k, t, i, v) for i, (k, t, v) in enumerate(rows)],
        "k INT, ts INT, rid INT, v INT",
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("k")
        .orderBy("ts", "rid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {r["rid"]: r["run"] for r in df.withColumn("run", F.sum("v").over(w)).collect()}

    by_key = {}
    for i, (k, t, v) in enumerate(rows):
        by_key.setdefault(k, []).append((t, i, v))
    expect = {}
    for k, items in by_key.items():
        acc = 0
        for t, i, v in sorted(items):
            acc += v
            expect[i] = acc
    assert got == expect


def test_sample_nesting_and_packing_invariants(spark, sf_smoke):
    """Pipeline-op laws on the fixture: (a) hash-threshold samples NEST
    (rate-10 keep-set ⊆ rate-20 keep-set — the property that makes
    re-sampling consistent as rates change); (b) packing offsets stay
    inside the window and bins are contiguous from 0 per stratum; (c) int8
    dequantization error is bounded by 0.5/scale per element."""
    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries.pipeline_ops import _phash
    from ez_cdc_spark.sources.tables import load_table

    reg = load_all()
    docs = load_table(spark, sf_smoke, "documents")
    keep = lambda rate: {
        r["doc_id"]
        for r in docs.filter(_phash(F.col("doc_id")) % 100 < rate)
        .select("doc_id")
        .collect()
    }
    k10, k20 = keep(10), keep(20)
    assert k10 <= k20, "samples must nest as the rate grows"

    pack = reg["x8_sequence_packing"].fn(spark, sf_smoke).collect()
    assert all(0 <= r["bin_offset"] < 2048 for r in pack)
    assert all(r["bin_end"] >= r["bin_start"] for r in pack)
    by_lang = {}
    for r in pack:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: r["doc_id"])
        assert rows[0]["bin_start"] == 0, f"{lang} must start at bin 0"
        for a, b in zip(rows, rows[1:]):
            assert b["bin_start"] in (a["bin_end"], a["bin_end"] + 1) or (
                b["bin_start"] >= a["bin_start"]
            ), "bins must advance monotonically"

    q = reg["x6d_quantize_int8"].fn(spark, sf_smoke).collect()
    emb = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, sf_smoke, "embeddings").collect()
    }
    for r in q[:50]:
        s = r["scale"]
        if s == 0:
            continue
        # q is rendered as a ','-joined string (driver-canonicalizer contract)
        qvals = [int(v) for v in r["q"].split(",")]
        for orig, qi in zip(emb[r["vec_id"]], qvals):
            assert abs(qi / s - float(orig)) <= 0.5 / s + 1e-9, (
                r["vec_id"], orig, qi, s
            )


# --- r7: BMP codec round-trip property -------------------------------------


@settings(max_examples=60, deadline=None)
@given(
    rows=st.integers(min_value=1, max_value=9),
    cols=st.integers(min_value=1, max_value=9),
    data=st.data(),
)
def test_bmp_roundtrip_property(rows, cols, data):
    """decode(encode(p)) == p for EVERY pixel matrix shape — including the
    odd widths whose rows need 4-byte stride padding and single-pixel
    degenerate images. The codec is real parsing; a stride or row-order
    bug corrupts some shape in this space."""
    from ez_cdc_spark.operators.multimodal import decode_bmp, encode_bmp

    pix = [
        [data.draw(st.integers(min_value=0, max_value=255)) for _ in range(cols)]
        for _ in range(rows)
    ]
    w, h, got = decode_bmp(encode_bmp(pix))
    assert (w, h) == (cols, rows)
    assert got == [[(g, g, g) for g in row] for row in pix]


def test_x34_ln_rounding_boundary_margin():
    """x34's determinism contract: each ln(token count) is rounded to 6 dp
    before the exact decimal sum, so cross-engine agreement needs every
    distinct ln(cnt) to sit clear of a 0.5e-6 rounding boundary by more
    than the engines' possible 1-2 ulp ln() disagreement. Verify the
    margin on the sf0.01 vocabulary (the driver's attestation scale)."""
    import duckdb
    import math

    con = duckdb.connect()
    counts = con.execute(
        r"""
        SELECT DISTINCT CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS token
              FROM read_parquet('/root/testdata/sf0.01/documents.parquet'))
        GROUP BY token
        """
    ).fetchall()
    worst = 1.0
    for (cnt,) in counts:
        frac = (math.log(cnt) * 1e6) % 1.0
        margin = abs(frac - 0.5)  # distance from the round-half boundary
        worst = min(worst, margin)
    # 1 ulp of ln(cnt)~<15 scaled by 1e6 is ~1e-9; require 1000x headroom
    assert worst > 1e-6, f"ln(cnt) too close to a rounding boundary: {worst}"


def test_x35_ln_rounding_boundary_margin():
    """x35's determinism contract, same as x34's: every ln argument —
    cnt_st*tot_g and tot_s*cnt_g over the sf0.01 (source, token) counts —
    must sit clear of a 6-dp rounding boundary by far more than the
    engines' possible ln() ulp disagreement."""
    import duckdb
    import math

    con = duckdb.connect()
    args = con.execute(
        r"""
        WITH tok AS (
          SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS token
          FROM read_parquet('/root/testdata/sf0.01/documents.parquet')
        ), st AS (
          SELECT source, token, COUNT(*) AS cnt_st FROM tok GROUP BY 1, 2
        ), g AS (SELECT token, SUM(cnt_st) AS cnt_g FROM st GROUP BY 1),
        tots AS (SELECT source, SUM(cnt_st) AS tot_s FROM st GROUP BY 1),
        tg AS (SELECT SUM(cnt_g) AS tg FROM g)
        SELECT s.cnt_st * tg.tg FROM st s CROSS JOIN tg
        UNION
        SELECT ts.tot_s * g.cnt_g
        FROM st s JOIN g USING (token) JOIN tots ts USING (source)
        """
    ).fetchall()
    worst = 1.0
    for (a,) in args:
        frac = (math.log(a) * 1e6) % 1.0
        worst = min(worst, abs(frac - 0.5))
    assert worst > 1e-6, f"ln arg too close to rounding boundary: {worst}"


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
        min_size=1,
        max_size=64,
    )
)
def test_zorder_interleave_is_bijective_and_bucket_consistent(pairs):
    """functions/zorder.py: the Spark and SQL emitters agree with a
    bit-twiddling python reference, the interleave is invertible (so no
    two (u,v) pairs collide in a z-bucket profile), and the top-6-bit
    bucket equals the interleave of each dimension's top 3 bits."""
    from ez_cdc_spark.functions.zorder import z_sql

    import duckdb

    def z_ref(u, v):
        z = 0
        for i in range(16):
            z |= ((u >> i) & 1) << (2 * i + 1)
            z |= ((v >> i) & 1) << (2 * i)
        return z

    def unz(z):
        u = v = 0
        for i in range(16):
            u |= ((z >> (2 * i + 1)) & 1) << i
            v |= ((z >> (2 * i)) & 1) << i
        return u, v

    con = duckdb.connect()
    for u, v in pairs:
        got = con.execute(f"SELECT {z_sql(str(u), str(v))}").fetchone()[0]
        assert got == z_ref(u, v)
        assert unz(got) == (u, v)
        # bucket prefix property: top 6 z-bits = interleave of top-3 bits
        assert got >> 26 == z_ref(u >> 13 << 13, v >> 13 << 13) >> 26


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=30),
        min_size=1,
        max_size=6,
    ),
    st.integers(1, 6),
)
def test_mg_fold_bounds_hold_for_any_stream(batches, m):
    """The pure Misra-Gries fold on arbitrary batch sequences: never
    overcounts, undercounts by at most the accumulated offset (for EVERY
    token, dropped ones included), keeps <= m counters, and any token
    with true count > offset survives."""
    from collections import Counter

    from ez_cdc_spark.operators.sketches import mg_fold

    cnt, offset = Counter(), 0
    true = Counter()
    for batch in batches:
        bc = Counter(batch)
        true.update(bc)
        cnt, offset = mg_fold(cnt, offset, dict(bc), m)
        assert len(cnt) <= m
    for tok, t_n in true.items():
        e = cnt.get(tok, 0)
        assert e <= t_n
        assert t_n - e <= offset
        if t_n > offset:
            assert tok in cnt


def test_a16_hll_estimate_within_bound(spark, sf_dir):
    """a16's raw HLL estimate (m=128, no range corrections) must land within
    ~2 standard errors (1.04/sqrt(128) ≈ 9.2% → bound 20%) of a3-style exact
    distinct per group at sf0.01, where every group's cardinality is far
    above the 2.5m small-range regime the raw estimator assumes."""
    from ez_cdc_spark.queries import load_all

    est = {
        r["grp"]: r["hll_estimate"]
        for r in load_all()["a16_portable_hll"].fn(spark, sf_dir).collect()
    }
    from ez_cdc_spark.queries._util import t as load_t
    from pyspark.sql import functions as F

    exact = {
        r["grp"]: r["n"]
        for r in load_t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(F.count_distinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for g, n in exact.items():
        assert n > 2.5 * 128, f"{g}: fixture below raw-estimator regime"
        rel = abs(est[g] - n) / n
        assert rel < 0.20, f"{g}: HLL est {est[g]:.0f} vs exact {n} ({rel:.1%})"


def test_a16_hll_registers_merge_exactly(spark, sf_dir):
    """Mergeability — the property that makes the sketch a sketch: computing
    registers on two disjoint halves of orders and MAX-merging them must
    give bit-identical (z_scaled, estimate) to the one-shot query."""
    from pyspark.sql import functions as F

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    one_shot = {
        r["grp"]: (r["z_scaled"], r["hll_estimate"])
        for r in load_all()["a16_portable_hll"].fn(spark, sf_dir).collect()
    }

    od = load_t(spark, sf_dir, "orders")
    h32 = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    b = od.select(
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_orderkey") % 2).alias("half"),
        h32.alias("h32"),
    ).select(
        "grp",
        "half",
        F.expr("h32 div 33554432").alias("bucket"),
        (F.col("h32") % F.lit(33554432)).alias("w"),
    )
    rho = F.max(
        F.when(F.col("w") == 0, F.lit(26)).otherwise(
            F.lit(26) - F.length(F.bin(F.col("w")))
        )
    ).alias("rho")
    halves = b.groupBy("grp", "half", "bucket").agg(rho)
    merged = halves.groupBy("grp", "bucket").agg(F.max("rho").alias("rho"))
    z = merged.groupBy("grp").agg(
        (
            F.sum(F.expr("shiftleft(cast(1 as bigint), 26 - rho)"))
            + (F.lit(128) - F.count("*")) * F.lit(67108864)
        )
        .cast("bigint")
        .alias("z_scaled")
    )
    from ez_cdc_spark.queries.aggregation import _HLL_NUM

    got = {
        r["grp"]: (
            r["z_scaled"],
            _HLL_NUM / float(r["z_scaled"] * 10000000),
        )
        for r in z.collect()
    }
    assert got == one_shot


# ---------------------------------------------------------------------------
# Round-8 batch-1 independent reimplementation checks: each op's result is
# recomputed by a THIRD implementation (straight-line Python over collected
# rows) so the check shares no code with either the Spark HOF/window path or
# the DuckDB oracle SQL.


def test_w11_ewma_matches_python_refold(spark, sf_dir):
    from decimal import Decimal

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    got = {
        r["user_id"]: (r["n_events"], r["ewma_cents"])
        for r in load_all()["w11_integer_ewma"].fn(spark, sf_dir).collect()
    }
    raw = (
        load_t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    series: dict = {}
    for r in raw:
        series.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], int(Decimal(str(r["value"])).quantize(Decimal("0.01")) * 100))
        )
    for uid, rows in series.items():
        rows.sort()
        s = rows[0][2]
        for _, _, c in rows[1:]:
            s = (s + c) // 2
        assert got[uid] == (len(rows), s), uid


def test_a15_weighted_percentile_matches_python(spark, sf_dir):
    from decimal import Decimal

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    got = {
        r["l_returnflag"]: (
            r["total_weight_cents"],
            r["p50_qty_cents"],
            r["p90_qty_cents"],
        )
        for r in load_all()["a15_weighted_percentile"].fn(spark, sf_dir).collect()
    }
    raw = (
        load_t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .collect()
    )
    acc: dict = {}
    for r in raw:
        qc = int(Decimal(str(r["l_quantity"])).quantize(Decimal("0.01")) * 100)
        wc = int(Decimal(str(r["l_extendedprice"])).quantize(Decimal("0.01")) * 100)
        acc.setdefault(r["l_returnflag"], {}).setdefault(qc, 0)
        acc[r["l_returnflag"]][qc] += wc
    for flag, hist in acc.items():
        tot = sum(hist.values())
        cum = 0
        p50 = p90 = None
        for qc in sorted(hist):
            cum += hist[qc]
            if p50 is None and cum * 100 >= 50 * tot:
                p50 = qc
            if p90 is None and cum * 100 >= 90 * tot:
                p90 = qc
        assert got[flag] == (tot, p50, p90), flag


def test_x41_chunks_tile_each_doc_exactly(spark, sf_dir):
    """Coverage + overlap closed forms: chunk i starts at 48*i, consecutive
    chunks overlap exactly 16 tokens (64 - 48), every token position of the
    doc falls in >= 1 chunk, and the last chunk ends exactly at n (so no
    trailing tokens are dropped and no chunk is a suffix of its
    predecessor)."""
    import re

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    chunks: dict = {}
    for r in load_all()["x41_chunk_overlap"].fn(spark, sf_dir).collect():
        chunks.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["start_tok"], r["n_tok"])
        )
    ntok = {
        r["doc_id"]: len(re.split(r"\s+", r["text"]))
        for r in load_t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    assert chunks, "no chunks produced"
    for doc, cs in chunks.items():
        cs.sort()
        n = ntok[doc]
        # chunk ids dense from 0; starts at stride 48
        assert [c[0] for c in cs] == list(range(len(cs)))
        assert all(c[1] == 48 * c[0] for c in cs)
        # full windows except possibly the last; last ends exactly at n
        assert all(c[2] == 64 for c in cs[:-1])
        last = cs[-1]
        assert last[1] + last[2] == n
        if len(cs) > 1:
            assert last[2] >= 17, "a chunk fully inside its predecessor must not exist"
        # positions covered with no gap: next start <= prev end
        for (_i1, s1, t1), (_i2, s2, _t2) in zip(cs, cs[1:]):
            assert s2 <= s1 + t1


def test_x42_coverage_curve_is_monotone_and_terminal(spark, sf_dir):
    from ez_cdc_spark.queries import load_all

    rows = sorted(
        (r["k"], r["vocab_k"], r["covered_tokens"], r["n_total"], r["coverage"])
        for r in load_all()["x42_vocab_coverage"].fn(spark, sf_dir).collect()
    )
    assert rows
    prev_cov = -1.0
    prev_tok = -1
    for k, vocab_k, covered, n_total, coverage in rows:
        assert vocab_k <= k
        assert 0 <= coverage <= 1.0
        assert coverage >= prev_cov and covered >= prev_tok
        prev_cov, prev_tok = coverage, covered
        if vocab_k < k:  # grid point at/beyond the full vocabulary
            assert covered == n_total and coverage == 1.0


def test_x43_diagnostics_consistent_with_x38_membership(spark, sf_dir):
    """x43's per-cluster rows must agree with arithmetic over x38's
    member-level assignment: sizes sum to the corpus, inertia is the sum of
    member distances, mean is the floor-div, max/min bound the members."""
    from ez_cdc_spark.queries import load_all

    reg = load_all()
    members: dict = {}
    for r in reg["x38_kmeans_clusters"].fn(spark, sf_dir).collect():
        members.setdefault(r["cluster_id"], []).append((r["vec_id"], r["dist_units"]))
    quality = {r["cluster_id"]: r for r in reg["x43_cluster_quality"].fn(spark, sf_dir).collect()}
    assert set(quality) == set(members)
    assert sum(q["cluster_n"] for q in quality.values()) == sum(
        len(v) for v in members.values()
    )
    for cid, mem in members.items():
        q = quality[cid]
        dists = [d for _, d in mem]
        assert q["cluster_n"] == len(mem)
        assert q["inertia_units"] == sum(dists)
        assert q["mean_dist_units"] == sum(dists) // len(mem)
        assert q["max_dist_units"] == max(dists)
        assert q["min_vec_id"] == min(v for v, _ in mem)


def test_j15_tolerance_matches_python_scan(spark, sf_dir):
    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    got = {
        r["event_id"]: (r["r_event_id"], r["gap_s"])
        for r in load_all()["j15_asof_tolerance"].fn(spark, sf_dir).collect()
    }
    ev = (
        load_t(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "event_type", "value")
        .collect()
    )
    clicks: dict = {}
    for r in ev:
        if r["event_type"] == "click":
            clicks.setdefault(r["user_id"], []).append((r["ts"], r["event_id"]))
    for u in clicks:
        clicks[u].sort()
    n_checked = 0
    for r in ev:
        if r["event_type"] != "purchase":
            continue
        n_checked += 1
        prior = [c for c in clicks.get(r["user_id"], []) if c[0] <= r["ts"]]
        if not prior:
            assert got[r["event_id"]] == (None, None), r["event_id"]
            continue
        best_ts = max(c[0] for c in prior)
        best_id = max(c[1] for c in prior if c[0] == best_ts)
        # unix_timestamp truncates each side to whole seconds BEFORE the
        # difference — mirror that, or sub-second components skew the gap
        gap = int(
            (
                r["ts"].replace(microsecond=0) - best_ts.replace(microsecond=0)
            ).total_seconds()
        )
        expect = (best_id, gap) if gap <= 600 else (None, None)
        assert got[r["event_id"]] == expect, r["event_id"]
    assert n_checked > 0 and len(got) == n_checked


def test_a17_trimmed_mean_matches_python_sort(spark, sf_dir):
    """a17's histogram/interval-intersection trimming must equal the naive
    form it avoids at scale: sort the group's values, drop the lowest and
    highest floor(n/10) rows, average the rest."""
    from decimal import Decimal

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    got = {
        r["l_returnflag"]: (
            r["n_rows"],
            r["n_kept"],
            r["kept_sum_cents"],
            r["trimmed_mean_cents"],
        )
        for r in load_all()["a17_trimmed_mean"].fn(spark, sf_dir).collect()
    }
    groups: dict = {}
    for r in (
        load_t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity").collect()
    ):
        groups.setdefault(r["l_returnflag"], []).append(
            int(Decimal(str(r["l_quantity"])).quantize(Decimal("0.01")) * 100)
        )
    for flag, vals in groups.items():
        vals.sort()
        n = len(vals)
        lo = n // 10
        kept = vals[lo : n - lo]
        ks = sum(kept)
        assert got[flag] == (n, len(kept), ks, ks / float(len(kept))), flag


def test_w13_slope_matches_python_ols(spark, sf_dir):
    """w13's shift-anchored window sums must equal a naive per-user Python
    OLS over the same trailing 7-event frame — num/den bit-exact as
    integers, slope as the identical single division."""
    from datetime import timezone
    from decimal import Decimal

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t
    from ez_cdc_spark.queries.windows import _W13_EPOCH0

    got = {
        r["event_id"]: (r["frame_n"], r["slope_num"], r["slope_den"], r["slope_cents_per_s"])
        for r in load_all()["w13_rolling_regression_slope"].fn(spark, sf_dir).collect()
    }
    per_user: dict = {}
    for r in (
        load_t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    ):
        # session TZ is UTC, so the collected naive datetime is UTC wall time
        x = int(r["ts"].replace(microsecond=0, tzinfo=timezone.utc).timestamp()) - _W13_EPOCH0
        y = int(Decimal(str(r["value"])).quantize(Decimal("0.01")) * 100)
        per_user.setdefault(r["user_id"], []).append((r["ts"], r["event_id"], x, y))
    n_checked = 0
    for rows in per_user.values():
        rows.sort(key=lambda t4: (t4[0], t4[1]))
        for i, (_, eid, _, _) in enumerate(rows):
            frame = rows[max(0, i - 6) : i + 1]
            n = len(frame)
            if n < 5:
                assert eid not in got
                continue
            sx = sum(f[2] for f in frame)
            sy = sum(f[3] for f in frame)
            sxy = sum(f[2] * f[3] for f in frame)
            sxx = sum(f[2] * f[2] for f in frame)
            num, den = n * sxy - sx * sy, n * sxx - sx * sx
            slope = num / den if den > 0 else None
            assert got[eid] == (n, num, den, slope), eid
            n_checked += 1
    assert n_checked > 0


def test_w14_correlation_matches_python_frames(spark, sf_dir):
    """w14's integer terms must equal a naive per-user Python Pearson pass
    over the same trailing 7-event frame — num/dx/dy bit-exact as
    integers, r²/r via the IDENTICAL IEEE op sequence ((num/dx)*(num/dy);
    num/sqrt(dx*dy)) so the floats are bit-equal too. Also pins the
    <2^53 exactness precondition on the fixture."""
    import math
    from datetime import timezone
    from decimal import Decimal

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t
    from ez_cdc_spark.queries.windows import _W13_EPOCH0

    got = {
        r["event_id"]: (
            r["frame_n"], r["r_num"], r["r_den_x"], r["r_den_y"], r["r2"], r["r"]
        )
        for r in load_all()["w14_rolling_correlation"].fn(spark, sf_dir).collect()
    }
    per_user: dict = {}
    for r in (
        load_t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    ):
        x = int(r["ts"].replace(microsecond=0, tzinfo=timezone.utc).timestamp()) - _W13_EPOCH0
        y = int(Decimal(str(r["value"])).quantize(Decimal("0.01")) * 100)
        per_user.setdefault(r["user_id"], []).append((r["ts"], r["event_id"], x, y))
    n_checked = 0
    for rows in per_user.values():
        rows.sort(key=lambda t4: (t4[0], t4[1]))
        for i, (_, eid, _, _) in enumerate(rows):
            frame = rows[max(0, i - 6) : i + 1]
            n = len(frame)
            if n < 5:
                assert eid not in got
                continue
            sx = sum(f[2] for f in frame)
            sy = sum(f[3] for f in frame)
            sxy = sum(f[2] * f[3] for f in frame)
            sxx = sum(f[2] * f[2] for f in frame)
            syy = sum(f[3] * f[3] for f in frame)
            num = n * sxy - sx * sy
            dx = n * sxx - sx * sx
            dy = n * syy - sy * sy
            # the exactness precondition the doc claims for this fixture
            assert max(abs(num), dx, dy) < 2**53
            if dx > 0 and dy > 0:
                r2 = (num / dx) * (num / dy)
                rr = num / math.sqrt(float(dx) * float(dy))
            else:
                r2 = rr = None
            assert got[eid] == (n, num, dx, dy, r2, rr), eid
            n_checked += 1
    assert n_checked > 0


def test_a18_weighted_trim_matches_python_walk(spark, sf_dir):
    """a18's interval-intersection trimming must equal the naive form: sort
    the group's (value, weight) rows, walk cumulative weight, keep each
    value's weight clipped to the [tot//10, tot - tot//10) fence window."""
    from decimal import Decimal

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    got = {
        r["l_returnflag"]: (
            r["total_weight_cents"],
            r["kept_weight_cents"],
            r["kept_wsum"],
            r["wtrimmed_mean_qty_cents"],
        )
        for r in load_all()["a18_weighted_trimmed_mean"].fn(spark, sf_dir).collect()
    }
    groups: dict = {}
    for r in (
        load_t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .collect()
    ):
        qc = int(Decimal(str(r["l_quantity"])).quantize(Decimal("0.01")) * 100)
        wc = int(Decimal(str(r["l_extendedprice"])).quantize(Decimal("0.01")) * 100)
        groups.setdefault(r["l_returnflag"], {}).setdefault(qc, [0])
        groups[r["l_returnflag"]][qc][0] += wc
    for flag, hist in groups.items():
        tot = sum(w for (w,) in hist.values())
        lo, hi = tot // 10, tot - tot // 10
        cum, kept_wsum = 0, 0
        for qc in sorted(hist):
            w = hist[qc][0]
            cum += w
            kept_wsum += max(0, min(cum, hi) - max(cum - w, lo)) * qc
        assert got[flag] == (tot, hi - lo, kept_wsum, kept_wsum / float(hi - lo)), flag


def test_a19_weighted_mad_matches_python_walk(spark, sf_dir):
    """a19's two fence picks must equal the naive Python form: weighted
    lower-median (smallest value whose cumulative weight reaches half the
    total), then the same pick over the |x - med| deviation histogram."""
    from decimal import Decimal

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    def wmedian(hist):
        tot = sum(hist.values())
        cum = 0
        for v in sorted(hist):
            cum += hist[v]
            if cum * 2 >= tot:
                return tot, v
        raise AssertionError("empty histogram")

    got = {
        r["l_returnflag"]: (
            r["total_weight_cents"],
            r["wmedian_qty_cents"],
            r["wmad_qty_cents"],
        )
        for r in load_all()["a19_weighted_mad"].fn(spark, sf_dir).collect()
    }
    groups: dict = {}
    for r in (
        load_t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .collect()
    ):
        qc = int(Decimal(str(r["l_quantity"])).quantize(Decimal("0.01")) * 100)
        wc = int(Decimal(str(r["l_extendedprice"])).quantize(Decimal("0.01")) * 100)
        groups.setdefault(r["l_returnflag"], {})
        groups[r["l_returnflag"]][qc] = groups[r["l_returnflag"]].get(qc, 0) + wc
    assert set(groups) == set(got) and len(got) > 0
    for flag, hist in groups.items():
        tot, med = wmedian(hist)
        devs: dict = {}
        for v, w in hist.items():
            d = abs(v - med)
            devs[d] = devs.get(d, 0) + w
        _, mad = wmedian(devs)
        assert got[flag] == (tot, med, mad), flag


def test_a20_moments_match_python_exact(spark, sf_dir):
    """a20's five power sums and 128-bit central-moment strings must equal
    an arbitrary-precision Python replay (ints never overflow there), the
    <2^53 exact-cast precondition must hold, and the floats must equal the
    identical pinned IEEE op sequence."""
    import math
    from decimal import Decimal

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    got = {
        r["l_returnflag"]: r.asDict()
        for r in load_all()["a20_weighted_skew_kurtosis"].fn(spark, sf_dir).collect()
    }
    acc: dict = {}
    for r in (
        load_t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .collect()
    ):
        v = int(Decimal(str(r["l_quantity"])).quantize(Decimal("0.01")))
        w = int(Decimal(str(r["l_extendedprice"])).quantize(Decimal("0.01")) * 100) // 100000
        a = acc.setdefault(r["l_returnflag"], [0, 0, 0, 0, 0])
        a[0] += w
        a[1] += w * v
        a[2] += w * v * v
        a[3] += w * v * v * v
        a[4] += w * v * v * v * v
    assert set(acc) == set(got)
    for flag, (W, s1, s2, s3, s4) in acc.items():
        g = got[flag]
        assert (g["w_total"], g["s1"], g["s2"], g["s3"], g["s4"]) == (W, s1, s2, s3, s4)
        assert max(W, abs(s1), s2, abs(s3), s4) < 2**53
        m2 = W * s2 - s1 * s1
        m3 = W * W * s3 - 3 * W * s1 * s2 + 2 * s1**3
        m4 = W**3 * s4 - 4 * W * W * s1 * s3 + 6 * W * s1 * s1 * s2 - 3 * s1**4
        assert (g["m2_exact"], g["m3_exact"], g["m4_exact"]) == (str(m2), str(m3), str(m4))
        assert max(abs(m2), abs(m3), abs(m4)) < 10**38, "decimal38 headroom"
        wd, s1d, s2d, s3d, s4d = float(W), float(s1), float(s2), float(s3), float(s4)
        m2d = (wd * s2d) - (s1d * s1d)
        m3d = ((wd * wd) * s3d) - (((3.0 * wd) * s1d) * s2d) + (2.0 * ((s1d * s1d) * s1d))
        m4d = (
            (((wd * wd) * wd) * s4d)
            - (((4.0 * (wd * wd)) * s1d) * s3d)
            + (((6.0 * wd) * (s1d * s1d)) * s2d)
            - (3.0 * (((s1d * s1d) * s1d) * s1d))
        )
        if m2d > 0:
            assert g["skew"] == m3d / (m2d * math.sqrt(m2d))
            assert g["kurt_excess"] == ((m4d / m2d) / m2d) - 3.0
        else:
            assert g["skew"] is None and g["kurt_excess"] is None


def test_w15_closed_form_equals_naive_recurrence(spark, sf_dir):
    """The prefix-min identity behind w15 — s_k = P_k - min(0, min_j P_j)
    == the naive clamped fold s = max(0, s + d) — must hold row-for-row
    on the fixture (the whole correctness of the windowed formulation)."""
    from decimal import Decimal

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    got = {
        r["event_id"]: (r["cusum_cents"], r["is_drift"])
        for r in load_all()["w15_cusum_drift"].fn(spark, sf_dir).collect()
    }
    per_user: dict = {}
    for r in (
        load_t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    ):
        c = int(Decimal(str(r["value"])).quantize(Decimal("0.01")) * 100)
        per_user.setdefault(r["user_id"], []).append((r["ts"], r["event_id"], c))
    n = 0
    for rows in per_user.values():
        rows.sort(key=lambda t3: (t3[0], t3[1]))
        cfirst = rows[0][2]
        s = 0
        for _, eid, c in rows:
            s = max(0, s + (c - cfirst))
            assert got[eid] == (s, int(s >= 500000)), eid
            n += 1
    assert n == len(got) > 0


def test_x49_gini_matches_python_and_bounds(spark, sf_dir):
    """x49's exact rank-form terms must equal a Python replay over the same
    tokenization; Gini stays in [0, 1); replicating every count k-fold
    leaves the statistic EXACTLY unchanged (num/den both scale by k)."""
    import re

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    got = {
        r["source"]: r.asDict()
        for r in load_all()["x49_vocab_gini"].fn(spark, sf_dir).collect()
    }
    hist: dict = {}
    for r in load_t(spark, sf_dir, "documents").select("source", "text").collect():
        h = hist.setdefault(r["source"], {})
        for tok in re.split(r"\s+", r["text"]):
            h[tok] = h.get(tok, 0) + 1
    assert set(hist) == set(got)
    for src, h in hist.items():
        ranked = sorted(h.items(), key=lambda kv: (kv[1], kv[0]))
        n = len(ranked)
        W = sum(w for _, w in ranked)
        swr = sum((i + 1) * w for i, (_, w) in enumerate(ranked))
        num, den = 2 * swr - (n + 1) * W, n * W
        g = got[src]
        assert (g["n_types"], g["n_tokens"], g["gini_num"], g["gini_den"]) == (
            n, W, num, den,
        )
        assert g["gini"] == num / den
        assert 0 <= g["gini"] < 1
        # exact k-fold weight-scale invariance
        k = 7
        swr_k = sum((i + 1) * (w * k) for i, (_, w) in enumerate(ranked))
        assert (2 * swr_k - (n + 1) * W * k) * den == num * (n * W * k)


def test_j18_matches_python_interval_check(spark, sf_dir):
    """j18's bin-bucketed match set must equal the naive quadratic check:
    a purchase survives iff no error timestamp falls in [p.ts - 300 s,
    p.ts] (whole-second semantics matching unix_timestamp's floor)."""
    import bisect

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    got = {
        r["event_id"] for r in load_all()["j18_range_anti_join"].fn(spark, sf_dir).collect()
    }
    ev = (
        load_t(spark, sf_dir, "events")
        .select("event_id", "event_type", "ts")
        .collect()
    )
    errors = sorted(r["ts"] for r in ev if r["event_type"] == "error")
    import datetime

    expect = set()
    for r in ev:
        if r["event_type"] != "purchase":
            continue
        lo = r["ts"] - datetime.timedelta(seconds=300)
        i = bisect.bisect_left(errors, lo)
        clean = not (i < len(errors) and errors[i] <= r["ts"])
        if clean:
            expect.add(r["event_id"])
    assert got == expect and len(got) > 0
    n_purch = sum(1 for r in ev if r["event_type"] == "purchase")
    assert len(got) < n_purch, "some purchases must actually be excluded"


def test_u8_cogroup_asof_equals_j8_operator(spark, sf_dir):
    """u8 (cogrouped-pandas as-of) and j8 (union+LOCF window as-of) are
    independent implementations of the same semantics and share one DuckDB
    oracle — they must agree row-for-row, including NULL misses."""
    from ez_cdc_spark.queries import load_all

    reg = load_all()
    u = [tuple(r) for r in reg["u8_cogroup_asof"].fn(spark, sf_dir).collect()]
    j = [tuple(r) for r in reg["j8_asof_join"].fn(spark, sf_dir).collect()]
    assert u == j and len(u) > 0
    assert any(r[3] is None for r in u), "fixture must exercise the miss path"


def test_x48_consistent_with_pair_set_and_corpus(spark, sf_dir):
    """x48's dashboard arithmetic must reconcile with its inputs: per-source
    doc counts sum to the corpus, near-dup counts sum to the distinct ids
    of the shared x2 pair set (jaccard >= 0.5), and every rate equals its
    count pair."""
    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries.extensions import _shared_neardup_pairs
    from ez_cdc_spark.sources.tables import load_table

    rows = load_all()["x48_dedup_dashboard"].fn(spark, sf_dir).collect()
    n_corpus = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_corpus
    pairs = _shared_neardup_pairs(spark, sf_dir).collect()
    ids = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    assert sum(r["n_neardup_docs"] for r in rows) == len(ids) > 0
    for r in rows:
        assert r["exact_dup_rate"] == r["n_exact_copies"] / r["n_docs"]
        assert r["neardup_rate"] == r["n_neardup_docs"] / r["n_docs"]
        assert r["mean_chars"] == r["sum_chars"] / r["n_docs"]


def test_x53_estimator_error_within_3sigma(spark, sf_dir):
    """x53's MinHash-theorem envelope: per pair, |est - exact| must stay
    within 3*sqrt(J(1-J)/64) + the 4-dp rounding slack, and the exact
    match count must equal a Python slot-by-slot comparison of
    independently recomputed signatures."""
    import hashlib
    import math
    import re

    from ez_cdc_spark.operators.dedup import _P, perm_coeff_ints
    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    rows = load_all()["x53_minhash_calibration"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    texts = {
        r["doc_id"]: r["text"]
        for r in load_t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    coeffs = [perm_coeff_ints(j) for j in range(64)]

    def sig_of(text):
        ws = re.split(r"\s+", text)
        grams = [" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)] if len(ws) >= 3 else []
        hs = {int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams}
        hp = [h % _P for h in hs]
        return [min(((a * h + b) % _P) for h in hp) for a, b in coeffs] if hp else None

    for r in rows:
        sa, sb = sig_of(texts[r["id_a"]]), sig_of(texts[r["id_b"]])
        match = sum(1 for x, y in zip(sa, sb) if x == y)
        assert r["match_slots"] == match, (r["id_a"], r["id_b"])
        assert r["est_jaccard"] == match / 64
        j = r["exact_jaccard"]
        assert abs(r["est_jaccard"] - j) <= 3 * math.sqrt(j * (1 - j) / 64) + 0.05


def test_x55_reconciles_with_x11_membership(spark, sf_dir):
    """x55's histogram arithmetic must reconcile exactly with x11's cluster
    assignment: doc totals, cluster totals, and the dedup-yield identity
    sum(n_removable) == n_docs - n_clusters."""
    from ez_cdc_spark.queries import load_all

    reg = load_all()
    hist = reg["x55_cluster_size_histogram"].fn(spark, sf_dir).collect()
    memb = reg["x11_neardup_clusters"].fn(spark, sf_dir).collect()
    sizes: dict = {}
    for r in memb:
        sizes[r["cluster_id"]] = r["cluster_size"]
    from collections import Counter

    want = Counter(sizes.values())
    got = {r["cluster_size"]: r["n_clusters"] for r in hist}
    assert got == dict(want) and len(got) > 0
    assert sum(r["n_docs"] for r in hist) == len(memb)
    assert sum(r["n_removable"] for r in hist) == len(memb) - len(sizes)
    for r in hist:
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]
        assert r["n_removable"] == (r["cluster_size"] - 1) * r["n_clusters"]


def test_s18_dynamic_overwrite_touches_only_target_partition(spark, tmp_path):
    """The property s18 exists to pin: under partitionOverwriteMode=dynamic,
    an overwrite write containing only partition F replaces F and leaves
    every other partition's FILES physically untouched (same paths, same
    bytes) — under STATIC the same write would delete them."""
    import glob
    import os

    from pyspark.sql import functions as F

    base = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, s, float(k)) for k in range(10) for s in ("A", "B", "F")],
        "k INT, status STRING, v DOUBLE",
    )
    df.write.mode("overwrite").partitionBy("status").parquet(base)

    def snap(part):
        return sorted(
            (p, os.path.getmtime(p), os.path.getsize(p))
            for p in glob.glob(os.path.join(base, f"status={part}", "*.parquet"))
        )

    before_a, before_b = snap("A"), snap("B")
    patch = spark.createDataFrame(
        [(k, "F", -1.0) for k in range(3)], "k INT, status STRING, v DOUBLE"
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        patch.write.mode("overwrite").partitionBy("status").parquet(base)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert snap("A") == before_a and snap("B") == before_b
    back = spark.read.parquet(base)
    assert back.filter(F.col("status") == "F").count() == 3
    assert back.filter(F.col("status") == "A").count() == 10
    got_f = {r["v"] for r in back.filter(F.col("status") == "F").collect()}
    assert got_f == {-1.0}


def test_a21_weighted_corr_matches_python_exact(spark, sf_dir):
    """a21's six power sums and the cov/var bigints must equal an
    arbitrary-precision Python replay; floats via the identical pinned IEEE
    sequence (int->float uses Python's correctly-rounded conversion, the
    same IEEE round-to-nearest the engines apply)."""
    import math
    from decimal import Decimal

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    got = {
        r["l_returnflag"]: r.asDict()
        for r in load_all()["a21_weighted_correlation"].fn(spark, sf_dir).collect()
    }
    acc: dict = {}
    for r in (
        load_t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_discount", "l_extendedprice")
        .collect()
    ):
        x = int(Decimal(str(r["l_quantity"])).quantize(Decimal("0.01")))
        y = int(Decimal(str(r["l_discount"])).quantize(Decimal("0.01")) * 100)
        w = int(Decimal(str(r["l_extendedprice"])).quantize(Decimal("0.01")) * 100) // 100000
        a = acc.setdefault(r["l_returnflag"], [0] * 6)
        a[0] += w
        a[1] += w * x
        a[2] += w * y
        a[3] += w * x * y
        a[4] += w * x * x
        a[5] += w * y * y
    for flag, (W, sx, sy, sxy, sxx, syy) in acc.items():
        g = got[flag]
        num = W * sxy - sx * sy
        vx = W * sxx - sx * sx
        vy = W * syy - sy * sy
        assert (g["w_total"], g["cov_num"], g["var_x"], g["var_y"]) == (W, num, vx, vy)
        assert g["wcov"] == float(num) / (float(W) * float(W))
        if vx > 0 and vy > 0:
            assert g["wcorr"] == float(num) / math.sqrt(float(vx) * float(vy))
            assert -1.0 - 1e-9 <= g["wcorr"] <= 1.0 + 1e-9
        else:
            assert g["wcorr"] is None


def test_x56_equidepth_invariants(spark, sf_dir):
    """x56: buckets partition the corpus exactly (sum of depths == row
    count, ranges contiguous and non-overlapping), every bucket's depth is
    within one duplicate-group of the ideal tot/8, and the boundaries equal
    a Python exact-quantile walk."""
    from decimal import Decimal

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    rows = sorted(
        load_all()["x56_equidepth_bins"].fn(spark, sf_dir).collect(),
        key=lambda r: r["bucket"],
    )
    vals = sorted(
        int(Decimal(str(r["l_extendedprice"])).quantize(Decimal("0.01")) * 100)
        for r in load_t(spark, sf_dir, "lineitem").select("l_extendedprice").collect()
    )
    tot = len(vals)
    assert sum(r["n_rows"] for r in rows) == tot
    assert [r["bucket"] for r in rows] == list(range(len(rows)))
    for a, b in zip(rows, rows[1:]):
        assert a["hi_cents"] < b["lo_cents"], "ranges must not overlap"
    # boundary check: b_i = min v with cum*8 >= i*tot
    from collections import Counter

    hist = sorted(Counter(vals).items())
    bounds = []
    for i in range(1, 8):
        cm = 0
        for v, n in hist:
            cm += n
            if cm * 8 >= i * tot:
                bounds.append(v)
                break
    # bucket k closes at bound k (dedup: equal bounds collapse buckets)
    for r in rows[:-1]:
        assert r["hi_cents"] in bounds
    # depth balance: each bucket within max-duplicate-mass of ideal
    max_dup = max(n for _, n in hist)
    for r in rows:
        assert abs(r["n_rows"] - tot / 8) <= max_dup + tot / 8 * 0.5


def test_w17_matches_python_refold(spark, sf_dir):
    """w17's fold is exact integer arithmetic, so an independent Python
    replay (floor-div recurrence over the (ts, event_id)-sorted series)
    must match every user's final state bit-for-bit."""
    import calendar
    from decimal import Decimal

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    got = {
        r["user_id"]: (r["n_events"], r["decayed_cents"])
        for r in load_all()["w17_timedecay_ewma"].fn(spark, sf_dir).collect()
    }
    series: dict = {}
    for r in (
        load_t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    ):
        e = calendar.timegm(r["ts"].timetuple())
        c = int(Decimal(str(r["value"])).quantize(Decimal("0.01")) * 100)
        series.setdefault(r["user_id"], []).append((e, r["event_id"], c))
    assert set(got) == set(series)
    for u, s in series.items():
        s.sort()
        y, pe = None, None
        for e, _, c in s:
            y = c if y is None else c + (600 * y) // (600 + (e - pe))
            pe = e
        assert got[u] == (len(s), y), f"user {u}"


def test_a22_cms_never_underestimates_and_cells_exact(spark, sf_dir):
    """CMS guarantee: est >= true for every probe (min over hashed cells can
    only collide upward). The cells themselves replay exactly in Python via
    the same md5 discipline, so each reported estimate equals the Python
    sketch's min-cell — not just >= truth."""
    import hashlib
    from collections import Counter

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    rows = load_all()["a22_count_min_sketch"].fn(spark, sf_dir).collect()
    assert len(rows) == 10

    keys = [
        r["l_partkey"]
        for r in load_t(spark, sf_dir, "lineitem").select("l_partkey").collect()
    ]

    def bucket(j: int, k: int) -> int:
        return int(hashlib.md5(f"{j}:{k}".encode()).hexdigest()[:8], 16) % 512

    sketch: Counter = Counter()
    for k in keys:
        for j in range(4):
            sketch[(j, bucket(j, k))] += 1
    true = Counter(keys)
    for r in rows:
        k = r["l_partkey"]
        est = min(sketch[(j, bucket(j, k))] for j in range(4))
        assert r["true_cnt"] == true[k]
        assert r["cms_est"] == est
        assert r["overestimate"] == est - true[k]
        assert r["overestimate"] >= 0, "CMS must never underestimate"


def test_s19_v1_rows_surface_null_nested_member(spark, sf_dir):
    """The merged nested read's evolution contract at ROW level: every v1
    (even doc_id) row surfaces the later-added struct member as NULL and no
    gen tag; every v2 row carries both non-NULL."""
    from pyspark.sql import functions as F

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.streaming.replay import rig_dir

    load_all()["s19_nested_schema_evolution"].fn(spark, sf_dir).collect()
    merged = spark.read.option("mergeSchema", "true").parquet(
        rig_dir(sf_dir, "s19v1"), rig_dir(sf_dir, "s19v2")
    )
    bad_v1 = merged.filter(
        (F.col("doc_id") % 2 == 0)
        & (F.col("meta.n_chars").isNotNull() | F.col("gen").isNotNull())
    ).count()
    bad_v2 = merged.filter(
        (F.col("doc_id") % 2 == 1)
        & (F.col("meta.n_chars").isNull() | (F.col("gen") != 2))
    ).count()
    assert bad_v1 == 0 and bad_v2 == 0
    assert dict(merged.schema["meta"].dataType.fields[2].jsonValue().items())[
        "name"
    ] == "n_chars"


def test_a23_bitmap_equals_exact_distinct(spark, sf_dir):
    """The popcount sum must equal the plain exact distinct per group (an
    independent Python set replay), and the word count must equal the
    number of occupied 32-key blocks."""
    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    got = {
        r["grp"]: (r["n_words"], r["n_distinct"])
        for r in load_all()["a23_bitmap_distinct"].fn(spark, sf_dir).collect()
    }
    seen: dict = {}
    for r in (
        load_t(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_custkey")
        .collect()
    ):
        seen.setdefault(r["o_orderpriority"], set()).add(r["o_custkey"])
    assert set(got) == set(seen)
    for g, keys in seen.items():
        assert got[g] == (len({k // 32 for k in keys}), len(keys))


def test_w18_matches_python_mode(spark, sf_dir):
    """w18's frame mode must equal an independent Python Counter replay
    with the lex-smallest tie-break, for every event."""
    import collections

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    got = {
        r["event_id"]: (r["mode_type"], r["mode_cnt"], r["frame_n"])
        for r in load_all()["w18_rolling_mode"].fn(spark, sf_dir).collect()
    }
    series: dict = {}
    for r in (
        load_t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    ):
        series.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], r["event_type"])
        )
    n = 0
    for _, s in series.items():
        s.sort()
        for i in range(len(s)):
            frame = [x[2] for x in s[max(0, i - 6) : i + 1]]
            cnt = collections.Counter(frame)
            mx = max(cnt.values())
            best = min(k for k, v in cnt.items() if v == mx)
            assert got[s[i][1]] == (best, mx, len(frame))
            n += 1
    assert n == len(got)


def test_x57_equals_cross_slice_of_full_pair_set(spark, sf_dir):
    """Probing the band index must find EXACTLY the cross-split slice of the
    full x2 candidate set (same bands, same verify) — no pair lost by
    indexing, none invented."""
    from pyspark.sql import functions as F

    from ez_cdc_spark.operators.dedup import minhash_lsh_candidates
    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    got = sorted(
        (r["doc_id"], r["corpus_id"], r["jaccard"])
        for r in load_all()["x57_incremental_lsh"].fn(spark, sf_dir).collect()
    )
    full = minhash_lsh_candidates(
        load_t(spark, sf_dir, "documents"), portable=True
    ).filter(((F.col("id_a") % 5) == 0) != ((F.col("id_b") % 5) == 0))
    want = sorted(
        (
            r["id_a"] if r["id_a"] % 5 == 0 else r["id_b"],
            r["id_b"] if r["id_a"] % 5 == 0 else r["id_a"],
            r["jaccard"],
        )
        for r in full.collect()
    )
    assert got == want and len(got) > 0


def test_x58_drift_reconciles_and_tv_bounds(spark, sf_dir):
    """Per column: counts reconcile with the snapshot totals, drift_num
    replays exactly in integer Python, TV = sum(drift_num)/(2*ta*tb) lands
    in [0, 1], and rate_delta equals the same two-division float sequence."""
    from collections import Counter

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t as load_t

    rows = load_all()["x58_snapshot_drift"].fn(spark, sf_dir).collect()
    docs = (
        load_t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source")
        .collect()
    )
    ta = sum(1 for r in docs if r["doc_id"] % 2 == 0)
    tb = len(docs) - ta
    for col in ("lang", "source"):
        ca = Counter(r[col] for r in docs if r["doc_id"] % 2 == 0)
        cb = Counter(r[col] for r in docs if r["doc_id"] % 2 == 1)
        sub = [r for r in rows if r["col_name"] == col]
        assert {r["val"] for r in sub} == set(ca) | set(cb)
        assert sum(r["n_a"] for r in sub) == ta
        assert sum(r["n_b"] for r in sub) == tb
        for r in sub:
            na, nb = ca.get(r["val"], 0), cb.get(r["val"], 0)
            assert (r["n_a"], r["n_b"]) == (na, nb)
            assert r["drift_num"] == abs(na * tb - nb * ta)
            assert r["rate_delta"] == na / ta - nb / tb
        tv = sum(r["drift_num"] for r in sub) / (2.0 * ta * tb)
        assert 0.0 <= tv <= 1.0


def test_f_collation_byte_contract_and_locale_divergence(spark, sf_smoke):
    """f_collation's contract, checked by a third implementation and
    documented against the locale alternative it rejects.

    (1) byte_rnk order must equal a straight Python sort by UTF-8 bytes
    (independent of both Spark's UTF8_BINARY comparator and DuckDB's
    binary collation), and key_hex must round-trip to the string itself.
    (2) ci_rnk must equal the Python (s.lower(), s) sort, and must
    genuinely diverge from byte order on the fixture (the case blocks).
    (3) Where a locale collator would disagree — pinned so the contract
    is a documented CHOICE, not an accident: byte order sorts the entire
    uppercase-initial block before the lowercase block ('Z' < 'a') and
    every accented string after its ASCII siblings ('á' > 'z' bytewise),
    whereas an ICU en_US collator interleaves case per word and treats
    'á' as a variant of 'a'. Accent-folding the strings changes the
    sort — which is exactly the divergence an ICU upgrade would
    introduce mid-cluster if the engine keyed ordering on a locale."""
    from ez_cdc_spark.queries import load_all

    rows = load_all()["f_collation"].fn(spark, sf_smoke).collect()
    assert len(rows) == 100

    by_byte = [r["s"] for r in sorted(rows, key=lambda r: r["byte_rnk"])]
    assert by_byte == sorted(by_byte, key=lambda s: s.encode("utf-8"))
    for r in rows:
        assert bytes.fromhex(r["key_hex"]).decode("utf-8") == r["s"]

    by_ci = [r["s"] for r in sorted(rows, key=lambda r: r["ci_rnk"])]
    assert by_ci == sorted(by_ci, key=lambda s: (s.lower(), s))
    assert by_ci != by_byte, "fixture must exercise case divergence"

    # (3a) whole uppercase-initial block precedes the lowercase block
    first_lower = next(i for i, s in enumerate(by_byte) if s[0].islower())
    assert all(s[0].islower() for s in by_byte[first_lower:])
    # (3b) accented strings sort strictly after ALL pure-ASCII strings
    # that share no accented prefix (here: after every ASCII string)
    first_acc = next(i for i, s in enumerate(by_byte) if "á" in s)
    assert all("á" in s for s in by_byte[first_acc:])
    # (3c) accent folding changes the order => any accent-folding
    # (locale) collator disagrees with the byte contract
    folded = sorted(by_byte, key=lambda s: s.replace("á", "a").encode())
    assert folded != by_byte


def test_x50_reconciles_with_x45_and_python_replay(spark, sf_dir):
    """x50 (span removal) vs x45 (span coverage): two independent
    formulations of the same covered-position union — x45 telescopes
    intervals with a lag window, x50 materializes the position set and
    anti-joins — so per doc n_removed must equal x45's covered_tokens
    exactly. Then a straight-Python Counter reimplementation of the whole
    transform (shared with neither the Spark HOF plan nor the DuckDB SQL)
    must reproduce every row including the kept-text md5."""
    import hashlib
    import re
    from collections import Counter

    import pandas as pd

    from ez_cdc_spark.queries import load_all

    reg = load_all()
    x50 = {
        r["doc_id"]: r
        for r in reg["x50_span_removal"].fn(spark, sf_dir).collect()
    }
    x45 = {
        r["doc_id"]: r
        for r in reg["x45_dup_span_coverage"].fn(spark, sf_dir).collect()
    }
    assert set(x50) == set(x45)
    for did, r in x50.items():
        assert r["n_removed"] == x45[did]["covered_tokens"], did
        assert r["n_kept"] + r["n_removed"] == r["n_tokens"]
    assert any(r["n_removed"] > 0 for r in x50.values()), (
        "fixture must exercise actual removal"
    )
    assert any(r["n_removed"] == 0 for r in x50.values()), (
        "fixture must keep some docs untouched"
    )

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    toks = {
        int(r.doc_id): re.split(r"\s+", r.text) for r in docs.itertuples()
    }
    df_count: Counter = Counter()
    for did, ws in toks.items():
        seen = set()
        for i in range(len(ws) - 7):
            seen.add(" ".join(ws[i : i + 8]))
        for g in seen:
            df_count[g] += 1
    for did, ws in toks.items():
        covered = set()
        for i in range(len(ws) - 7):
            if df_count[" ".join(ws[i : i + 8])] >= 2:
                covered.update(range(i, i + 8))
        kept = [w for i, w in enumerate(ws) if i not in covered]
        r = x50[did]
        assert r["n_tokens"] == len(ws)
        assert r["n_removed"] == len(covered), did
        assert r["kept_md5"] == hashlib.md5(" ".join(kept).encode()).hexdigest(), did


def test_x7d_ksample_python_replay_and_merge_property(spark, sf_dir):
    """x7d: (1) exactly min(k, n_source) rows per source; (2) a straight
    Python replay (hashlib md5 priorities) reproduces the kept set and
    ranks; (3) the mergeable-summary property that makes it a distributed
    reservoir: top-k of the union == top-k of the per-shard top-ks, for
    an arbitrary 3-way shard of the corpus."""
    import hashlib
    from collections import Counter, defaultdict

    import pandas as pd

    from ez_cdc_spark.queries import load_all

    k = 12
    rows = load_all()["x7d_stratum_ksample"].fn(spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "source"])

    def pri(did):
        return hashlib.md5(f"x7d:{did}".encode()).hexdigest()

    per_src = defaultdict(list)
    for r in docs.itertuples():
        per_src[r.source].append((pri(int(r.doc_id)), int(r.doc_id)))
    expect = {}
    for src, lst in per_src.items():
        for rk, (h, did) in enumerate(sorted(lst)[:k], start=1):
            expect[(did, src)] = (h, rk)
    got = {(r["doc_id"], r["source"]): (r["hkey"], r["rk"]) for r in rows}
    assert got == expect

    n_per = Counter(r["source"] for r in rows)
    for src, lst in per_src.items():
        assert n_per[src] == min(k, len(lst))

    for src, lst in per_src.items():
        shards = [sorted(lst[i::3])[:k] for i in range(3)]
        merged = sorted(x for s in shards for x in s)[:k]
        assert merged == sorted(lst)[:k], src


def test_w19_drawdown_python_replay(spark, sf_dir):
    """w19: a straight-Python per-user fold of the drawdown recurrence
    (running peak, dd, running max dd) reproduces every row, and the
    invariants hold: dd >= 0, mdd nondecreasing per user, mdd >= dd."""
    from collections import defaultdict
    from decimal import Decimal

    import pandas as pd

    from ez_cdc_spark.queries import load_all

    rows = load_all()["w19_rolling_drawdown"].fn(spark, sf_dir).collect()
    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["event_id", "user_id", "ts", "value"]
    ).sort_values(["ts", "event_id"], kind="mergesort")
    state = defaultdict(lambda: (-(1 << 62), -(1 << 62)))  # (peak, mdd)
    expect = {}
    for r in ev.itertuples():
        cents = int(
            Decimal(str(r.value)).quantize(Decimal("0.01")) * 100
        )
        peak, mdd = state[r.user_id]
        peak = max(peak, cents)
        dd = peak - cents
        mdd = max(mdd, dd)
        state[r.user_id] = (peak, mdd)
        expect[int(r.event_id)] = (cents, peak, dd, mdd)
    last_mdd = {}
    for r in sorted(rows, key=lambda r: r["event_id"]):
        cents, peak, dd, mdd = expect[r["event_id"]]
        assert (r["cents"], r["peak_cents"], r["dd_cents"], r["mdd_cents"]) == (
            cents,
            peak,
            dd,
            mdd,
        ), r["event_id"]
        assert dd >= 0 and mdd >= dd
        assert mdd >= last_mdd.get(r["user_id"], 0)
        last_mdd[r["user_id"]] = mdd
    assert len(rows) == len(expect)


def test_x59_zipf_python_replay_and_ln_margins(spark, sf_dir):
    """x59: (1) x34-style boundary-margin guard — every ln(rank) and
    ln(cnt) term in the fixture histogram clears the 6-dp rounding
    boundary by a wide margin, so Spark/DuckDB/Python rounding modes
    cannot disagree; (2) an exact-Decimal Python replay (quantized terms,
    exact sums, one float conversion, same parenthesization) reproduces
    slope and intercept bit-for-bit."""
    import math
    import re
    from collections import Counter, defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    from ez_cdc_spark.queries import load_all

    rows = {r["source"]: r for r in load_all()["x59_zipf_slope"].fn(spark, sf_dir).collect()}
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source", "text"])
    hists = defaultdict(Counter)
    for r in docs.itertuples():
        hists[r.source].update(re.split(r"\s+", r.text))

    q6 = Decimal("0.000001")
    for source, h in hists.items():
        ranked = sorted(h.items(), key=lambda kv: (-kv[1], kv[0]))
        sx = sy = sxy = sxx = Decimal(0)
        n = len(ranked)
        for rk, (_, cnt) in enumerate(ranked, start=1):
            for v in (rk, cnt):
                scaled = math.log(v) * 1e6
                assert abs(abs(scaled - math.floor(scaled)) - 0.5) > 1e-3, (
                    source, v, scaled,
                )
            lx = Decimal(repr(math.log(rk))).quantize(q6, ROUND_HALF_UP)
            ly = Decimal(repr(math.log(cnt))).quantize(q6, ROUND_HALF_UP)
            sx += lx
            sy += ly
            sxy += lx * ly
            sxx += lx * lx
        fsx, fsy, fsxy, fsxx = map(float, (sx, sy, sxy, sxx))
        fn = float(n)
        slope = (fn * fsxy - fsx * fsy) / (fn * fsxx - fsx * fsx)
        intercept = (fsy - slope * fsx) / fn
        r = rows[source]
        assert r["n_types"] == n
        assert r["zipf_slope"] == slope, source
        assert r["intercept"] == intercept, source
    assert set(rows) == set(hists)


def test_x51_ctfidf_margins_and_reconciliation(spark, sf_dir):
    """x51: (1) all 8 possible IDF values ln(8/df), df in 1..8, clear the
    6-dp rounding boundary (ln(1) is exactly 0 — no boundary at all);
    (2) per-cluster output is exactly 5 rows with contiguous ranks and
    decimal-exact score ordering; (3) a ubiquitous token (df == 8) can
    never outrank a token with positive score."""
    import math

    from ez_cdc_spark.queries import load_all

    for df in range(1, 9):
        v = math.log(8.0 / df)
        if v == 0.0:
            continue
        scaled = v * 1e6
        assert abs(abs(scaled - math.floor(scaled)) - 0.5) > 1e-3, df

    rows = load_all()["x51_cluster_keywords"].fn(spark, sf_dir).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert len(by_cluster) > 1
    for cid, rs in by_cluster.items():
        rs.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) == 5
        for a, b in zip(rs, rs[1:]):
            assert (a["ctfidf"], ) >= (b["ctfidf"], ), (cid, a, b)
            if a["ctfidf"] == b["ctfidf"]:
                assert a["token"] < b["token"]
        for r in rs:
            if r["df"] == 8:
                assert r["ctfidf"] == 0.0


def test_x52_weights_and_sample_reconcile(spark, sf_dir):
    """Independent Python reimplementation of x52: taking the (already
    hash-attested) x38 assignment as ground truth, recompute every
    cluster's weight_ppm from the integer formula and every n_sampled /
    min_doc / max_doc by replaying the md5 gate in hashlib — row-for-row
    equality, plus the invariants n_sampled <= n_docs, weights in
    [10_000, 1_000_000], and over-target clusters strictly down-weighted."""
    import hashlib

    from ez_cdc_spark.queries import load_all

    reg = load_all()
    rows = {r["cluster_id"]: r for r in reg["x52_cluster_balanced_mix"].fn(spark, sf_dir).collect()}
    assert rows, "x52 output must be non-empty"
    assign = reg["x38_kmeans_clusters"].fn(spark, sf_dir).collect()

    by_cluster: dict = {}
    for a in assign:
        by_cluster.setdefault(a["cluster_id"], []).append(int(a["vec_id"]))
    total = sum(len(v) for v in by_cluster.values())
    target = total // 8

    def gate(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 1_000_000

    assert set(rows) == set(by_cluster)
    for cid, ids in by_cluster.items():
        n_docs = len(ids)
        w = min(1_000_000, max(10_000, target * 1_000_000 // n_docs))
        sampled = sorted(i for i in ids if gate(i) < w)
        r = rows[cid]
        assert r["n_docs"] == n_docs and r["weight_ppm"] == w, (cid, dict(r.asDict()))
        assert r["n_sampled"] == len(sampled) <= n_docs
        if sampled:
            assert r["min_doc"] == sampled[0] and r["max_doc"] == sampled[-1]
        else:
            assert r["min_doc"] is None and r["max_doc"] is None
        if n_docs > target:
            assert w < 1_000_000, "over-target cluster must be down-weighted"


def test_s24_running_totals_reconcile(spark, sf_dir):
    """Independent Python reimplementation of s24: per-customer running
    totals recomputed in exact Decimal cents over pandas (HALF_UP to
    match Spark's double->DECIMAL(12,2) cast), compared row-for-row
    against the bucketed-scan Window output — proving the sorted-bucket
    read returns exactly the original rows in exactly per-key time
    order."""
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    from ez_cdc_spark.queries import load_all

    rows = load_all()["s24_sorted_bucket_window"].fn(spark, sf_dir).collect()
    assert rows, "output must be non-empty"

    o = pd.read_parquet(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"],
    )
    cents = {
        int(k): int(
            Decimal(str(p)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP) * 100
        )
        for k, p in zip(o["o_orderkey"], o["o_totalprice"])
    }
    o = o.sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    expect: dict = {}
    run: dict = {}
    rn: dict = {}
    for k, c, d in zip(o["o_orderkey"], o["o_custkey"], o["o_orderdate"]):
        c = int(c)
        run[c] = run.get(c, 0) + cents[int(k)]
        rn[c] = rn.get(c, 0) + 1
        expect[int(k)] = (c, str(pd.Timestamp(d).date()), rn[c], run[c])
    assert len(rows) == len(expect)
    for r in rows:
        c, odate, n, cents_total = expect[r["o_orderkey"]]
        assert (r["o_custkey"], r["odate"], r["rn"]) == (c, odate, n), dict(r.asDict())
        assert round(r["running_total"] * 100) == cents_total, dict(r.asDict())


def test_x60_pointer_doubling_matches_sequential_walk(spark, sf_dir):
    """Independent Python reimplementation of x60: a plain sequential
    parent walk (the O(depth) algorithm the pointer-doubling plan
    replaces) recomputed per customer, compared row-for-row. Also pins
    the doubling-round margin: 5 rounds resolve depth <= 32, and the
    fixture's halving forest must sit well inside it."""
    from ez_cdc_spark.queries import load_all

    rows = load_all()["x60_hierarchy_flatten"].fn(spark, sf_dir).collect()
    assert rows, "output must be non-empty"

    import pandas as pd

    ids = sorted(
        int(v)
        for v in pd.read_parquet(f"{sf_dir}/customer.parquet", columns=["c_custkey"])[
            "c_custkey"
        ]
    )
    idset = set(ids)

    def parent(i: int) -> int | None:
        return None if (i <= 10 or i % 7 == 0) else i // 2

    # every non-root's parent must exist: the dense-key contract the
    # synthetic forest relies on
    for i in ids:
        p = parent(i)
        assert p is None or p in idset, (i, p)

    expect = {}
    max_depth = 0
    for i in ids:
        cur, depth, psum = i, 0, 0
        while (p := parent(cur)) is not None:
            cur, depth, psum = p, depth + 1, psum + p
        expect[i] = (cur, depth, psum)
        max_depth = max(max_depth, depth)
    assert max_depth < 32, f"5 doubling rounds cover depth<=32, saw {max_depth}"
    assert max_depth >= 3, "fixture must exercise real multi-level paths"

    assert len(rows) == len(expect)
    for r in rows:
        assert (r["root_id"], r["depth"], r["path_sum"]) == expect[r["c_custkey"]], (
            dict(r.asDict())
        )
    # roots are their own fixpoint
    for r in rows:
        if r["c_custkey"] <= 10 or r["c_custkey"] % 7 == 0:
            assert (r["root_id"], r["depth"], r["path_sum"]) == (r["c_custkey"], 0, 0)


def test_x60_doubling_round_boundary(spark):
    """Pins pointer_double_flatten's coverage contract at the exact
    boundary: 5 rounds resolve depth <= 2^5 = 32 (a 33-node chain,
    deepest node depth 32, resolves), one more edge does NOT (the
    depth-33 node of a 34-node chain returns its distance-32 ancestor,
    not the root), and rounds=6 resolves it — the honest statement of
    what 'exactly 5 rounds' buys x60 and why log2(depth) rounds always
    suffice at scale."""
    from pyspark.sql import functions as F

    from ez_cdc_spark.operators.hierarchy import pointer_double_flatten

    def chain(n):
        # ids 0..n-1, parent(i) = i-1, root 0: a pure depth-(n-1) chain
        return spark.range(n).select(
            F.col("id").cast("bigint").alias("id"),
            F.when(F.col("id") == 0, F.lit(None).cast("bigint"))
            .otherwise(F.col("id") - 1)
            .alias("parent"),
        )

    deepest = {
        r["id"]: r
        for r in pointer_double_flatten(chain(33), rounds=5).collect()
    }[32]
    assert (deepest["anc"], deepest["d"]) == (0, 32)
    assert deepest["s"] == sum(range(32))  # strict ancestors 0..31

    over = {
        r["id"]: r
        for r in pointer_double_flatten(chain(34), rounds=5).collect()
    }[33]
    assert (over["anc"], over["d"]) == (1, 32), "depth 33 must NOT resolve in 5 rounds"

    over6 = {
        r["id"]: r
        for r in pointer_double_flatten(chain(34), rounds=6).collect()
    }[33]
    assert (over6["anc"], over6["d"]) == (0, 33)


def test_w20_ohlc_python_replay(spark, sf_dir):
    """w20: a straight-Python per-(user, 30-min bucket) fold reproduces
    every bar — open/close from the (micros, cents) total order, high/low
    extrema, VWAP as the float division of the two exact integer sums —
    and the OHLC invariants hold (low <= open/close <= high,
    low <= vwap <= high whenever volume > 0)."""
    import json as _json
    from decimal import Decimal

    import pandas as pd

    from ez_cdc_spark.queries import load_all

    rows = load_all()["w20_ohlc_bars"].fn(spark, sf_dir).collect()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    bars = {}
    epoch0 = pd.Timestamp("1970-01-01")
    for r in ev.itertuples():
        micros = (r.ts - epoch0) // pd.Timedelta(microseconds=1)
        bucket = (micros // 1_000_000) // 1800 * 1800
        cents = int(Decimal(str(r.value)).quantize(Decimal("0.01")) * 100)
        vol = int(_json.loads(r.props)["k"])
        key = (int(r.user_id), bucket)
        b = bars.setdefault(
            key, {"o": (micros, cents), "c": (micros, cents), "hi": cents,
                  "lo": cents, "pv": 0, "v": 0, "n": 0}
        )
        b["o"] = min(b["o"], (micros, cents))
        b["c"] = max(b["c"], (micros, cents))
        b["hi"] = max(b["hi"], cents)
        b["lo"] = min(b["lo"], cents)
        b["pv"] += cents * vol
        b["v"] += vol
        b["n"] += 1
    assert len(rows) == len(bars)
    for r in rows:
        bucket = int(
            (pd.Timestamp(r["wstart"]) - epoch0) // pd.Timedelta(seconds=1)
        )
        b = bars[(r["user_id"], bucket)]
        assert r["open_cents"] == b["o"][1] and r["close_cents"] == b["c"][1]
        assert r["high_cents"] == b["hi"] and r["low_cents"] == b["lo"]
        assert r["volume"] == b["v"] and r["n_events"] == b["n"]
        if b["v"] > 0:
            assert r["vwap_cents"] == b["pv"] / b["v"]  # bit-identical division
            assert b["lo"] <= r["vwap_cents"] <= b["hi"]
        else:
            assert r["vwap_cents"] is None
        assert b["lo"] <= r["open_cents"] <= b["hi"]
        assert b["lo"] <= r["close_cents"] <= b["hi"]


def _py_shingle_sets(sf_dir):
    import re as _re

    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    sets = {}
    for r in docs.itertuples():
        ws = _re.split(r"\s+", r.text)
        if len(ws) < 3:
            continue
        ss = {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        if ss:
            sets[int(r.doc_id)] = ss
    return sets


def test_x61_prefix_candidates_complete_and_output_exact(spark, sf_dir):
    """x61's two load-bearing claims, against an independent Python
    reimplementation: (1) COMPLETENESS — every pair with shingle-set
    Jaccard >= 1/2 collides within the rarest-first prefixes of length
    |d| - ceil(|d|/2) + 1 (the prefix-filter theorem, empirically pinned
    on the real corpus), and (2) EXACTNESS — the operator's output is
    precisely the brute-force all-pairs J >= 1/2 relation, including the
    integer intersection sizes and the division-exact jaccard values."""
    from collections import Counter
    from math import ceil

    from ez_cdc_spark.queries import load_all

    sets = _py_shingle_sets(sf_dir)
    ids = sorted(sets)
    exact = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a]) + len(sets[b]) - inter
            if 2 * inter >= union:
                exact[(a, b)] = (len(sets[a]), len(sets[b]), inter, inter / union)
    assert exact, "fixture must contain qualifying near-dup pairs"

    freq = Counter()
    for ss in sets.values():
        freq.update(ss)
    prefixes = {}
    for d, ss in sets.items():
        ordered = sorted(ss, key=lambda s: (freq[s], s))
        plen = len(ss) - ceil(len(ss) / 2) + 1
        prefixes[d] = {s: i + 1 for i, s in enumerate(ordered[:plen])}  # 1-based pos

    def survives_candidate_stage(a, b):
        """Model the operator's FULL candidate rule: prefix collision +
        length filter + positional filter (tau = 1/2 -> num=1, den=2)."""
        na, nb = len(sets[a]), len(sets[b])
        if not (1 * na <= 2 * nb and 1 * nb <= 2 * na):  # length filter
            return False
        for s, i in prefixes[a].items():
            j = prefixes[b].get(s)
            if j is None:
                continue
            ubound = 1 + min(na - i, nb - j)
            if (1 + 2) * ubound >= 1 * (na + nb):  # positional filter
                return True
        return False

    for a, b in exact:
        assert survives_candidate_stage(a, b), (
            f"candidate stage dropped qualifying pair {(a, b)} — "
            "prefix/length/positional completeness broken"
        )
    # negative control (s24-style): the completeness assertion above must
    # have TEETH on this corpus — prefixes cut 5 below the theorem's length
    # provably DO miss a qualifying pair, so a regression that silently
    # shortens the prefix would be caught, not vacuously passed.
    short = {
        d: set(sorted(ss, key=lambda s: (freq[s], s))[: max(len(ss) - ceil(len(ss) / 2) + 1 - 5, 0)])
        for d, ss in sets.items()
    }
    assert any(not (short[a] & short[b]) for a, b in exact), (
        "negative control vacuous: even 5-short prefixes caught every pair"
    )

    rows = load_all()["x61_prefix_filter_join"].fn(spark, sf_dir).collect()
    got = {
        (r["id_a"], r["id_b"]): (r["n_a"], r["n_b"], r["inter_size"], r["jaccard"])
        for r in rows
    }
    assert got == exact


def test_x62_python_replay(spark, sf_dir):
    """x62: an independent pandas replay of the whole pipeline — distinct
    items, support prune at 30, per-basket top-5 by (support desc, partkey),
    unordered in-basket pairs, pair support >= 2 — reproduces the operator
    exactly, and the map-side explosion bound holds (<= C(5,2) pairs per
    basket)."""
    from collections import Counter

    import pandas as pd

    from ez_cdc_spark.queries import load_all

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"]
    ).drop_duplicates()
    support = li.groupby("l_partkey").size()
    frequent = set(support[support >= 30].index)
    pair_support = Counter()
    for _, grp in li[li.l_partkey.isin(frequent)].groupby("l_orderkey"):
        items = sorted(
            (int(pk) for pk in grp.l_partkey),
            key=lambda pk: (-int(support[pk]), pk),
        )[:5]
        pairs = {
            (min(a, b), max(a, b))
            for i, a in enumerate(items)
            for b in items[i + 1 :]
        }
        assert len(pairs) <= 10  # C(5,2): the map-side bound
        pair_support.update(pairs)
    expect = {p: c for p, c in pair_support.items() if c >= 2}
    rows = load_all()["x62_cooccurrence_pairs"].fn(spark, sf_dir).collect()
    got = {(r["item_a"], r["item_b"]): r["pair_support"] for r in rows}
    assert got == expect


def test_x63_bm25_python_replay_and_margins(spark, sf_dir):
    """x63: (1) margin guard — every idf's ln lands >= 1e-3 away from the
    ROUND(,6) boundary on this corpus (the x34/x59 rule that makes the
    6-dp cross-engine rounding safe), (2) the integer saturation factors
    stay under 2^53 (exact-double territory), and (3) a straight-Python
    BM25 replay (same idf/saturation/ROUND(,12) recipe) reproduces every
    score bit-for-bit."""
    import re as _re
    from collections import Counter
    from decimal import Decimal
    from math import log

    import pandas as pd

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries.pipeline_ops import _BM25_TERMS

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    dl, tf = {}, {}
    dfq = Counter()
    for r in docs.itertuples():
        ws = _re.split(r"\s+", r.text)
        dl[int(r.doc_id)] = len(ws)
        c = Counter(w for w in ws if w in _BM25_TERMS)
        if c:
            tf[int(r.doc_id)] = dict(c)
            dfq.update(c.keys())
    n_docs, total = len(dl), sum(dl.values())
    idf = {}
    for term, df_ in dfq.items():
        x = log((n_docs - df_ + 0.5) / (df_ + 0.5) + 1)
        assert abs(x * 1e6 - round(x * 1e6)) > 1e-3, (term, x)  # margin guard
        idf[term] = Decimal(str(round(x, 6)))
    expect = {}
    for d, terms in tf.items():
        score = Decimal(0)
        for term, tfreq in terms.items():
            num = 22 * total * tfreq
            den = 10 * total * tfreq + 3 * total + 9 * dl[d] * n_docs
            assert num < 2**53 and den < 2**53
            score += Decimal(str(round(float(idf[term]) * (num / den), 12)))
        expect[d] = (dl[d], len(terms), float(score))
    rows = load_all()["x63_bm25_retrieval"].fn(spark, sf_dir).collect()
    got = {r["doc_id"]: (r["dl"], r["n_terms"], r["bm25"]) for r in rows}
    assert got == expect


def test_f_interval_month_clamp_python_replay(spark, sf_dir):
    """f_interval: the year-month additions must apply the END-OF-MONTH
    clamp identically to a straight-Python calendar replay (Jan 31 + 1
    month = Feb 28/29) — the fixture carries 1000+ day>=29 order dates, so
    this is exercised for real, and the day-time arithmetic must be exact
    second arithmetic (no DST/locale surprises under the pinned-UTC
    session)."""
    import calendar
    import datetime as dt

    import pandas as pd

    from ez_cdc_spark.queries import load_all

    rows = load_all()["f_interval"].fn(spark, sf_dir).collect()
    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_orderdate"])
    o = o[o.o_orderkey <= 2000]

    def add_months(d, months):
        y, m = divmod((d.year * 12 + d.month - 1) + months, 12)
        m += 1
        day = min(d.day, calendar.monthrange(y, m)[1])
        return d.replace(year=y, month=m, day=day)

    expect = {}
    for r in o.itertuples():
        d = r.o_orderdate.to_pydatetime()
        expect[int(r.o_orderkey)] = (
            (d + dt.timedelta(days=3, hours=4, minutes=5, seconds=6)).strftime(
                "%Y-%m-%d %H:%M:%S"
            ),
            add_months(d, 14).strftime("%Y-%m-%d"),
            (d - dt.timedelta(days=10)).strftime("%Y-%m-%d %H:%M:%S"),
            add_months(d, 6).strftime("%Y-%m-%d"),
            (dt.datetime(1998, 1, 1) - d).days,
        )
    assert len(rows) == len(expect)
    clamped = 0
    for r in rows:
        plus_dt, plus_ym, minus_dt, plus_2q, days = expect[r["o_orderkey"]]
        assert (r["plus_dt"], r["plus_ym"], r["minus_dt"], r["plus_2q"]) == (
            plus_dt,
            plus_ym,
            minus_dt,
            plus_2q,
        ), r["o_orderkey"]
        assert r["days_to_98"] == days
        assert r["hours_to_98"] == days * 24  # midnight-aligned fixture
        clamped += 1 if r["plus_ym"][-2:] == "28" else 0
    assert clamped > 0, "fixture must exercise the end-of-month clamp"


def test_shared_shingle_sets_representation_equality(spark, sf_dir):
    """r11 verdict #4: the session-shared shingle-set table is the SAME
    unit both dedup families consume — hashing the shared distinct raw
    shingle set per doc must equal the x2 family's own shingle_hashes
    output as a SET (distinct commutes with the per-element hash), and the
    shared table must be the x61 path's set table verbatim (same doc_ids,
    same sets, same sizes)."""
    import pyspark.sql.functions as F

    from ez_cdc_spark.operators.dedup import portable_hash32, shingle_hashes, shingle_sets
    from ez_cdc_spark.functions.text import words
    from ez_cdc_spark.queries._util import t

    d = t(spark, sf_dir, "documents")
    shared = shingle_sets(d)
    hashed_shared = {
        r["doc_id"]: frozenset(r["h"])
        for r in shared.select(
            "doc_id", F.transform("ss", lambda s: portable_hash32(s)).alias("h")
        ).collect()
    }
    own = {
        r["doc_id"]: frozenset(r["h"])
        for r in d.select(F.col("doc_id"), words(F.col("text")).alias("ws"))
        .select("doc_id", shingle_hashes(F.col("ws"), 3, portable=True).alias("h"))
        .filter(F.size("h") > 0)
        .collect()
    }
    assert hashed_shared == own and len(own) > 0

    # and the memoized instance is served object-identical within a session
    from ez_cdc_spark.queries.extensions import _shared_shingle_sets

    assert _shared_shingle_sets(spark, sf_dir) is _shared_shingle_sets(spark, sf_dir)


def test_a24_rank_sketch_error_bound_and_mergeability(spark, sf_dir):
    """a24's two contracts, against an independent Python reimplementation:
    (1) a-priori relative error — for every (group, q) the estimate lb
    satisfies lb <= true_q < lb * (1 + 2^-7) + 1 (the true quantile lies in
    the picked bucket, whose width is < lb/128); (2) mergeability — bucket
    histograms built per shard and summed equal the single-pass histogram
    (counts ADD, the a16 register discipline)."""
    import math

    import pandas as pd

    from ez_cdc_spark.queries import load_all

    rows = load_all()["a24_hdr_rank_sketch"].fn(spark, sf_dir).collect()
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_returnflag", "l_extendedprice"]
    )
    li["cents"] = (li.l_extendedprice.round(2) * 100).round().astype("int64")
    qmap = {"p25": (1, 4), "p50": (2, 4), "p75": (3, 4), "p90": (9, 10)}
    assert len(rows) == 3 * len(qmap)
    for r in rows:
        vals = sorted(li[li.l_returnflag == r.l_returnflag].cents)
        num, den = qmap[r.q_label]
        true_q = vals[(len(vals) * num + den - 1) // den - 1]
        assert r.n == len(vals)
        assert r.est_cents <= true_q, (r.q_label, r.est_cents, true_q)
        assert true_q < r.est_cents * (1 + 1 / 128) + 1, (r.q_label, r.est_cents, true_q)

    def bucket(v):
        shift = max(v.bit_length() - 8, 0)
        return (v >> shift) << shift

    # mergeability: 5 hash-shards' histograms summed == the global histogram
    from collections import Counter

    global_hist = Counter(bucket(v) for v in li.cents)
    shards = [Counter() for _ in range(5)]
    for i, v in enumerate(li.cents):
        shards[i % 5][bucket(v)] += 1
    merged = Counter()
    for s in shards:
        merged.update(s)
    assert merged == global_hist and len(global_hist) > 100


def test_w21_matches_independent_python_pipeline(spark, sf_dir):
    """w21 against a from-scratch pandas/python reimplementation of the
    WHOLE pipeline (bars by floor-epoch bucketing + last-(ts,cents) close,
    then trailing-7 lower-median/MAD fence) — independent of both the
    Spark expression and the DuckDB oracle SQL."""
    import pandas as pd

    from ez_cdc_spark.queries import load_all

    rows = load_all()["w21_ohlc_bar_anomaly"].fn(spark, sf_dir).collect()
    got = {(r.user_id, r.wstart): (r.close_cents, r.frame_n, r.med_cents, r.mad_cents) for r in rows}

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "ts", "value"])
    ev["cents"] = (ev.value.round(2) * 100).round().astype("int64")
    ev["bucket"] = (ev.ts.astype("int64") // 10**6 // 1800) * 1800
    # close = cents of the max (ts_micros, cents) pair per (user, bucket)
    ev["ordk"] = list(zip(ev.ts.astype("int64"), ev.cents))
    bars = (
        ev.groupby(["user_id", "bucket"])["ordk"].max().apply(lambda t: t[1]).reset_index(name="close")
    )
    expect = {}
    for uid, g in bars.sort_values(["user_id", "bucket"]).groupby("user_id"):
        closes = list(g.close)
        buckets = list(g.bucket)
        for i in range(len(closes)):
            frame = sorted(closes[max(0, i - 6) : i + 1])
            n = len(frame)
            if n < 5:
                continue
            med = frame[(n + 1) // 2 - 1]
            mad = sorted(abs(x - med) for x in frame)[(n + 1) // 2 - 1]
            if abs(closes[i] - med) > 3 * mad:
                ws = pd.Timestamp(buckets[i], unit="s").strftime("%Y-%m-%d %H:%M:%S")
                expect[(int(uid), ws)] = (closes[i], n, med, mad)
    assert got == expect and len(expect) > 0


def test_x64_planted_neardup_recall(spark, sf_dir):
    """x64's detection property: paraphrase-perturbed copies of corpus docs
    (every 20th word dropped — a format/paraphrase shift that leaves NO
    shared exact 5-gram guarantee but keeps shingle-Jaccard ~0.85) planted
    as benchmark docs (id = 7 * base, so % 7 == 0) must ALL be recovered
    by the LSH probe at J >= 0.5 against their source doc. At J ~ 0.85 the
    16-band/4-row S-curve's miss probability is < 1e-5 per pair, and the
    hashes are fixed, so this is deterministic on the fixture."""
    import pyspark.sql.functions as F

    from ez_cdc_spark.operators.dedup import (
        lsh_probe_pairs,
        portable_hash32,
        shingle_sets,
    )
    from ez_cdc_spark.queries._util import t

    base = (
        t(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 7 != 0) & (F.size(F.split("text", r"\s+")) >= 40))
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(30)
        .collect()
    )
    assert len(base) == 30

    def perturb(text):
        ws = text.split()
        return " ".join(w for i, w in enumerate(ws) if i % 20 != 19)

    rows = [(r.doc_id, r.text) for r in base] + [
        (7 * r.doc_id, perturb(r.text)) for r in base
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    shingled = shingle_sets(docs).select(
        "doc_id",
        F.array_distinct(F.transform("ss", lambda s: portable_hash32(s))).alias(
            "shingles"
        ),
    )
    found = {
        (r.probe_id, r.corpus_id)
        for r in lsh_probe_pairs(shingled, (F.col("doc_id") % 7) == 0)
        .filter(F.col("jaccard") >= 0.5)
        .collect()
    }
    planted = {(7 * r.doc_id, r.doc_id) for r in base}
    missed = planted - found
    assert not missed, f"planted near-dups not recovered: {sorted(missed)[:5]}"
    # structural: the probe never emits corpus x corpus or bench x bench
    assert all(p % 7 == 0 and c % 7 != 0 for p, c in found)


def test_x65_reconciles_exactly_with_x64(spark, sf_dir):
    """x65's accounting must reconcile EXACTLY with x64's report: per
    source, n_removed equals the count of x64's flagged corpus doc ids in
    that source, and n_docs = n_removed + n_kept."""
    from collections import Counter

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries._util import t

    reg = load_all()
    x64 = reg["x64_neardup_contamination"].fn(spark, sf_dir).collect()
    x65 = reg["x65_contamination_removal"].fn(spark, sf_dir).collect()
    flagged_ids = {r.corpus_id for r in x64}
    src = {
        r.doc_id: r.source
        for r in t(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .filter("doc_id % 7 != 0")
        .collect()
    }
    removed_by_source = Counter(src[i] for i in flagged_ids)
    for r in x65:
        assert r.n_docs == r.n_removed + r.n_kept, r
        assert r.n_removed == removed_by_source.get(r.source, 0), r
    assert sum(r.n_removed for r in x65) == len(flagged_ids) > 0


def test_a24_bucket_math_invariants_hypothesis():
    """a24's bucket function over the whole positive-int64 domain (pure
    Python mirror of the shared Spark/DuckDB expression): the bucket lower
    bound never exceeds the value, the bucket width never exceeds lb/128
    (the a-priori 2^-7 relative error), small values (< 2^8) bucket to
    themselves exactly, and bucketing is monotone non-decreasing."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def bucket(v: int) -> int:
        shift = max(v.bit_length() - 8, 0)
        return (v >> shift) << shift

    @settings(max_examples=500, deadline=None)
    @given(st.integers(min_value=1, max_value=2**62))
    def check(v):
        lb = bucket(v)
        shift = max(v.bit_length() - 8, 0)
        assert lb <= v < lb + (1 << shift)
        if shift:
            assert (1 << shift) * 128 <= lb, "width must be < lb/128"
        else:
            assert lb == v, "sub-256 values are exact buckets"
        assert bucket(v) <= bucket(v + 1), "bucketing must be monotone"

    check()


merge_events = st.lists(
    st.tuples(
        st.integers(0, 9),  # key (small domain -> multi-event keys)
        st.sampled_from(["c", "u", "d"]),
        st.integers(0, 99),  # payload discriminator
        st.integers(0, 30),  # seq (duplicates possible -> tie-break path)
    ),
    min_size=1,
    max_size=12,
)


@settings(**SETTINGS)
@given(events=merge_events, base_keys=st.sets(st.integers(0, 9), max_size=6))
def test_s30_merge_equals_python_replay(spark, events, base_keys):
    """s30 merge_cow state == pure-Python last-event-wins replay of the
    same change batch over the same base table, for arbitrary op/seq
    interleavings on a colliding key domain (updates of absent keys land
    as inserts, deletes of absent keys are no-ops, the max-(seq, op,
    payload) winner is deterministic even under duplicate seqs)."""
    td = tempfile.mkdtemp(prefix="prop_merge_")
    try:
        from ez_cdc_spark.sources.manifest import merge_cow, publish, read_committed

        base = [(k, f"base{k}") for k in sorted(base_keys)]
        bdf = spark.createDataFrame(base or [(None, None)], "k int, v string")
        if not base:
            bdf = bdf.filter("k IS NOT NULL")
        publish(bdf, td, generation=1, stats_columns=["k"])

        cdf = spark.createDataFrame(
            [(k, f"p{payload}", op, seq) for k, op, payload, seq in events],
            "k int, v string, op string, seq int",
        )
        merge_cow(spark, td, cdf, key_col="k", generation=2)
        got = {r["k"]: r["v"] for r in read_committed(spark, td).collect()}

        # Python replay: per key, the (seq, op, payload-struct) max wins —
        # mirror merge_cow's deterministic struct ordering exactly
        last = {}
        for k, op, payload, seq in events:
            cand = (seq, op, f"p{payload}")
            if k not in last or cand > last[k]:
                last[k] = cand
        expect = {k: v for k, v in base}
        for k, (_, op, val) in last.items():
            if op == "d":
                expect.pop(k, None)
            else:
                expect[k] = val
        assert got == expect
    finally:
        shutil.rmtree(td, ignore_errors=True)


ss_stream = st.lists(
    st.integers(0, 25).map(lambda i: f"t{i:02d}"),  # 26-token domain
    min_size=1,
    max_size=400,
)


def _ss_run(stream, m, batch_size=7):
    """Fold a token stream through ss_fold in fixed-size batches (exact
    per-batch counts, like ss_partials' value_counts)."""
    from collections import Counter

    from ez_cdc_spark.operators.sketches import ss_fold, ss_mu

    state, heap = {}, []
    for i in range(0, len(stream), batch_size):
        batch = dict(Counter(stream[i : i + batch_size]))
        state, heap = ss_fold(state, heap, batch, m)
    return state, ss_mu(state, m)


@settings(max_examples=60, deadline=None)
@given(stream=ss_stream, m=st.integers(2, 8))
def test_a25_spacesaving_invariants_under_eviction(stream, m):
    """a25 eviction-regime guarantees (pure-Python, no Spark): with m far
    below the token domain the summary genuinely evicts, and still (1)
    est >= true >= est - err for every summarized token, (2) an absent
    token's true count <= mu, (3) mu <= N/m so every token with true
    count > N/m is summarized, (4) the summary never exceeds m entries."""
    from collections import Counter

    true = Counter(stream)
    state, mu = _ss_run(stream, m)
    n = len(stream)

    assert len(state) <= m
    for tok, (est, err) in state.items():
        assert est >= true[tok] >= est - err, (tok, est, err, true[tok])
    for tok, c in true.items():
        if tok not in state:
            assert c <= mu, (tok, c, mu)
    assert mu <= n // m + (n % m > 0)  # mu <= ceil(N/m) (integer form of N/m)
    for tok, c in true.items():
        if c > n / m:
            assert tok in state, (tok, c, n, m)


@settings(max_examples=40, deadline=None)
@given(
    stream=ss_stream,
    m=st.integers(2, 8),
    n_parts=st.integers(1, 4),
)
def test_a25_spacesaving_merge_rule_preserves_bounds(stream, m, n_parts):
    """a25 merge rule (mergeable summaries): shard the stream, summarize
    each shard independently, merge with the absent-shard (mu_p, mu_p)
    contribution — and the merged (est, err) still bracket every token's
    TRUE global count, including tokens absent from some (or all) shards."""
    from collections import Counter

    true = Counter(stream)
    shards = [stream[i::n_parts] for i in range(n_parts)]
    summaries = [_ss_run(s, m) for s in shards]
    mu_total = sum(mu for _, mu in summaries)

    for tok, c in true.items():
        est = err = 0
        for state, mu in summaries:
            if tok in state:
                est += state[tok][0]
                err += state[tok][1]
            else:
                est += mu
                err += mu
        assert est >= c >= est - err, (tok, est, err, c)
    # a token absent from EVERY summary is bounded by mu_total
    for tok, c in true.items():
        if all(tok not in state for state, _ in summaries):
            assert c <= mu_total


def test_a25_spacesaving_exact_mode_is_exact_and_eviction_fires():
    """a25 exact-mode anchor + a non-vacuity check on the eviction tests:
    with m >= distinct tokens the summary is the exact histogram (err == 0,
    mu == 0); with m == 3 over a 10-token stream, eviction demonstrably
    fires (mu > 0, summary pinned at m entries, and at least one est
    carries a nonzero inherited err)."""
    from collections import Counter

    # hot count 150 > N/m = 350/3: survival is THEORY-guaranteed, not luck
    stream = [f"t{i % 10:02d}" for i in range(200)] + ["hot"] * 150
    true = Counter(stream)

    state, mu = _ss_run(stream, m=64)
    assert mu == 0 and len(state) == len(true)
    assert {t: v[0] for t, v in state.items()} == dict(true)
    assert all(v[1] == 0 for v in state.values())

    state, mu = _ss_run(stream, m=3)
    assert len(state) == 3 and mu > 0
    assert any(v[1] > 0 for v in state.values()), "eviction must have fired"
    assert "hot" in state, "the true heavy hitter must survive m=3"


# S35 change-feed property: a randomized keyed table + a randomized CDC
# batch (updates that may be no-ops, deletes of present or absent keys,
# inserts) — change_feed(1, 2) must equal the pure-Python keyed diff of the
# declarative states. Exercises cancellation of rewrite-carried rows,
# no-op-update invisibility, and the four Delta change types together.
change_batch = st.lists(
    st.tuples(
        st.integers(0, 24),  # key (overlaps and misses the seeded 0..15)
        st.sampled_from(["u", "d", "c"]),
        st.integers(0, 3),  # new value domain, small so no-op updates occur
    ),
    min_size=0,
    max_size=10,
    unique_by=lambda r: r[0],  # one event per key: feed diff is per-key
)


@settings(**SETTINGS)
@given(batch=change_batch)
def test_s35_change_feed_matches_python_diff(spark, sf_dir, batch):
    import shutil as _sh

    from ez_cdc_spark.sources.manifest import change_feed, merge_cow, publish
    from ez_cdc_spark.streaming.replay import rig_dir

    td = rig_dir(sf_dir, "s35prop")
    _sh.rmtree(td, ignore_errors=True)
    seed = {k: k % 3 for k in range(16)}  # value domain overlaps the batch's
    df = spark.createDataFrame(
        [(k, v) for k, v in seed.items()], "k bigint, v int"
    )
    publish(df.repartitionByRange(4, "k"), td, generation=1, stats_columns=["k"])

    state2 = dict(seed)
    for k, op, v in batch:
        if op == "d":
            state2.pop(k, None)
        else:  # 'u' and 'c' both upsert under last-event-wins
            state2[k] = v
    changes = spark.createDataFrame(
        [(k, v, op, 1) for k, op, v in batch] or [(999, 0, "d", 1)],
        "k bigint, v int, op string, seq int",
    )
    merge_cow(spark, td, changes, key_col="k", generation=2)

    want = set()
    for k in set(seed) | set(state2):
        before, after = seed.get(k), state2.get(k)
        if before == after:
            continue  # untouched or no-op update: invisible to the feed
        if before is None:
            want.add(("insert", k, after))
        elif after is None:
            want.add(("delete", k, before))
        else:
            want.add(("update_preimage", k, before))
            want.add(("update_postimage", k, after))

    got = {
        (r["_change_type"], r["k"], r["v"])
        for r in change_feed(spark, td, 1, 2, key_col="k").collect()
    }
    assert got == want, (sorted(got - want), sorted(want - got))


def test_x66_gram_moments_layout_invariant_and_psd(spark):
    """gram_moments (x66): the integer moments are EXACTLY invariant to
    partition layout (the quantize-first design's whole point — no
    float-sum ordering), agree with a naive driver-side numpy recompute,
    and the derived covariance matrix is positive semi-definite."""
    import numpy as np

    from ez_cdc_spark.functions.similarity import gram_moments
    from ez_cdc_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    rows1 = {
        (r["i"], r["j"]): (r["n"], r["sum_i"], r["sum_j"], r["dot"])
        for r in gram_moments(emb).collect()
    }
    rows2 = {
        (r["i"], r["j"]): (r["n"], r["sum_i"], r["sum_j"], r["dot"])
        for r in gram_moments(emb.repartition(13)).collect()
    }
    assert rows1 == rows2  # bit-exact across layouts

    # naive recompute
    pdf = emb.toPandas()
    M = np.floor(
        np.vstack(pdf["embedding"].to_numpy()).astype("float64") * 1000 + 0.5
    ).astype("int64")
    G = M.T @ M
    S = M.sum(axis=0)
    n = M.shape[0]
    d = M.shape[1]
    for i in range(d):
        for j in range(i, d):
            assert rows1[(i, j)] == (n, S[i], S[j], G[i, j]), (i, j)

    # covariance matrix is PSD (a real second-moment matrix)
    cov = (G * n - np.outer(S, S)) / (n * n)
    eig = np.linalg.eigvalsh(cov)
    assert eig.min() > -1e-6
