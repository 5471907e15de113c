"""Sketches (operators/sketches.py): the CMS contract (never
underestimates; overestimate bounded by collision mass), hand-corpus
exactness, the broadcast probe plan, and the HLL register table's
mergeability + estimate sanity.  Exact cross-engine cell/register
values are covered by scripts/check_oracles.py."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from indigent_defense_stats_spark.operators import sketches

SF_DIR = "/root/testdata/sf0.001"

_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _write_docs(spark, tmp_path, texts):
    d = str(tmp_path / "docs")
    rows = [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(rows, _SCHEMA).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    return d


def test_cms_never_underestimates_and_bounded(spark):
    """est >= cnt always; min-over-rows overestimate stays within a
    few expected-collision-masses (e*N/W is the classic epsilon)."""
    out = sketches.cms_heavy_hitters(spark, SF_DIR).collect()
    assert out, "sf0.001 must produce heavy hitters"
    n = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("t"))
        .count()
    )
    bound = 3 * n / sketches.CMS_W
    for r in out:
        assert r["cms_est"] >= r["cnt"], r
        assert r["cms_est"] - r["cnt"] <= bound, (r, bound)
        # heavy-hitter predicate itself
        assert r["cnt"] * sketches.HH_DEN >= n


def test_cms_exact_on_tiny_vocabulary(spark, tmp_path):
    """Two tokens can only over-count if they collide in ALL CMS_D
    rows — with independent md5 rows that never happens, so the probe
    returns the exact counts; the heavy set is exactly the threshold
    crossers."""
    d = _write_docs(spark, tmp_path, ["a a a a a a a a a a", "b a"])
    out = {r["token"]: r for r in sketches.cms_heavy_hitters(spark, d).collect()}
    # N = 12 tokens; both a (11) and b (1) pass cnt*500 >= 12
    assert set(out) == {"a", "b"}
    assert out["a"]["cnt"] == 11 and out["a"]["cms_est"] == 11
    assert out["b"]["cnt"] == 1 and out["b"]["cms_est"] == 1


def test_cms_probe_plan_broadcasts_cells(spark):
    """The 1,024-cell sketch and the single-row total must broadcast;
    a sort-merge join against the cell table would mean the sketch
    stopped being the small side."""
    plan = (
        sketches.cms_heavy_hitters(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hll_registers_merge_by_max(spark, tmp_path):
    """The 100 TB contract: register tables built on DISJOINT row
    subsets fold into the global table by element-wise max — so
    per-wave / per-executor sketches merge without revisiting rows."""
    src = "/root/testdata/sf0.001/events.parquet"
    ev = spark.read.parquet(src)
    d = tmp_path
    for par, name in [("event_id % 2 = 0", "even"), ("event_id % 2 = 1", "odd")]:
        ev.filter(par).write.mode("overwrite").parquet(
            str(d / name / "events.parquet")
        )
    whole = {
        (r["event_type"], r["reg"]): r["mj"]
        for r in sketches.hll_registers(spark, "/root/testdata/sf0.001").collect()
    }
    merged: dict = {}
    for name in ("even", "odd"):
        for r in sketches.hll_registers(spark, str(d / name)).collect():
            k = (r["event_type"], r["reg"])
            merged[k] = max(merged.get(k, 0), r["mj"])
    assert merged == whole


def _py_hll(user_ids):
    """Independent pure-Python HLL over the same hash family — a third
    implementation agreeing with both engines."""
    import hashlib

    regs: dict = {}
    for u in user_ids:
        h = int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)
        reg, suffix = h % sketches.HLL_M, h >> 6
        rho = 55 if suffix == 0 else (suffix & -suffix).bit_length()
        regs[reg] = max(regs.get(reg, 0), rho)
    cap = 1 << (sketches.HLL_SUFFIX_BITS + 1)
    s = sum(cap >> mj for mj in regs.values()) + (sketches.HLL_M - len(regs)) * cap
    raw = sketches._HLL_NUM / s
    if raw <= sketches._HLL_SMALL and len(regs) < sketches.HLL_M:
        return regs, sketches._HLL_LC[sketches.HLL_M - len(regs) - 1]
    return regs, raw


def test_hll_matches_pure_python_reference(spark, tmp_path):
    """Registers and the final estimate are BIT-equal to a from-scratch
    Python HLL on adversarial id sets (dense, sparse, power-of-two,
    single, duplicate-heavy)."""
    cases = [
        list(range(1, 2000)),
        [7],
        [2**k for k in range(1, 40)],
        [123456789 * k for k in range(1, 50)] * 3,
    ]
    for i, ids in enumerate(cases):
        d = tmp_path / f"c{i}"
        spark.createDataFrame(
            [(int(u), "t") for u in ids], "user_id long, event_type string"
        ).write.mode("overwrite").parquet(str(d / "events.parquet"))
        regs = {
            r["reg"]: r["mj"]
            for r in sketches.hll_registers(spark, str(d)).collect()
        }
        [row] = sketches.hll_distinct(spark, str(d)).collect()
        want_regs, want_est = _py_hll(ids)
        assert regs == want_regs, i
        assert row["hll_est"] == want_est, (i, row["hll_est"], want_est)
        assert row["exact_distinct"] == len(set(ids))


def test_lc_table_is_m_ln_m_over_v():
    # the shared literal table both engines read is m*ln(m/V)
    for v in (1, 13, 63):
        assert math.isclose(
            sketches._HLL_LC[v - 1],
            sketches.HLL_M * math.log(sketches.HLL_M / v),
            rel_tol=1e-12,
        )


def test_hll_estimate_tracks_exact(spark):
    """m=64 raw HLL: relative error on the sf0.001 event stream stays
    within the loose 2x band (the oracle pins exact cross-engine
    equality; this pins that the estimator is a real estimator)."""
    for r in sketches.hll_distinct(spark, "/root/testdata/sf0.001").collect():
        assert r["registers_hit"] <= sketches.HLL_M
        assert 0.5 * r["exact_distinct"] <= r["hll_est"] <= 2.0 * r["exact_distinct"], r


def test_bottomk_sample_matches_single_window(spark):
    """The two-phase (per-partition bottom-k -> merged bottom-k)
    sample equals the single global window's bottom-K per group:
    bottom-k of a union IS the bottom-k of merged bottom-ks, so the
    sketch is partition-independent."""
    from pyspark.sql import Window

    got = {
        r["grp"]: [(x["h"], x["k"]) for x in r["s"]]
        for r in sketches.bottomk_sample(spark, SF_DIR).collect()
    }
    base = sketches._bk_base(spark, SF_DIR)
    w = Window.partitionBy("grp").orderBy("h", "k")
    ref_rows = (
        base.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= sketches.BK_K)
        .collect()
    )
    ref: dict = {}
    for r in ref_rows:
        ref.setdefault(r["grp"], []).append((r["h"], r["k"]))
    assert got == {g: sorted(v) for g, v in ref.items()}


def test_bottomk_merge_law(spark):
    """Mergeability on disjoint halves: bottom-k(bottom-k(A) ∪
    bottom-k(B)) == bottom-k(A ∪ B) — the property that lets each
    crawl wave / executor keep K structs and the coordinator fold."""
    rows = sketches._bk_base(spark, SF_DIR).collect()
    by: dict = {}
    for r in rows:
        by.setdefault(r["grp"], []).append((r["h"], r["k"], r["v"]))
    k = sketches.BK_K
    for g, xs in by.items():
        whole = sorted(xs)[:k]
        h1 = sorted(x for x in xs if x[1] % 2 == 0)[:k]
        h2 = sorted(x for x in xs if x[1] % 2 == 1)[:k]
        assert sorted(h1 + h2)[:k] == whole, g


def test_bottomk_quantile_error_and_exactness(spark, tmp_path):
    """The K=128 sample estimate tracks the exact quantile on real
    groups (loose 30% relative band), and a group SMALLER than K
    degenerates to the exact quantile bit-for-bit (the sample is the
    whole group)."""
    for r in sketches.bottomk_quantiles(spark, SF_DIR).collect():
        assert r["k_used"] == min(sketches.BK_K, r["n"])
        for q in ("p50", "p90"):
            exact, est = r[f"exact_{q}"], r[f"est_{q}"]
            assert abs(est - exact) <= 0.3 * abs(exact), (r["o_orderpriority"], q)
    d = tmp_path / "tiny"
    spark.createDataFrame(
        [(i, float(100 + 7 * i), "1-URGENT") for i in range(10)],
        "o_orderkey long, o_totalprice double, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(d / "orders.parquet"))
    [row] = sketches.bottomk_quantiles(spark, str(d)).collect()
    assert row["k_used"] == row["n"] == 10
    assert row["est_p50"] == row["exact_p50"]
    assert row["est_p90"] == row["exact_p90"]
