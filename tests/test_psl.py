"""eTLD+1 registrable-domain rollup: a brute-force Python replay,
adversarial shapes (the PSL miss path, a host that IS a public
suffix), and the single-aggregate plan contract."""

from __future__ import annotations

import pyspark.sql.functions as F

from indigent_defense_stats_spark.operators import psl as P

SF_DIR = "/root/testdata/sf0.001"


def _py_registrable(host: str) -> tuple[str | None, str | None]:
    labels = host.split(".")
    best = None
    for k in range(1, len(labels) + 1):
        if ".".join(labels[-k:]) in P.PSL:
            best = k
    if best is None:
        return None, None
    sfx = ".".join(labels[-best:])
    reg = ".".join(labels[-(best + 1):]) if best < len(labels) else None
    return sfx, reg


def test_split_registrable_adversarial_hosts(spark):
    hosts = [
        "www.hays.co.uk",       # multi-level suffix beats 'uk'
        "portal.travis.tx.us",  # multi-level beats 'us'
        "a.b.example.com",      # deep subdomain -> example.com
        "cases.bexar.internal", # miss path -> (NULL, NULL)
        "co.uk",                # host IS a public suffix -> (co.uk, NULL)
        "example.com",          # bare registrable
    ]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    sfx, reg = P.split_registrable(F.col("host"))
    got = {
        r["host"]: (r["s"], r["r"])
        for r in df.select("host", sfx.alias("s"), reg.alias("r")).collect()
    }
    for h in hosts:
        assert got[h] == _py_registrable(h), h
    assert got["www.hays.co.uk"] == ("co.uk", "hays.co.uk")
    assert got["co.uk"] == ("co.uk", None)
    assert got["cases.bexar.internal"] == (None, None)


def test_registrable_stats_cover_miss_and_multilevel(spark):
    rows = P.registrable_domain_stats(spark, SF_DIR).collect()
    by_sfx = {}
    for r in rows:
        by_sfx.setdefault(r["public_suffix"], 0)
        by_sfx[r["public_suffix"]] += r["n_docs"]
        assert r["n_hosts"] <= r["n_docs"]
        if r["registrable_domain"] != "(none)":
            # within a matched group the host varies only by subdomain
            assert r["n_hosts"] <= len(P.SUBS)
        else:
            # the miss group pools every 'internal' host
            assert r["n_hosts"] <= len(P.SUBS) * len(P.DOMS)
    # the 'internal' suffix is unmatched -> lands in '(none)'
    assert "(none)" in by_sfx
    assert "co.uk" in by_sfx and "tx.us" in by_sfx
    # every document is in exactly one group
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert sum(by_sfx.values()) == n_docs


def test_registrable_plan_single_aggregate(spark):
    plan = P.registrable_domain_stats(spark, SF_DIR)._jdf.queryExecution(
    ).executedPlan().toString()
    # the distinct aggregate (n_hosts) plans as the standard two-phase
    # expansion: one exchange on (group, host), one on the group — both
    # linear, map-side-combined; pin that exact budget
    assert plan.count("Exchange hashpartitioning") == 2
    assert "EvalPython" not in plan
