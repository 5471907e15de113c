"""CrawlEngine(robots_texts=...) — full RFC 9309 wildcard matching in
the wave loop: Disallow with a trailing-$ wildcard prunes exactly the
matching case pages, an Allow carve-out (longer pattern) punches back
through, and a host with an empty file crawls identically to the
default engine."""

from __future__ import annotations

from datetime import date

import pytest

from indigent_defense_stats_spark import synth
from indigent_defense_stats_spark.plans.frontier import CrawlEngine

START = date(2024, 7, 1)
N_DAYS = 4

WILD = (
    "User-agent: *\n"
    "Disallow: /CaseDetail.aspx*5$\n"
    "Allow: /CaseDetail.aspx?CaseID=*15$\n"
)


@pytest.fixture(scope="module")
def reg():
    return synth.make_registry(2, n_scrape=2)


def _run(spark, tmp_path_factory, reg, **kw):
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("rfc")),
        reg,
        START,
        N_DAYS,
        n_buckets=4,
        **kw,
    )
    eng.run()
    return eng


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory, reg):
    return _run(spark, tmp_path_factory, reg)


@pytest.fixture(scope="module")
def rfc(spark, tmp_path_factory, reg):
    return _run(
        spark,
        tmp_path_factory,
        reg,
        robots_texts={"portal-0.example": WILD, "portal-1.example": ""},
    )


def _d4(engine, host):
    return {
        r["canonical_url"]
        for r in engine.fetch_log().collect()
        if r["depth"] == 4 and r["host"] == host
    }


def test_wildcard_rules_prune_matching_case_pages(base, rfc):
    b0, r0 = _d4(base, "portal-0.example"), _d4(rfc, "portal-0.example")
    # exactly the *5$-but-not-*15$ case pages are gone
    expect = {
        u for u in b0 if not (u.endswith("5") and not u.endswith("15"))
    }
    assert r0 == expect
    assert r0 < b0  # something was actually pruned


def test_allow_carveout_reaches_fetch(base, rfc):
    """Any baseline case id ending in 15 must survive the Disallow."""
    b15 = {u for u in _d4(base, "portal-0.example") if u.endswith("15")}
    assert b15 <= _d4(rfc, "portal-0.example")


def test_empty_robots_text_host_unchanged(base, rfc):
    assert _d4(rfc, "portal-1.example") == _d4(base, "portal-1.example")
