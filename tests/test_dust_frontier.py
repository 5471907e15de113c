"""DUST + trap hooks composed into the crawl engine: mined rules
collapse URL aliases (one representative fetch per class), trap
templates never enter the frontier, and hosts without rules crawl
byte-identically to a hook-free engine."""

from __future__ import annotations

from datetime import date

import pytest

from indigent_defense_stats_spark import synth
from indigent_defense_stats_spark.plans.frontier import CrawlEngine

START = date(2024, 7, 1)
N_DAYS = 2
RULES_SCHEMA = (
    "host string, param string, evidence_groups long, "
    "violation_groups long, irrelevant boolean"
)
TRAP_SCHEMA = "host string, path_template string, trap boolean"
SEARCH_TMPL = "/Search.aspx?DateFiled&ID&JudicialOfficer"


@pytest.fixture(scope="module")
def reg():
    return synth.make_registry(2, n_scrape=2)


def _run(spark, tmp_path_factory, reg, **kw):
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("dustcrawl")),
        reg,
        START,
        N_DAYS,
        n_buckets=4,
        **kw,
    )
    eng.run()
    return eng


@pytest.fixture(scope="module")
def baseline(spark, tmp_path_factory, reg):
    return _run(spark, tmp_path_factory, reg)


def _log(engine):
    return [r.asDict() for r in engine.fetch_log().collect()]


def _urls(rows, host, depth):
    return {
        r["canonical_url"]
        for r in rows
        if r["host"] == host and r["depth"] == depth
    }


def test_dust_collapse_fetches_one_representative(
    spark, tmp_path_factory, reg, baseline
):
    rules = spark.createDataFrame(
        [("portal-0.example", "JudicialOfficer", 9, 0, True)], RULES_SCHEMA
    )
    eng = _run(spark, tmp_path_factory, reg, dust_rules=rules)
    got, base = _log(eng), _log(baseline)

    # host 0: one results fetch per (ID, DateFiled) class instead of
    # one per judicial officer; the first-discovered (jo_ord 0) wins
    d3 = [r for r in got if r["host"] == "portal-0.example" and r["depth"] == 3]
    assert len(d3) == N_DAYS
    assert all(r["jo_ord"] == 0 for r in d3)
    assert all("JudicialOfficer=" not in r["canonical_url"] for r in d3)
    n_base_d3 = len(
        [r for r in base if r["host"] == "portal-0.example" and r["depth"] == 3]
    )
    assert n_base_d3 == N_DAYS * len(synth.jo_list(0))

    # depth-4 discoveries shrink to the representative's links but
    # stay a subset of the baseline crawl
    assert _urls(got, "portal-0.example", 4) < _urls(base, "portal-0.example", 4)
    assert _urls(got, "portal-0.example", 4)

    # the rule-free host crawls identically
    for depth in (1, 2, 3, 4):
        assert _urls(got, "portal-1.example", depth) == _urls(
            base, "portal-1.example", depth
        ), depth

    # alias collapse never double-fetches a canonical
    urls = [r["canonical_url"] for r in got]
    assert len(urls) == len(set(urls))


def test_trap_blocklist_stops_expansion(spark, tmp_path_factory, reg, baseline):
    traps = spark.createDataFrame(
        [
            ("portal-0.example", SEARCH_TMPL, True),
            ("portal-0.example", "/harmless", False),  # trap=false ignored
        ],
        TRAP_SCHEMA,
    )
    eng = _run(spark, tmp_path_factory, reg, trap_blocklist=traps)
    got, base = _log(eng), _log(baseline)

    # results pages (and everything below them) never fetched on the
    # trapped host; the search page itself (depth 2, different
    # template) still is
    assert not _urls(got, "portal-0.example", 3)
    assert not _urls(got, "portal-0.example", 4)
    assert _urls(got, "portal-0.example", 2) == _urls(
        base, "portal-0.example", 2
    )
    for depth in (1, 2, 3, 4):
        assert _urls(got, "portal-1.example", depth) == _urls(
            base, "portal-1.example", depth
        ), depth


def test_no_hooks_is_byte_identical(spark, tmp_path_factory, reg, baseline):
    """Defaults off => the parity suite's guarantees are untouched."""
    eng = _run(spark, tmp_path_factory, reg)
    a = sorted(
        (r["host"], r["canonical_url"], r["depth"], r["wave"])
        for r in _log(eng)
    )
    b = sorted(
        (r["host"], r["canonical_url"], r["depth"], r["wave"])
        for r in _log(baseline)
    )
    assert a == b
