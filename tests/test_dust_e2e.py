"""The full DUST loop on the engine's own output: a crawl over an
alias-decorated portal wastes a fetch per alias; rules mined from
that crawl's fetch log + documents hand the next crawl an alias-free
frontier with identical document output."""

from __future__ import annotations

from datetime import date

import pytest

from indigent_defense_stats_spark import synth
from indigent_defense_stats_spark.operators import dust
from indigent_defense_stats_spark.plans.frontier import CrawlEngine

START = date(2024, 7, 1)
# 8 days of listings: each host re-lists enough cases under >=2 sid
# states to clear min_support=3 (5-6 evidential cases per host,
# precomputed from the deterministic alias stream)
N_DAYS = 8


@pytest.fixture(scope="module")
def reg():
    return synth.make_registry(2, n_scrape=2)


def _run(spark, tmp_path_factory, reg, **kw):
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("dust_e2e")),
        reg,
        START,
        N_DAYS,
        n_buckets=4,
        **kw,
    )
    eng.run()
    return eng


@pytest.fixture(scope="module")
def clean(spark, tmp_path_factory, reg):
    """The alias-free world: ground truth for fetch counts + docs."""
    return _run(spark, tmp_path_factory, reg)


@pytest.fixture(scope="module")
def noisy(spark, tmp_path_factory, reg):
    return _run(spark, tmp_path_factory, reg, alias_noise=True)


def _d4(engine):
    return [
        r
        for r in engine.fetch_log().collect()
        if r["depth"] == 4 and r["status"] == "fetched"
    ]


def _docs(engine):
    return {
        (r["doc_id"], str(r["spans"])) for r in engine.documents().collect()
    }


def test_aliases_waste_fetches(clean, noisy):
    assert len(_d4(noisy)) > len(_d4(clean))
    # same cases either way — aliases change URLs, not content
    assert _docs(noisy) == _docs(clean)


def test_mined_rules_identify_sid_only(spark, noisy):
    rules = dust.rules_from_crawl(
        noisy.fetch_log(), noisy.documents(), min_support=3
    )
    got = {
        (r["host"], r["param"]): r["irrelevant"] for r in rules.collect()
    }
    sid_hosts = {h for (h, p) in got if p == "sid"}
    assert sid_hosts  # aliases were observed
    assert all(got[(h, "sid")] for h in sid_hosts)
    # the load-bearing param survives mining
    assert not any(got.get((h, "CaseID"), False) for (h, _) in got)


def test_recrawl_with_mined_rules_restores_clean_counts(
    spark, tmp_path_factory, reg, clean, noisy
):
    rules = dust.rules_from_crawl(
        noisy.fetch_log(), noisy.documents(), min_support=3
    )
    # every portal host must have earned its sid rule for exact-count
    # equality below — otherwise this assertion set is meaningless
    hosts = {
        r["host"]
        for r in rules.collect()
        if r["param"] == "sid" and r["irrelevant"]
    }
    assert hosts == {"portal-0.example", "portal-1.example"}

    cured = _run(
        spark, tmp_path_factory, reg, alias_noise=True, dust_rules=rules
    )
    assert len(_d4(cured)) == len(_d4(clean))
    assert _docs(cured) == _docs(clean)
    # no canonical fetched twice, and no sid survives canonicalization
    urls = [r["canonical_url"] for r in cured.fetch_log().collect()]
    assert len(urls) == len(set(urls))
    assert not any("sid=" in u for u in urls)
