"""The mirror-host loop on the engine's own output: a crawl over a
portal whose result pages sometimes link the mirror host pays
politeness + fetches on two hosts for one corpus; the mirror map
mined from that crawl's log + documents hands the next crawl a
collapsed frontier with identical document output."""

from __future__ import annotations

from datetime import date

import pytest

from indigent_defense_stats_spark import synth
from indigent_defense_stats_spark.operators.dedup import mirror_map_from_crawl
from indigent_defense_stats_spark.plans.frontier import CrawlEngine

START = date(2024, 7, 1)
# 16 days of listings: each host pair's content containment clears
# the 0.8 mining threshold (0.86 / 0.91, precomputed from the
# deterministic mirror stream; at 8 days it is only 0.50 / 0.67 — a
# short crawl legitimately cannot certify a mirror yet)
N_DAYS = 16


@pytest.fixture(scope="module")
def reg():
    return synth.make_registry(2, n_scrape=2)


def _run(spark, tmp_path_factory, reg, **kw):
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("mirror_e2e")),
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
    return _run(spark, tmp_path_factory, reg)


@pytest.fixture(scope="module")
def noisy(spark, tmp_path_factory, reg):
    return _run(spark, tmp_path_factory, reg, mirror_noise=True)


@pytest.fixture(scope="module")
def mined(noisy):
    return mirror_map_from_crawl(noisy.fetch_log(), noisy.documents())


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


def test_mirror_links_waste_fetches_on_extra_hosts(clean, noisy):
    d4 = _d4(noisy)
    assert len(d4) > len(_d4(clean))
    hosts = {r["host"] for r in d4}
    assert "portal-0-m.example" in hosts and "portal-1-m.example" in hosts
    # mirror fetches are attributed (and politeness-paced) on the
    # mirror host, not the parent results page's host
    assert all(
        r["canonical_url"].startswith(f"http://{r['host']}/") for r in d4
    )
    assert _docs(noisy) == _docs(clean)


def test_mined_map_is_exactly_the_mirror_pairs(mined):
    got = {
        (r["alias_host"], r["canonical_host"]) for r in mined.collect()
    }
    assert got == {
        ("portal-0-m.example", "portal-0.example"),
        ("portal-1-m.example", "portal-1.example"),
    }


def test_recrawl_with_mined_map_restores_clean_counts(
    spark, tmp_path_factory, reg, clean, noisy, mined
):
    cured = _run(
        spark, tmp_path_factory, reg, mirror_noise=True, host_aliases=mined
    )
    assert len(_d4(cured)) == len(_d4(clean))
    assert _docs(cured) == _docs(clean)
    urls = [r["canonical_url"] for r in cured.fetch_log().collect()]
    assert len(urls) == len(set(urls))  # no canonical fetched twice
    # every fetched case key now lives on the canonical host
    assert not any("-m.example" in u for u in urls)
