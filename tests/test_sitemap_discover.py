"""The sitemap discovery channel composed with the crawl engine:
publish the portal world's sitemaps, parse them with the engine, and
seen-filter against the crawl's fetch log (the run_pipeline
--discover stage, asserted)."""

from __future__ import annotations

from datetime import date

import pandas as pd
import pytest
from pyspark.sql import functions as F

from indigent_defense_stats_spark import synth
from indigent_defense_stats_spark.operators.crawl_queries import (
    N_DAYS,
    REGISTRY_N,
    START,
    _engine,
)
from indigent_defense_stats_spark.sources import sitemap

_UNIX_EPOCH_ORD = date(1970, 1, 1).toordinal()


def _published(spark, extra_days: int):
    """The portals' sitemap-side URL table over the crawl window plus
    ``extra_days`` (mirrors run_pipeline's --discover enumeration)."""
    start_ord = START.toordinal()
    triples = (
        spark.range(REGISTRY_N)
        .withColumnRenamed("id", "county")
        .crossJoin(
            spark.range(start_ord, start_ord + N_DAYS + extra_days)
            .withColumnRenamed("id", "day_ord")
        )
    )

    def _case_rows(pdfs):
        for pdf in pdfs:
            host, url, day = [], [], []
            for i, d in zip(pdf["county"], pdf["day_ord"]):
                i, d = int(i), int(d)
                for jo_ord in range(len(synth.jo_list(i))):
                    for cid in synth.cases_for(i, d, jo_ord):
                        host.append(synth.portal_host(i))
                        url.append(synth.case_url(i, cid))
                        day.append(d)
            yield pd.DataFrame({"host": host, "url": url, "day_ord": day})

    return triples.mapInPandas(
        _case_rows, "host string, url string, day_ord long"
    ).select(
        "host",
        "url",
        F.date_from_unix_date((F.col("day_ord") - _UNIX_EPOCH_ORD).cast("int")).alias(
            "lastmod"
        ),
        F.lit("0.5").alias("prio"),
        (F.col("day_ord") >= start_ord + N_DAYS).alias("fresh"),
    )


@pytest.fixture(scope="module")
def crawl_seen(spark):
    eng = _engine(spark)
    return {
        r.url
        for r in eng.fetch_log()
        .filter(F.col("canonical_url").contains("CaseDetail.aspx"))
        .select(F.col("canonical_url").alias("url"))
        .collect()
    }


def test_same_window_discovers_exactly_the_crawled_cases(spark, crawl_seen):
    """With no extra days the sitemap channel and the crawl saw the
    same world: discovery minus seen is EMPTY, and the discovered set
    equals the crawl's case-URL set."""
    discovered = sitemap.parse_sitemaps(
        sitemap.build_sitemaps_from(_published(spark, extra_days=0))
    )
    got = {r.url for r in discovered.select("url").collect()}
    assert got == crawl_seen
    new = discovered.select("url").join(
        spark.createDataFrame([(u,) for u in sorted(crawl_seen)], "url string"),
        "url",
        "left_anti",
    )
    assert new.count() == 0


def test_extra_days_discover_only_the_unseen_tail(spark, crawl_seen):
    """With extra days, the seen filter returns exactly the case URLs
    that appear ONLY in the extra window (the pool re-lists many cases
    the crawl already fetched — realistic sitemap overlap)."""
    discovered = sitemap.parse_sitemaps(
        sitemap.build_sitemaps_from(_published(spark, extra_days=3))
    )
    got = {r.url for r in discovered.select("url").collect()}
    assert crawl_seen <= got  # the crawl window is a subset
    new = discovered.select("url").join(
        spark.createDataFrame([(u,) for u in sorted(crawl_seen)], "url string"),
        "url",
        "left_anti",
    )
    assert {r.url for r in new.collect()} == got - crawl_seen
