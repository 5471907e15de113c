"""Sitemap XML ingestion (sources/sitemap.py): root-tag dispatch,
index recursion, overlap dedup, malformed-document drop, and the
frontier hand-off through the exact URL-seen anti-join."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from indigent_defense_stats_spark.sources import sitemap

SF_DIR = "/root/testdata/sf0.001"


def _fetched(spark, rows):
    return spark.createDataFrame(rows, "sitemap_url string, host string, xml string")


def test_dispatch_urlset_vs_index_and_recursion(spark):
    """A urlset entry point parses directly (via_index=false); an index
    entry point resolves its children and tags them via_index=true."""
    rows = [
        (
            "https://a.example/sitemap.xml",
            "a.example",
            "<urlset><url><loc>https://a.example/case/1</loc>"
            "<lastmod>2021-05-04</lastmod><priority>0.5</priority></url></urlset>",
        ),
        (
            "https://b.example/sitemap.xml",
            "b.example",
            "<sitemapindex><sitemap><loc>https://b.example/sitemap_0.xml</loc>"
            "</sitemap></sitemapindex>",
        ),
        (
            "https://b.example/sitemap_0.xml",
            "b.example",
            "<urlset><url><loc>https://b.example/case/2</loc>"
            "<lastmod>2022-01-31</lastmod><priority>0.9</priority></url></urlset>",
        ),
    ]
    out = sitemap.parse_sitemaps(_fetched(spark, rows)).orderBy("url").collect()
    assert [(r.url, r.via_index, r.lastmod, r.priority) for r in out] == [
        ("https://a.example/case/1", False, datetime.date(2021, 5, 4), 0.5),
        ("https://b.example/case/2", True, datetime.date(2022, 1, 31), 0.9),
    ]


def test_overlapping_sitemaps_keep_freshest_lastmod(spark):
    """sitemaps.org allows one URL in several sitemaps — dedup keeps
    the max lastmod (the news-feed overlap case)."""
    page = (
        "<urlset><url><loc>https://c.example/case/7</loc>"
        "<lastmod>2020-03-01</lastmod><priority>0.2</priority></url></urlset>"
    )
    news = (
        "<urlset><url><loc>https://c.example/case/7</loc>"
        "<lastmod>2020-03-09</lastmod><priority>0.2</priority></url></urlset>"
    )
    idx = (
        "<sitemapindex>"
        "<sitemap><loc>https://c.example/sitemap_0.xml</loc></sitemap>"
        "<sitemap><loc>https://c.example/sitemap_news.xml</loc></sitemap>"
        "</sitemapindex>"
    )
    rows = [
        ("https://c.example/sitemap.xml", "c.example", idx),
        ("https://c.example/sitemap_0.xml", "c.example", page),
        ("https://c.example/sitemap_news.xml", "c.example", news),
    ]
    out = sitemap.parse_sitemaps(_fetched(spark, rows)).collect()
    assert len(out) == 1
    assert out[0].lastmod == datetime.date(2020, 3, 9)


def test_malformed_entry_point_is_dropped_not_fatal(spark):
    """A fetch that returned junk parses to NULL under BOTH schemas and
    silently contributes nothing (quarantine belongs to the fetch
    layer, S9)."""
    rows = [
        ("https://d.example/sitemap.xml", "d.example", "<html>not a sitemap</html>"),
        (
            "https://e.example/sitemap.xml",
            "e.example",
            "<urlset><url><loc>https://e.example/case/3</loc>"
            "<lastmod>2023-07-14</lastmod><priority>0.1</priority></url></urlset>",
        ),
    ]
    out = sitemap.parse_sitemaps(_fetched(spark, rows)).collect()
    assert [r.url for r in out] == ["https://e.example/case/3"]


def test_build_pages_cap_and_index_listing(spark):
    """Paged hosts emit ceil(n/_PAGE) urlset pages + news + one index;
    single-page hosts emit exactly one urlset and no index."""
    fetched = sitemap.build_sitemaps(spark, SF_DIR).collect()
    by_host = {}
    for r in fetched:
        by_host.setdefault(r.host, []).append(r)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sizes = {
        f"host{min(int(r.doc_id % 20), 12)}.example": 0 for r in docs.collect()
    }
    for r in docs.collect():
        sizes[f"host{min(int(r.doc_id % 20), 12)}.example"] += 1
    for host, rows in by_host.items():
        n = sizes[host]
        urls = sorted(r.sitemap_url for r in rows)
        if n <= sitemap._PAGE:
            assert urls == [f"https://{host}/sitemap.xml"]
            assert rows[0].xml.startswith("<urlset>")
        else:
            pages = -(-n // sitemap._PAGE)
            expect = (
                [f"https://{host}/sitemap.xml"]
                + [f"https://{host}/sitemap_{p}.xml" for p in range(pages)]
                + [f"https://{host}/sitemap_news.xml"]
            )
            assert urls == sorted(expect)
            idx_xml = next(
                r.xml for r in rows if r.sitemap_url.endswith("/sitemap.xml")
            )
            assert idx_xml.startswith("<sitemapindex>")
            # index lists every child exactly once
            for child in expect[1:]:
                assert idx_xml.count(f"<loc>{child}</loc>") == 1
            # every page body respects the cap
            for r in rows:
                if "_news" in r.sitemap_url or r.sitemap_url.endswith("/sitemap.xml"):
                    continue
                assert r.xml.count("<url>") <= sitemap._PAGE


def test_discovered_urls_flow_through_exact_seen_filter(spark):
    """The crawl hand-off: sitemap-discovered URLs minus the already-
    seen set via the exact left anti-join the crawl's seen filter
    uses — every genuinely-new URL survives, every seen one drops."""
    discovered = sitemap.sitemap_frontier(spark, SF_DIR)
    seen = discovered.filter(F.col("url").rlike("/case/\\d*[02468]$")).select("url")
    new = discovered.select("url").join(seen, "url", "left_anti")
    got = {r.url for r in new.collect()}
    want = {
        r.url
        for r in discovered.collect()
        if int(r.url.rsplit("/", 1)[1]) % 2 == 1
    }
    assert got == want


def test_robots_declared_entry_points(spark):
    """End-to-end with the robots parser: Sitemap: directives at
    NON-standard URLs become the entry points; the well-known
    /sitemap.xml convention is not consulted (a decoy there is
    ignored), and index recursion still works from the declared
    root."""
    from indigent_defense_stats_spark.functions.robots import parse_robots_batch

    robots = spark.createDataFrame(
        [
            (
                "f.example",
                "Sitemap: https://f.example/smaps/root.xml\n"
                "User-agent: *\nDisallow: /admin\n",
            )
        ],
        "host string, robots_txt string",
    )
    entry_points = robots.mapInPandas(
        parse_robots_batch(),
        "host string, deny array<string>, crawl_delay_ms int,"
        " sitemaps array<string>",
    ).select(F.explode("sitemaps").alias("sitemap_url"))

    rows = [
        (  # decoy at the conventional location — must be ignored
            "https://f.example/sitemap.xml",
            "f.example",
            "<urlset><url><loc>https://f.example/decoy</loc>"
            "<lastmod>2020-01-01</lastmod><priority>0.1</priority></url></urlset>",
        ),
        (
            "https://f.example/smaps/root.xml",
            "f.example",
            "<sitemapindex><sitemap><loc>https://f.example/smaps/a.xml</loc>"
            "</sitemap></sitemapindex>",
        ),
        (
            "https://f.example/smaps/a.xml",
            "f.example",
            "<urlset><url><loc>https://f.example/case/11</loc>"
            "<lastmod>2024-02-29</lastmod><priority>0.8</priority></url></urlset>",
        ),
    ]
    out = sitemap.parse_sitemaps(_fetched(spark, rows), entry_points).collect()
    assert [(r.url, r.via_index, r.lastmod) for r in out] == [
        ("https://f.example/case/11", True, datetime.date(2024, 2, 29)),
    ]


def test_sitemap_frontier_matches_oracle_shape(spark):
    out = sitemap.sitemap_frontier(spark, SF_DIR)
    assert out.schema.simpleString() == (
        "struct<host:string,url:string,lastmod:date,"
        "priority:double,via_index:boolean>"
    )
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert out.count() == n_docs
