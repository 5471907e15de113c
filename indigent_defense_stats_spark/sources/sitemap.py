"""Sitemap XML ingestion: seed discovery for the URL frontier.

The reference discovers case URLs by walking search-result pages
(scraper/__init__.py — S4/S5 main-page + search-page scans).  A
production crawl of the same portals gets a second discovery channel
for free: /sitemap.xml.  This module implements the sitemaps.org
protocol over Spark's native XML support (``F.from_xml``, new in
Spark 4) — the first non-JSON semi-structured format in the engine:

- ``build_sitemaps`` synthesizes a deterministic fetch table of
  sitemap documents (sitemap_url, host, xml) from ``documents``:
  per-host ``<urlset>`` pages capped at ``_PAGE`` URLs (the RFC caps
  real files at 50,000 URLs / 50 MB; 32 keeps paging exercised at
  test scale), a ``<sitemapindex>`` entry point for hosts that
  overflow one page, and an overlapping "news" sitemap that re-lists
  recently-changed URLs with a fresher ``<lastmod>`` — the common
  real-world overlap a crawler must deduplicate.  Host assignment is
  deliberately skewed (one host carries 8/20 of all URLs — the Hays
  County analog) so the paged/index path and the single-page path
  are both exercised at sf0.01.
- ``parse_sitemaps`` is the operator under test: root-tag dispatch
  (a urlset parsed with the index schema yields NULL and vice versa
  — no regex sniffing), one-level ``<sitemapindex>`` recursion
  (child sitemaps resolved by joining the tiny exploded index refs
  back to the fetch table — in production this join IS the next
  fetch wave), and per-URL dedup keeping the freshest ``lastmod``
  (sitemaps.org: a URL may appear in multiple sitemaps).

Scale: sitemap bytes are ~1/32nd of page bytes (1 XML per ``_PAGE``
URLs; 1/50,000th at RFC size), so parsing is a cheap map over
fetched XML; the index-resolution join broadcasts the exploded refs
(one row per child sitemap, never per URL); the final dedup is ONE
linear shuffle keyed by url — the key of the crawl's URL-seen
anti-join, so discovered URLs flow into it without a re-partition.
Skewed hosts are defused by the paging itself: each page is an
independent row, so the big host's URLs arrive pre-split across
``ceil(n/_PAGE)`` inputs.

Boundary: ``<loc>`` values here are machine-built (scheme + host +
digits) so no XML entity escaping is needed on the build side; a
production build step must escape ``& < >`` per the RFC.  Real
feeds also carry ``<changefreq>``; add a field to ``_SET_SCHEMA``
to ingest it — ``from_xml`` ignores absent fields.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_PAGE = 32          # URLs per sitemap page (RFC: 50,000)
_HOST_MOD = 20      # doc_id % 20 buckets ...
_HOST_CAP = 12      # ... with buckets 12..19 folded into one hot host
_NEWS_MOD = 37      # doc_id % 37 == 0 -> re-listed in the news sitemap
_EPOCH = datetime.date(2020, 1, 1)

_SET_SCHEMA = "url ARRAY<STRUCT<loc: STRING, lastmod: STRING, priority: STRING>>"
_IDX_SCHEMA = "sitemap ARRAY<STRUCT<loc: STRING>>"


def _doc_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-document sitemap facts over ``documents``:
    (host, url, lastmod, prio, fresh) — the publish-side input shape
    of ``build_sitemaps_from``."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id"
    )
    hid = F.least(F.col("doc_id") % _HOST_MOD, F.lit(_HOST_CAP))
    host = F.concat(F.lit("host"), hid.cast("string"), F.lit(".example"))
    return docs.select(
        host.alias("host"),
        F.concat(
            F.lit("https://"), host, F.lit("/case/"), F.col("doc_id").cast("string")
        ).alias("url"),
        F.date_add(F.lit(_EPOCH), (F.col("doc_id") % 1461).cast("int")).alias(
            "lastmod"
        ),
        F.concat(F.lit("0."), (F.col("doc_id") % 10).cast("string")).alias("prio"),
        (F.col("doc_id") % _NEWS_MOD == 0).alias("fresh"),
    )


def _url_entry(url, lastmod, prio):
    return F.concat(
        F.lit("<url><loc>"),
        url,
        F.lit("</loc><lastmod>"),
        F.date_format(lastmod, "yyyy-MM-dd"),
        F.lit("</lastmod><priority>"),
        prio,
        F.lit("</priority></url>"),
    )


def _agg_xml(df: DataFrame, keys: list[str], open_tag: str, close_tag: str) -> DataFrame:
    """Concatenate per-group ``entry`` strings in ``ord`` order into one
    XML document (collect_list gives no order; sorting (ord, entry)
    structs restores a deterministic one)."""
    sorted_entries = F.array_sort(F.collect_list(F.struct("ord", "entry")))
    xml = F.concat(
        F.lit(open_tag),
        F.concat_ws("", F.transform(sorted_entries, lambda s: s["entry"])),
        F.lit(close_tag),
    )
    return df.groupBy(*keys).agg(xml.alias("xml"))


def build_sitemaps_from(rows: DataFrame) -> DataFrame:
    """Publish sitemaps for any URL table: (host, url, lastmod DATE,
    prio STRING, fresh BOOLEAN) -> the fetch table
    (sitemap_url, host, xml).

    Hosts with <= _PAGE URLs publish a single ``<urlset>`` at
    /sitemap.xml; larger hosts publish ``<urlset>`` pages at
    /sitemap_{p}.xml, an overlapping /sitemap_news.xml re-listing
    ``fresh`` URLs with lastmod+1 (the portal bumps lastmod on
    re-listing — the overlap the parse-side dedup must resolve), and
    a ``<sitemapindex>`` entry point at /sitemap.xml.  A URL listed
    twice in the input is published once (max lastmod)."""
    rows = rows.groupBy("host", "url").agg(
        F.max("lastmod").alias("lastmod"),
        F.max("prio").alias("prio"),
        F.max("fresh").alias("fresh"),
    )
    # one shuffle by host serves both the host size and the page
    # number; the decorated row table feeds FOUR consumers (single,
    # paged, news, index refs) -> pin it once per the pin-shared-
    # subplans discipline (unpinned: 30 exchanges / 15 scans measured)
    w = Window.partitionBy("host")
    rows = (
        rows.withColumn("n", F.count("*").over(w))
        .withColumn(
            "page",
            F.floor((F.row_number().over(w.orderBy("url")) - 1) / _PAGE).cast("int"),
        )
        .withColumn("entry", _url_entry(F.col("url"), F.col("lastmod"), F.col("prio")))
        .withColumn("ord", F.col("url"))
        .localCheckpoint(eager=False)
    )

    single = _agg_xml(
        rows.filter(F.col("n") <= _PAGE), ["host"], "<urlset>", "</urlset>"
    ).select(
        F.concat(F.lit("https://"), F.col("host"), F.lit("/sitemap.xml")).alias(
            "sitemap_url"
        ),
        "host",
        "xml",
    )

    paged = _agg_xml(
        rows.filter(F.col("n") > _PAGE), ["host", "page"], "<urlset>", "</urlset>"
    ).select(
        F.concat(
            F.lit("https://"),
            F.col("host"),
            F.lit("/sitemap_"),
            F.col("page").cast("string"),
            F.lit(".xml"),
        ).alias("sitemap_url"),
        "host",
        "xml",
    ).localCheckpoint(eager=False)  # feeds the output union AND the index refs

    news_rows = rows.filter((F.col("n") > _PAGE) & F.col("fresh")).withColumn(
        "entry", _url_entry(F.col("url"), F.date_add(F.col("lastmod"), 1), F.col("prio"))
    )
    news = _agg_xml(news_rows, ["host"], "<urlset>", "</urlset>").select(
        F.concat(F.lit("https://"), F.col("host"), F.lit("/sitemap_news.xml")).alias(
            "sitemap_url"
        ),
        "host",
        "xml",
    ).localCheckpoint(eager=False)  # feeds the output union AND the index refs

    # index entry points: one <sitemap> ref per page + the news feed
    child_refs = paged.select(
        "host", F.col("sitemap_url").alias("child"), F.lit(0).alias("rank")
    ).unionByName(
        news.select("host", F.col("sitemap_url").alias("child"), F.lit(1).alias("rank"))
    )
    idx = _agg_xml(
        child_refs.select(
            "host",
            F.concat_ws("|", F.col("rank").cast("string"), "child").alias("ord"),
            F.concat(
                F.lit("<sitemap><loc>"), F.col("child"), F.lit("</loc></sitemap>")
            ).alias("entry"),
        ),
        ["host"],
        "<sitemapindex>",
        "</sitemapindex>",
    ).select(
        F.concat(F.lit("https://"), F.col("host"), F.lit("/sitemap.xml")).alias(
            "sitemap_url"
        ),
        "host",
        "xml",
    )

    return single.unionByName(paged).unionByName(news).unionByName(idx)


def build_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic test world: publish sitemaps for the
    ``documents`` URL space (see ``_doc_rows`` for the rules)."""
    return build_sitemaps_from(_doc_rows(spark, sf_dir))


def parse_sitemaps(fetched: DataFrame, entry_points: DataFrame | None = None) -> DataFrame:
    """Parse a sitemap fetch table into discovered frontier URLs.

    (sitemap_url, host, xml) -> (host, url, lastmod DATE,
    priority DOUBLE, via_index BOOLEAN), one row per distinct URL,
    freshest lastmod wins.  Entry points default to the well-known
    /sitemap.xml convention; pass *entry_points* (a DataFrame with a
    ``sitemap_url`` column, e.g. the ``Sitemap:`` directives the
    robots parser extracted — functions/robots.py) to start from
    robots-declared locations instead (broadcast semi-join: one row
    per declared sitemap, never per URL).  ``from_xml`` against the
    WRONG root schema returns NULL, which is the dispatch."""
    if entry_points is None:
        roots = fetched.filter(F.col("sitemap_url").endswith("/sitemap.xml"))
    else:
        roots = fetched.join(
            F.broadcast(entry_points.select("sitemap_url").distinct()),
            "sitemap_url",
            "left_semi",
        )
    entry = roots.select(
        "host",
        "xml",
        F.from_xml("xml", _IDX_SCHEMA).alias("ix"),
        F.from_xml("xml", _SET_SCHEMA).alias("us"),
    )

    direct = entry.filter(F.col("ix.sitemap").isNull()).select(
        "host", F.col("us").alias("parsed"), F.lit(False).alias("via_index")
    )

    # one-level recursion: explode the index refs (rows ~= pages, not
    # URLs -> tiny) and resolve each against the fetch table.  In
    # production this join is the next fetch wave; broadcasting the
    # refs keeps the big fetch table un-shuffled.
    refs = (
        entry.filter(F.col("ix.sitemap").isNotNull())
        .select(F.explode("ix.sitemap").alias("s"))
        .select(F.col("s.loc").alias("child_url"))
    )
    resolved = fetched.join(
        F.broadcast(refs), fetched["sitemap_url"] == refs["child_url"]
    ).select(
        "host",
        F.from_xml("xml", _SET_SCHEMA).alias("parsed"),
        F.lit(True).alias("via_index"),
    )

    urls = (
        direct.unionByName(resolved)
        .select("host", "via_index", F.explode("parsed.url").alias("u"))
        .select(
            "host",
            F.col("u.loc").alias("url"),
            F.to_date("u.lastmod", "yyyy-MM-dd").alias("lastmod"),
            F.col("u.priority").cast("double").alias("priority"),
            "via_index",
        )
    )
    # sitemaps.org allows the same URL in several sitemaps: keep the
    # freshest lastmod.  Keyed by url == the URL-seen filter key.
    return urls.groupBy("host", "url").agg(
        F.max("lastmod").alias("lastmod"),
        F.max("priority").alias("priority"),
        F.max("via_index").alias("via_index"),
    )


def stale_case_seeds(parsed: DataFrame, last_crawl_date) -> DataFrame:
    """Lastmod-driven revalidation seeds: sitemap entries whose
    ``lastmod`` is AFTER the last crawl are the pages the portal
    itself says changed — the sitemap-protocol analog of
    If-Modified-Since, and the cheapest refresh policy of all (zero
    refetches to discover staleness, unlike the observed-change-rate
    model in operators/freshness.py, which needs fetch history).
    Returns a ``doc_id`` seed frame for
    ``CrawlEngine.refresh(case_filter=...)``; non-case URLs are
    ignored.  The unchanged pages a lastmod filter skips would have
    been hash-skipped at publish anyway — the filter saves the
    FETCHES, not the correctness."""
    return (
        parsed.filter(F.col("lastmod") > F.lit(last_crawl_date))
        .select(F.regexp_extract("url", "CaseID=(\\d+)", 1).alias("doc_id"))
        .filter(F.col("doc_id") != "")
        .distinct()
    )


def sitemap_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build + parse round trip: the discovered-URL table a crawl
    would merge into its frontier (after the URL-seen anti-join)."""
    return parse_sitemaps(build_sitemaps(spark, sf_dir)).orderBy("url")


# The oracle computes the EXPECTED discovery table arithmetically from
# ``documents`` — it never sees the XML, so equality certifies the
# whole build -> dispatch -> index-recursion -> parse -> dedup path
# was lossless.  CASTs per the oracle-dtype contract
# (tests/test_oracle_dtypes.py); k/10.0 and Spark's CAST('0.k' AS
# DOUBLE) are both correctly rounded to the same double.
_ORACLE = f"""
    WITH base AS (
        SELECT doc_id,
               LEAST(doc_id % {_HOST_MOD}, {_HOST_CAP}) AS hid
        FROM documents
    ), hosts AS (
        SELECT hid, count(*) AS n FROM base GROUP BY hid
    )
    SELECT 'host' || b.hid || '.example' AS host,
           'https://host' || b.hid || '.example/case/' || b.doc_id AS url,
           DATE '2020-01-01' + CAST(b.doc_id % 1461 AS INT)
             + CASE WHEN h.n > {_PAGE} AND b.doc_id % {_NEWS_MOD} = 0
                    THEN 1 ELSE 0 END                            AS lastmod,
           CAST(b.doc_id % 10 AS DOUBLE) / 10.0                  AS priority,
           h.n > {_PAGE}                                         AS via_index
    FROM base b JOIN hosts h USING (hid)
    ORDER BY url
"""

QUERIES = {
    "sitemap_frontier": sitemap_frontier,
}

ORACLE_SQL = {
    "sitemap_frontier": _ORACLE,
}
