"""Redirect-chain resolution: canonical-URL mapping by pointer
doubling — the crawl-side dual of the sitemap discovery channel.

A real crawl of the reference's portals meets HTTP redirects
constantly (host renames, /CaseDetail.aspx -> /Portal/Case/...,
http->https).  The reference follows them implicitly one fetch at a
time (requests' allow_redirects inside scraper/__init__.py's fetch
helper); at frontier scale the crawler instead records redirect
EDGES in the fetch log and resolves whole chains offline, so the
URL-seen filter, the frontier, and the document store all key on the
CANONICAL URL (otherwise every alias is re-fetched and re-stored).

Algorithm: path doubling over the functional graph url -> target.
Each round self-joins the state on ``cur == src`` so after k rounds
every pointer has advanced up to 2^k hops (terminals are
self-fixpoints contributing 0).  ``ceil(log2(_MAX_HOPS))`` rounds
resolve every chain up to ``_MAX_HOPS``; anything still pointing at
a redirecting URL after that is redirect-loop spam and is flagged
``resolved = false`` (canonical/hops NULL) — browsers and crawlers
cap exactly this way (requests defaults to 30 hops).

Scale shape (10^10 URLs): the state is one row per URL forever — no
growth; each round is ONE shuffle keyed by the pointer (log2(64) = 6
rounds total vs O(chain-length) dependent fetch round-trips
sequentially); hot canonical targets (every alias of a big portal
points at the same URL) are a join-skew case AQE splits; lineage is
truncated per round with ``localCheckpoint`` (the iterative idiom,
same as dedup.py components).

Synthetic redirect world (deterministic, from ``documents``; URL
scheme shared with sources/sitemap.py so the two discovery channels
compose):

- ``doc_id % 5 == 0``            -> canonical page (no redirect)
- ``doc_id % 50 == 48``          -> +1   (2-cycle with the 49)
- ``doc_id % 50 == 49``          -> -1   (2-cycle with the 48)
- ``doc_id % 50 == 23``          -> +25  (a chain INTO the 48<->49
                                    loop: unresolvable non-member;
                                    the 24s descend through it and
                                    are diverted into the loop too)
- otherwise                      -> -1   (chains of 1-4 hops down to
                                    the previous multiple of 5)

The DuckDB oracle re-walks every chain with a recursive CTE under
the same hop cap, so equality certifies chain lengths, canonical
targets, loop detection, and the terminal rule (a rule-target that
does not exist in the corpus is a dead end == terminal on BOTH
sides, because the edge table inner-joins targets to real docs).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

_HOST_MOD = 20
_HOST_CAP = 12
_MAX_HOPS = 64
_ROUNDS = int(math.ceil(math.log2(_MAX_HOPS)))  # 6


def _url(doc_id):
    hid = F.least(doc_id % _HOST_MOD, F.lit(_HOST_CAP))
    return F.concat(
        F.lit("https://host"),
        hid.cast("string"),
        F.lit(".example/case/"),
        doc_id.cast("string"),
    )


def redirect_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) redirect edges; a rule-target outside the corpus
    yields NO edge (the fetch would 404 -> treated as terminal)."""
    d = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", _url(d).alias("url")
    )
    tgt = (
        F.when(d % 50 == 48, d + 1)
        .when(d % 50 == 49, d - 1)
        .when(d % 50 == 23, d + 25)
        .when(d % 5 != 0, d - 1)
        .otherwise(F.lit(None))
    )
    src = docs.select("url", tgt.alias("tgt")).filter(F.col("tgt").isNotNull())
    dst = docs.select(F.col("doc_id").alias("tgt"), F.col("url").alias("dst"))
    return src.join(dst, "tgt").select(F.col("url").alias("src"), "dst")


def resolve_redirects(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Pointer-double ``nodes`` (column ``url``) through ``edges``
    (src, dst) -> (url, canonical_url, hops, resolved)."""
    e = edges.localCheckpoint(eager=False)
    # init: one pointer row per url; terminals point at themselves
    state = (
        nodes.join(e, nodes["url"] == e["src"], "left")
        .select(
            "url",
            F.coalesce("dst", "url").alias("cur"),
            F.when(e["src"].isNotNull(), F.lit(1)).otherwise(F.lit(0))
            .cast("long")
            .alias("hops"),
        )
        .localCheckpoint(eager=False)
    )
    for _ in range(_ROUNDS):
        a, b = state.alias("a"), state.alias("b")
        state = a.join(b, F.col("a.cur") == F.col("b.url")).select(
            F.col("a.url").alias("url"),
            F.col("b.cur").alias("cur"),
            (F.col("a.hops") + F.col("b.hops")).alias("hops"),
        ).localCheckpoint(eager=False)
    # resolved iff the final pointer is a terminal (no outgoing edge)
    term = e.select(F.col("src").alias("cur"), F.lit(True).alias("redirects"))
    out = state.join(term, "cur", "left").select(
        "url",
        F.when(F.col("redirects").isNull(), F.col("cur")).alias("canonical_url"),
        F.when(F.col("redirects").isNull(), F.col("hops")).alias("hops"),
        F.col("redirects").isNull().alias("resolved"),
    )
    return out


def redirect_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.col("doc_id")
    nodes = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        _url(d).alias("url")
    )
    return resolve_redirects(nodes, redirect_edges(spark, sf_dir)).orderBy("url")


_ORACLE = f"""
    WITH RECURSIVE base AS (
        SELECT doc_id,
               'https://host' || LEAST(doc_id % {_HOST_MOD}, {_HOST_CAP})
                              || '.example/case/' || doc_id AS url,
               CASE WHEN doc_id % 50 = 48 THEN doc_id + 1
                    WHEN doc_id % 50 = 49 THEN doc_id - 1
                    WHEN doc_id % 50 = 23 THEN doc_id + 25
                    WHEN doc_id % 5 <> 0 THEN doc_id - 1
                    ELSE NULL END AS tgt
        FROM documents
    ), e AS (
        SELECT b.url AS src, t.url AS dst
        FROM base b JOIN base t ON t.doc_id = b.tgt
    ), walk AS (
        SELECT url, url AS cur, 0 AS hops FROM base
        UNION ALL
        SELECT w.url, e.dst, w.hops + 1
        FROM walk w JOIN e ON e.src = w.cur
        WHERE w.hops < {_MAX_HOPS}
    ), term AS (
        SELECT url, cur, hops FROM walk
        WHERE cur NOT IN (SELECT src FROM e)
    )
    SELECT b.url AS url,
           t.cur                     AS canonical_url,
           CAST(t.hops AS BIGINT)    AS hops,
           t.url IS NOT NULL         AS resolved
    FROM base b LEFT JOIN term t ON t.url = b.url
    ORDER BY url
"""

QUERIES = {
    "redirect_resolution": redirect_resolution,
}

ORACLE_SQL = {
    "redirect_resolution": _ORACLE,
}
