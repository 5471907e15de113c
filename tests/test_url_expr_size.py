"""Size of the RFC 3986 frontier key expression.

A Column object used more than once in Python is inlined at every
use.  ``canonicalize_col`` reads its input about a dozen times, and the
spec normalizer used to re-inline its URL parts the same way, so the
``rfc_normalize=True`` key grew to ~820k characters of expression text
and every crawl query over it spent seconds in Catalyst.  This test
pins the key at a size linear in its input: each input appears once.
"""

from __future__ import annotations

from datetime import date

import pyspark.sql.functions as F

from indigent_defense_stats_spark import synth
from indigent_defense_stats_spark.functions import urls as U
from indigent_defense_stats_spark.plans.frontier import CrawlEngine

PAD = 1000


def _size(col) -> int:
    return len(str(col))


def _padded(col):
    return F.concat(col, F.lit("x" * PAD))


def test_rfc_frontier_key_is_linear_in_its_input(spark, tmp_path):
    u = F.col("u")
    # the normalizer alone reads its input once
    norm = _size(U.rfc3986_normalize_col(u))
    grown = _size(U.rfc3986_normalize_col(_padded(u))) - norm
    assert PAD <= grown < 2 * PAD, grown

    reg = synth.make_registry(1, n_scrape=1)
    eng = CrawlEngine(
        spark, str(tmp_path), reg, date(2024, 7, 1), 1, rfc_normalize=True
    )
    key = _size(eng._canon(u))
    # the composition adds the two parts, it does not multiply them
    parts = _size(U.canonicalize_col(u)) + norm
    assert key <= parts + 500, (key, parts)
    grown = _size(eng._canon(_padded(u))) - key
    assert PAD <= grown < 2 * PAD, grown
    # and the optimizer sees the same small tree (~7k characters of
    # optimized plan; 800k before the URL parts were bound once)
    df = spark.createDataFrame([("http://a.example/b/../c",)], "u string")
    plan = df.select(eng._canon(u))._jdf.queryExecution().optimizedPlan()
    assert len(plan.toString()) < 20_000
