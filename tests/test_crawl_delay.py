"""Per-host robots ``Crawl-delay`` politeness overrides.

The reference paces every host at a single 200 ms interval
(scraper/__init__.py:57); real crawls must honor a host's robots.txt
``Crawl-delay`` directive instead when one is declared.  The engine
takes a per-host override map (``crawl_delay_ms``) that flows into
BOTH pacing modes:

- budget mode (the wave loop's virtual clock): the per-host fetch
  group spaces its token bucket at the host's interval, backoff
  included — checked against the fetch_log's simulated clocks;
- wall-clock deployment mode (``_paced_fetch_partition``): the
  earliest-deadline heap schedules each host at its own interval —
  checked against the ``t_mono`` monotonic timestamps the worker
  records at each GET.

Ordering and URL-seen semantics are interval-independent (priority
tuples order fetches; the clock only stamps them), so the sequential
oracle's per-host order must hold unchanged under overrides.
"""

from __future__ import annotations

from datetime import date

import pandas as pd
import pytest

from indigent_defense_stats_spark import oracle, synth
from indigent_defense_stats_spark.plans.frontier import (
    POLITENESS_MS,
    CrawlEngine,
    _paced_fetch_partition,
)

START = date(2024, 7, 1)
SLOW_MS = 1000  # host 0's robots Crawl-delay: 1s (5x the default)


@pytest.fixture(scope="module")
def world():
    reg = synth.make_registry(2, n_scrape=2)
    return reg, oracle.crawl(reg, START, 2)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory, world):
    reg, _ = world
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("crawl_delay")),
        reg,
        START,
        2,
        n_buckets=2,
        crawl_delay_ms={synth.portal_host(0): SLOW_MS},
    )
    eng.run()
    return eng


def _host_clock_diffs(eng: CrawlEngine, host: str) -> list[int]:
    rows = (
        eng.fetch_log()
        .filter(f"host = '{host}'")
        .orderBy("fetch_ts_ms")
        .select("fetch_ts_ms")
        .collect()
    )
    ts = [r["fetch_ts_ms"] for r in rows]
    return [b - a for a, b in zip(ts, ts[1:])]


def test_budget_mode_respects_override(engine):
    """Host 0 paces at SLOW_MS: every inter-fetch gap is a positive
    multiple of it (retry backoff adds whole extra intervals), and the
    first fetch pays one full interval from clock 0."""
    diffs = _host_clock_diffs(engine, synth.portal_host(0))
    assert diffs, "slow host fetched fewer than 2 URLs"
    assert all(d >= SLOW_MS and d % SLOW_MS == 0 for d in diffs)
    first = (
        engine.fetch_log()
        .filter(f"host = '{synth.portal_host(0)}'")
        .agg({"fetch_ts_ms": "min"})
        .collect()[0][0]
    )
    assert first >= SLOW_MS and first % SLOW_MS == 0


def test_budget_mode_default_hosts_unchanged(engine):
    """Hosts absent from the map keep the reference 200 ms interval."""
    diffs = _host_clock_diffs(engine, synth.portal_host(1))
    assert diffs
    assert all(
        d >= POLITENESS_MS and d % POLITENESS_MS == 0 for d in diffs
    )
    # and at least one gap is exactly the base interval (no silent
    # global slowdown)
    assert POLITENESS_MS in diffs


def test_override_preserves_order_and_seen(engine, world):
    """Crawl-delay changes WHEN, never WHAT or in what order: per-host
    priority order and the URL-seen set still equal the sequential
    oracle's."""
    _, log = world
    ps = engine.priority_sorted_log()
    for host in sorted({h for h, _ in ps}):
        eng_seq = [u for h, u in ps if h == host]
        assert eng_seq == log.host_sequence(host, dedup=True), host
    assert {u for _, u in ps} == {f["url"] for f in log.fetches}


def test_intervals_dimension_defaults(spark, tmp_path, world):
    """Without overrides every host's interval is POLITENESS_MS — the
    per-host interval map is an exact no-op vs the pre-feature engine."""
    reg, _ = world
    eng = CrawlEngine(spark, str(tmp_path), reg, START, 1, n_buckets=2)
    rows = list(eng._intervals.values())
    assert len(rows) == 2
    assert all(r == POLITENESS_MS for r in rows)


def _paced_run(politeness_ms: int, delays: dict[int, int], urls_per_host: int):
    pdf = pd.DataFrame(
        {
            "host_i": [h for h in (0, 1) for _ in range(urls_per_host)],
            "url": [
                f"http://portal-{h}.example/CaseDetail.aspx?CaseID="
                f"{(h + 1) * 100000 + i}"
                for h in (0, 1)
                for i in range(urls_per_host)
            ],
        }
    )
    run = _paced_fetch_partition(politeness_ms, True, delays)
    (out,) = list(run([pdf]))
    return out


def test_paced_mode_per_host_wall_clock_spacing():
    """Real wall-clock pacing: host 0 at 120 ms, host 1 at 20 ms —
    consecutive GET starts per host are at least the host's interval
    apart (measured from the worker's own monotonic timestamps)."""
    out = _paced_run(20, {0: 120}, urls_per_host=4)
    assert len(out) == 8 and out["ok"].all()
    for h, iv_ms in ((0, 120), (1, 20)):
        ts = sorted(out[out["host_i"] == h]["t_mono"])
        gaps = [b - a for a, b in zip(ts, ts[1:])]
        assert all(g >= iv_ms / 1000.0 - 1e-4 for g in gaps), (h, gaps)
    # the slow host must NOT stall the fast one: host 1 finishes its
    # 4 GETs well inside host 0's 3x120 ms pacing floor
    t1 = sorted(out[out["host_i"] == 1]["t_mono"])
    t0 = sorted(out[out["host_i"] == 0]["t_mono"])
    assert t1[-1] - t1[0] < t0[-1] - t0[0]


def test_paced_mode_mapinpandas_schema(spark):
    """The deployment-mode operator runs under Spark with the t_mono
    column in its output contract."""
    import pyspark.sql.functions as F

    urls = spark.range(6).select(
        (F.col("id") % 2).cast("int").alias("host_i"),
        F.concat(
            F.lit("http://portal-"),
            (F.col("id") % 2).cast("string"),
            F.lit(".example/CaseDetail.aspx?CaseID="),
            ((F.col("id") % 2 + 1) * 100000 + F.col("id")).cast("string"),
        ).alias("url"),
    )
    out = urls.repartition(1).mapInPandas(
        _paced_fetch_partition(10, True, {0: 30}),
        "host_i int, url string, ok boolean, t_mono double",
    )
    rows = out.collect()
    assert len(rows) == 6
    assert all(r["t_mono"] > 0 for r in rows)
