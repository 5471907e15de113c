"""Crawl engine vs sequential oracle: ordering, seen-set, politeness,
dedup, robots, resume — the BASELINE.json north_rule checks."""

from __future__ import annotations

from collections import Counter
from datetime import date

import pytest

from indigent_defense_stats_spark import oracle, synth
from indigent_defense_stats_spark.plans.frontier import CrawlEngine

START = date(2024, 7, 1)


@pytest.fixture(scope="module")
def world():
    reg = synth.make_registry(3, n_scrape=2)
    return reg, oracle.crawl(reg, START, 2)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory, world):
    reg, _ = world
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("crawl")),
        reg,
        START,
        2,
        n_buckets=4,
    )
    eng.run()
    return eng


def test_url_seen_set_equality(engine, world):
    _, log = world
    assert {u for _, u in engine.priority_sorted_log()} == {
        f["url"] for f in log.fetches
    }
    # engine seen table covers every fetched URL
    assert {f["url"] for f in log.fetches} <= engine.seen_urls()


def test_per_host_priority_order_equals_reference(engine, world):
    _, log = world
    ps = engine.priority_sorted_log()
    for host in sorted({h for h, _ in ps}):
        eng_seq = [u for h, u in ps if h == host]
        assert eng_seq == log.host_sequence(host, dedup=True), host


def test_each_url_fetched_exactly_once(engine):
    rows = engine.fetch_log().collect()
    urls = [r["canonical_url"] for r in rows]
    assert len(urls) == len(set(urls))


def test_politeness_budget_parity(engine, world):
    """Per-host inter-fetch gaps (incl. retry backoff) must equal the
    oracle's — same politeness budget, same backoff schedule."""
    _, log = world
    seqs = engine.wallclock_host_sequences()
    eng_rows = {}
    for r in engine.fetch_log().collect():
        eng_rows.setdefault(r["host"], []).append(
            (r["fetch_ts_ms"], r["canonical_url"], r["attempts"])
        )
    for host, rows in eng_rows.items():
        rows.sort()
        gaps = [rows[0][0]] + [b[0] - a[0] for a, b in zip(rows, rows[1:])]
        # every gap respects the budget: >= 200ms * attempts triangular
        for (ts, url, attempts), gap in zip(rows, gaps):
            expect = sum(
                oracle.POLITENESS_MS * (k + 1) for k in range(attempts)
            )
            assert gap >= expect, (host, url)
    # retries actually happen in this world
    assert any(r["attempts"] > 1 for r in engine.fetch_log().collect())


def test_documents_span_equality(engine, world):
    _, log = world
    eng_docs = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in r["spans"]
        ]
        for r in engine.documents().collect()
    }
    ora_docs = {
        cid: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
        for cid, (county, spans) in log.documents.items()
    }
    assert eng_docs == ora_docs


def test_strict_mode_wallclock_order(spark, tmp_path):
    """max_per_host_per_wave=1 -> per-host wall-clock order IS the
    reference sequential order (SURVEY O5 degeneration requirement)."""
    reg = synth.make_registry(2, n_scrape=1)
    log = oracle.crawl(reg, START, 1)
    eng = CrawlEngine(
        spark, str(tmp_path), reg, START, 1, n_buckets=2, max_per_host_per_wave=1
    )
    eng.run(max_waves=100)
    seqs = eng.wallclock_host_sequences()
    for host, seq in seqs.items():
        assert seq == log.host_sequence(host, dedup=True), host


def test_robots_filter(spark, tmp_path):
    """Contrived deny rule suppresses case-detail fetches for one host."""
    reg = synth.make_registry(2, n_scrape=2)
    h0 = synth.portal_host(0)
    h1 = synth.portal_host(1)
    eng = CrawlEngine(
        spark,
        str(tmp_path),
        reg,
        START,
        1,
        n_buckets=2,
        robots_rules={h0: ["/CaseDetail.aspx"], h1: []},
    )
    eng.run()
    log = eng.fetch_log().collect()
    case_hosts = {r["host"] for r in log if r["depth"] == 4}
    assert h0 not in case_hosts
    assert h1 in case_hosts


def test_robots_denies_seed_urls_too(spark, tmp_path):
    """A deny-all host must never be fetched at all — robots applies to
    the seed login/main pages, not only expanded candidates."""
    reg = synth.make_registry(2, n_scrape=2)
    h0 = synth.portal_host(0)
    h1 = synth.portal_host(1)
    eng = CrawlEngine(
        spark,
        str(tmp_path),
        reg,
        START,
        1,
        n_buckets=2,
        robots_rules={h0: ["/"], h1: []},
    )
    eng.run()
    hosts = {r["host"] for r in eng.fetch_log().collect()}
    assert h0 not in hosts
    assert h1 in hosts


def test_resume_mid_frontier(spark, tmp_path, world):
    """Kill after 2 waves; a new engine resumes from the checkpoint and
    finishes; no URL is ever fetched twice; final state equals the
    uninterrupted run."""
    reg, log = world
    eng1 = CrawlEngine(spark, str(tmp_path), reg, START, 2, n_buckets=4)
    eng1.run(max_waves=2)
    mid_count = eng1.fetch_log().count()
    assert mid_count > 0
    eng2 = CrawlEngine(spark, str(tmp_path), reg, START, 2, n_buckets=4)
    eng2.run()
    urls = [r["canonical_url"] for r in eng2.fetch_log().collect()]
    assert len(urls) == len(set(urls)), "re-fetch after resume"
    assert set(urls) == {f["url"] for f in log.fetches}
    ps = eng2.priority_sorted_log()
    for host in sorted({h for h, _ in ps}):
        assert [u for h, u in ps if h == host] == log.host_sequence(host), host


def test_recency_priority_fetches_newest_dates_first(spark, tmp_path):
    """priority='recency' (the north-star queue: case-date recency,
    then depth): with one fetch per host per wave, results pages must
    be fetched newest-date-first."""
    reg = synth.make_registry(1, n_scrape=1)
    eng = CrawlEngine(
        spark,
        str(tmp_path),
        reg,
        START,
        3,
        n_buckets=2,
        max_per_host_per_wave=1,
        priority="recency",
    )
    eng.run(max_waves=200)
    rows = (
        eng.fetch_log()
        .filter("depth = 3")
        .orderBy("fetch_ts_ms")
        .select("canonical_url")
        .collect()
    )
    import re

    dates = [
        re.search(r"DateFiled=([0-9%F/]+)&", r["canonical_url"]).group(1)
        for r in rows
    ]
    # %2F-encoded MM/DD/YYYY inside one month sorts correctly as string
    assert dates == sorted(dates, reverse=True), dates
    assert len(set(dates)) == 3


def test_torn_wave_lineage_dropped_on_resume(spark, tmp_path, world):
    """Lineage commits on a background thread overlapped with the wave;
    a kill between the lineage commit and the frontier commit leaves a
    torn lineage snapshot for a wave that will re-run.  Resume must
    drop it so the fetch log holds each URL exactly once."""
    reg, log = world
    eng = CrawlEngine(spark, str(tmp_path), reg, START, 2, n_buckets=2)
    eng.run(max_waves=1)  # stop mid-crawl with pending work left
    # simulate the torn write: lineage for the NEXT wave committed,
    # frontier for that wave not
    pending_wave = (
        eng.frontier_t.read().filter("status = 'pending'").agg({"wave": "max"})
    ).collect()[0][0]
    import pyspark.sql.functions as F

    torn = eng.fetch_log().limit(3).withColumn(
        "wave", F.lit(int(pending_wave))
    )
    eng.log_t.write(torn, {"wave": int(pending_wave)})
    before = eng.fetch_log().count()
    # resume to completion
    eng2 = CrawlEngine(spark, str(tmp_path), reg, START, 2, n_buckets=2)
    eng2.run()
    urls = [r["canonical_url"] for r in eng2.fetch_log().collect()]
    assert len(urls) == len(set(urls)), "duplicate fetch-log rows after resume"
    assert {u for u in urls} == {f["url"] for f in log.fetches}


def test_budgeted_crawl_resumes_across_run_calls(spark, tmp_path):
    """max_waves bounds waves per call; repeated run() calls make
    progress (not an absolute cap), wave tags never collide with
    committed waves, and the final crawl equals the reference."""
    reg = synth.make_registry(2, n_scrape=1)
    log = oracle.crawl(reg, START, 1)
    eng = CrawlEngine(
        spark, str(tmp_path), reg, START, 1, n_buckets=2, max_per_host_per_wave=2
    )
    total = 0
    for _ in range(40):
        stats = eng.run(max_waves=3)
        total += len(stats)
        if not stats:
            break
    urls = [r["canonical_url"] for r in eng.fetch_log().collect()]
    assert len(urls) == len(set(urls)), "duplicate fetches"
    assert set(urls) == {f["url"] for f in log.fetches}
    # lineage snapshots carry unique wave tags
    waves = [
        eng.log_t.manifest(s).get("wave") for s in eng.log_t.snapshots()
    ]
    assert len(waves) == len(set(waves))


def test_fetch_clock_spans_arrow_batches(spark, tmp_path, world):
    """The fetch is one host-sorted mapInPandas task per core.  With
    3-row Arrow batches a host's rows span several batches, and its
    virtual clock must still run unbroken across them: each host's
    (fetch_ts_ms, canonical_url, attempts) equals the oracle's dedup'd
    fetches replayed wave by wave (one wave per reference depth) on a
    per-host clock that advances 200 ms x attempt before each attempt."""
    reg, log = world
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        eng = CrawlEngine(spark, str(tmp_path), reg, START, 2, n_buckets=4)
        eng.run()
        n_parts = eng._fetch(eng.seeds(), 0).rdd.getNumPartitions()
        rows = eng.fetch_log().collect()
    finally:
        spark.conf.set(key, old)
    assert n_parts == spark.sparkContext.defaultParallelism
    # some host fetches more rows in one wave than a batch holds
    per_wave = Counter((r["host"], r["wave"]) for r in rows)
    assert max(per_wave.values()) > 3

    eng_rows = {}
    for r in rows:
        eng_rows.setdefault(r["host"], []).append(
            (r["fetch_ts_ms"], r["canonical_url"], r["attempts"])
        )

    expected = {}
    for host in {f["host"] for f in log.fetches}:
        first = {}
        for f in log.fetches:
            if f["host"] == host and f["url"] not in first:
                first[f["url"]] = f
        clock, seq = 0, []
        for f in sorted(first.values(), key=lambda f: f["depth"]):
            clock += sum(
                oracle.POLITENESS_MS * (k + 1) for k in range(f["attempts"])
            )
            seq.append((clock, f["url"], f["attempts"]))
        expected[host] = seq
    assert {h: sorted(seq) for h, seq in eng_rows.items()} == expected
