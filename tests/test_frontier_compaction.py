"""Engine-level frontier compaction, killed and resumed.

The frontier compacts only once its remove files outgrow
``spark.sql.autoBroadcastJoinThreshold`` (``DeltaTable.compaction_pays``),
which a test-sized crawl never reaches.  Turning broadcasts off (-1)
makes any dead majority compact, so the crawl below compacts; the
first compaction is killed before its wave commits, and a fresh
engine resumes.  The resumed crawl must roll the torn base back,
compact again, and end with every URL fetched and seen exactly once.
"""

from __future__ import annotations

from datetime import date

import pytest

from indigent_defense_stats_spark import oracle, synth
from indigent_defense_stats_spark.plans.frontier import CrawlEngine

START = date(2024, 7, 1)
N_DAYS = 2
KEY = "spark.sql.autoBroadcastJoinThreshold"


class Killed(Exception):
    pass


def _compactions(eng: CrawlEngine) -> list[int]:
    """Wave tags of the frontier's compaction bases."""
    t = eng.frontier_t
    return [
        t.manifest(s)["wave"]
        for s in t.snapshots()
        if t.manifest(s).get("event") == "compact"
    ]


def test_compaction_survives_kill_and_resume(spark, tmp_path):
    reg = synth.make_registry(3, n_scrape=2)
    log = oracle.crawl(reg, START, N_DAYS)
    old = spark.conf.get(KEY)
    spark.conf.set(KEY, "-1")
    try:
        eng = CrawlEngine(spark, str(tmp_path), reg, START, N_DAYS)
        compact = eng.frontier_t.compact

        def compact_then_die(meta):
            compact(meta)
            raise Killed(meta["wave"])

        eng.frontier_t.compact = compact_then_die
        with pytest.raises(Killed) as killed:
            eng.run()
        torn = killed.value.args[0]
        # the torn base is on disk, its wave uncommitted
        assert _compactions(eng) == [torn]
        assert eng._last_committed_wave() < torn

        resumed = CrawlEngine(spark, str(tmp_path), reg, START, N_DAYS)
        resumed.run()
    finally:
        spark.conf.set(KEY, old)

    # the torn base was rolled back, the re-run wave compacted again
    # and committed
    assert torn in _compactions(resumed)
    assert max(_compactions(resumed)) <= resumed._last_committed_wave()
    want = {f["url"] for f in log.fetches}
    fetched = [r["canonical_url"] for r in resumed.fetch_log().collect()]
    assert len(fetched) == len(set(fetched)), "URL fetched twice"
    assert set(fetched) == want
    ps = resumed.priority_sorted_log()
    for host in sorted({h for h, _ in ps}):
        assert [u for h, u in ps if h == host] == log.host_sequence(host), host
    seen = [r["canonical_url"] for r in resumed.seen_t.read().collect()]
    assert len(seen) == len(set(seen)), "URL seen twice"
    assert set(seen) == want
    # drained: nothing pending, by the footers and by the merge-on-read
    assert resumed.frontier_t.live_rowcount() == 0
    assert resumed.frontier_t.read().count() == 0
