"""The benchmark's workloads.

Each workload makes its inputs from the seed (``prepare``, part of
set-up), runs the pipeline once through the package's public calls
with a span around each layer (``run``), and checks what came out
against the sequential oracle (``check``).  Nothing here changes how
the pipeline is configured: the calls are the ones
``scripts/run_pipeline.py`` makes, with each layer's output persisted
so that a layer's span holds its own work and not a recomputation of
the layers before it.
"""

from __future__ import annotations

import os
import random
import time
from datetime import date, timedelta

import pandas as pd
import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import Observation

from indigent_defense_stats_spark import oracle, synth
from indigent_defense_stats_spark.operators import analytics, clean, parse, publish
from indigent_defense_stats_spark.plans.frontier import CrawlEngine
from indigent_defense_stats_spark.sources.catalog import SnapshotTable

START = date(2024, 7, 1)
PARSING_DATE = "2024-07-31"  # the dates scripts/run_pipeline.py passes
TODAY = "07-31-2024"
N_COUNTIES = 254  # Texas
CASE_ID_SPAN = 100_000  # case ids of county i are (i + 1) * 100000 + k


def _dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


def case_pages(pairs: list[tuple[int, str]]) -> tuple[float, float]:
    """Seconds spent in the simulated portal (``synth.fetch``, which
    renders the page) and in the engine's extractor
    (``synth.extract_spans``) over the same case pages, so that a
    change in crawl throughput can be credited to one or the other."""
    # the attempt that succeeds: transient 503s are the portal's, not
    # page work, and are left out of the timing
    urls = [synth.case_url(i, cid) for i, cid in pairs]
    attempts = [synth.transient_failures(u) for u in urls]
    pages = []
    t0 = time.perf_counter()
    for url, attempt in zip(urls, attempts):
        pages.append(synth.fetch(url, attempt)["html"])
    t1 = time.perf_counter()
    for html in pages:
        synth.extract_spans(html)
    return t1 - t0, time.perf_counter() - t1


class Downstream:
    """parse -> clean -> publish -> analytics over one documents
    table, into an append-mode publish target (full history)."""

    def __init__(self, spark) -> None:
        self.charge_dim = spark.createDataFrame(pd.DataFrame(synth.make_charge_dim()))

    def run(self, tracer, read_docs, target: SnapshotTable) -> dict:
        """``read_docs`` returns the documents DataFrame; it is called
        inside the parse span, as reading the input is parse's work."""
        history = target.rowcount()  # parquet footers, no Spark job
        target_mb = _dir_mb(target.path)
        with tracer.span("parse"):
            obs = Observation()
            parsed = parse.parse_documents(read_docs()).observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("parse_error").isNull(), 1).otherwise(0)).alias(
                    "n_good"
                ),
            )
            good = parse.good_records(parsed).persist(StorageLevel.MEMORY_AND_DISK)
            n_good = good.count()
            m = obs.get
        with tracer.span("clean"):
            cleaned = clean.clean_records(good, self.charge_dim, PARSING_DATE).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            n_clean = cleaned.count()
        with tracer.span("publish"):
            inserted = publish.publish(cleaned, target, today=TODAY)
            n_inserted = inserted.count()
        with tracer.span("analytics"):
            n_events = analytics.events_flat(good).count()
            stats = analytics.case_stats(good).collect()
        cleaned.unpersist()
        good.unpersist()
        return {
            "docs": m["n"],
            "good": n_good,
            "quarantined": m["n"] - m["n_good"],
            "clean": n_clean,
            "inserted": n_inserted,
            "history": history,
            "written_mb": _dir_mb(target.path) - target_mb,
            "events": n_events,
            "cases": stats[0]["n_cases"],
        }


class CrawlRelist:
    """254 portals over 4 days with the default case pool: 4 waves, and
    most listed case links re-list a case already seen."""

    name = "crawl_relist"
    n_days = 4

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.start = START + timedelta(days=seed % 365)
        self.registry = synth.make_registry(N_COUNTIES, n_scrape=N_COUNTIES)

    def prepare(self, spark, inputs_dir: str) -> None:
        self.expect()
        self.downstream = Downstream(spark)

    def expect(self) -> None:
        """The sequential oracle's crawl of the same world."""
        t0 = time.perf_counter()
        log = oracle.crawl(self.registry, self.start, self.n_days)
        self.oracle_s = time.perf_counter() - t0
        self.seen = {f["url"] for f in log.fetches}
        self.host_order = {
            h: log.host_sequence(h, dedup=True) for h in {f["host"] for f in log.fetches}
        }
        self.n_docs = len(log.documents)
        rng = random.Random(self.seed)
        self.sample = [
            (int(county.replace("county", "")), cid)
            for cid, (county, _) in rng.sample(
                sorted(log.documents.items()), min(200, len(log.documents))
            )
        ]

    def run(self, spark, tracer, workdir: str) -> dict:
        with tracer.span("frontier"):
            eng = CrawlEngine(
                spark,
                os.path.join(workdir, "crawl"),
                self.registry,
                self.start,
                self.n_days,
            )
            waves = eng.run()
        target = SnapshotTable(spark, os.path.join(workdir, "published"), None, "append")
        out = {"gens": [self.downstream.run(tracer, eng.documents, target)]}
        out["engine"] = eng
        out["waves"] = waves
        return out

    def check(self, out: dict) -> list[str]:
        eng = out["engine"]
        problems = []
        by_host: dict[str, list[str]] = {}
        for host, url in eng.priority_sorted_log():
            by_host.setdefault(host, []).append(url)
        if {u for urls in by_host.values() for u in urls} != self.seen:
            problems.append("URL-seen set differs from the oracle")
        bad = sorted(h for h, want in self.host_order.items() if by_host.get(h) != want)
        if bad:
            problems.append(f"per-host fetch order differs on {len(bad)} hosts, e.g. {bad[0]}")
        g = out["gens"][0]
        if g["docs"] != self.n_docs:
            problems.append(f"documents {g['docs']} != oracle {self.n_docs}")
        if g["good"] + g["quarantined"] != g["docs"]:
            problems.append("parse lost documents")
        if g["cases"] != g["good"]:
            problems.append(f"case_stats counts {g['cases']} cases of {g['good']}")
        return problems

    def crawl_counts(self, out: dict, workdir: str) -> dict:
        """Frontier counts for the traced run (Spark jobs outside spans),
        and the end time of the seed write and of each wave: the engine
        commits each with a marker file, written last."""
        eng, waves = out["engine"], out["waves"]
        attempts = eng.fetch_log().agg(F.sum("attempts")).head()[0]
        commits = os.path.join(workdir, "crawl", "commits")
        return {
            "waves": len(waves),
            "urls": sum(w.fetched + w.failed for w in waves),
            "new_urls": sum(w.new_urls for w in waves),
            "case_docs": sum(w.documents for w in waves),
            "attempts": int(attempts),
            "state_mb": _dir_mb(os.path.join(workdir, "crawl")),
            "wave_ends": sorted(
                os.stat(os.path.join(commits, f)).st_mtime for f in os.listdir(commits)
            ),
        }


class Republish:
    """The updater flow without a fetch: generation 0 of a seeded case
    sample is published into an empty history, then generation 1 (about
    a third of the cases changed) against that history."""

    name = "republish"
    # run_s in one cold process (seed 61, 4 cores): 18.4 s at 2,000
    # cases, 25.8 s at 10,000, 39.0 s at 20,000, i.e. ~15.5 s of per-job
    # fixed cost plus ~1.15 ms per case; at 10,000 about 40% of a run
    # is per-case work.  20,000 does not fit the benchmark's time budget
    # next to crawl_relist.
    n_cases = 10_000

    def __init__(self, seed: int) -> None:
        self.seed = seed
        rng = random.Random(seed)
        self.cases = []
        for key in sorted(rng.sample(range(N_COUNTIES * CASE_ID_SPAN), self.n_cases)):
            i, k = divmod(key, CASE_ID_SPAN)
            self.cases.append((i, str((i + 1) * CASE_ID_SPAN + k)))
        self.sample = self.cases[:: max(1, self.n_cases // 200)][:200]

    def prepare(self, spark, inputs_dir: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        span_t = pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )
        schema = pa.schema(
            [("doc_id", pa.string()), ("county", pa.string()), ("spans", pa.list_(span_t))]
        )
        self.paths = []
        for g in (0, 1):
            rows = [
                {"doc_id": cid, "county": f"county{i}", "spans": synth.case_spans(i, cid, g)}
                for i, cid in self.cases
            ]
            path = os.path.join(inputs_dir, f"gen{g}")
            os.makedirs(path, exist_ok=True)
            pq.write_table(
                pa.Table.from_pylist(rows, schema), os.path.join(path, "part-0.parquet")
            )
            self.paths.append(path)
        self.n_changed = sum(synth.case_changed(i, cid, 1) for i, cid in self.cases)
        # nothing is crawled, so there is no sequential crawl to time
        self.oracle_s = 0.0
        self.downstream = Downstream(spark)

    def run(self, spark, tracer, workdir: str) -> dict:
        target = SnapshotTable(spark, os.path.join(workdir, "published"), None, "append")
        gens = []
        for path in self.paths:
            read = lambda p=path: spark.read.parquet(p)  # noqa: E731
            gens.append(self.downstream.run(tracer, read, target))
        return {"gens": gens}

    def check(self, out: dict) -> list[str]:
        g0, g1 = out["gens"]
        problems = []
        for k, g in enumerate((g0, g1)):
            if g["good"] != self.n_cases:
                problems.append(f"gen{k}: good records {g['good']} != {self.n_cases}")
            if g["cases"] != g["good"]:
                problems.append(f"gen{k}: case_stats counts {g['cases']} cases")
        if g0["inserted"] != self.n_cases:
            problems.append(f"gen0: inserted {g0['inserted']} != {self.n_cases}")
        if g1["inserted"] != self.n_changed:
            problems.append(f"gen1: inserted {g1['inserted']} != changed {self.n_changed}")
        return problems


WORKLOADS = {w.name: w for w in (CrawlRelist, Republish)}
