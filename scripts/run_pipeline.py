#!/usr/bin/env python
"""End-to-end pipeline driver: crawl -> parse -> clean -> publish ->
analytics, on the deterministic synthetic Odyssey world.

This is the spark-submit entry point a reference user would run in
place of ``python -m orchestrator`` (reference:
src/orchestrator/__init__.py) — same stage sequence, distributed:

  spark-submit --py-files ids_spark.zip scripts/run_pipeline.py \
      --counties 24 --days 4 --base-dir /tmp/ids-run

Re-running with the same --base-dir resumes from the last frontier
snapshot (no re-fetching) and republish is content-hash idempotent.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from datetime import date

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import pandas as pd  # noqa: E402
import pyspark.sql.functions as F  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--counties", type=int, default=8)
    ap.add_argument("--days", type=int, default=2)
    ap.add_argument("--base-dir", default="/tmp/ids-pipeline")
    ap.add_argument("--master", default=None)
    ap.add_argument("--start", default="2024-07-01")
    ap.add_argument("--priority", choices=["reference", "recency"], default="reference")
    ap.add_argument(
        "--refresh",
        type=int,
        default=0,
        metavar="G",
        help="after publishing, run G refresh generations (the"
        " reference updater's flow, distributed): re-fetch every known"
        " case page, hash-skip unchanged, version-bump changed",
    )
    ap.add_argument(
        "--discover",
        type=int,
        default=0,
        metavar="EXTRA_DAYS",
        help="after the crawl, ingest the portals' sitemaps covering"
        " the crawl window plus EXTRA_DAYS more days, and report how"
        " many genuinely-new URLs the sitemap channel adds after the"
        " exact URL-seen anti-join (the second discovery channel)",
    )
    ap.add_argument(
        "--warc-out",
        default=None,
        metavar="DIR",
        help="archive the crawled documents as WARC (ISO 28500):"
        " one response record per fetched case page, payload = the"
        " engine's interleaved span document as JSON (a production"
        " deployment archives raw bytes at fetch time; the span"
        " table IS this engine's fetch record)",
    )
    ap.add_argument(
        "--hygiene",
        action="store_true",
        help="crawl a pathological portal (session-param aliases +"
        " mirror-host links), mine DUST irrelevance rules AND the"
        " mirror-host collapse map from the crawl's own fetch log +"
        " documents, then re-crawl with both and report the fetch"
        " savings; the cured crawl feeds the rest of the pipeline",
    )
    args = ap.parse_args()

    from indigent_defense_stats_spark import synth
    from indigent_defense_stats_spark.operators import analytics, clean, parse, publish
    from indigent_defense_stats_spark.plans.frontier import CrawlEngine
    from indigent_defense_stats_spark.session import get_spark
    from indigent_defense_stats_spark.sources.catalog import SnapshotTable

    spark = get_spark(app_name="ids-pipeline", master=args.master)
    t0 = time.time()

    # ---- crawl (S1-S7, C1-C6) -------------------------------------------
    eng = CrawlEngine(
        spark,
        os.path.join(args.base_dir, "crawl"),
        synth.make_registry(args.counties, n_scrape=args.counties),
        date.fromisoformat(args.start),
        args.days,
        priority=args.priority,
        alias_noise=args.hygiene,
        mirror_noise=args.hygiene,
    )
    stats = eng.run()
    docs = eng.documents()
    n_docs = docs.count()
    print(f"[crawl] waves={len(stats)} documents={n_docs} "
          f"fetched={sum(s.fetched for s in stats)} "
          f"failed={sum(s.failed for s in stats)} "
          f"({time.time()-t0:.1f}s)")

    # ---- crawl hygiene (DUST mine + cure, optional) -----------------------
    if args.hygiene:
        from indigent_defense_stats_spark.operators import dust
        from indigent_defense_stats_spark.operators.dedup import (
            mirror_map_from_crawl,
        )

        rules = dust.rules_from_crawl(
            eng.fetch_log(), docs, min_support=3
        ).cache()
        amap = mirror_map_from_crawl(eng.fetch_log(), docs).cache()
        mined = [
            (r["host"], r["param"])
            for r in rules.filter("irrelevant").collect()
        ]
        pairs = [
            (r["alias_host"], r["canonical_host"]) for r in amap.collect()
        ]
        print(f"[hygiene] mined rules: {sorted(mined)}")
        print(f"[hygiene] mirror map: {sorted(pairs)}")
        cured = CrawlEngine(
            spark,
            os.path.join(args.base_dir, "crawl_cured"),
            synth.make_registry(args.counties, n_scrape=args.counties),
            date.fromisoformat(args.start),
            args.days,
            priority=args.priority,
            alias_noise=True,
            mirror_noise=True,
            dust_rules=rules,
            host_aliases=amap,
        )
        cured.run()
        before = eng.fetch_log().count()
        after = cured.fetch_log().count()
        print(
            f"[hygiene] fetches {before} -> {after} "
            f"({before - after} aliases collapsed)"
        )
        eng, docs = cured, cured.documents()

    # ---- parse (P7-P13, A1-A2, O1-O2, F8) --------------------------------
    # quality counters ride the SAME action via Observation (side-
    # channel accumulators, no second pass): counting good and
    # quarantined separately would re-run the parse twice.  good is
    # persisted: clean's two branches, publish's checkpoints and the
    # analytics each read it, and would each re-run the parse otherwise
    from pyspark import StorageLevel
    from pyspark.sql import Observation

    obs = Observation("parse")
    parsed = parse.parse_documents(docs).observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("parse_error").isNull(), 1).otherwise(0)
        ).alias("n_good"),
    )
    good = parse.good_records(parsed).persist(StorageLevel.MEMORY_AND_DISK)
    n_good = good.count()  # the one action; metrics populate with it
    m = obs.get
    assert m["n_good"] == n_good
    print(f"[parse] good={n_good} quarantined={m['n'] - m['n_good']}")

    # ---- clean (P14-P15, J2, J7, A3-A4, F9) ------------------------------
    charge_dim = spark.createDataFrame(pd.DataFrame(synth.make_charge_dim()))
    cleaned = clean.clean_records(good, charge_dim, parsing_date="2024-07-31")
    print(f"[clean] records={cleaned.count()}")

    # ---- publish (J4, J5, S13) -------------------------------------------
    # schema=None: publish() only read()s the target (never
    # read_or_empty), and the inserted rows extend CASE_RECORDS_CLEAN
    # with version/id columns
    # append mode: read() = FULL publish history (the hash-skip
    # contract), each snapshot = one inserted batch (the CDC changelog)
    target = SnapshotTable(
        spark, os.path.join(args.base_dir, "published"), None, "append"
    )
    inserted = publish.publish(cleaned, target, today="07-31-2024")
    print(f"[publish] inserted={inserted.count()}")

    # ---- refresh generations (updater flow, optional) ----------------------
    for g in range(1, args.refresh + 1):
        docs_g = eng.refresh(generation=g)
        good_g = parse.good_records(parse.parse_documents(docs_g)).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        cleaned_g = clean.clean_records(
            good_g, charge_dim, parsing_date="2024-07-31"
        )
        ins_g = publish.publish(cleaned_g, target, today="07-31-2024")
        print(
            f"[refresh g={g}] refetched={docs_g.count()} "
            f"versioned={ins_g.count()} (hash-skipped the rest)"
        )
        good_g.unpersist()

    # ---- WARC archive sink (optional) --------------------------------------
    if args.warc_out:
        from indigent_defense_stats_spark.sources import warc as warc_io

        # one record per case page, latest fetch wins (refresh
        # generations refetch); date from the engine's virtual clock
        # (deterministic data, not now()) via the session UTC zone
        case_log = (
            eng.fetch_log()
            .filter(
                (F.col("status") == "fetched")
                & F.col("canonical_url").contains("CaseDetail.aspx")
            )
            .groupBy(
                F.regexp_extract("canonical_url", r"CaseID=(\w+)", 1).alias(
                    "doc_id"
                )
            )
            .agg(
                F.max_by("canonical_url", "fetch_ts_ms").alias("url"),
                F.max("fetch_ts_ms").alias("fetch_ts_ms"),
            )
        )
        fetches = docs.join(case_log, "doc_id").select(
            "url",
            F.concat(
                F.date_format(
                    F.timestamp_millis("fetch_ts_ms"), "yyyy-MM-dd'T'HH:mm:ss"
                ),
                F.lit("Z"),
            ).alias("warc_date"),
            F.to_json(F.struct("doc_id", "county", "spans")).alias("payload"),
        )
        out = warc_io.write_warc(
            warc_io.to_warc_records(fetches, content_type="application/json"),
            args.warc_out,
        )
        n_back = warc_io.read_warc(spark, out).count()
        print(f"[warc] records={n_back} archived at {out}")

    # ---- sitemap discovery channel (optional) ------------------------------
    if args.discover:
        from indigent_defense_stats_spark.sources import sitemap

        t_d = time.time()
        start_ord = date.fromisoformat(args.start).toordinal()
        window = args.days + args.discover
        # enumerate the portals' published case URLs (the world's
        # sitemap side — synthesis, not the engine under test)
        triples = (
            spark.range(args.counties)
            .withColumnRenamed("id", "county")
            .crossJoin(
                spark.range(start_ord, start_ord + window).withColumnRenamed(
                    "id", "day_ord"
                )
            )
            .repartition(spark.sparkContext.defaultParallelism)
        )

        def _case_rows(pdfs):
            from indigent_defense_stats_spark import synth

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

        published = triples.mapInPandas(
            _case_rows, "host string, url string, day_ord long"
        ).select(
            "host",
            "url",
            F.date_from_unix_date(
                (F.col("day_ord") - date(1970, 1, 1).toordinal()).cast("int")
            ).alias("lastmod"),
            F.lit("0.5").alias("prio"),
            (F.col("day_ord") >= start_ord + args.days).alias("fresh"),
        )
        # engine under test: publish -> parse -> seen-filter
        discovered = sitemap.parse_sitemaps(sitemap.build_sitemaps_from(published))
        seen = eng.fetch_log().filter(
            F.col("canonical_url").contains("CaseDetail.aspx")
        ).select(F.col("canonical_url").alias("url"))
        new = discovered.select("url").join(seen, "url", "left_anti")
        print(
            f"[discover] sitemap_urls={discovered.count()} "
            f"new_after_seen_filter={new.count()} "
            f"(+{args.discover} days beyond the crawl window, "
            f"{time.time()-t_d:.1f}s)"
        )

    # ---- analytics (J6, W1-W2, A7-A9) ------------------------------------
    events = analytics.events_flat(good)
    print(f"[analytics] event rows={events.count()}")
    events.groupBy("attorney").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("days_elapsed"), 2).alias("avg_days_elapsed"),
    ).orderBy("attorney").show(truncate=False)

    good.unpersist()
    print(f"[done] total {time.time()-t0:.1f}s")
    spark.stop()


if __name__ == "__main__":
    main()
