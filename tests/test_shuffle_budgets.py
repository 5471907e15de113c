"""Shuffle-budget regression harness: every Exchange in a plan is a
full network reshuffle at cluster scale, so each query's shuffle count
is part of its performance CONTRACT — a refactor that silently adds
one (a lost partitioning reuse, a broadcast that degraded to
hash-join, a window that stopped sharing its exchange) is a 100 TB
regression that small-data correctness tests cannot see.

Budgets are the CURRENT measured hash-exchange counts (upper bounds:
going lower is always fine).  They encode specific design claims made
in the operator docstrings, e.g. funnel_stages' three dependent
windows + final collapse share ONE exchange, zorder/token_stats/
gopher/caption-mining are map-only, and bm25's corpus stats arrive by
broadcast (zero hash exchanges)."""

from __future__ import annotations

import pytest

import __spark_entry__ as e

SF_DIR = "/root/testdata/sf0.001"

# query -> max allowed "Exchange hashpartitioning" occurrences in the
# executed plan (measured on sf0.001; upper bounds)
BUDGETS = {
    # map-only contracts
    "zorder_cells": 0,
    "token_stats": 0,
    "gopher_quality_filters": 0,
    "interleaved_spans": 0,
    "media_caption_pairs": 0,
    "top5_orders": 0,  # global top-N: single-partition sort, no hash
    "bm25_search": 0,  # corpus stats broadcast, scoring map-side
    # LM scorers: the fit collects its bounded top-K model eagerly
    # (separate jobs); the RETURNED scoring plan is a pure map
    "unigram_lm_score": 0,
    "bigram_lm_score": 0,
    # single-shuffle contracts
    "funnel_stages": 1,
    "event_sequence": 1,
    "q1_pricing_summary": 1,
    "exact_dedup_docs": 1,
    "asof_attribution": 1,
    "dedup_first_event": 1,
    # bounded multi-stage contracts
    "variant_props_rollup": 2,
    "line_dedup": 2,
    "minhash_lsh_neardup": 2,
    "cms_heavy_hitters": 4,
    # register agg + per-type fold (2) + the exact countDistinct's
    # two-phase distinct (2); every shuffle is post-aggregate-sized
    "hll_distinct": 4,
    # two-phase bottom-k (grp,pid then grp) + the exact baseline's
    # window/agg sharing one grp exchange; the 5-row est side joins
    # by broadcast
    "bottomk_quantiles": 3,
    # span-text countDistinct two-phase (2) + one doc_id exchange
    # shared by the orphan window and the rewrite agg; the
    # boilerplate set joins by broadcast
    "span_boilerplate_strip": 3,
    # by-hash posting agg + map-side pair gen + pair counts + sizes;
    # size tables join by broadcast
    "mirror_hosts": 3,
    # 6 doubling rounds live behind per-round localCheckpoints; the
    # returned plan carries only the final round's join + order
    "redirect_resolution": 2,
    # build side pinned (rows/paged/news localCheckpoints — unpinned
    # this plan was 30 exchanges / 15 scans); what remains: dedup-on-
    # publish, single+index aggs, parse-side freshest-lastmod dedup
    "sitemap_frontier": 7,
    # catalog distinct + pkey dim distinct + group agg + rule rollup;
    # the absent-state channel joins the pkey dim by BROADCAST
    "dust_rules": 4,
    # mining (4) + the tiny irrelevant-keys collect_set dim (1); the
    # rewrite itself is a broadcast-join map (pinned by test_dust)
    "dust_canonical_urls": 5,
    # catalog distinct + the template countDistinct's two-phase agg
    "url_trap_hosts": 3,
    # chunking is map-only; chunk-df two-phase countDistinct + the
    # hash join back + final doc agg share the h/doc_id exchanges
    "cdc_chunk_stats": 3,
    # O(#hosts) dim windows behind a localCheckpoint pin: the
    # returned plan has ONLY the single-partition rank exchange
    "crawl_budget_waterfill": 0,
    # component labels arrive checkpointed from the propagation loop;
    # what remains is the quality join + one component window
    "cluster_canonical_docs": 1,
    # two-channel path distinct; the rule dim joins by broadcast and
    # matching is a pure map
    "robots_path_matching": 1,
    # composite of the three hygiene miners over ONE pinned catalog:
    # base agg + trap aggs + the mining chain + two per-host joins,
    # all post-aggregate-sized
    "host_reputation": 10,
    # numbered table arrives checkpointed (the offset-consistency
    # pin); what remains is the broadcast offset join + ONE shard agg
    "balanced_shards": 1,
    # grouped agg + the n_hosts distinct's two-phase expansion
    "registrable_domain_stats": 2,
    # banding self-join off the pinned phash table: the candidate
    # distinct is the single shuffle; verify joins broadcast
    "media_phash_neardup": 1,
    # gram count + df join-back + per-doc island window + island agg
    # + the struct-array join home — all linear in corpus grams
    "exact_substr_cut": 5,
    # spec URL normalization: regex split + string folds, map-only
    "rfc3986_canonical_urls": 0,
    # daily register agg (pinned) + scaffold join + per-reg RANGE
    # window + per-day fold + the exact reference's distinct pair +
    # final day joins — every shuffle is day- or register-sized
    "hll_rolling_distinct": 8,
    # per-type + per-pair register folds off one pinned register
    # table, the exact distinct-pair baseline, and type-dim joins —
    # everything post-aggregate- or dim-sized
    "hll_overlap_estimate": 8,
    # NFC pass: one Arrow-batched map stage, zero shuffle
    "nfc_normalize_docs": 0,
    # eval grams arrive by BROADCAST (train side never shuffles on the
    # gram key); island window + island agg + the rebuild join remain
    "decontaminate_cut": 4,
    # one name-count aggregate (pinned); the blocked self-join runs
    # off the checkpointed dim, block key is the single shuffle
    "fuzzy_name_pairs": 2,
    # CSV scan + one grouped aggregate
    "csv_quarantine_stats": 1,
    # (user, day) distinct two-phase + cohort min + age agg + the
    # age-0 size join — all post-distinct-sized, pinned base table
    "retention_cohorts": 6,
    # one (type, day) aggregate + one per-type RANGE window
    "rolling_zscore_anomalies": 2,
    # top-K sample merge + per-key bound count + bucket agg; the
    # bounds dim and the 1-row total broadcast
    "range_partition_plan": 4,
    # merged scan + one grouped aggregate
    "schema_evolution_stats": 1,
    # waterfill's pinned dim windows + one global single-row aggregate
    "allocation_fairness": 1,
    # real PNG codec chain: two map-only mapInPandas stages (generate
    # -> decode+stats), zero shuffle at any corpus size
    "png_decode_stats": 0,
    # adds the decode->resample->re-encode stage; still map-only
    "png_resize_stats": 0,
    # real JPEG codec chain: same two map-only stages, zero shuffle
    "jpeg_decode_stats": 0,
    # map-only HOF fingerprint construction + one doc_id aggregate
    "winnow_fingerprints": 1,
    # df-cap aggregate + posting join + pair aggregate (fp table
    # pinned; all three keyed post-selection, Σdf²-capped)
    "winnow_matches": 3,
    # one pair-count aggregate; the pinned vocab-sized unigram table
    # joins both sides without re-deriving the corpus explode
    "collocation_topk": 1,
    # JL projection is map-only: plan-literal planes, no join, no agg
    "jl_project_audit": 0,
    # ONE doc_id exchange shared by the lag/lead smoothing window and
    # the final per-doc aggregate
    "text_density_extract": 1,
}


# query -> max allowed parquet scans in the executed plan.  These pin
# the pin-shared-subplans discipline: a query whose expensive derived
# table (tf aggregate, gram explode, bucket fold, shingle index) feeds
# several consumers must materialize it ONCE (localCheckpoint) — if a
# refactor drops the pin, the scan reappears per consumer and the op
# silently recomputes its hottest stage 2-3x (measured 2-3x wall-time
# regressions at sf0.1 for each query below).
SCAN_BUDGETS = {
    "inverted_index": 1,
    "tfidf_topk": 1,
    "duplicate_span_stats": 1,
    "embedding_neardup_lsh": 0,  # pinned projection only
    "semantic_dedup": 0,
    "minhash_lsh_neardup": 0,
    "mirror_hosts": 0,  # posting table pinned
    "sitemap_frontier": 0,  # build-side row table pinned
    "dust_rules": 0,  # parsed catalog pinned (2 consumers)
    "dust_canonical_urls": 0,  # catalog pinned (mining + rewrite)
    "cdc_chunk_stats": 0,  # chunk-hash table pinned (df + join)
    "balanced_shards": 0,  # numbered table pinned (offset consistency)
    "winnow_fingerprints": 1,  # single map-only pass over documents
    "winnow_matches": 0,  # fingerprint posting table pinned
    "collocation_topk": 1,  # unigram table pinned (2 join consumers)
    "jl_project_audit": 1,  # one map-only pass over embeddings
    "media_phash_neardup": 0,  # phash table pinned (3 consumers)
    "png_decode_stats": 1,  # one documents scan feeds the map chain
    "png_resize_stats": 1,
    "jpeg_decode_stats": 1,  # same map-only chain, JPEG codec
    "text_density_extract": 1,  # span features fold over one scan
}


@pytest.mark.parametrize("name", sorted(SCAN_BUDGETS))
def test_scan_budget(spark, name):
    qs = e.queries()
    plan = (
        qs[name](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n = plan.count("Scan parquet")
    assert n <= SCAN_BUDGETS[name], (
        f"{name}: {n} parquet scans > budget {SCAN_BUDGETS[name]} — a "
        f"shared subplan lost its localCheckpoint pin and is being "
        f"recomputed per consumer"
    )


def test_scan_budget_ngram_jaccard_pairs_unregistered(spark):
    # retired from the registry (round-4: no all-pairs plan is
    # user-runnable) but still a library oracle baseline — keep its
    # shared-shingle-index pin so the pytest equivalence suites that
    # drive it don't silently start recomputing the index per consumer
    from indigent_defense_stats_spark.operators import dedup

    plan = (
        dedup.ngram_jaccard_pairs(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 0


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_shuffle_budget(spark, name):
    qs = e.queries()
    plan = (
        qs[name](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n = plan.count("Exchange hashpartitioning")
    assert n <= BUDGETS[name], (
        f"{name}: {n} hash exchanges > budget {BUDGETS[name]} — a new "
        f"shuffle crept into the plan; see the operator docstring for "
        f"the intended shape"
    )
