"""Observation (CollectMetrics) surface: data-quality counters ride
an existing action as side-channel accumulators instead of a second
pass over the stage.  run_pipeline.py uses this to get good +
quarantined parse counts from ONE execution of the mapInArrow parse
(counting each derived frame separately re-runs the parse per count).

Pinned here: (1) the metrics equal independently recomputed
aggregates; (2) they populate from a single action on a FILTERED
child — i.e. Catalyst does not push the filter below the
CollectMetrics node, so the observed counts cover the full parse
output, not the filtered subset.
"""

from __future__ import annotations

from datetime import date

import pyspark.sql.functions as F
from pyspark.sql import Observation

from indigent_defense_stats_spark import oracle, schemas, synth
from indigent_defense_stats_spark.operators import parse as parse_mod

START = date(2024, 7, 1)


def _docs_df(spark):
    log = oracle.crawl(synth.make_registry(6, n_scrape=5), START, 3)
    rows = [
        (
            cid,
            county,
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans],
        )
        for cid, (county, spans) in sorted(log.documents.items())
    ]
    return spark.createDataFrame(rows, schema=schemas.DOCUMENTS)


def test_observe_counts_full_parse_from_filtered_action(spark):
    docs = _docs_df(spark)
    obs = Observation("parse")
    parsed = parse_mod.parse_documents(docs).observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("parse_error").isNull(), 1).otherwise(0)
        ).alias("n_good"),
    )
    good = parse_mod.good_records(parsed)
    n_good_action = good.count()  # the ONLY action
    m = obs.get
    # metrics match the action's own count...
    assert m["n_good"] == n_good_action
    # ...and cover the FULL parse output (filter not pushed below the
    # CollectMetrics node), matching independent recomputation
    parsed_plain = parse_mod.parse_documents(docs)
    assert m["n"] == parsed_plain.count()
    assert m["n"] - m["n_good"] == parse_mod.quarantine(parsed_plain).count()
