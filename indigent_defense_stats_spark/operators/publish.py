"""Publish stage: content-hash dedup + versioned upsert.

Mirrors /root/reference/src/updater/__init__.py:69-129 as a set-based
MERGE instead of a per-file loop:

- skip any incoming record whose ``html_hash`` already exists in the
  target (hash anti-join, J4 — the content-seen filter);
- surviving records get ``version = max(existing same case_number)+1``
  (J5/A5), with within-batch ordering by html_hash so a batch carrying
  several new versions of one case is deterministic;
- ``id`` is the reference's concatenation (updater:118).

On Iceberg this is a single ``MERGE INTO`` on (case_number, html_hash);
here the target is a SnapshotTable and the merge is explicit.  The
version window shuffles only the incoming batch (small); the target
max-version aggregate prunes to the join keys.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, Window

from ..sources.catalog import SnapshotTable


def publish(
    cleaned: DataFrame,
    target: SnapshotTable,
    today: str,
) -> DataFrame:
    """Insert new versions of *cleaned* into *target*; returns the rows
    inserted (with id + version).  ``today`` is MM-DD-YYYY, injected for
    determinism (reference uses wall-clock, updater:117).

    Target contract: ``target.read()`` must return the FULL published
    history — the reference's Cosmos container never forgets a hash
    (updater:92-105).  Use an APPEND-mode SnapshotTable (read() unions
    all snapshots; each publish then appends only the inserted batch,
    so every snapshot doubles as the CDC changelog
    ``snapshot_changes`` consumes).  An overwrite-mode target keeps
    only the latest batch and would re-insert previously-seen content
    at version 1 from the third publish onward.

    The content-seen check is a broadcast-semi anti-join: the batch's
    ``html_hash`` keys are broadcast against the FULL published
    history's ``html_hash`` column (history ⋉ broadcast(batch keys) →
    broadcast anti) — column-pruned, map-side, never shuffled; one
    hash-column scan per publish.  The batch's ``case_number`` keys
    are broadcast the same way to prune the max-version aggregate.
    Both key sets are taken from *cleaned* as given: its hash set is
    the within-batch dedup's own, and its case set is a superset of
    the inserted rows' cases, which leaves the version join unchanged.

    No Spark job runs just to test a condition: an empty history is
    read and joined like any other (it yields no seen hashes and no
    base versions), and the inserted row count that decides whether a
    snapshot is written is an ``Observation`` filled by the
    checkpoint's own job."""
    if getattr(target, "mode", None) == "overwrite" and target.latest() is not None:
        # an overwrite-mode target keeps only the latest batch, so a
        # SECOND direct publish would forget earlier hashes and
        # re-insert previously-seen content from the third publish on
        # (docstring above).  Legitimate overwrite uses (a fresh table's
        # first publish; read-only union adapters) don't trip this.
        raise ValueError(
            "publish target must be an append-mode SnapshotTable once it"
            " has history: overwrite mode forgets earlier hashes and"
            " re-inserts previously published content"
        )
    existing = target.read()
    # within-batch hash dedup as well (the reference would skip the
    # second file with the same hash once the first inserted).  The
    # keeper is deterministic — min (case_number, county) per hash —
    # unlike dropDuplicates' arbitrary pick; the reference's "first in
    # directory order" has no set-based analog, so determinism is the
    # contract here.
    wd = Window.partitionBy("html_hash").orderBy("case_number", "county")
    incoming = (
        cleaned.withColumn("__rn", F.row_number().over(wd))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if existing is not None:
        # broadcast-semi rewrite of the anti-join (round-5): a
        # LeftAnti against the history would sort-merge — i.e.
        # SHUFFLE the full history hash column per publish, since
        # only an anti-join's RIGHT side can broadcast and the
        # history is the right side.  The batch is bounded (one
        # crawl wave), so flip it: history ⋉ broadcast(batch keys)
        # is a map-side filtered SCAN producing the batch-bounded
        # seen set, which then broadcasts into the anti-join.
        # Identical result set; the history column is scanned, never
        # exchanged.  Measured (BENCH/scaling.json publishbloom
        # cells): this is the dominant publish cost at every decade.
        # The semi side broadcasts ``cleaned``'s hashes, the same set
        # as the window's output, so the window runs once, on the
        # anti-join side.
        seen = existing.select("html_hash").join(
            F.broadcast(cleaned.select("html_hash")), "html_hash", "left_semi"
        )
        incoming = incoming.join(F.broadcast(seen), "html_hash", "left_anti")
        # prune the max-version aggregate to the batch's case_numbers
        # BEFORE aggregating: the key set is batch-bounded (broadcast
        # semi), so the history contributes a map-side filtered scan
        # instead of a full-table groupBy shuffle per publish.  The
        # keys are the whole batch's — a superset of the inserted set,
        # so the later left join is unchanged; duplicate keys cannot
        # change a semi-join, so there is no distinct.
        base_versions = (
            existing.join(
                F.broadcast(cleaned.select("case_number")), "case_number", "left_semi"
            )
            .groupBy("case_number")
            .agg(F.max("version").alias("base_version"))
        )
    else:
        base_versions = None

    w = Window.partitionBy("case_number").orderBy("html_hash")
    versioned = incoming.withColumn("batch_seq", F.row_number().over(w))
    if base_versions is not None:
        versioned = versioned.join(base_versions, "case_number", "left")
    else:
        versioned = versioned.withColumn("base_version", F.lit(None).cast("int"))
    out = versioned.withColumn(
        "version",
        (F.coalesce(F.col("base_version"), F.lit(0)) + F.col("batch_seq")).cast(
            "int"
        ),
    ).withColumn(
        "id",
        F.concat(
            F.col("case_number"),
            F.lit(":"),
            F.col("county"),
            F.lit(":"),
            F.lit(today),
            F.col("html_hash"),
        ),
    ).drop("batch_seq", "base_version")
    # localCheckpoint (not cache): the snapshot write and the caller's
    # action would otherwise each re-run the anti-join + window plan —
    # and an open-ended cache() leaks storage across repeated publishes
    # in a long-lived session; the checkpoint's blocks are reclaimed by
    # the ContextCleaner when the plan is garbage-collected.  The row
    # count rides along as an Observation, filled by the checkpoint's
    # own job: no separate emptiness probe
    obs = Observation()
    out = out.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    if obs.get["n"] == 0:
        return out
    target.write(out, {"event": "publish"})
    return out
