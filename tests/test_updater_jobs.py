"""Spark jobs and stages per updater generation, pinned.

The updater flow (clean -> publish, then ``case_stats``) runs once per
crawl generation, and on a small batch its time is mostly the fixed
cost of each Spark job it submits (ROADMAP item 8).  The run below
cleans and publishes a small synthetic batch twice, the second time
against the first one's history with about a third of the cases
changed, and counts each step's jobs, and the stages those jobs ran,
with the status tracker (``conftest.SparkJobCounter``), the way
``test_wave_jobs.py`` counts a crawl wave's.  A change that adds a job
or a stage to a step fails here.  The bounds are the counts measured
on the code that set them; lower them when a change cuts a job or a
stage.

Each step ends in the action the pipeline runs on its output: a count
of the persisted cleaned batch, a count of the inserted rows, a
collect of the stats.
"""

from __future__ import annotations

import pytest
from pyspark import StorageLevel

from indigent_defense_stats_spark import schemas, synth
from indigent_defense_stats_spark.operators import analytics, clean, parse, publish
from indigent_defense_stats_spark.sources.catalog import SnapshotTable

CASES = [(i, str((i + 1) * 100_000 + k)) for i in range(3) for k in range(20)]
PARSING_DATE = "2024-07-31"
TODAY = "07-31-2024"
# per generation (0: empty history, 1: republish with history)
CLEAN_JOBS = [7, 7]
CLEAN_STAGES = [7, 7]
PUBLISH_JOBS = [6, 11]
PUBLISH_STAGES = [6, 11]
STATS_JOBS = [2, 2]
STATS_STAGES = [2, 2]


@pytest.fixture(scope="module")
def generations(spark, tmp_path_factory, spark_job_counter):
    dim = spark.createDataFrame(synth.make_charge_dim(), schema=schemas.CHARGE_DIM)
    # no declared schema, as the pipeline's publish target has none
    target = SnapshotTable(
        spark, str(tmp_path_factory.mktemp("updater_jobs")), None, "append"
    )
    counter = spark_job_counter()
    out = []
    for gen in (0, 1):
        docs = spark.createDataFrame(
            [
                (
                    cid,
                    f"county{i}",
                    [
                        (s["kind"], s["text"], s["media_ref"], s["offset"])
                        for s in synth.case_spans(i, cid, gen)
                    ],
                )
                for i, cid in CASES
            ],
            schema=schemas.DOCUMENTS,
        )
        good = parse.good_records(parse.parse_documents(docs)).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        good.count()
        counter.step()  # the parse is not the updater's
        cleaned = clean.clean_records(good, dim, PARSING_DATE).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        n_clean = cleaned.count()
        clean_cost = counter.step()
        n_inserted = publish.publish(cleaned, target, TODAY).count()
        publish_cost = counter.step()
        stats = analytics.case_stats(good).collect()
        stats_cost = counter.step()
        out.append(
            {
                "clean": clean_cost,
                "publish": publish_cost,
                "stats": stats_cost,
                "n_clean": n_clean,
                "n_inserted": n_inserted,
                "n_cases": stats[0]["n_cases"],
            }
        )
        cleaned.unpersist()
        good.unpersist()
    return out


def test_updater_outputs(generations):
    """The counts mean nothing unless the flow did its work: every
    case cleaned and counted, all inserted into the empty history, and
    then exactly the changed ones."""
    g0, g1 = generations
    n = len(CASES)
    changed = sum(synth.case_changed(i, cid, 1) for i, cid in CASES)
    assert 0 < changed < n
    assert [g["n_clean"] for g in generations] == [n, n]
    assert [g["n_cases"] for g in generations] == [n, n]
    assert (g0["n_inserted"], g1["n_inserted"]) == (n, changed)


@pytest.mark.parametrize(
    "step,jobs,stages",
    [
        ("clean", CLEAN_JOBS, CLEAN_STAGES),
        ("publish", PUBLISH_JOBS, PUBLISH_STAGES),
        ("stats", STATS_JOBS, STATS_STAGES),
    ],
)
def test_spark_jobs_per_generation_pinned(generations, step, jobs, stages):
    got = [g[step] for g in generations]
    for gen, ((n_jobs, n_stages), max_jobs, max_stages) in enumerate(
        zip(got, jobs, stages)
    ):
        assert n_jobs <= max_jobs, (
            f"{step} gen {gen}: {n_jobs} jobs > {max_jobs} ({got})"
        )
        assert n_stages <= max_stages, (
            f"{step} gen {gen}: {n_stages} stages > {max_stages} ({got})"
        )
