"""Spark jobs and stages per crawl wave, pinned; checkpoint files
against their declared schemas.

Each Spark job costs a wave scheduling, a stage and at least one task
however little data it moves, and a crawl's waves are dominated by
that fixed cost (ROADMAP item 2).  The crawl below runs one wave per
``run(max_waves=1)`` call and counts the jobs each call submits, and
the stages those jobs ran, with the status tracker
(``conftest.SparkJobCounter``), so a change that adds a job or a stage
to the wave fails here.  The bounds are the counts measured on the
code that set them; lower them when a change cuts a job or a stage.

The crawl tables are read with their declared schemas (no footer
inference), so a parquet column whose type drifted from the
declaration would read back as nulls without an error; the second
test checks every checkpoint file against its table's schema.
"""

from __future__ import annotations

import os
from datetime import date

import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import from_arrow_schema

from indigent_defense_stats_spark import oracle, synth
from indigent_defense_stats_spark.plans.frontier import CrawlEngine

START = date(2024, 7, 1)
N_DAYS = 2
SEED_JOBS = 2
# waves 0-3: seeds -> search pages -> results pages -> case pages
WAVE_JOBS = [12, 13, 13, 14]
# stages that ran tasks: a stage a job lists but skips (its shuffle
# output already exists) is not counted
WAVE_STAGES = [12, 13, 13, 14]


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory, spark_job_counter):
    reg = synth.make_registry(3, n_scrape=2)
    eng = CrawlEngine(
        spark, str(tmp_path_factory.mktemp("wave_jobs")), reg, START, N_DAYS
    )
    counter = spark_job_counter()
    eng.run(max_waves=0)  # the seed write alone
    seed_jobs, _ = counter.step()
    wave_jobs, wave_stages = [], []
    while eng.run(max_waves=1):
        jobs, stages = counter.step()
        wave_jobs.append(jobs)
        wave_stages.append(stages)
    return eng, reg, seed_jobs, wave_jobs, wave_stages


def test_spark_jobs_per_wave_pinned(crawl):
    eng, reg, seed_jobs, wave_jobs, _ = crawl
    # the crawl is the reference's, or the counts mean nothing
    want = {f["url"] for f in oracle.crawl(reg, START, N_DAYS).fetches}
    assert {r["canonical_url"] for r in eng.fetch_log().collect()} == want
    assert len(wave_jobs) == len(WAVE_JOBS), wave_jobs
    assert seed_jobs <= SEED_JOBS, seed_jobs
    for w, (n, bound) in enumerate(zip(wave_jobs, WAVE_JOBS)):
        assert n <= bound, f"wave {w}: {n} Spark jobs > {bound} ({wave_jobs})"


def test_spark_stages_per_wave_pinned(crawl):
    wave_stages = crawl[4]
    assert len(wave_stages) == len(WAVE_STAGES), wave_stages
    for w, (n, bound) in enumerate(zip(wave_stages, WAVE_STAGES)):
        assert n <= bound, f"wave {w}: {n} Spark stages > {bound} ({wave_stages})"


def test_checkpoint_files_match_declared_schemas(crawl):
    """Every parquet file of every crawl table carries each declared
    field with the declared type (nullability aside: Spark reads
    files as nullable).  The frontier's remove files are key-only by
    design and are left out; its adds and base files carry exactly the
    declared fields, no side columns, and the crawl dir holds no
    ``bloom`` table."""
    eng = crawl[0]
    tables = {
        "frontier": eng.frontier_t,
        "seen": eng.seen_t,
        "documents": eng.documents_t,
        "host_state": eng.host_state_t,
        "fetch_log": eng.log_t,
        "metrics": eng.metrics_t,
    }
    assert not os.path.exists(os.path.join(eng.base_dir, "bloom"))
    for name, t in tables.items():
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(t.path)
            if os.path.basename(d) != "removes"
            for f in fs
            if f.endswith(".parquet")
        ]
        assert files, f"{name}: no parquet files"
        for path in files:
            got = {
                f.name: f.dataType.simpleString()
                for f in from_arrow_schema(pq.read_schema(path)).fields
            }
            for field in t.schema.fields:
                assert got.get(field.name) == field.dataType.simpleString(), (
                    f"{name}: {path} has {field.name} as {got.get(field.name)},"
                    f" declared {field.dataType.simpleString()}"
                )
            if name == "frontier":
                assert set(got) == set(t.schema.fieldNames()), (
                    f"{path} has {sorted(got)}, declared {t.schema.fieldNames()}"
                )
