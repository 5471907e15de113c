"""ORC source/sink (sources/orc_io.py): lossless round-trip, schema
preservation, and scan-level pushdown/pruning (the same contract the
parquet path gets from Catalyst)."""

from __future__ import annotations

import os
import subprocess
import sys

from pyspark.sql import functions as F

from indigent_defense_stats_spark.sources import orc_io

SF_DIR = "/root/testdata/sf0.001"


def test_orc_round_trip_preserves_documents(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = orc_io.write_orc_documents(spark, SF_DIR, str(tmp_path / "docs_orc"))
    back = orc_io.read_orc_documents(spark, out)
    assert back.schema == docs.schema
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    a = {tuple(r) for r in docs.select(cols).collect()}
    b = {tuple(r) for r in back.select(cols).collect()}
    assert a == b


def test_orc_scan_pushes_filter_and_prunes_columns(spark, tmp_path):
    out = orc_io.write_orc_documents(spark, SF_DIR, str(tmp_path / "docs_orc"))
    q = (
        orc_io.read_orc_documents(spark, out)
        .filter(F.col("doc_id") < 10)
        .select("doc_id", "lang")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    # predicate reaches the ORC reader, not a post-scan Filter only
    assert "PushedFilters: [" in plan and "doc_id" in plan.split("PushedFilters: [", 1)[1]
    # column pruning: the scan schema carries only the projected columns
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "doc_id" in read_schema and "lang" in read_schema
    assert "text" not in read_schema and "source" not in read_schema


def test_orc_roundtrip_stats_matches_parquet_aggregate(spark):
    got = {tuple(r) for r in orc_io.orc_roundtrip_stats(spark, SF_DIR).collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from indigent_defense_stats_spark.operators.textstats import md5_int

    row_hash = md5_int(
        F.concat(F.col("text"), F.lit("|"), F.col("lang"), F.lit("|"), F.col("source"))
    )
    want = {
        tuple(r)
        for r in docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(row_hash % orc_io._HASH_MOD).alias("row_hash_sum"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .collect()
    }
    assert got == want


def test_orc_temp_dir_removed_at_process_exit(tmp_path):
    """The per-pid ORC dir a process creates is gone once it exits."""
    child = (
        "import os, sys\n"
        "from indigent_defense_stats_spark.sources import orc_io\n"
        "d = orc_io._orc_dir_for(sys.argv[1])\n"
        "os.makedirs(d)\n"
        "with open(os.path.join(d, 'part-0.orc'), 'w') as f:\n"
        "    f.write('x')\n"
        "print(d)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", child, SF_DIR],
        env=env,
        capture_output=True,
        text=True,
        check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ).stdout.strip()
    assert os.path.dirname(out) == str(tmp_path)
    assert os.path.basename(out).startswith("ids_orc_docs_")
    assert not os.path.exists(out)
