"""ORC source/sink: the engine's second columnar format.

The reference persists its corpus as a folder of per-case JSON files
(S6/S8 sinks, scraper/__init__.py + parser/__init__.py) and re-reads
them for cleaning (S10, cleaner/__init__.py:42) — the storage format
is an implementation detail behind the scan/sink contract.  This
module proves the engine honors that contract over ORC as well as
parquet: Spark ships a native ORC reader/writer with the same
predicate-pushdown + column-pruning machinery (``PushedFilters`` in
the scan node, asserted in tests/test_orc_source.py), so a warehouse
that stores the document corpus as ORC (the common Hive-era layout)
plugs in with a one-word format change and identical plans.

Correctness story: ``orc_roundtrip_stats`` writes the ``documents``
table to ORC, reads it back, and aggregates a fidelity hash over
EVERY column (60-bit md5 of text|lang|source per row, summed mod a
prime, plus exact char/id bounds) grouped by language.  The DuckDB
oracle computes the same aggregate from the original parquet — so a
single flipped byte, lost row, or reordered column in the ORC
round-trip mismatches the oracle.  At 100 TB both formats stream
through the same scan interface; nothing here is driver-side except
the memoized one-time write of the tiny test corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from indigent_defense_stats_spark.operators.textstats import md5_int
from indigent_defense_stats_spark.sources.tempdirs import pid_temp_dir

# sum md5_int mod this prime: 500 docs x <1e9 stays far under BIGINT,
# and DuckDB's HUGEINT sum is CAST back down per the oracle-dtype
# contract (tests/test_oracle_dtypes.py)
_HASH_MOD = 1_000_000_007


def write_orc_documents(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Materialize ``documents`` as ORC (native Spark writer).

    ``mode=overwrite`` so stale leftovers from a prior run are
    replaced, never trusted (same discipline as the IVF index build,
    operators/similarity.py).
    """
    (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .write.mode("overwrite")
        .orc(out_dir)
    )
    return out_dir


def read_orc_documents(spark: SparkSession, orc_dir: str) -> DataFrame:
    """Scan the ORC corpus — same DataFrame contract as the parquet
    scan; filters and column selection push into the ORC reader."""
    return spark.read.orc(orc_dir)


def _orc_dir_for(sf_dir: str) -> str:
    return pid_temp_dir("orc_docs", sf_dir)


def orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fidelity aggregate over the ORC round-trip.

    Column coverage: text/lang/source via the row hash, n_chars via
    the exact sum, doc_id via min/max/count.  Values must equal the
    same aggregate over the original parquet (the DuckDB oracle) —
    lossless round-trip is the invariant, not just row counts.
    """
    orc_dir = write_orc_documents(spark, sf_dir, _orc_dir_for(sf_dir))
    docs = read_orc_documents(spark, orc_dir)
    row_hash = md5_int(
        F.concat(F.col("text"), F.lit("|"), F.col("lang"), F.lit("|"), F.col("source"))
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(row_hash % _HASH_MOD).alias("row_hash_sum"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )


# The oracle reads the ORIGINAL parquet (DuckDB has no ORC reader):
# equality therefore certifies the ORC write+read preserved every
# value the aggregate touches.
_ORACLE = f"""
    SELECT lang,
           CAST(count(*) AS BIGINT)                          AS n_docs,
           CAST(sum(n_chars) AS BIGINT)                      AS sum_chars,
           CAST(sum(('0x' || left(md5(text || '|' || lang || '|' || source), 15))::BIGINT
                    % {_HASH_MOD}) AS BIGINT)                AS row_hash_sum,
           CAST(min(doc_id) AS BIGINT)                       AS min_doc,
           CAST(max(doc_id) AS BIGINT)                       AS max_doc
    FROM documents
    GROUP BY lang
    ORDER BY lang
"""

QUERIES = {
    "orc_roundtrip_stats": orc_roundtrip_stats,
}

ORACLE_SQL = {
    "orc_roundtrip_stats": _ORACLE,
}
