"""Edge cases of clean, publish, ``case_stats`` and the publish
target's schema-less read, each against ``oracle.py`` or a direct
expectation.

- clean: every charge unmapped, every charge undated, NULL and empty
  ``charges``, and one ``odyssey_id`` twice in a batch (clean groups
  charges by ``odyssey_id``, so both rows carry both records' charges,
  ordered by their original ordinal);
- publish: a history whose only snapshot is empty, two batch rows
  sharing one ``html_hash``, and an identical batch published again;
- ``case_stats``: no input (no row) and a tie for the mode;
- ``SnapshotTable.read()`` without a declared schema: the schema
  ``spark.read.parquet`` infers, without a Spark job.
"""

from __future__ import annotations

import os
import statistics

import pyspark.sql.functions as F
import pytest

from indigent_defense_stats_spark import oracle, schemas, synth
from indigent_defense_stats_spark.operators import analytics, clean, parse, publish
from indigent_defense_stats_spark.sources.catalog import SnapshotTable

PDATE = "2024-07-04"
TODAY = "07-04-2024"
CASES = [(i, str((i + 1) * 100_000 + k)) for i in range(2) for k in range(4)]


@pytest.fixture(scope="module")
def world(spark):
    docs = spark.createDataFrame(
        [
            (
                cid,
                f"county{i}",
                [
                    (s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in synth.case_spans(i, cid)
                ],
            )
            for i, cid in CASES
        ],
        schema=schemas.DOCUMENTS,
    )
    records = parse.good_records(parse.parse_documents(docs)).localCheckpoint()
    dim_rows = synth.make_charge_dim()
    dim = spark.createDataFrame(dim_rows, schema=schemas.CHARGE_DIM)
    return records, dim, dim_rows


def _clean_both(records, dim, dim_rows):
    """(engine rows, oracle rows), each sorted by (case_number, html_hash)."""
    got = [
        r.asDict(recursive=True)
        for r in clean.clean_records(records, dim, PDATE).collect()
    ]
    want = [
        oracle.clean_case(r.asDict(recursive=True), dim_rows, PDATE)
        for r in records.collect()
    ]

    def key(r):
        return (r["case_number"], r["html_hash"])

    return sorted(got, key=key), sorted(want, key=key)


def _assert_clean_matches(got, want):
    assert len(got) == len(want)
    for g, w in zip(got, want):
        for k in w:
            if k == "charges":
                assert len(g[k]) == len(w[k]), (g["case_number"], g[k], w[k])
                for gc, wc in zip(g[k], w[k]):
                    assert gc == {f: wc.get(f) for f in gc}, (g["case_number"], gc, wc)
            else:
                assert g[k] == w[k], (g["case_number"], k, g[k], w[k])


def test_clean_all_charges_unmapped(world):
    """No charge survives, but every dated one still sets the earliest
    charge date."""
    records, dim, dim_rows = world
    recs = records.withColumn(
        "charges",
        F.transform("charges", lambda c: c.withField("charges", F.lit("NO SUCH"))),
    )
    got, want = _clean_both(recs, dim, dim_rows)
    _assert_clean_matches(got, want)
    assert all(g["charges"] == [] for g in got)
    assert all(g["earliest_charge_date"] for g in got)


def test_clean_all_charges_undated(world):
    """A NULL or malformed date drops the charge before the mapping,
    so no charge survives and there is no earliest date."""
    records, dim, dim_rows = world
    recs = records.withColumn(
        "charges",
        F.transform(
            "charges",
            lambda c, i: c.withField(
                "date",
                F.when(i % 2 == 0, F.lit(None).cast("string")).otherwise("no date"),
            ),
        ),
    )
    got, want = _clean_both(recs, dim, dim_rows)
    _assert_clean_matches(got, want)
    assert all(g["charges"] == [] and g["earliest_charge_date"] == "" for g in got)


def test_clean_null_and_empty_charges(world):
    records, dim, dim_rows = world
    first = sorted(cid for _, cid in CASES)[0]
    charges_t = records.schema["charges"].dataType
    recs = records.withColumn(
        "charges",
        F.when(F.col("odyssey_id") == first, F.array().cast(charges_t))
        .when(F.col("odyssey_id") < "2", F.lit(None))
        .otherwise(F.col("charges")),
    )
    got, want = _clean_both(recs, dim, dim_rows)
    _assert_clean_matches(got, want)
    by_case = {g["case_number"]: g for g in got}
    assert by_case[first]["charges"] == []
    assert by_case[first]["earliest_charge_date"] == ""
    # the untouched county still maps charges: the edge rows are not
    # all the test saw
    assert any(g["charges"] for g in got)


def test_clean_one_case_twice(world):
    """A re-crawled copy of a case (new hash, its first charge only) in
    the same batch: both rows get the charges of both records, sorted
    by original ordinal, and the earliest date over both."""
    records, dim, dim_rows = world
    case = sorted(cid for _, cid in CASES)[0]
    orig = records.filter(F.col("odyssey_id") == case)
    copy = orig.withColumn("html_hash", F.lit("0" * 16)).withColumn(
        "charges", F.slice("charges", 1, 1)
    )
    recs = records.unionByName(copy)
    got = [
        r.asDict(recursive=True)
        for r in clean.clean_records(recs, dim, PDATE).collect()
        if r["case_number"] == case
    ]
    want_orig, want_copy = (
        oracle.clean_case(df.first().asDict(recursive=True), dim_rows, PDATE)
        for df in (orig, copy)
    )
    assert want_copy["charges"], "the copy's one charge must survive for this test"
    merged = sorted(
        want_orig["charges"] + want_copy["charges"], key=lambda c: c["charge_id"]
    )
    dates = [w["earliest_charge_date"] for w in (want_orig, want_copy)]
    earliest = min(d for d in dates if d)
    assert sorted(g["html_hash"] for g in got) == sorted(
        [want_orig["html_hash"], "0" * 16]
    )
    for g in got:
        assert g["earliest_charge_date"] == earliest
        assert [{f: c.get(f) for f in g["charges"][0]} for c in merged] == g["charges"]


@pytest.fixture()
def cleaned(world):
    records, dim, _ = world
    return clean.clean_records(records, dim, PDATE).localCheckpoint()


def _ids(rows):
    return sorted((r["id"], r["version"]) for r in rows)


def _oracle_publish(cleaned_df, existing=()):
    batch = sorted(
        (r.asDict(recursive=True) for r in cleaned_df.collect()),
        key=lambda r: (r["case_number"], r["county"]),
    )
    return oracle.publish(batch, list(existing), TODAY)


def test_publish_into_history_with_only_an_empty_snapshot(spark, cleaned, tmp_path):
    scratch = SnapshotTable(spark, str(tmp_path / "scratch"), None, "append")
    publish.publish(cleaned, scratch, TODAY)
    target = SnapshotTable(spark, str(tmp_path / "pub"), None, "append")
    target.write(scratch.read().limit(0))
    assert target.rowcount() == 0 and target.read() is not None
    ins = publish.publish(cleaned, target, TODAY).collect()
    assert _ids(ins) == _ids(_oracle_publish(cleaned))
    assert all(r["version"] == 1 for r in ins)
    assert target.rowcount() == len(ins) == cleaned.count()


def test_publish_two_rows_sharing_a_hash(spark, cleaned, tmp_path):
    """One row per hash is inserted: the smallest (case_number, county)."""
    two = cleaned.orderBy("case_number").limit(2)
    two = two.withColumn("html_hash", F.lit("f" * 16))
    target = SnapshotTable(spark, str(tmp_path / "pub"), None, "append")
    ins = publish.publish(two, target, TODAY).collect()
    want = _oracle_publish(two)
    assert len(want) == 1 and _ids(ins) == _ids(want)
    assert ins[0]["case_number"] == min(r["case_number"] for r in two.collect())


def test_publish_identical_batch_again(spark, cleaned, tmp_path):
    """Every hash is seen: nothing inserted and no snapshot written."""
    target = SnapshotTable(spark, str(tmp_path / "pub"), None, "append")
    first = publish.publish(cleaned, target, TODAY).collect()
    snaps = target.snapshots()
    again = publish.publish(cleaned, target, TODAY)
    assert again.collect() == []
    assert target.snapshots() == snaps
    assert _oracle_publish(cleaned, first) == []


def test_case_stats_of_nothing_is_no_row(world):
    records = world[0]
    assert analytics.case_stats(records.limit(0)).collect() == []


def test_case_stats_mode_tie_takes_the_smallest(spark):
    sizes = [3, 1, 3, 2, 1, 0, 5]  # 1 and 3 tie, twice each
    charge = schemas.CASE_RECORDS["charges"].dataType.elementType
    rows = [
        (str(k), [(f"c{j}", "", "", "01/01/2024") for j in range(n)])
        for k, n in enumerate(sizes)
    ]
    rows.append(("null", None))  # NULL charges count as 0
    records = spark.createDataFrame(
        rows, "odyssey_id string, charges array<%s>" % charge.simpleString()
    )
    got = analytics.case_stats(records).collect()
    ns = sizes + [0]
    assert len(got) == 1
    r = got[0]
    assert r["mode_charges"] == 0  # 0, 1 and 3 all occur twice
    assert r["n_cases"] == len(ns)
    assert r["median_charges"] == statistics.median(ns)
    assert r["mean_charges"] == round(statistics.mean(ns), 4)
    one_tie = analytics.case_stats(records.filter(F.col("odyssey_id") != "null"))
    assert one_tie.collect()[0]["mode_charges"] == 1


def test_snapshot_read_without_schema_uses_the_footer(
    spark, tmp_path, spark_job_counter
):
    """The schema read from the newest snapshot's footer is the one
    ``spark.read.parquet`` infers, nullability and nesting included,
    and taking it runs no Spark job."""
    t = SnapshotTable(spark, str(tmp_path / "t"), None, "append")
    df = spark.range(3).select(
        "id",  # not nullable as written
        F.col("id").cast("int").alias("i"),
        F.struct(F.lit("a").alias("s"), F.array(F.lit(1.5)).alias("xs")).alias("st"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.to_date(F.lit("2024-07-01")).alias("d"),
        F.lit(None).cast("decimal(12,2)").alias("dec"),
    )
    t.write(df)
    t.write(df.limit(0))
    paths = [os.path.join(t._snap_dir(s), "data") for s in t.snapshots()]
    counter = spark_job_counter()
    got = t.read()
    assert counter.step()[0] == 0
    assert got.schema == spark.read.parquet(*paths).schema
    assert sorted(got.collect()) == sorted(df.collect())


def test_snapshot_read_without_spark_footer_infers(spark, tmp_path):
    """A snapshot written with pyarrow carries no Spark schema in its
    footer; the read falls back to inference."""
    import pyarrow as pa

    t = SnapshotTable(spark, str(tmp_path / "t"), None, "overwrite")
    t.write_local(pa.table({"a": pa.array([1, 2], pa.int64()), "b": ["x", "y"]}))
    path = os.path.join(t._snap_dir(t.latest()), "data")
    assert t.read().schema == spark.read.parquet(path).schema
