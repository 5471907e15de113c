"""Clean + publish + analytics stages vs the sequential oracle."""

from __future__ import annotations

from datetime import date, datetime

import pytest

from indigent_defense_stats_spark import oracle, schemas, synth
from indigent_defense_stats_spark.operators import analytics
from indigent_defense_stats_spark.operators import clean as clean_mod
from indigent_defense_stats_spark.operators import parse as parse_mod
from indigent_defense_stats_spark.operators import publish as publish_mod
from indigent_defense_stats_spark.sources.catalog import SnapshotTable

START = date(2024, 7, 1)
PDATE = "2024-07-04"


@pytest.fixture(scope="module")
def world(spark):
    log = oracle.crawl(synth.make_registry(5, n_scrape=4), START, 3)
    rows = [
        (cid, county, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
        for cid, (county, spans) in sorted(log.documents.items())
    ]
    docs = spark.createDataFrame(rows, schema=schemas.DOCUMENTS)
    records = parse_mod.good_records(parse_mod.parse_documents(docs)).cache()
    dim_rows = synth.make_charge_dim()
    dim = spark.createDataFrame(dim_rows, schema=schemas.CHARGE_DIM)
    expected_records = {
        cid: oracle.parse_spans(county, cid, spans)
        for cid, (county, spans) in log.documents.items()
    }
    return records, dim, dim_rows, expected_records


def test_clean_matches_oracle(spark, world):
    records, dim, dim_rows, expected_records = world
    got = {
        r["case_number"]: r.asDict(recursive=True)
        for r in clean_mod.clean_records(records, dim, PDATE).collect()
    }
    assert len(got) == len(expected_records)
    for cid, rec in expected_records.items():
        want = oracle.clean_case(rec, dim_rows, PDATE)
        g = got[cid]
        for k in [
            "parsing_date",
            "html_hash",
            "county",
            "appointed_or_retained",
            "defense_attorney_hash",
            "earliest_charge_date",
            "has_evidence_of_representation",
            "good_motions",
            "cause_number_redacted",
        ]:
            assert g[k] == want[k], (cid, k, g[k], want[k])
        # charges: same survivors with same fields
        want_ch = [
            {key: c.get(key) for key in g["charges"][0]} if g["charges"] else {}
            for c in want["charges"]
        ]
        got_ch = g["charges"]
        assert len(got_ch) == len(want["charges"]), cid
        for gc, wc in zip(got_ch, want["charges"]):
            for key in gc:
                assert gc[key] == wc.get(key), (cid, key, gc, wc)
        assert g["dispositions"] == want["dispositions"], cid


def test_clean_drops_unmapped_and_undated(spark, world):
    records, dim, dim_rows, expected_records = world
    mapped_names = {d["charge_name"] for d in dim_rows}
    out = clean_mod.clean_records(records, dim, PDATE).collect()
    for r in out:
        for c in r["charges"]:
            assert c["charge_name"] in mapped_names
            datetime.strptime(c["charge_date"], "%Y-%m-%d")


def test_publish_versioning_matches_oracle(spark, world, tmp_path):
    records, dim, dim_rows, expected_records = world
    cleaned = clean_mod.clean_records(records, dim, PDATE)
    target = SnapshotTable(spark, str(tmp_path / "pub"), mode="append")
    today = "07-04-2024"
    ins1 = publish_mod.publish(cleaned, target, today).collect()
    ora_cleaned = sorted(
        (
            oracle.clean_case(rec, dim_rows, PDATE)
            for rec in expected_records.values()
        ),
        key=lambda r: (r["case_number"], r["html_hash"]),
    )
    ora1 = oracle.publish(ora_cleaned, [], today)
    assert {(r["id"], r["version"]) for r in ins1} == {
        (r["id"], r["version"]) for r in ora1
    }
    # republish same batch: all skipped by hash anti-join
    ins2 = publish_mod.publish(cleaned, target, today)
    assert ins2.isEmpty()
    # a changed page for one case -> version 2
    one = cleaned.limit(1).withColumn(
        "html_hash", cleaned.html_hash.substr(1, 8)
    )
    ins3 = publish_mod.publish(one, target, today).collect()
    assert len(ins3) == 1 and ins3[0]["version"] == 2


def test_events_flat_matches_oracle(spark, world):
    records, dim, dim_rows, expected_records = world
    got = analytics.events_flat(records).collect()
    by_case: dict[str, list] = {}
    for r in got:
        by_case.setdefault(r["case_id"], []).append(r)
    n_events_expected = 0
    for cid, rec in expected_records.items():
        evs = rec.get("other_events") or []
        n_events_expected += len(evs)
        rows = sorted(by_case.get(cid, []), key=lambda r: r["event_id"])
        assert len(rows) == len(evs)
        if not evs:
            continue
        first = datetime.strptime(evs[0][0], "%m/%d/%Y").date()
        for i, (row, ev) in enumerate(zip(rows, evs)):
            d = datetime.strptime(ev[0], "%m/%d/%Y").date()
            assert row["event_id"] == i + 1
            assert row["event_date"] == d.strftime("%Y-%m-%d")
            assert row["days_elapsed"] == (d - first).days
            assert row["event_name"] == ev[1]
    assert sum(len(v) for v in by_case.values()) == n_events_expected


def test_top5_and_stats(spark, world):
    records, dim, dim_rows, expected_records = world
    top = analytics.top5_by(records, "charges").collect()
    want = sorted(
        ((cid, len(r.get("charges") or [])) for cid, r in expected_records.items()),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    assert [(r["odyssey_id"], r["n"]) for r in top] == want
    stats = analytics.case_stats(records).collect()[0]
    ns = sorted(len(r.get("charges") or []) for r in expected_records.values())
    assert stats["n_cases"] == len(ns)
    assert abs(stats["mean_charges"] - sum(ns) / len(ns)) < 1e-3


def test_export_sinks(spark, tmp_path):
    """S14/S15: CSV with header and bounded JSON bundle round-trip."""
    from indigent_defense_stats_spark.operators import analytics

    df = spark.range(10).selectExpr("id", "concat('v', id) AS val")
    analytics.export_csv(df, str(tmp_path / "csv"), single_file=True)
    back = spark.read.option("header", True).csv(str(tmp_path / "csv"))
    assert back.count() == 10 and set(back.columns) == {"id", "val"}
    analytics.export_first_n_json(df, str(tmp_path / "json"), n=3)
    jback = spark.read.json(str(tmp_path / "json"))
    assert sorted(r["id"] for r in jback.collect()) == [0, 1, 2]


def test_export_archive_round_trip(spark, tmp_path):
    """S15 archival half (tools/zip_folder.py:22-34): zip of JSON part
    files round-trips to the original rows."""
    import io
    import json
    import zipfile

    from indigent_defense_stats_spark.operators import analytics

    df = spark.range(20).selectExpr("id", "concat('v', id) AS val")
    zpath = analytics.export_archive(df, str(tmp_path / "arch"), order_col="id")
    with zipfile.ZipFile(zpath) as zf:
        names = zf.namelist()
        assert names and all(n.startswith("part-") for n in names)
        rows = []
        for n in names:
            for line in io.TextIOWrapper(zf.open(n), encoding="utf-8"):
                if line.strip():
                    rows.append(json.loads(line))
    assert sorted(r["id"] for r in rows) == list(range(20))
    assert {r["val"] for r in rows} == {f"v{i}" for i in range(20)}


def test_snapshot_changes_is_a_consistent_changelog(spark):
    """CDC semantics: every 'added' case absent from v1; every
    'updated' case grew its max version by exactly n_new_versions;
    no unchanged case appears; changelog keys ⊆ v2 keys."""
    import pyspark.sql.functions as F

    from indigent_defense_stats_spark.operators import pipeline_queries as pq

    sf = "/root/testdata/sf0.001"
    rows = pq.snapshot_changes(spark, sf).collect()
    assert rows
    added = [r for r in rows if r["change_type"] == "added"]
    updated = [r for r in rows if r["change_type"] == "updated"]
    assert len(added) + len(updated) == len(rows)
    for r in added:
        assert r["v1_version"] is None and r["n_new_versions"] == r["v2_version"]
    for r in updated:
        assert r["v2_version"] > r["v1_version"]
        assert r["n_new_versions"] == r["v2_version"] - r["v1_version"]
    # cross-check against the publish_versions query (batch-2 inserts):
    # cases in the changelog == distinct cases among inserted rows
    ins = pq.publish_versions(spark, sf)
    cases = {r["case_number"] for r in ins.select("case_number").distinct().collect()}
    assert {r["case_number"] for r in rows} == cases


def test_publish_rejects_overwrite_target_with_history(spark, world, tmp_path):
    """A SECOND direct publish into an overwrite-mode target would
    forget earlier hashes — contract violation (a fresh table's first
    publish and read-only union adapters remain allowed)."""
    records, dim, dim_rows, expected_records = world
    cleaned = clean_mod.clean_records(records, dim, PDATE)
    today = "07-04-2024"
    ow = SnapshotTable(spark, str(tmp_path / "ow"), mode="overwrite")
    publish_mod.publish(cleaned, ow, today)
    with pytest.raises(ValueError, match="append-mode"):
        publish_mod.publish(cleaned, ow, today)
