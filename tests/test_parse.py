"""Spark parse stage vs sequential oracle: per-row record equality.

This is the BASELINE.json per-row invariant surface: the engine's
vectorized mapInArrow parse must reproduce the oracle's (reference-
semantics) parse exactly, including the reversal quirks.
"""

from __future__ import annotations

from datetime import date

import pytest

from indigent_defense_stats_spark import oracle, schemas, synth
from indigent_defense_stats_spark.operators import parse as parse_mod

START = date(2024, 7, 1)


def docs_df(spark, log):
    rows = [
        (
            cid,
            county,
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans],
        )
        for cid, (county, spans) in sorted(log.documents.items())
    ]
    return spark.createDataFrame(rows, schema=schemas.DOCUMENTS)


@pytest.fixture(scope="module")
def parsed(spark):
    log = oracle.crawl(synth.make_registry(6, n_scrape=5), START, 3)
    df = parse_mod.parse_documents(docs_df(spark, log))
    engine = {r["odyssey_id"]: r.asDict(recursive=True) for r in df.collect()}
    expected = {
        cid: oracle.parse_spans(county, cid, spans)
        for cid, (county, spans) in log.documents.items()
    }
    return engine, expected


def _norm_charges(charges):
    if charges is None:
        return None
    keys = ["charges", "statute", "level", "date"]
    return [{k: c.get(k) for k in keys} for c in charges]


def test_no_parse_errors(parsed):
    engine, expected = parsed
    errs = {k: v["parse_error"] for k, v in engine.items() if v["parse_error"]}
    assert not errs, errs


def test_same_doc_ids(parsed):
    engine, expected = parsed
    assert set(engine) == set(expected)
    assert len(engine) > 20


@pytest.mark.parametrize(
    "field",
    [
        "code",
        "county",
        "name",
        "case_type",
        "date_filed",
        "location",
        "related_cases",
        "defendant",
        "state",
        "top_charge",
        "dismissed_charges_count",
        "other_events",
        "financial",
        "html_hash",
    ],
)
def test_field_equality(parsed, field):
    engine, expected = parsed
    for cid in expected:
        got, want = engine[cid].get(field), expected[cid].get(field)
        assert got == want, f"{field} mismatch for {cid}: {got!r} != {want!r}"


def test_charges_equality(parsed):
    engine, expected = parsed
    for cid in expected:
        assert _norm_charges(engine[cid]["charges"]) == _norm_charges(
            expected[cid]["charges"]
        ), cid


def test_financial_assessment_populated(parsed):
    """F10: the financial section parses, carrying the raw comma-money
    string, and a meaningful share of cases have it (the rest exercise
    the reference's `else 0.0` default path)."""
    engine, _ = parsed
    with_fin = [
        v["financial"]["total_financial_assessment"]
        for v in engine.values()
        if v["financial"] and v["financial"]["total_financial_assessment"]
    ]
    assert len(with_fin) > len(engine) // 2
    assert all("," in a for a in with_fin)  # the parse food has commas
    assert len(with_fin) < len(engine)  # default path exercised too


def test_top5_by_assessment_money_parse(spark, parsed):
    """top5_by('total_assessment') == the reference lambda computed in
    Python over the same records (print_stats.py:54-60)."""
    from indigent_defense_stats_spark.operators import analytics

    engine, _ = parsed
    log = oracle.crawl(synth.make_registry(6, n_scrape=5), START, 3)
    df = parse_mod.parse_documents(docs_df(spark, log))
    got = [
        (r["odyssey_id"], r["n"])
        for r in analytics.top5_by(df, "total_assessment").collect()
    ]

    def money(v):
        fin = v.get("financial")
        if not fin or not fin.get("total_financial_assessment"):
            return 0.0
        return float(fin["total_financial_assessment"].replace(",", ""))

    exp = {
        cid: money(oracle.parse_spans(county, cid, spans))
        for cid, (county, spans) in log.documents.items()
    }
    want = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(k, pytest.approx(v)) for k, v in want] == got


def test_dispositions_equality_with_quirks(parsed):
    engine, expected = parsed
    n_with = 0
    for cid in expected:
        got, want = engine[cid]["dispositions"], expected[cid]["dispositions"]
        assert got == want, f"dispositions mismatch {cid}: {got!r} != {want!r}"
        if want:
            n_with += 1
    assert n_with > 3  # the quirk paths are actually exercised


def test_quarantine_on_malformed_doc(spark):
    """A document violating the grammar quarantines, not crashes."""
    bad = [("999", "countyX", [("text", "Party Information", "", 0),
                               ("text", "only\tone", "", 1)])]
    df = spark.createDataFrame(bad, schema=schemas.DOCUMENTS)
    out = parse_mod.parse_documents(df)
    q = parse_mod.quarantine(out).collect()
    assert len(q) == 1 and q[0]["parse_error"]
    assert parse_mod.good_records(out).count() == 0


def test_null_span_list_quarantines(spark):
    """A NULL span list (possible in a table whose schema allows it)
    quarantines like any malformed document; it is not parsed as an
    empty page."""
    from pyspark.sql.types import ArrayType, StructField, StructType

    schema = StructType(
        schemas.DOCUMENTS.fields[:2]
        + [StructField("spans", ArrayType(schemas.SPAN, False), True)]
    )
    rows = [("1", "countyX", None), ("2", "countyX", [("text", "c-2", "", 0)])]
    out = parse_mod.parse_documents(spark.createDataFrame(rows, schema))
    q = parse_mod.quarantine(out).collect()
    assert [r["odyssey_id"] for r in q] == ["1"] and q[0]["parse_error"]
    assert [r["code"] for r in parse_mod.good_records(out).collect()] == ["c-2"]


def test_batch_spans_keep_alignment_past_null_lists():
    """Arrow lets a NULL list own a child segment; slicing by offsets
    must skip it, not shift every later document onto its spans."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    spans = pa.array(
        [{"kind": "text", "text": t, "media_ref": "", "offset": i}
         for i, t in enumerate("abcdef")],
        to_arrow_type(schemas.SPAN),
    )
    lists = pa.ListArray.from_arrays(
        pa.array([0, 2, 3, 6], pa.int32()), spans, mask=pa.array([False, True, False])
    )
    texts = [
        None if doc is None else [t for _, t, _, _ in doc]
        for doc in parse_mod._batch_spans(lists)
    ]
    assert texts == [["a", "b"], None, ["d", "e", "f"]]
    assert [[t for _, t, _, _ in doc] for doc in parse_mod._batch_spans(lists[2:])] == [
        ["d", "e", "f"]
    ]


def test_incremental_parse_skips_already_parsed(spark):
    from indigent_defense_stats_spark.operators.parse import (
        parse_documents,
        parse_documents_incremental,
    )

    log = oracle.crawl(synth.make_registry(3, n_scrape=2), START, 2)
    docs = docs_df(spark, log)
    full = parse_documents(docs)
    some = full.limit(2).select("odyssey_id")
    inc = parse_documents_incremental(docs, some)
    n_all = docs.count()
    skip = {r["odyssey_id"] for r in some.collect()}
    got = {r["odyssey_id"] for r in inc.collect()}
    assert len(got) == n_all - len(skip)
    assert got.isdisjoint(skip)
