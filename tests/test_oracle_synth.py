"""Synthetic world + sequential oracle: determinism and semantics.

These pin down the ground truth every Spark stage is compared against.
"""

from __future__ import annotations

from datetime import date

import pytest

from indigent_defense_stats_spark import oracle, synth

START = date(2024, 7, 1)


@pytest.fixture(scope="module")
def log():
    return oracle.crawl(synth.make_registry(6, n_scrape=4), START, 3)


def test_crawl_deterministic(log):
    log2 = oracle.crawl(synth.make_registry(6, n_scrape=4), START, 3)
    assert [f["url"] for f in log.fetches] == [f["url"] for f in log2.fetches]
    assert log.seen_case_urls == log2.seen_case_urls


def test_crawl_visits_only_scrape_yes(log):
    counties = {f["county"] for f in log.fetches}
    assert counties == {"county0", "county1", "county2", "county3"}


def test_login_fetch_for_publiclogin_county(log):
    # county3 has PUBLICLOGIN# notes (synth: i % 4 == 3)
    seq = log.host_sequence(synth.portal_host(3), dedup=False)
    assert seq[0].endswith("/login.aspx")


def test_politeness_spacing(log):
    ts = [f["ts_ms"] for f in log.fetches]
    assert all(b - a >= oracle.POLITENESS_MS for a, b in zip(ts, ts[1:]))


def test_duplicate_case_links_exist(log):
    """The synthetic world must actually exercise URL-seen dedup."""
    all_case_fetches = [f["url"] for f in log.fetches if f["depth"] == 3]
    assert len(all_case_fetches) > len(set(all_case_fetches))


def test_span_sequences_have_contiguous_offsets(log):
    for cid, (county, spans) in log.documents.items():
        assert [s["offset"] for s in spans] == list(range(len(spans)))
        kinds = {s["kind"] for s in spans}
        assert kinds <= {"text", "media"}
        assert any(k == "media" for k in (s["kind"] for s in spans))


def test_parse_core_fields(log):
    recs = [
        oracle.parse_spans(county, cid, spans)
        for cid, (county, spans) in log.documents.items()
    ]
    assert all(r["code"].startswith("CR-") for r in recs)
    assert all(r["charges"] for r in recs)
    # at least one case has dispositions and a top charge
    with_dispo = [r for r in recs if r["dispositions"]]
    assert with_dispo
    assert any(r["top_charge"] for r in with_dispo)
    # disposition routing quirk: 'Disposition:' rows route but never append
    for r in recs:
        for d in r["dispositions"] or []:
            assert d["event"].lower() in oracle._DISPO_APPEND
    # events are oldest-first after the reference reversal
    assert all(isinstance(r["other_events"], list) for r in recs if r["other_events"])


def test_html_hash_excludes_balance_section(log):
    cid, (county, spans) = next(iter(log.documents.items()))
    h1 = oracle.html_hash(spans)
    # perturb only the balance amount (last span) -> hash unchanged
    mutated = [dict(s) for s in spans]
    mutated[-1]["text"] = "999999.99"
    assert oracle.html_hash(mutated) == h1
    # perturb a body span -> hash changes
    mutated2 = [dict(s) for s in spans]
    mutated2[3]["text"] += "X"
    assert oracle.html_hash(mutated2) != h1


def test_clean_semantics(log):
    dim = synth.make_charge_dim()
    mapped = {c["charge_name"] for c in dim}
    for cid, (county, spans) in list(log.documents.items())[:10]:
        rec = oracle.parse_spans(county, cid, spans)
        clean = oracle.clean_case(rec, dim, "2024-07-04")
        # inner-join semantics: every surviving charge is mapped
        for ch in clean["charges"]:
            assert ch["charge_name"] in mapped
            assert ch["charge_date"] >= "2015-01-01"
        assert clean["has_evidence_of_representation"] == (
            len(clean["good_motions"]) > 0
        )
        assert len(clean["cause_number_redacted"]) == 16
        # judicial officer redacted from dispositions
        for d in clean["dispositions"]:
            assert "judicial_officer" not in d


def test_publish_versioning():
    base = {
        "case_number": "c1",
        "county": "county0",
        "html_hash": "h1",
        "version": 1,
    }
    out = oracle.publish(
        [
            {"case_number": "c1", "county": "county0", "html_hash": "h1"},  # dup hash
            {"case_number": "c1", "county": "county0", "html_hash": "h2"},  # new ver
            {"case_number": "c9", "county": "county0", "html_hash": "h3"},  # fresh
        ],
        [base],
        "08-16-2026",
    )
    assert [(r["case_number"], r["version"]) for r in out] == [("c1", 2), ("c9", 1)]
    assert out[0]["id"] == "c1:county0:08-16-2026h2"


def test_independent_extractors_agree():
    """The engine's marker-scan extractor and the oracle's regex
    extractor are independent readers of the wire format; they must
    recover identical span sequences (the extractor's own ground
    truth — ADVICE r1)."""
    spans = synth.case_spans(0, "100001")
    html = synth.render_case_html(spans)
    a = synth.extract_spans(html)
    b = oracle.regex_extract_spans(html)
    assert a == b
    assert a == spans  # and both equal the source sequence


def test_extractors_agree_on_every_case_page():
    """Engine == oracle == source spans over every case page of 20
    counties (each county's whole case pool), at generations 0 and 1,
    plus hand-built spans holding every character the wire escapes
    and the noise characters the parser later scrubs."""
    pages = [
        synth.case_spans(i, str((i + 1) * 100000 + k), g)
        for i in range(20)
        for k in range(synth.county_case_pool_size(i))
        for g in (0, 1)
    ]
    assert len(pages) >= 400  # >= 200 (county, case_id) pairs
    pages.append(
        [
            {"kind": "text", "text": t, "media_ref": "", "offset": 0}
            for t in (
                'a & b < c > d "e"',
                "&amp; &lt;/td&gt; &#169;",
                "\tcol\t\xa0Â\t",
                "</td>",
                "",
            )
        ]
        + [
            {"kind": "media", "text": "", "media_ref": r, "offset": 0}
            for r in ('View.aspx?a=1&b="2"', "&quot;", "")
        ]
    )
    for off, s in enumerate(pages[-1]):
        s["offset"] = off
    for spans in pages:
        html = synth.render_case_html(spans)
        assert synth.extract_spans(html) == spans
        assert oracle.regex_extract_spans(html) == spans


def _truncated_in_tenth_cell() -> str:
    html = synth.render_case_html(synth.case_spans(0, "100001"))
    at = -1
    for _ in range(10):
        at = html.index('<td class="ssp">', at + 1)
    return html[: at + len('<td class="ssp">') + 2]


@pytest.mark.parametrize(
    "html,error",
    [
        ('<html><td class="ssp">no close</tr></html>', "no </td>"),
        ('<html><a class="ssm" href="View.aspx?Id=1></a></html>', "no closing quote"),
        ('<html><td class="ssp">a <b>bold</b> cell</td></html>', "holds markup"),
        (_truncated_in_tenth_cell(), "truncated"),
        (synth.render_case_html(synth.case_spans(0, "100001"))[:-20], "truncated"),
    ],
    ids=["cell", "href", "markup", "cut-in-cell", "cut-in-footer"],
)
def test_extract_spans_rejects_malformed_pages(html, error):
    """A page the engine cannot read fails loudly instead of yielding
    the spans before the damage (the regex reader, for one, reads 10
    of the 56 spans of a page cut inside its 10th cell)."""
    with pytest.raises(ValueError, match=error):
        synth.extract_spans(html)


def test_html_wire_round_trip():
    """Case pages travel as HTML; extraction must recover the exact
    span sequence (kind, text, media_ref, offset) — including tab-
    joined rows and the \xa0/Â noise the parser later scrubs."""
    for county_i, cid in [(0, "100003"), (1, "200001"), (5, "600007")]:
        spans = synth.case_spans(county_i, cid)
        page = synth.render_case_html(spans)
        assert len(page) > 20_000  # representative of the ~40 KB fixture
        assert synth.extract_spans(page) == spans
    # noise characters survive the wire
    noisy = [
        {"kind": "text", "text": "\xa0a\tÂb\t<x>&amp;", "media_ref": "", "offset": 0},
        {"kind": "media", "text": "", "media_ref": "ViewMugshots.aspx?Id=1", "offset": 1},
    ]
    assert synth.extract_spans(synth.render_case_html(noisy)) == noisy


def test_fetch_returns_html_for_cases():
    page = synth.fetch("http://portal-0.example/CaseDetail.aspx?CaseID=100001")
    if page["status"] == 200:
        assert "html" in page and "spans" not in page
