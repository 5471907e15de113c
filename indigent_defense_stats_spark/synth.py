"""Deterministic synthetic Odyssey world: registry, portals, case pages.

No external data.  Everything is a pure function of (seed, key), so the
Spark engine's fetch UDFs and the pure-Python sequential oracle
(:mod:`indigent_defense_stats_spark.oracle`) observe the *same* world
and can be compared for crawl-order / URL-seen / span-sequence
equality (BASELINE.json north_rule).

Page shapes mirror the reference portal model:

- registry rows mirror /root/reference/resources/texas_county_data.csv
- main page -> search link id (scraper/__init__.py:288-355; golden id
  900 as in the reference test suite's ``Search.aspx?ID=900``)
- search page -> hidden form values + judicial-officer list
  (scraper/__init__.py:357-392, 466-498)
- results page per (date, officer) -> case-detail links in DOM order
  (scraper/__init__.py:438-441, hays.py:10-13)
- case-detail page -> interleaved text+media span sequence
  (input_hint; modeled on resources/test_files/test_123456.html)

Span grammar (defined here, parsed identically by the oracle and the
Spark parse stage):

- a text span whose text is exactly one of :data:`SECTION_STARTERS`
  begins a new section; spans before the first starter are the
  metadata region (first text span = cause number, mirroring
  ``div.ssCaseDetailCaseNbr > span``, parser/hays.py:91).
- party/events sections encode one table row per span, cells joined
  by TAB; charge section is a flat run of single-cell spans (the
  reference chunks a flat text-node list by 5, parser/hays.py:178-187).
- media spans (kind='media') interleave anywhere and are ignored by
  the text parse but participate in span equality and html hashing.
- the financial section is last and is excluded from ``html_hash``
  (parser/__init__.py:241-254).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import date, timedelta

SEED = 42

SECTION_STARTERS = (
    "CASE INFORMATION",
    "Related Case Information",
    "Party Information",
    "Charge Information",
    "Events & Orders of the Court",
    "Financial Information",
)

# 6-value severity domain (/root/reference/src/parser/hays.py:4-11)
CHARGE_LEVELS = [
    "First Degree Felony",
    "Second Degree Felony",
    "Third Degree Felony",
    "State Jail Felony",
    "Misdemeanor A",
    "Misdemeanor B",
    "Unclassified Level",  # exercises the 'Unknown severity' path
]

CHARGE_NAMES = [
    "ASSAULT CAUSES BODILY INJURY",
    "POSS CS PG 1 <1G",
    "DRIVING WHILE INTOXICATED",
    "THEFT PROP >=$100<$750",
    "BURGLARY OF VEHICLE",
    "CRIMINAL TRESPASS",
    "EVADING ARREST DETENTION",
    "UNL CARRYING WEAPON",
    "RESIST ARREST SEARCH OR TRANSPORT",
    "CRIMINAL MISCHIEF >=$750<$2500",
]

# hit + miss the reference GOOD_MOTIONS list (cleaner/__init__.py:14-22)
EVENT_NAMES = [
    "Open Plea",
    "Motion To Suppress",
    "Arraignment",
    "Motion to Reduce Bond",
    "Pre-Trial Hearing",
    "Motion for Discovery",
    "Status Hearing",
    "Motion In Limine",
    "Announcement",
    "Deferred Adjudication",  # routed to other-events (exact-match quirk)
    "Punishment Hearing",  # likewise
]

DISPO_EVENTS = ["Disposition", "Disposition:", "Amended Disposition"]

OUTCOMES = ["Dismissed", "Conviction", "Deferred", "Acquitted", "Waived"]

JO_FIRST = ["Alicia", "Bruce", "Carmen", "Derek", "Elena", "Frank", "Grace"]
JO_LAST = ["Sosa", "Boyer", "Updegrove", "Henry", "Tibbe", "Zelhart", "Steel"]


def _rng(*key) -> random.Random:
    return random.Random(":".join(str(k) for k in (SEED,) + key))


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def portal_host(i: int) -> str:
    return f"portal-{i}.example"


def root_url(i: int) -> str:
    return f"http://{portal_host(i)}/"


def login_url(i: int) -> str:
    return f"http://{portal_host(i)}/login.aspx"


def search_id(i: int) -> int:
    return 900 + i


def search_url(i: int, version: str) -> str:
    # version branch mirrors scraper/__init__.py:337-342
    if version.startswith("2017"):
        return f"http://{portal_host(i)}/Home/Dashboard/26"
    return f"http://{portal_host(i)}/Search.aspx?ID={search_id(i)}"


def results_url(i: int, day: date, jo_id: int) -> str:
    return (
        f"http://{portal_host(i)}/Search.aspx?ID={search_id(i)}"
        f"&DateFiled={day.strftime('%m/%d/%Y')}&JudicialOfficer={jo_id}"
    )


def case_url(i: int, case_id: str) -> str:
    return f"http://{portal_host(i)}/CaseDetail.aspx?CaseID={case_id}"


def make_registry(n_counties: int = 8, n_scrape: int | None = None) -> list[dict]:
    """Synthetic analog of texas_county_data.csv (header preserved)."""
    rows = []
    for i in range(n_counties):
        r = _rng("county", i)
        # one dominant county (index 0) models the Hays skew
        population = 250_000 if i == 0 else r.randint(5_000, 60_000)
        version = "2003" if i % 3 != 2 else "2017.1.46.2"
        notes = "PUBLICLOGIN#user/pass" if i % 4 == 3 else ""
        scrape = "yes" if (n_scrape is None or i < n_scrape) else "no"
        rows.append(
            {
                "county": f"county{i}",
                "population": population,
                "website": f"http://www.county{i}.example",
                "portal": root_url(i),
                "type": "Odyssey",
                "version": version,
                "search_disabled": "no",
                "site_down": "no",
                "captcha": "no",
                "must_pay": "no",
                "must_register": "no",
                "notes": notes,
                "scrape": scrape,
            }
        )
    return rows


# ---------------------------------------------------------------------------
# portal content
# ---------------------------------------------------------------------------

def jo_list(i: int) -> list[tuple[str, int]]:
    """Judicial officers for county i, insertion order (scraper:486-490)."""
    r = _rng("jos", i)
    n = 2 + i % 3
    out = []
    for j in range(n):
        name = f"{r.choice(JO_FIRST)} {r.choice(JO_LAST)}"
        out.append((name, 3000 + i * 10 + j))
    return out


def _case_pool_scale() -> int:
    """``SPARK_GRAFT_CASE_POOL_SCALE`` resolved ONCE per interpreter
    (module state, not per call): in local mode driver and executors
    share the process env, so bench_scaling's env plumbing is
    consistent; on a real cluster the scale must reach executors via
    ``spark.executorEnv.SPARK_GRAFT_CASE_POOL_SCALE`` (or
    spark-submit --conf) — a driver-only env var would silently fall
    back to 1 on executors and split the synthetic world."""
    import os

    return int(os.environ.get("SPARK_GRAFT_CASE_POOL_SCALE", "1"))


def county_case_pool_size(i: int) -> int:
    """Distinct cases per county.  ``SPARK_GRAFT_CASE_POOL_SCALE``
    (default 1: all tests/oracle fixtures unchanged) multiplies the
    pool for large-scale benchmarks — the sandbox stand-in for the
    10^10-URL frontier's case population."""
    return (8 + 4 * (i % 3) + (12 if i == 0 else 0)) * _case_pool_scale()


def cases_for(i: int, day_ord: int, jo_ord: int) -> list[str]:
    """Case ids listed on the results page for (county, day, officer).

    Ids are drawn from a per-county pool so the same case surfaces
    under multiple (date, officer) pairs — exercising the URL-seen
    dedup exactly as re-listed cases do on real Odyssey portals.
    """
    r = _rng("cases", i, day_ord, jo_ord)
    n = r.randint(0, 3)
    pool = county_case_pool_size(i)
    picks = []
    for k in range(n):
        idx = (day_ord * 7 + jo_ord * 13 + k * 5 + r.randint(0, pool - 1)) % pool
        picks.append(str((i + 1) * 100000 + idx))
    # DOM order, duplicates within one page possible on real portals too
    return picks


def case_links(
    i: int,
    day_ord: int,
    jo_ord: int,
    alias_noise: bool = False,
    mirror_noise: bool = False,
) -> list[str]:
    """Relative case-detail hrefs in DOM order, with deterministic
    tracking-param / fragment noise so URL canonicalization is
    load-bearing (reference hrefs: scraper/hays.py:10-13).

    ``alias_noise`` (opt-in; a SEPARATE rng stream so the default
    world is bit-identical) additionally decorates ~half the links
    with a session-style ``sid`` param the portal ignores — the DUST
    pathology: the same case reachable under several canonical URLs,
    wasting a fetch per alias until rules are mined
    (operators/dust.py) and handed back to the engine.

    ``mirror_noise`` (opt-in, separate rng stream) rewrites ~40% of
    links ABSOLUTE onto the county's mirror host
    (``portal-{i}-m.example``, same content — :func:`fetch` serves
    both) — the mirror-host pathology: the crawler pays politeness
    and fetches on two hosts for one corpus until the mirror map is
    mined (operators/dedup.mirror_map_from_crawl) and handed back."""
    links = []
    for k, cid in enumerate(cases_for(i, day_ord, jo_ord)):
        r = _rng("link", i, day_ord, jo_ord, k)
        href = f"CaseDetail.aspx?CaseID={cid}"
        if r.random() < 0.4:
            href += "&ref=results"
        if alias_noise and _rng("alias", i, day_ord, jo_ord, k).random() < 0.5:
            href += f"&sid=s{(day_ord + jo_ord + k) % 13}"
        if r.random() < 0.3:
            href += f"#row{k}"
        if mirror_noise and _rng("mirror", i, day_ord, jo_ord, k).random() < 0.4:
            href = f"http://portal-{i}-m.example/{href}"
        links.append(href)
    return links


def transient_failures(url: str) -> int:
    """Deterministic number of failing attempts before success:
    ~1/7 of URLs fail once then succeed (exercises the retry/backoff
    budget, scraper/helpers.py:88-125)."""
    from .functions.hashing import xxh64_int

    return 1 if xxh64_int(url.encode("utf-8")) % 7 == 0 else 0


def robots_txt(host: str) -> list[str]:
    """Disallow prefixes for a host (north-rule robots compliance).
    The default synthetic rules never match crawlable URLs, so
    reference parity is preserved; the robots filter itself is
    exercised by dedicated tests with contrived rules."""
    return ["/admin", "/internal"]


def _noisy(r: random.Random, s: str) -> str:
    """Inject the \xa0 / Â artifacts the reference scrubs (hays.py:22)."""
    roll = r.random()
    if roll < 0.2:
        return "\xa0" + s
    if roll < 0.3:
        return s + "\xa0"
    if roll < 0.35:
        return "Â" + s
    return s


@dataclass
class CaseSpec:
    """Deterministic ground-truth ingredients for one case page."""

    county_i: int
    case_id: str
    cause_number: str = ""
    name: str = ""
    case_type: str = ""
    date_filed: str = ""
    location: str = ""
    related: list[str] = field(default_factory=list)
    defendant: dict = field(default_factory=dict)
    charges: list[dict] = field(default_factory=list)  # ordinal,name,statute,level,date
    event_rows: list[list[str]] = field(default_factory=list)  # newest-first
    balance: str = ""
    assessment: str = ""  # money string w/ commas (print_stats.py:56-60)
    media_refs: list[str] = field(default_factory=list)


def make_case_spec(county_i: int, case_id: str) -> CaseSpec:
    r = _rng("case", county_i, case_id)
    idx = int(case_id) % 100000
    spec = CaseSpec(county_i=county_i, case_id=case_id)
    spec.cause_number = f"CR-{16 + idx % 9}-{idx:04d}-{chr(65 + idx % 4)}"
    first = r.choice(JO_FIRST)
    last = r.choice(JO_LAST)
    spec.name = f"State of Texas VS {first} {last}"
    spec.case_type = r.choice(["Adult Felony", "Adult Misdemeanor"])
    base_day = date(2016, 1, 1) + timedelta(days=r.randint(0, 2500))
    spec.date_filed = base_day.strftime("%m/%d/%Y")
    spec.location = f"{r.randint(1,4)}th District Court"
    if r.random() < 0.3:
        spec.related = [f"CR-{16 + k}-{r.randint(0,9999):04d}-B" for k in range(r.randint(1, 2))]
    atty_first, atty_last = r.choice(JO_FIRST), r.choice(JO_LAST)
    spec.defendant = {
        "defendant": f"{last}, {first}",
        "sex": r.choice(["Male", "Female"]),
        "race": r.choice(["White", "Black", "Hispanic", "Asian"]),
        "date_of_birth": (date(1960, 1, 1) + timedelta(days=r.randint(0, 15000))).strftime("%m/%d/%Y"),
        "height": f"{r.randint(4,6)}'{r.randint(0,11)}\"",
        "weight": f"{r.randint(100,260)}",
        "defense_attorney": f"{atty_first} {atty_last}",
        "appointed_or_retained": r.choice(["Court Appointed", "Retained", "Pro Se"]),
        "defense_attorney_phone_number": f"512-555-{r.randint(1000,9999)}",
        "address_1": f"{r.randint(100,9999)} Main St",
        "address_2": f"San Marcos, TX {r.randint(78600,78699)}",
        "sid": f"TX{r.randint(10000000,99999999)}",
        "prosecuting_attorney": f"{r.choice(JO_FIRST)} {r.choice(JO_LAST)}",
        "prosecuting_attorney_phone_number": f"512-555-{r.randint(1000,9999)}",
    }
    n_charges = r.randint(1, 4)
    for k in range(n_charges):
        charge_day = base_day + timedelta(days=r.randint(-30, 5))
        spec.charges.append(
            {
                "ordinal": f"{k+1}.",
                "name": r.choice(CHARGE_NAMES),
                "statute": f"{r.randint(12,49)}.{r.randint(1,99):02d}",
                "level": r.choice(CHARGE_LEVELS),
                "date": charge_day.strftime("%m/%d/%Y"),
            }
        )
    # events newest-first (portal lists newest first; hays.py:224-226)
    n_events = r.randint(1, 6)
    rows: list[list[str]] = []
    for k in range(n_events):
        ev_day = (base_day + timedelta(days=30 * (n_events - k))).strftime("%m/%d/%Y")
        if r.random() < 0.45:
            dispo = r.choice(DISPO_EVENTS)
            charge = r.choice(spec.charges)
            cell_charge = f"{charge['ordinal']} {charge['name']} >={r.randint(1,4)}G"
            row = [
                ev_day,
                dispo,
                f"(Judicial Officer: {r.choice(JO_FIRST)} {r.choice(JO_LAST)})",
                cell_charge,
                r.choice(OUTCOMES),
            ]
            if r.random() < 0.5:
                row += [f"{r.randint(1,10)} Years TDC", f"Fine: ${r.randint(1,9)}00"]
        else:
            row = [ev_day, r.choice(EVENT_NAMES)]
            if r.random() < 0.3:
                row.append("  (Judicial   Officer: someone)  ")  # whitespace-collapse food
        rows.append(row)
    spec.event_rows = rows
    spec.balance = f"{r.randint(0,5000)}.{r.randint(0,99):02d}"
    spec.media_refs = [f"ViewMugshots.aspx?Id={case_id}"]
    if r.random() < 0.4:
        spec.media_refs.append(f"ViewDocument.aspx?DocID={int(case_id)*3+1}")
    # total financial assessment: comma-grouped money string (the F10
    # parse food, print_stats.py:56-60); ~15% of cases lack the section
    # entirely -> the reference's `else 0.0` default path.  Drawn LAST
    # so every earlier draw (and thus every pre-existing synthetic
    # fact) is unchanged.
    if r.random() < 0.85:
        spec.assessment = f"{r.randint(0, 9)},{r.randint(0, 999):03d}.{r.randint(0, 99):02d}"
    return spec


def _text(text: str) -> dict:
    return {"kind": "text", "text": text, "media_ref": ""}


def _media(ref: str) -> dict:
    return {"kind": "media", "text": "", "media_ref": ref}


def case_changed(county_i: int, case_id: str, generation: int) -> bool:
    """Deterministic set of cases whose portal page gains a new event
    at ``generation`` (~1/3 per generation) — the synthetic analog of
    a live docket moving between crawls.  Generation 0 is the base
    world; membership is independent across generations."""
    from .functions.hashing import xxh64_int

    return (
        generation >= 1
        and xxh64_int(
            f"gen:{generation}:{county_i}:{case_id}".encode("utf-8")
        )
        % 3
        == 0
    )


def case_spans(
    county_i: int, case_id: str, generation: int = 0
) -> list[dict]:
    """Render a CaseSpec to its interleaved span sequence.

    ``generation`` models recrawl drift: each generation g in
    [1..generation] where :func:`case_changed` holds prepends one new
    event row (portals list newest first, hays.py:224-226) — so the
    page's content hash changes exactly when the docket did, and an
    unchanged page renders BYTE-IDENTICAL HTML across generations
    (the updater's hash-skip precondition, updater/__init__.py:92)."""
    spec = make_case_spec(county_i, case_id)
    for g in range(1, generation + 1):
        if case_changed(county_i, case_id, g):
            spec.event_rows.insert(
                0, [f"{(g - 1) % 12 + 1:02d}/15/2025", f"Review Hearing {g}"]
            )
    r = _rng("noise", county_i, case_id)
    spans: list[dict] = []
    # metadata region
    spans.append(_text(spec.cause_number))
    spans.append(_media(spec.media_refs[0]))
    # details section
    spans.append(_text("CASE INFORMATION"))
    spans.append(_text(spec.name))
    spans.append(_text("Case Type:"))
    spans.append(_text(spec.case_type))
    spans.append(_text("Date Filed:"))
    spans.append(_text(spec.date_filed))
    spans.append(_text("Location:"))
    spans.append(_text(spec.location))
    # related cases
    if spec.related:
        spans.append(_text("Related Case Information"))
        for rc in spec.related:
            spans.append(_text(_noisy(r, rc)))
    # party information — TAB-joined rows with reference row/col layout
    d = spec.defendant
    spans.append(_text("Party Information"))
    party_rows = [
        ["Defendant", "", "DOB", "", "Attorney"],  # header-ish row 0
        [
            "Defendant",
            _noisy(r, d["defendant"]),
            f"{d['sex']} {d['race']}",
            d["date_of_birth"],
            f"{d['height']} {d['weight']}",
            _noisy(r, d["defense_attorney"]),
            d["appointed_or_retained"],
            d["defense_attorney_phone_number"],
        ],
        [d["address_1"], d["address_2"], "SID:", d["sid"]],
        ["State", "of Texas", d["prosecuting_attorney"], d["prosecuting_attorney_phone_number"]],
    ]
    for row in party_rows:
        cells = list(row)
        if r.random() < 0.3:
            cells.insert(r.randint(0, len(cells)), "")  # empty cell, dropped by cleanup
        spans.append(_text("\t".join(cells)))
    if len(spec.media_refs) > 1:
        spans.append(_media(spec.media_refs[1]))
    # charge information — FLAT single-cell spans (stride-5 chunking, F15)
    spans.append(_text("Charge Information"))
    for h in ["Charges", "Statute", "Level", "Date"]:
        spans.append(_text(h))
    for c in spec.charges:
        spans.append(_text(c["ordinal"]))
        spans.append(_text(_noisy(r, c["name"])))
        spans.append(_text(c["statute"]))
        spans.append(_text(c["level"]))
        spans.append(_text(c["date"]))
    # events & orders — TAB-joined rows (newest-first) + non-row banner
    spans.append(_text("Events & Orders of the Court"))
    spans.append(_text("OTHER EVENTS AND HEARINGS"))  # single-cell: not a row
    for row in spec.event_rows:
        spans.append(_text("\t".join(row)))
    # financial — last section, excluded from html_hash
    spans.append(_text("Financial Information"))
    if spec.assessment:
        spans.append(_text("Total Financial Assessment"))
        spans.append(_text(spec.assessment))
    spans.append(_text("Balance Due"))
    spans.append(_text(spec.balance))
    for off, s in enumerate(spans):
        s["offset"] = off
    return spans


# ---------------------------------------------------------------------------
# HTML wire format — case pages travel as HTML, like the real portal
# ---------------------------------------------------------------------------
#
# The reference fetches ~40 KB Odyssey case-detail pages and parses
# them with BeautifulSoup (parser/__init__.py:225;
# resources/test_files/test_123456.html).  The synthetic portal does
# the same: ``fetch`` returns a rendered HTML page for case URLs and
# the engine recovers the span sequence with :func:`extract_spans`
# (the oracle with its own ``oracle.regex_extract_spans``).  Pages
# keep a representative size (~42 KB, mostly boilerplate), so
# rendering, moving and storing them cost what a real page does;
# handing pre-parsed spans over the wire (an earlier design) hid that
# cost.  Extraction itself is a marker scan that reads only the ~37
# span cells the engine keeps, not a walk over every tag.
#
# Round-trip contract (tested):
#   extract_spans(render_case_html(case_spans(i, cid))) == case_spans(i, cid)

_HTML_HEAD = (
    "<!DOCTYPE html>\n<html>\n<head>\n"
    "<title>Odyssey Portal - Case Detail</title>\n"
    '<meta http-equiv="Content-Type" content="text/html; charset=utf-8"/>\n'
    "<style>\n"
    + "\n".join(
        f".ss{k:03d} {{ font-family: Verdana, Arial, sans-serif; "
        f"font-size: {8 + k % 5}pt; color: #{k % 10}{k % 7}{k % 5}; "
        f"padding: {k % 4}px {k % 3}px; border-collapse: collapse; "
        f"margin-top: {k % 6}px; text-decoration: none; }}"
        for k in range(160)
    )
    + "\n</style>\n</head>\n<body>\n"
    '<div id="topnav"><table class="ssNav" width="100%" border="0">'
    + "".join(
        f'<tr><td class="ssNavCell"><a href="/nav/{k}">Menu item {k}</a></td>'
        f'<td class="ssNavPad"><img src="/img/spacer.gif" width="1" height="1" alt=""/></td></tr>'
        for k in range(12)
    )
    + "</table></div>\n"
    '<table class="ssCaseDetail" width="100%" border="0" cellpadding="2">\n'
)

_ROW_FILLER = (
    '<tr class="ssSep"><td colspan="2">'
    '<img src="/img/spacer.gif" width="1" height="1" alt=""/>'
    '<span class="ssNote" style="display:none">&nbsp;</span></td></tr>\n'
)

_HTML_FOOT = (
    "</table>\n"
    '<div id="footer"><table class="ssFooter">'
    + "".join(
        f'<tr><td class="ssFooterCell">Record generated by Odyssey Portal '
        f"node {k} &#169; Tyler Technologies (synthetic)</td></tr>"
        for k in range(8)
    )
    + "</table></div>\n</body>\n</html>\n"
)


def render_case_html(spans: list[dict]) -> str:
    """Deterministic Odyssey-shaped HTML for a span sequence.

    Text spans become ``<td class="ssp">`` cells (tabs/\\xa0 inside the
    text survive verbatim — HTML does not normalize character data);
    media spans become ``<a class="ssm" href=...>`` anchors.  Enough
    deterministic boilerplate surrounds them that page size is
    representative of the real portal (~42 KB per page, next to the
    reference's ~40 KB fixture)."""
    import html as _h

    parts = [_HTML_HEAD]
    for s in spans:
        off = s["offset"]
        alt = ' class="ssCaseDetailRowAlt"' if off % 2 else ""
        if s["kind"] == "text":
            parts.append(
                f'<tr{alt} id="r{off}"><td class="ssp">'
                f'{_h.escape(s["text"], quote=False)}</td>'
                f'<td class="ssPad"><img src="/img/spacer.gif" alt=""/></td></tr>\n'
            )
        else:
            parts.append(
                f'<tr{alt} id="r{off}"><td class="ssMediaCell">'
                f'<a class="ssm" href="{_h.escape(s["media_ref"], quote=True)}">'
                f'<img src="/img/icon_doc.gif" alt="view"/></a></td></tr>\n'
            )
        parts.append(_ROW_FILLER)
    parts.append(_HTML_FOOT)
    return "".join(parts)


_TEXT_OPEN = '<td class="ssp">'
_MEDIA_OPEN = '<a class="ssm" href="'


def extract_spans(html: str) -> list[dict]:
    """HTML page -> interleaved span sequence (kind, text, media_ref,
    offset).  This is the ENGINE's extractor (fetch stage): one
    left-to-right ``str.find`` scan for the two span markers, taking
    whichever comes first — a ``td.ssp`` cell is sliced to its
    ``</td>``, an ``a.ssm`` href to its closing quote, and both are
    ``html.unescape``d.  The ~500 other tags of the page are never
    looked at.  The sequential oracle uses its own independent regex
    reader (oracle.regex_extract_spans), so span-sequence equality
    tests compare two independent walks of the same wire format and a
    bug in either one surfaces as a mismatch.

    A page this scan cannot read raises ``ValueError`` instead of
    yielding a short span sequence: a truncated body (no closing
    ``</html>``), a cell with no ``</td>``, an href with no closing
    quote, or markup (a raw ``<``) inside a text cell."""
    from html import unescape

    if not html.rstrip().endswith("</html>"):
        raise ValueError("case page truncated: no closing </html>")
    find = html.find
    spans: list[dict] = []
    t = find(_TEXT_OPEN)
    m = find(_MEDIA_OPEN)
    while t >= 0 or m >= 0:
        if m < 0 or 0 <= t < m:
            start = t + len(_TEXT_OPEN)
            end = find("</td>", start)
            if end < 0:
                raise ValueError(f"td.ssp cell at {t} has no </td>")
            text = html[start:end]
            if "<" in text:
                raise ValueError(f"td.ssp cell at {t} holds markup")
            spans.append(
                {
                    "kind": "text",
                    "text": unescape(text),
                    "media_ref": "",
                    "offset": len(spans),
                }
            )
            t = find(_TEXT_OPEN, end)
        else:
            start = m + len(_MEDIA_OPEN)
            end = find('"', start)
            if end < 0:
                raise ValueError(f"a.ssm href at {m} has no closing quote")
            spans.append(
                {
                    "kind": "media",
                    "text": "",
                    "media_ref": unescape(html[start:end]),
                    "offset": len(spans),
                }
            )
            m = find(_MEDIA_OPEN, end)
    return spans


# ---------------------------------------------------------------------------
# UMich-style charge dimension (cleaner/__init__.py:72-84): hits + misses
# ---------------------------------------------------------------------------

def make_charge_dim() -> list[dict]:
    rows = []
    for k, name in enumerate(CHARGE_NAMES):
        if k % 3 == 2:
            continue  # deliberate miss -> inner-join drop path
        rows.append(
            {
                "charge_name": name,
                "uccs_code": f"{1000 + k}",
                "charge_desc": f"{name.title()} (desc)",
                "offense_category_desc": ["Violent", "Property", "Drug", "Public order"][k % 4],
                "offense_type_desc": ["Felony", "Misdemeanor"][k % 2],
            }
        )
    return rows


# ---------------------------------------------------------------------------
# fetch — the synthetic portal's single entry point
# ---------------------------------------------------------------------------

def fetch(
    url: str,
    attempt: int = 0,
    generation: int = 0,
    alias_noise: bool = False,
    mirror_noise: bool = False,
) -> dict:
    """Deterministic synthetic fetch.  Stands in for the HTTP layer
    (scraper/helpers.py:80-126); both the Spark fetch UDF and the
    sequential oracle call this same function, so content equality is
    exact by construction and the comparison tests exercise ordering,
    dedup and parse — the engine's actual logic.

    ``attempt`` models retries: URLs with pending
    :func:`transient_failures` return 503 until enough attempts.
    ``generation`` models recrawl drift (see :func:`case_spans`);
    the default 0 is the base world every parity test runs against.
    """
    import re
    from datetime import datetime

    if attempt < transient_failures(url):
        return {"kind": "retry", "status": 503}
    # the optional -m suffix is the county's mirror host: same content
    # (only reachable when mirror_noise emitted links to it)
    m = re.match(r"http://portal-(\d+)(-m)?\.example(/.*)", url)
    if not m:
        return {"kind": "error", "status": 404}
    i, path = int(m.group(1)), m.group(3)
    if path == "/login.aspx":
        return {"kind": "login", "status": 200}
    if path == "/":
        return {"kind": "main", "status": 200, "search_id": search_id(i)}
    if path.startswith("/Home/Dashboard") or (
        path.startswith("/Search.aspx") and "DateFiled" not in path
    ):
        return {
            "kind": "search",
            "status": 200,
            "search_id": search_id(i),
            "hidden": {"NodeID": f"{100+i}", "NodeDesc": f"All Courts {i}"},
            "jo_list": [{"name": n, "id": j} for n, j in jo_list(i)],
        }
    if "DateFiled" in path:
        q = dict(p.split("=", 1) for p in path.split("?", 1)[1].split("&"))
        day = datetime.strptime(q["DateFiled"].replace("%2F", "/"), "%m/%d/%Y").date()
        jid = int(q["JudicialOfficer"])
        jos = [j for _, j in jo_list(i)]
        if jid not in jos:
            return {"kind": "results", "status": 200, "case_links": []}
        day_ord = day.toordinal()
        jo_ord = jos.index(jid)
        return {
            "kind": "results",
            "status": 200,
            "case_links": case_links(i, day_ord, jo_ord, alias_noise, mirror_noise),
        }
    if path.startswith("/CaseDetail.aspx?"):
        q = dict(
            p.split("=", 1)
            for p in path.split("?", 1)[1].split("&")
            if "=" in p
        )
        cid = q.get("CaseID")
        if cid and cid.isdigit():
            return {
                "kind": "case",
                "status": 200,
                "html": render_case_html(case_spans(i, cid, generation)),
            }
    return {"kind": "error", "status": 404}
