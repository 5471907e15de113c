"""Sequential reference simulator — the ground-truth oracle.

A faithful pure-Python port of the reference pipeline's *semantics*
(loop order, politeness budget, parse/clean/publish rules) run over
the synthetic world in :mod:`indigent_defense_stats_spark.synth`.
The Spark engine is tested for equality against this oracle:

- crawl fetch order (per-host sequences) and the URL-seen set
  (north_rule; reference loop: src/scraper/__init__.py:568-588,
  orchestrator/__init__.py:18-36)
- per-row span-sequence equality (kind, text, media_ref, order)
- parsed case records (src/parser/hays.py semantics, including the
  reversal quirks at hays.py:224-226 and :265)
- cleaned records (src/cleaner/__init__.py semantics, including the
  drop-on-unparseable-date and drop-on-unmapped-charge paths)
- publish/versioning decisions (src/updater/__init__.py:92-119)

This module is intentionally sequential, row-at-a-time Python — it
exists only as a test oracle at small scale, never in the engine's
execution path.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import date, timedelta

from . import synth
from .functions.hashing import xxh64_hexdigest
from .functions.urls import canonicalize

POLITENESS_MS = 200  # scraper/__init__.py:57, helpers.py:93

GOOD_MOTIONS = [  # cleaner/__init__.py:14-22
    "Motion To Suppress",
    "Motion to Reduce Bond",
    "Motion to Reduce Bond Hearing",
    "Motion for Production",
    "Motion For Speedy Trial",
    "Motion for Discovery",
    "Motion In Limine",
]

CHARGE_SEVERITY = {  # parser/hays.py:4-11
    "First Degree Felony": 1,
    "Second Degree Felony": 2,
    "Third Degree Felony": 3,
    "State Jail Felony": 4,
    "Misdemeanor A": 5,
    "Misdemeanor B": 6,
}

_DISPO_ROUTE = ("Disposition", "Disposition:", "Amended Disposition")  # hays.py:217
_DISPO_APPEND = (  # hays.py:256 — note 'disposition:' is absent (quirk)
    "disposition",
    "amended disposition",
    "deferred adjudication",
    "punishment hearing",
)


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------

@dataclass
class CrawlLog:
    fetches: list[dict] = field(default_factory=list)  # url, host, county, depth, ts_ms
    documents: dict = field(default_factory=dict)  # case_id -> (county, spans)
    doc_order: list[str] = field(default_factory=list)  # first-fetch order of case ids

    @property
    def seen_case_urls(self) -> set[str]:
        return {f["url"] for f in self.fetches if f["depth"] == 3}

    def host_sequence(self, host: str, dedup: bool = True) -> list[str]:
        seen: set[str] = set()
        out = []
        for f in self.fetches:
            if f["host"] != host:
                continue
            if dedup and f["url"] in seen:
                continue
            seen.add(f["url"])
            out.append(f["url"])
        return out


def crawl(
    registry: list[dict],
    start_date: date,
    n_days: int,
) -> CrawlLog:
    """Sequential crawl exactly as the reference drives it.

    Per county (registry order, ``scrape=='yes'``,
    orchestrator/__init__.py:27): optional login POST
    (scraper/__init__.py:254-272), main page GET, search page GET,
    then dates ascending x judicial officers in insertion order
    (scraper/__init__.py:571-588); each results POST yields case-link
    GETs in DOM order (hays.py:10-35).  Duplicate case links are
    re-fetched and overwritten by the reference (D2 overwrite
    semantics); the seen-set / first-fetch order properties expose
    the dedup view the engine must match.
    """
    log = CrawlLog()
    ts = 0

    def do_fetch(url: str, host: str, county: str, depth: int) -> dict:
        nonlocal ts
        # retry loop with linear backoff, sleep *before* every attempt
        # (helpers.py:88-125); max 5 attempts
        for attempt in range(5):
            ts += POLITENESS_MS * (attempt + 1)
            page = synth.fetch(url, attempt)
            if page.get("status") != 503:
                break
        log.fetches.append(
            {
                "url": url,
                "host": host,
                "county": county,
                "depth": depth,
                "ts_ms": ts,
                "attempts": attempt + 1,
            }
        )
        return page

    for ci, row in enumerate(registry):
        if str(row.get("scrape", "")).lower() != "yes":
            continue
        county = row["county"]
        i = int(county.replace("county", ""))
        host = synth.portal_host(i)
        if "PUBLICLOGIN#" in (row.get("notes") or ""):
            do_fetch(synth.login_url(i), host, county, 0)
        main = do_fetch(synth.root_url(i), host, county, 0)
        surl = canonicalize(synth.search_url(i, row["version"]))
        search = do_fetch(surl, host, county, 1)
        jos = search["jo_list"]
        for d in range(n_days):
            day = start_date + timedelta(days=d)
            for jo_id in (j["id"] for j in jos):
                rurl = canonicalize(synth.results_url(i, day, jo_id))
                results = do_fetch(rurl, host, county, 2)
                for href in results["case_links"]:
                    curl = canonicalize(synth.root_url(i) + href)
                    cid = curl.rsplit("CaseID=", 1)[1]
                    page = do_fetch(curl, host, county, 3)
                    # overwrite semantics (scraper/__init__.py:459-462);
                    # case pages arrive as HTML and are parsed to spans
                    # exactly as the reference parses fetched pages
                    if cid not in log.documents:
                        log.doc_order.append(cid)
                    log.documents[cid] = (
                        county,
                        regex_extract_spans(page["html"]),
                    )
        assert main["kind"] == "main"
    return log


# ---------------------------------------------------------------------------
# parse (span grammar -> case record), mirroring parser/hays.py
# ---------------------------------------------------------------------------

_SPAN_RE = None


def regex_extract_spans(html: str) -> list[dict]:
    """Independent recovery of the span sequence from the HTML wire
    format — a regex scan over ``td.ssp`` text cells and ``a.ssm``
    media anchors, deliberately sharing NO code with the engine's
    ``synth.extract_spans`` (``str.find`` marker scan), so the
    span-sequence equality tests compare two independent readers of
    the same wire format and a bug in either extractor surfaces as a
    mismatch."""
    global _SPAN_RE
    import html as _h
    import re

    if _SPAN_RE is None:
        _SPAN_RE = re.compile(
            r'<td class="ssp">(?P<text>.*?)</td>'
            r'|<a class="ssm" href="(?P<href>[^"]*)">',
            re.S,
        )
    spans = []
    for off, m in enumerate(_SPAN_RE.finditer(html)):
        if m.group("href") is not None:
            spans.append(
                {
                    "kind": "media",
                    "text": "",
                    "media_ref": _h.unescape(m.group("href")),
                    "offset": off,
                }
            )
        else:
            spans.append(
                {
                    "kind": "text",
                    "text": _h.unescape(m.group("text")),
                    "media_ref": "",
                    "offset": off,
                }
            )
    return spans


def split_sections(spans: list[dict]) -> list[tuple[str, list[dict]]]:
    """[(starter_or_'', spans)] — starter exact-match begins a section."""
    sections: list[tuple[str, list[dict]]] = [("", [])]
    for s in spans:
        if s["kind"] == "text" and s["text"] in synth.SECTION_STARTERS:
            sections.append((s["text"], [s]))
        else:
            sections[-1][1].append(s)
    return sections


def _section_text(sec: list[dict]) -> str:
    return "\n".join(s["text"] for s in sec if s["kind"] == "text")


def _extract_rows(sec: list[dict]) -> list[list[str]]:
    """extract_rows semantics (hays.py:18-31) over TAB-row spans."""
    rows = []
    for s in sec:
        if s["kind"] != "text" or "\t" not in s["text"]:
            continue
        row = [
            c.strip().replace("\xa0", "").replace("Â", "")
            for c in s["text"].split("\t")
            if c.strip()
        ]
        if row:
            rows.append(row)
    return rows


def _event_rows(sec: list[dict]) -> list[list[str]]:
    """format_events_and_orders rows (hays.py:196-209): strip, nbsp->space,
    whitespace-collapse, drop empty cells/rows."""
    rows = []
    for s in sec:
        if s["kind"] != "text" or "\t" not in s["text"]:
            continue
        row = [
            " ".join(c.strip().replace("\xa0", " ").split())
            for c in s["text"].split("\t")
            if c.strip()
        ]
        if row:
            rows.append(row)
    return rows


def _charge_severity(level: str) -> float:
    for name, sev in CHARGE_SEVERITY.items():
        if name in level:
            return sev
    return float("inf")


def parse_spans(county: str, case_id: str, spans: list[dict]) -> dict:
    """parser_hays semantics (hays.py:274-314) over the span grammar."""
    sections = split_sections(spans)
    meta = sections[0][1]
    code = next((s["text"] for s in meta if s["kind"] == "text"), "Unknown")
    case: dict = {
        "odyssey_id": case_id,
        "code": code,
        "county": county,
        "related_cases": None,
        "dispositions": None,
        "top_charge": None,
        "dismissed_charges_count": None,
        "other_events": None,
        "charges": None,
        "financial": None,
    }
    for starter, sec in sections[1:]:
        text = _section_text(sec)
        body = sec[1:]  # skip the starter span itself for value extraction
        if "Case Type:" in text and "Date Filed:" in text:
            vals = [
                s["text"]
                for s in body
                if s["kind"] == "text" and not s["text"].endswith(":")
            ]
            case["name"], case["case_type"], case["date_filed"], case["location"] = (
                vals + ["Unknown"] * 4
            )[:4]
        elif "Related Case Information" in text:
            case["related_cases"] = [
                s["text"].strip().replace("\xa0", " ")
                for s in body
                if s["kind"] == "text"
            ]
        elif "Party Information" in text:
            rows = _extract_rows(body)
            case["defendant"] = {
                "defendant": rows[1][1],
                "sex": rows[1][2].split(" ")[0],
                "race": rows[1][2].split(" ")[1],
                "date_of_birth": rows[1][3],
                "height": rows[1][4].split(" ")[0],
                "weight": rows[1][4].split(" ")[1],
                "defense_attorney": rows[1][5],
                "appointed_or_retained": rows[1][6],
                "defense_attorney_phone_number": rows[1][7],
                "defendant_address": rows[2][0] + " " + rows[2][1],
                "sid": rows[2][3],
            }
            case["state"] = {
                "prosecuting_attorney": rows[3][2],
                "prosecuting_attorney_phone_number": rows[3][3],
            }
        elif "Charge Information" in text:
            cells = [
                s["text"].strip().replace("\xa0", " ")
                for s in sec  # header span included (table.find_all(text=True))
                if s["kind"] == "text" and s["text"].strip()
            ]
            charges = []
            for i in range(5, len(cells), 5):
                chunk = dict(
                    zip(["charges", "statute", "level", "date"], cells[i + 1 : i + 5])
                )
                charges.append(chunk)
            case["charges"] = charges
        elif "Events & Orders of the Court" in text:
            rows = _event_rows(body)
            dispo_rows = [r for r in rows if len(r) >= 2 and r[1] in _DISPO_ROUTE]
            other_rows = [r for r in rows if len(r) >= 2 and r[1] not in _DISPO_ROUTE]
            # rows shorter than 2 cells are silently skipped (hays.py:216)
            other_rows = other_rows[::-1]
            dispo_rows = dispo_rows[::-1]
            dispositions: list[dict] = []
            for row in dispo_rows:
                if len(row) >= 5:
                    jo = ""
                    if len(row[2]) > 18 and row[2].startswith("(Judicial Officer:"):
                        jo = row[2][18:-1].strip()
                    dispo = {
                        "date": row[0],
                        "event": row[1],
                        "judicial_officer": jo,
                        "details": [],
                    }
                    if row[1].lower() in _DISPO_APPEND:
                        details = {"charge": row[3], "outcome": row[4]}
                        details["additional_info"] = row[5:] if len(row) > 5 else None
                        dispo["details"].append(details)
                        dispositions.append(dispo)
                        dispositions.reverse()  # parity quirk (hays.py:265)
                case["dispositions"] = list(dispositions)
            if case["dispositions"]:
                case["top_charge"] = _top_charge(
                    case["dispositions"], case.get("charges") or []
                )
                case["dismissed_charges_count"] = sum(
                    1
                    for d in case["dispositions"]
                    for det in d["details"]
                    if det["outcome"].lower() == "dismissed"
                )
            case["other_events"] = other_rows
        elif "Financial Information" in text:
            vals = [s["text"] for s in body if s["kind"] == "text"]
            fin = {"total_financial_assessment": None, "balance": None}
            for k, t in enumerate(vals[:-1]):
                if t == "Total Financial Assessment":
                    fin["total_financial_assessment"] = vals[k + 1]
                elif t == "Balance Due":
                    fin["balance"] = vals[k + 1]
            case["financial"] = fin
    case["html_hash"] = html_hash(spans)
    return case


def _top_charge(dispositions: list[dict], charges: list[dict]) -> dict | None:
    """get_top_charge (hays.py:54-85): strict-< argmin, first wins."""
    charge_map = {c.get("charges"): c.get("level") for c in charges}
    top = None
    min_sev = float("inf")
    for d in dispositions:
        for det in d["details"]:
            name = (
                det.get("charge", "")
                .strip()
                .split(" >=")[0]
                .strip()
                .lstrip("0123456789. ")
                .strip()
            )
            level = charge_map.get(name, "Unknown")
            sev = _charge_severity(level or "")
            if sev < min_sev:
                min_sev = sev
                top = {"charge_name": name, "charge_level": level}
    return top


def html_hash(spans: list[dict]) -> str:
    """xxh64 hex of the span serialization, excluding the trailing
    financial section when it contains 'Balance Due'
    (parser/__init__.py:241-254)."""
    sections = split_sections(spans)
    keep = sections
    if len(sections) > 1 and "Balance Due" in _section_text(sections[-1][1]):
        keep = sections[:-1]
    payload = "\n".join(
        s["text"] if s["kind"] == "text" else s["media_ref"]
        for _, sec in keep
        for s in sec
    )
    return xxh64_hexdigest(payload)


# ---------------------------------------------------------------------------
# clean (cleaner/__init__.py semantics)
# ---------------------------------------------------------------------------

def clean_case(case: dict, charge_dim: list[dict], parsing_date: str) -> dict:
    charge_mapping = {c["charge_name"]: c for c in charge_dim}
    charges_out = []
    charge_dates = []
    from datetime import datetime

    for i, ch in enumerate(case.get("charges") or []):
        cd = {
            "charge_id": i,
            "charge_level": ch.get("level"),
            "orignal_charge": ch.get("charges"),
            "statute": ch.get("statute"),
            "is_primary_charge": i == 0,
        }
        try:
            dt = datetime.strptime(ch.get("date") or "", "%m/%d/%Y")
        except ValueError:
            continue  # drop: unparseable date (cleaner:113-121)
        charge_dates.append(dt)
        cd["charge_date"] = dt.strftime("%Y-%m-%d")
        m = charge_mapping.get(ch.get("charges"))
        if m is None:
            continue  # drop: unmapped charge (cleaner:124-127)
        cd.update(m)
        charges_out.append(cd)
    earliest = (
        min(charge_dates).strftime("%Y-%m-%d") if charge_dates else ""
    )
    events = case.get("other_events") or []
    good = [
        m
        for m in GOOD_MOTIONS
        if any(m.lower() in cell.lower() for row in events for cell in row)
    ]
    dispositions = [
        {
            "date": d["date"],
            "event": d["event"],
            "details": [
                {"charge": det["charge"], "outcome": det["outcome"]}
                for det in d["details"]
            ],
        }
        for d in (case.get("dispositions") or [])
    ]
    dfd = case.get("defendant") or {}
    atty = f'{dfd.get("defense_attorney")}:{dfd.get("defense_attorney_phone_number")}'
    atty_hash = xxh64_hexdigest(atty) if dfd else ""
    return {
        "case_number": case["odyssey_id"],
        "parsing_date": parsing_date,
        "html_hash": case["html_hash"],
        "county": case["county"],
        "appointed_or_retained": dfd.get("appointed_or_retained"),
        "defense_attorney_hash": atty_hash,
        "charges": charges_out,
        "earliest_charge_date": earliest,
        "has_evidence_of_representation": len(good) > 0,
        "dispositions": dispositions,
        "good_motions": good,
        "cause_number_redacted": xxh64_hexdigest(str(case["code"])),
    }


# ---------------------------------------------------------------------------
# publish (updater/__init__.py:92-119 semantics)
# ---------------------------------------------------------------------------

def publish(cleaned: list[dict], existing: list[dict], today: str) -> list[dict]:
    """Return rows inserted: skip when html_hash already present; else
    version = max(existing same case_number)+1 or 1; id is the
    reference's concat (updater:118)."""
    store = list(existing)
    inserted = []
    for rec in cleaned:
        if any(e["html_hash"] == rec["html_hash"] for e in store):
            continue
        same = [e for e in store if e["case_number"] == rec["case_number"]]
        version = max(int(e["version"]) for e in same) + 1 if same else 1
        row = dict(rec)
        row["version"] = version
        row["id"] = (
            f'{rec["case_number"]}:{rec["county"]}:{today}{rec["html_hash"]}'
        )
        inserted.append(row)
        store.append(row)
    return inserted
