"""Parse stage: interleaved span documents -> typed case records.

Spark-first design: parsing is per-document-local, so the entire
stage is ONE ``mapInPandas`` pass — zero shuffle, embarrassingly
parallel, linear at 100 TB (the alternative — explode spans + window
for section assignment + re-aggregate — would shuffle the exploded
span table, a multi-PB shuffle at target scale).  Arrow batches
amortize dispatch; inside a batch each document's span list is parsed
by a plain-Python assembler (branchy per-document logic — measured
100x faster than pandas per-doc slicing), and the nested record is
emitted as one JSON string decoded JVM-side by ``from_json`` (nested
Python->Arrow struct conversion was ~8 core-ms/doc; the JSON hop
makes the stage ~2 core-ms/doc end to end).

Semantics mirror the reference parser exactly
(/root/reference/src/parser/hays.py; quirks reproduced and cited
inline) and are tested row-for-row against the sequential oracle.

Outputs carry a ``parse_error`` column: NULL for good rows, message
for quarantined ones (reference writes an error log that keeps only
the *last* failure — parser/__init__.py:167-182 opens mode 'w'; that
bug is deliberately not reproduced: we keep every error).
"""

from __future__ import annotations

from collections.abc import Iterator


import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

from .. import schemas
from ..functions.hashing import xxh64_hexdigest
from ..synth import SECTION_STARTERS

PARSE_OUTPUT = StructType(
    schemas.CASE_RECORDS.fields + [StructField("parse_error", StringType(), True)]
)

_DISPO_ROUTE = ("Disposition", "Disposition:", "Amended Disposition")
_DISPO_APPEND = (
    "disposition",
    "amended disposition",
    "deferred adjudication",
    "punishment hearing",
)
_SEVERITY = {
    "First Degree Felony": 1,
    "Second Degree Felony": 2,
    "Third Degree Felony": 3,
    "State Jail Felony": 4,
    "Misdemeanor A": 5,
    "Misdemeanor B": 6,
}


def _append_reverse_order(n: int) -> list[int]:
    """Final positions after the reference's reverse-after-each-append
    quirk (hays.py:265): returns the order in which appended items
    [0..n-1] end up."""
    order: list[int] = []
    for k in range(n):
        order.append(k)
        order.reverse()
    return order


def _severity(level: str) -> float:
    for name, sev in _SEVERITY.items():
        if name in level:
            return sev
    return float("inf")


def _clean_extract(cell: str) -> str:
    # extract_rows cell cleanup (hays.py:22): strip, drop NBSP and Â
    return cell.strip().replace("\xa0", "").replace("Â", "")


def _rows_extract(texts: list[str]) -> list[list[str]]:
    rows = []
    for t in texts:
        row = [_clean_extract(c) for c in t.split("\t") if c.strip()]
        if row:
            rows.append(row)
    return rows


def _rows_events(texts: list[str]) -> list[list[str]]:
    # format_events cleanup (hays.py:196-209): nbsp->space + ws collapse
    rows = []
    for t in texts:
        row = [
            " ".join(c.strip().replace("\xa0", " ").split())
            for c in t.split("\t")
            if c.strip()
        ]
        if row:
            rows.append(row)
    return rows


def _parse_rows(batch: pd.DataFrame) -> list[dict]:
    """Batch parse: each input row already carries its full span list,
    so the per-document unit of work is the row — the spans are handed
    to a pure-Python assembler directly.

    (A previous revision exploded to a span-level pandas frame and
    sliced per-doc sub-frames; pandas per-doc slicing cost ~22 core-ms
    per document vs ~0.2 ms for plain list processing — a 100x
    difference that dominated crawl-bench compute.  Parsing is branchy
    per-document logic; Arrow batching amortizes the dispatch, and the
    in-batch work is plain Python over ~45-span lists.)"""
    out_rows: list[dict] = []
    for doc_id, county, spans in zip(
        batch["doc_id"], batch["county"], batch["spans"]
    ):
        try:
            out_rows.append(_assemble(doc_id, county, list(spans)))
        except Exception as ex:  # quarantine row (S9, fixed semantics)
            out_rows.append(
                {
                    "odyssey_id": doc_id,
                    "county": county,
                    "parse_error": f"{type(ex).__name__}: {ex}",
                }
            )
    return out_rows


def _parse_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """pandas-frame variant of :func:`_parse_rows` (testing/local use)."""
    cols = [f.name for f in PARSE_OUTPUT.fields]
    res = pd.DataFrame(_parse_rows(batch))
    for c in cols:
        if c not in res.columns:
            res[c] = None
    return res[cols]


def _split_sections(spans: list[dict]) -> list[tuple[str | None, list[dict]]]:
    """[(starter_or_None, spans)] — a starter text span begins a section."""
    sections: list[tuple[str | None, list[dict]]] = [(None, [])]
    for s in spans:
        if s["kind"] == "text" and s["text"] in SECTION_STARTERS:
            sections.append((s["text"], [s]))
        else:
            sections[-1][1].append(s)
    return sections


def _assemble(doc_id: str, county: str, spans: list[dict]) -> dict:
    """Build one case record from its span list (document order)."""
    spans = sorted(spans, key=lambda s: s["offset"])
    rec: dict = {
        "odyssey_id": doc_id,
        "county": county,
        "code": "Unknown",
        "name": None,
        "case_type": None,
        "date_filed": None,
        "location": None,
        "related_cases": None,
        "defendant": None,
        "state": None,
        "charges": None,
        "dispositions": None,
        "top_charge": None,
        "dismissed_charges_count": None,
        "other_events": None,
        "financial": None,
        "parse_error": None,
    }
    secs = _split_sections(spans)
    # metadata region (sec 0): first text span = cause number (hays.py:91)
    if secs and secs[0][0] is None:
        meta_texts = [s["text"] for s in secs[0][1] if s["kind"] == "text"]
        if meta_texts:
            rec["code"] = meta_texts[0]

    for sec_name, sec_spans in secs:
        if sec_name is None:
            continue
        texts = [s["text"] for s in sec_spans if s["kind"] == "text"]
        sec_text = "\n".join(texts)
        body = sec_spans[1:]
        body_texts = [s["text"] for s in body if s["kind"] == "text"]
        # dispatch in the reference's if/elif order (hays.py:282-309)
        if "Case Type:" in sec_text and "Date Filed:" in sec_text:
            vals = [t for t in body_texts if not t.endswith(":")]
            vals = (vals + ["Unknown"] * 4)[:4]
            rec["name"], rec["case_type"], rec["date_filed"], rec["location"] = vals
        elif "Related Case Information" in sec_text:
            rec["related_cases"] = [
                t.strip().replace("\xa0", " ") for t in body_texts
            ]
        elif "Party Information" in sec_text:
            rows = _rows_extract(body_texts)
            rec["defendant"] = {
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
            rec["state"] = {
                "prosecuting_attorney": rows[3][2],
                "prosecuting_attorney_phone_number": rows[3][3],
            }
        elif "Charge Information" in sec_text:
            # flat text-node list incl. the section header, stride-5
            # chunks, first cell of each chunk skipped (hays.py:178-187)
            cells = [t.strip().replace("\xa0", " ") for t in texts if t.strip()]
            keys = ["charges", "statute", "level", "date"]
            rec["charges"] = [
                {
                    **{k: None for k in keys},
                    **dict(zip(keys, cells[i + 1 : i + 5])),
                }
                for i in range(5, len(cells), 5)
            ]
        elif "Events & Orders of the Court" in sec_text:
            rows = _rows_events(body_texts)
            routed = [r for r in rows if len(r) >= 2]
            dispo_rows = [r for r in routed if r[1] in _DISPO_ROUTE][::-1]
            other_rows = [r for r in routed if r[1] not in _DISPO_ROUTE][::-1]
            appended = []
            for row in dispo_rows:
                if len(row) >= 5 and row[1].lower() in _DISPO_APPEND:
                    jo = ""
                    if len(row[2]) > 18 and row[2].startswith("(Judicial Officer:"):
                        jo = row[2][18:-1].strip()
                    appended.append(
                        {
                            "date": row[0],
                            "event": row[1],
                            "judicial_officer": jo,
                            "details": [
                                {
                                    "charge": row[3],
                                    "outcome": row[4],
                                    "additional_info": row[5:] if len(row) > 5 else None,
                                }
                            ],
                        }
                    )
            order = _append_reverse_order(len(appended))
            dispositions = [appended[k] for k in order]
            # key set iff the routing loop ran (hays.py:303-304): empty
            # list when rows routed but none passed the append filter
            rec["dispositions"] = dispositions if dispo_rows else None
            if rec["dispositions"]:
                rec["top_charge"] = _top_charge(dispositions, rec["charges"] or [])
                rec["dismissed_charges_count"] = sum(
                    1
                    for d in dispositions
                    for det in d["details"]
                    if (det["outcome"] or "").lower() == "dismissed"
                )
            rec["other_events"] = other_rows
        elif "Financial Information" in sec_text:
            # label-followed-by-value extraction (F10; the reference
            # keeps the raw money string in the record and parses it
            # only at stats time, print_stats.py:56-60)
            fin = {"total_financial_assessment": None, "balance": None}
            for k, t in enumerate(body_texts[:-1]):
                if t == "Total Financial Assessment":
                    fin["total_financial_assessment"] = body_texts[k + 1]
                elif t == "Balance Due":
                    fin["balance"] = body_texts[k + 1]
            rec["financial"] = fin
    rec["html_hash"] = _html_hash(secs)
    return rec


def _top_charge(dispositions: list[dict], charges: list[dict]) -> dict:
    charge_map = {c.get("charges"): c.get("level") for c in charges}
    top = None
    min_sev = float("inf")
    for d in dispositions:
        for det in d["details"]:
            name = (
                (det.get("charge") or "")
                .strip()
                .split(" >=")[0]
                .strip()
                .lstrip("0123456789. ")
                .strip()
            )
            level = charge_map.get(name, "Unknown")
            sev = _severity(level or "")
            if sev < min_sev:
                min_sev = sev
                top = {"charge_name": name, "charge_level": level}
    return top


def _html_hash(secs: list[tuple[str | None, list[dict]]]) -> str:
    """xxh64 hex over the span serialization, excluding a trailing
    'Balance Due' section (parser/__init__.py:241-254)."""
    keep = secs
    if len(secs) > 1:
        last_texts = "\n".join(
            s["text"] for s in secs[-1][1] if s["kind"] == "text"
        )
        if "Balance Due" in last_texts:
            keep = secs[:-1]
    payload = "\n".join(
        s["text"] if s["kind"] == "text" else s["media_ref"]
        for _, sec in keep
        for s in sec
    )
    return xxh64_hexdigest(payload)


def parse_documents(documents: DataFrame) -> DataFrame:
    """documents (doc_id, county, spans) -> case_records (+parse_error).

    One mapInPandas pass; no shuffle.  The UDF emits each record as one
    JSON string and the nested struct is built JVM-side with
    ``from_json``: handing deeply-nested Python dicts back through the
    Arrow boundary cost ~8 core-ms/doc in measurement while the parse
    itself costs ~0.2 — the JSON hop cuts the conversion to a plain
    string column plus a vectorized JVM decode.  Downstream: filter
    ``parse_error IS NULL`` for the good table, inverse for quarantine.
    """
    import json

    import pyspark.sql.functions as F

    rest_fields = [
        f for f in PARSE_OUTPUT.fields if f.name not in ("odyssey_id", "county")
    ]
    rest_schema = StructType(rest_fields)

    def encode(rec: dict) -> str:
        # allow_nan=False: a float NaN would serialize as bare NaN —
        # invalid JSON that from_json nulls out SILENTLY; raising here
        # routes the record into the existing quarantine path instead
        try:
            return json.dumps(
                {k: v for k, v in rec.items() if k not in ("odyssey_id", "county")},
                allow_nan=False,
            )
        except ValueError as ex:
            return json.dumps({"parse_error": f"encode_error: {ex}"})

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            recs = _parse_rows(batch)
            yield pd.DataFrame(
                {
                    "odyssey_id": [r["odyssey_id"] for r in recs],
                    "county": [r["county"] for r in recs],
                    "rec_json": [encode(r) for r in recs],
                }
            )

    raw = documents.mapInPandas(
        run, schema="odyssey_id string, county string, rec_json string"
    )
    out = raw.select(
        "odyssey_id",
        "county",
        F.col("rec_json").isNotNull().alias("__had_json"),
        F.from_json("rec_json", rest_schema).alias("r"),
    )
    # belt-and-braces: if from_json still nulls a non-null payload
    # (PERMISSIVE-mode decode failure), surface it as a quarantine row
    # rather than an all-null 'good' record
    return (
        out.select(
            "odyssey_id",
            "county",
            "__had_json",
            F.col("r").isNull().alias("__null_struct"),
            "r.*",
        )
        .withColumn(
            "parse_error",
            F.when(
                F.col("__had_json") & F.col("__null_struct"),
                F.lit("decode_error: record JSON did not decode"),
            ).otherwise(F.col("parse_error")),
        )
        .drop("__had_json", "__null_struct")
    )


def parse_documents_incremental(
    documents: DataFrame, already_parsed: DataFrame
) -> DataFrame:
    """Incremental mode (D1): skip documents whose id already exists in
    *already_parsed* (anti-join on the id).  The reference computes the
    cached-parsed list but never uses it (parser/__init__.py:207-209 —
    dead code); default :func:`parse_documents` keeps the reference's
    actual overwrite behavior, this variant implements the evidently
    intended semantics, with the same exact anti-join the URL-seen
    filter uses."""
    fresh = documents.join(
        already_parsed.select(
            already_parsed["odyssey_id"].alias("doc_id")
        ).distinct(),
        "doc_id",
        "left_anti",
    )
    return parse_documents(fresh)


def quarantine(parsed: DataFrame) -> DataFrame:
    return parsed.filter("parse_error IS NOT NULL").select(
        "odyssey_id", "county", "parse_error"
    )


def good_records(parsed: DataFrame) -> DataFrame:
    return parsed.filter("parse_error IS NULL").drop("parse_error")
