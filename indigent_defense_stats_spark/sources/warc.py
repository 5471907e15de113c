"""WARC source/sink: the crawl world's interchange format (ISO 28500).

The reference persists fetched pages as per-case JSON (S6 document
sink, scraper/__init__.py); every production crawl instead archives
raw fetches as WARC — the format Common Crawl publishes and every
replay/analysis tool reads.  This module writes the engine's fetched
documents as spec-shaped WARC response records and reads them back
with REAL Content-Length framing (never delimiter splitting — a
payload may contain anything, including the bytes ``WARC/1.0``):

- ``to_warc_records``: one string column per fetch, a WARC/1.0
  response record (named headers + payload), Content-Length in UTF-8
  OCTETS (``octet_length``), deterministic ``WARC-Record-ID`` derived
  from md5(url) so re-exports are byte-identical (no uuid4 — same
  discipline as the engine-wide no-wall-clock rule; the record date
  is data, not now()).
- ``write_warc`` / ``read_warc``: the sink is ``text`` (records
  stream one after another per part-file, exactly a .warc member);
  the reader takes whole files and walks them by the declared
  Content-Length on the UTF-8 BYTE view, tolerating inter-record
  padding per the spec.  Framing on bytes, not characters: a
  non-ASCII payload has len(chars) != len(octets) and a character
  reader would de-frame — pytest pins a non-ASCII round trip.

Scale shape: writing is a pure map (one record string per row, no
shuffle — asserted in tests); reading is one Python pass per FILE
(``wholetext`` scan -> mapInPandas framing walk), the same unit real
WARC readers use (gzip members force per-file streaming anyway); at
100 TB the crawl writes thousands of bounded part-files and each
read task frames one file independently — embarrassingly parallel,
no shuffle until the caller aggregates.  Boundary: production WARCs
gzip each record (the spec's recommended layout) and carry full HTTP
header blocks; both are orthogonal to the framing logic here and
documented as the integration points.

Driver query ``warc_roundtrip_stats``: documents -> WARC -> read
back -> per-bucket fidelity aggregate (payload hash-sum, octet sum,
URL bounds) vs a DuckDB oracle on the ORIGINAL parquet — a flipped
byte, lost record, or mis-framed boundary mismatches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from indigent_defense_stats_spark.operators.textstats import md5_int
from indigent_defense_stats_spark.sources.tempdirs import pid_temp_dir

_HASH_MOD = 1_000_000_007
_CRLF = "\r\n"


def to_warc_records(
    df: DataFrame, url_col: str = "url", date_col: str = "warc_date",
    payload_col: str = "payload", content_type: str = "text/html",
) -> DataFrame:
    """(url, warc_date ISO-8601 string, payload) -> one ``record``
    string column per row, WARC/1.0 response framing."""
    url, date, payload = F.col(url_col), F.col(date_col), F.col(payload_col)
    rec_id = F.concat(F.lit("<urn:uuid:"), F.md5(url), F.lit(">"))
    return df.select(
        F.concat(
            F.lit("WARC/1.0" + _CRLF),
            F.lit("WARC-Type: response" + _CRLF),
            F.lit("WARC-Target-URI: "), url, F.lit(_CRLF),
            F.lit("WARC-Date: "), date, F.lit(_CRLF),
            F.lit("WARC-Record-ID: "), rec_id, F.lit(_CRLF),
            F.lit(f"Content-Type: {content_type}" + _CRLF),
            F.lit("Content-Length: "),
            F.octet_length(payload).cast("string"),
            F.lit(_CRLF + _CRLF),
            payload,
            F.lit(_CRLF + _CRLF),
        ).alias("record")
    )


def write_warc(records: DataFrame, out_dir: str) -> str:
    """Stream records into part-files (each part-file is a valid
    uncompressed .warc member: records back to back)."""
    records.write.mode("overwrite").text(out_dir)
    return out_dir


def _frame_file(data: bytes):
    """Walk one WARC byte stream by Content-Length; yields
    (url, date, payload_str) per record."""
    pos, n = 0, len(data)
    while pos < n:
        # tolerate inter-record padding (our text sink adds one \n
        # per record; the spec allows trailing CRLFs)
        while pos < n and data[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break
        hdr_end = data.index(b"\r\n\r\n", pos)
        headers = data[pos:hdr_end].decode("utf-8").split("\r\n")
        if headers[0] != "WARC/1.0":
            raise ValueError(f"bad record magic at offset {pos}")
        fields = dict(
            h.split(": ", 1) for h in headers[1:] if ": " in h
        )
        length = int(fields["Content-Length"])
        body_start = hdr_end + 4
        payload = data[body_start : body_start + length].decode("utf-8")
        yield fields["WARC-Target-URI"], fields["WARC-Date"], payload
        pos = body_start + length


def read_warc(spark: SparkSession, warc_dir: str) -> DataFrame:
    """Scan a WARC directory back into (url, warc_date, payload).

    One framing walk per file (``wholetext``), Arrow-batched out."""
    import pandas as pd

    # NB: the wholetext kwarg, not .option("wholetext", ...) — the
    # option spelling is silently ignored by the text source and the
    # file comes back line-split (verified on 4.1.2)
    files = spark.read.text(warc_dir, wholetext=True)

    def frame(batches):
        for pdf in batches:
            url, date, payload = [], [], []
            for content in pdf["value"]:
                for u, d, p in _frame_file(content.encode("utf-8")):
                    url.append(u)
                    date.append(d)
                    payload.append(p)
            yield pd.DataFrame(
                {"url": url, "warc_date": date, "payload": payload}
            )

    return files.mapInPandas(frame, "url string, warc_date string, payload string")


def _warc_dir_for(sf_dir: str) -> str:
    return pid_temp_dir("warc_docs", sf_dir)


def _doc_fetches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fetch table over ``documents`` (URL scheme shared
    with sources/sitemap.py; the date is data derived from doc_id)."""
    d = F.col("doc_id")
    hid = F.least(d % 20, F.lit(12))
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        F.concat(
            F.lit("https://host"), hid.cast("string"),
            F.lit(".example/case/"), d.cast("string"),
        ).alias("url"),
        F.concat(
            F.date_format(
                F.date_add(F.lit("2020-01-01").cast("date"), (d % 1461).cast("int")),
                "yyyy-MM-dd",
            ),
            F.lit("T00:00:00Z"),
        ).alias("warc_date"),
        F.col("text").alias("payload"),
    )


def warc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> WARC -> framed read-back -> fidelity aggregate per
    doc_id%7 bucket; must equal the same aggregate computed from the
    ORIGINAL parquet (the DuckDB oracle)."""
    out = write_warc(
        to_warc_records(_doc_fetches(spark, sf_dir)), _warc_dir_for(sf_dir)
    )
    back = read_warc(spark, out)
    doc_id = F.regexp_extract("url", r"/case/(\d+)$", 1).cast("long")
    return (
        back.select(
            (doc_id % 7).alias("bucket"),
            doc_id.alias("doc_id"),
            F.octet_length("payload").alias("octets"),
            (md5_int(F.concat(F.col("url"), F.lit("|"), F.col("warc_date"),
                              F.lit("|"), F.col("payload"))) % _HASH_MOD).alias("rh"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("octets").alias("sum_octets"),
            F.sum("rh").alias("row_hash_sum"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("bucket")
    )


_ORACLE = f"""
    WITH f AS (
        SELECT doc_id,
               'https://host' || LEAST(doc_id % 20, 12)
                              || '.example/case/' || doc_id AS url,
               strftime(DATE '2020-01-01' + CAST(doc_id % 1461 AS INT),
                        '%Y-%m-%d') || 'T00:00:00Z'          AS warc_date,
               text                                          AS payload
        FROM documents
    )
    SELECT CAST(doc_id % 7 AS BIGINT)                        AS bucket,
           CAST(count(*) AS BIGINT)                          AS n_records,
           CAST(sum(octet_length(encode(payload))) AS BIGINT) AS sum_octets,
           CAST(sum(('0x' || left(md5(url || '|' || warc_date || '|' || payload),
                                  15))::BIGINT % {_HASH_MOD}) AS BIGINT)
                                                             AS row_hash_sum,
           CAST(min(doc_id) AS BIGINT)                       AS min_doc,
           CAST(max(doc_id) AS BIGINT)                       AS max_doc
    FROM f
    GROUP BY doc_id % 7
    ORDER BY bucket
"""

QUERIES = {
    "warc_roundtrip_stats": warc_roundtrip_stats,
}

ORACLE_SQL = {
    "warc_roundtrip_stats": _ORACLE,
}
