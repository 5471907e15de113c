"""URL canonicalization — the frontier's dedup key primitive.

Generalizes the reference's case-id extraction
(/root/reference/src/scraper/__init__.py:446 ``case_url.split("=")[1]``)
into a proper canonical form: lowercase scheme+host, fragment stripped,
tracking params dropped, remaining query params sorted.

Two implementations that must agree exactly (tested):

- :func:`canonicalize` — pure Python, used by the sequential oracle.
- :func:`canonicalize_col` — native Spark column expression
  (regexp + array ops, whole-stage-codegen friendly; no Python in the
  engine's hot path).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

TRACKING_PARAMS = ("ref", "session", "utm_source", "utm_campaign", "utm_medium")


def canonicalize(url: str) -> str:
    import re

    url = url.split("#", 1)[0]
    base, _, query = url.partition("?")
    m = re.match(r"^([a-zA-Z]+://[^/]*)(.*)$", base)
    if m:
        base = m.group(1).lower() + m.group(2)
    params = [
        p
        for p in query.split("&")
        if p and p.split("=", 1)[0].lower() not in TRACKING_PARAMS
    ]
    params.sort()
    return base + ("?" + "&".join(params) if params else "")


def canonicalize_col(url: Column) -> Column:
    """Native-expression mirror of :func:`canonicalize`."""
    no_frag = F.regexp_replace(url, "#.*$", "")
    base = F.regexp_extract(no_frag, "^([^?]*)", 1)
    query = F.when(
        no_frag.contains("?"), F.regexp_replace(no_frag, "^[^?]*\\?", "")
    ).otherwise(F.lit(""))
    # lowercase scheme://host portion only
    scheme_host = F.lower(F.regexp_extract(base, "^([a-zA-Z]+://[^/]*)", 1))
    path = F.regexp_replace(base, "^[a-zA-Z]+://[^/]*", "")
    base_norm = F.when(scheme_host != "", F.concat(scheme_host, path)).otherwise(base)
    tracked = F.array(*[F.lit(p) for p in TRACKING_PARAMS])
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "")
            & ~F.array_contains(
                tracked, F.lower(F.regexp_extract(p, "^([^=]*)", 1))
            ),
        )
    )
    joined = F.array_join(params, "&")
    return F.when(
        F.size(params) > 0, F.concat(base_norm, F.lit("?"), joined)
    ).otherwise(base_norm)


def absolutize(base_url: Column, href: Column) -> Column:
    """base + relative href (scraper/__init__.py:438-441 semantics)."""
    return F.when(
        href.rlike("^[a-zA-Z]+://"), href
    ).otherwise(F.concat(base_url, href))


# ---------------------------------------------------------------------------
# RFC 3986 syntax-based normalization (§6.2.2) + scheme-based port rule
# (§6.2.3).  :func:`canonicalize_col` is the crawl-policy form
# (tracking params, query sort); this is the SPEC form every frontier
# needs underneath it: case normalization, percent-encoding
# normalization (uppercase hex, decode unreserved), default-port
# removal, dot-segment resolution, empty-path -> '/'.
#
# Implemented three ways that must agree exactly (pytest + oracle):
# pure Python (below), Spark column expressions, and the DuckDB SQL
# in operators/rfc3986.py.  All three use the same primitive steps so
# divergence is structural, not incidental.
# ---------------------------------------------------------------------------

import string as _string

UNRESERVED = _string.ascii_letters + _string.digits + "-._~"
# RFC 3986 appendix B splitting regex (no backrefs/lookaround: runs
# identically under Java regex and RE2)
_SPLIT_RE = r"^(([^:/?#]+):)?(//([^/?#]*))?([^?#]*)(\?([^#]*))?(#(.*))?$"
DEFAULT_PORTS = {"http": ":80", "https": ":443"}


def _pct_upper(s: str) -> str:
    parts = s.split("%")
    return parts[0] + "".join(
        "%" + p[:2].upper() + p[2:] for p in parts[1:]
    )


def _pct_decode_unreserved(s: str) -> str:
    for c in UNRESERVED:
        s = s.replace("%%%02X" % ord(c), c)
    return s


def _remove_dot_segments(path: str) -> str:
    segs = path.split("/")
    acc = ""
    for seg in segs[1:]:
        if seg == ".":
            continue
        if seg == "..":
            acc = acc.rsplit("/", 1)[0] if "/" in acc else ""
        else:
            acc = acc + "/" + seg
    if segs and segs[-1] in (".", "..") and not acc.endswith("/"):
        acc = acc + "/"
    return acc


def rfc3986_normalize(url: str) -> str:
    """Pure-Python mirror (oracle/test ground truth).

    Scope guard: only HIERARCHICAL references with an authority
    ('scheme://host...') are normalized — the crawl's entire URL
    universe.  Authority-less URIs (mailto:, urn:, data:) and
    relative references pass through UNCHANGED: re-assembling them
    through the scheme://authority template would corrupt them (a
    review found 'mailto:user@x' became 'mailto://'), and dot-segment
    folding assumes an absolute path."""
    import re

    m = re.match(_SPLIT_RE, url)
    if m.group(3) is None:  # no '//authority' part -> passthrough
        return url
    scheme = (m.group(2) or "").lower()
    auth = (m.group(4) or "").lower()
    port = DEFAULT_PORTS.get(scheme)
    if port and auth.endswith(port):
        auth = auth[: -len(port)]
    path = _pct_decode_unreserved(_pct_upper(m.group(5) or ""))
    path = _remove_dot_segments(path)
    if auth and not path:
        path = "/"
    query = _pct_decode_unreserved(_pct_upper(m.group(7) or ""))
    out = f"{scheme}://{auth}{path}"
    if query:
        out += "?" + query
    return out


def _let(value: Column, body) -> Column:
    """``body(v)`` with ``value`` bound to the lambda variable ``v``.

    A Column object used more than once in Python is inlined at every
    use, so each reuse multiplies the expression tree Catalyst analyzes
    and optimizes.  Binding it through a one-element ``transform``
    keeps ``value`` in the tree once, however often ``body`` reads
    ``v``."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _pct_upper_col(s: Column) -> Column:
    parts = F.split(s, "%")
    rest = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))
    return F.aggregate(
        rest,
        F.element_at(parts, 1),
        lambda acc, p: F.concat(
            acc, F.lit("%"), F.upper(F.substring(p, 1, 2)), F.substring(p, 3, 2**30)
        ),
    )


def _pct_decode_unreserved_col(s: Column) -> Column:
    for c in UNRESERVED:
        s = F.replace(s, F.lit("%%%02X" % ord(c)), F.lit(c))
    return s


def remove_dot_segments_col(path: Column) -> Column:
    """RFC 3986 §5.2.4 over an ABSOLUTE (or empty) path, as a string
    fold: '.' skips, '..' pops the last '/segment', anything else
    appends; a trailing '.'/'..' leaves the trailing slash the RFC
    algorithm produces."""

    def fold(segs: Column) -> Column:
        rest = F.slice(segs, 2, F.greatest(F.size(segs) - 1, F.lit(0)))
        return F.aggregate(
            rest,
            F.lit(""),
            lambda a, s: F.when(s == ".", a)
            .when(s == "..", F.regexp_replace(a, "/[^/]*$", ""))
            .otherwise(F.concat(a, F.lit("/"), s)),
            lambda acc: F.when(
                F.element_at(segs, -1).isin(".", "..") & ~acc.endswith("/"),
                F.concat(acc, F.lit("/")),
            ).otherwise(acc),
        )

    return _let(F.split(path, "/"), fold)


# "scheme://authority" with the scheme's default port dropped; a group
# that did not take part in the match is replaced by ""
_DEFAULT_PORT_RE = "|".join(
    f"^({sch}://.*){port}$" for sch, port in DEFAULT_PORTS.items()
)
_DEFAULT_PORT_SUB = "".join(f"${i}" for i in range(1, len(DEFAULT_PORTS) + 1))


def rfc3986_normalize_col(url: Column) -> Column:
    """Spark column form of :func:`rfc3986_normalize` — pure JVM
    string/array expressions, zero Python in the hot path.  Same
    scope guard: references without an authority pass through
    unchanged (see the Python mirror's docstring).

    The URL and each of its normalized parts appear once in the
    expression tree (:func:`_let`), so the tree grows linearly with
    its input."""

    def normalize(u: Column) -> Column:
        head = F.regexp_replace(
            F.concat(
                F.lower(F.regexp_extract(u, _SPLIT_RE, 2)),
                F.lit("://"),
                F.lower(F.regexp_extract(u, _SPLIT_RE, 4)),
            ),
            _DEFAULT_PORT_RE,
            _DEFAULT_PORT_SUB,
        )
        path = remove_dot_segments_col(
            _pct_decode_unreserved_col(
                _pct_upper_col(F.regexp_extract(u, _SPLIT_RE, 5))
            )
        )
        query = _pct_decode_unreserved_col(
            _pct_upper_col(F.regexp_extract(u, _SPLIT_RE, 7))
        )

        def assemble(p: Column) -> Column:
            # an empty authority leaves head ending in "://"
            path = F.when(
                (p["path"] == "") & ~p["head"].endswith("://"), F.lit("/")
            ).otherwise(p["path"])
            out = F.concat(p["head"], path)
            return F.when(
                p["query"] != "", F.concat(out, F.lit("?"), p["query"])
            ).otherwise(out)

        parts = F.struct(head.alias("head"), path.alias("path"), query.alias("query"))
        return F.when(
            F.regexp_extract(u, _SPLIT_RE, 3) != "", _let(parts, assemble)
        ).otherwise(u)

    return _let(url, normalize)


def rfc3986_canonicalize_col(url: Column) -> Column:
    """:func:`canonicalize_col` over :func:`rfc3986_normalize_col`, the
    frontier key under ``rfc_normalize=True``.  canonicalize_col reads
    its input about a dozen times, so the normalized URL is bound once
    rather than inlined at each read."""
    return _let(rfc3986_normalize_col(url), canonicalize_col)
