"""Content hashing, reference-parity flavor.

The reference hashes case HTML (after dropping the volatile financial
balance table) and PII strings with ``xxhash.xxh64(s).hexdigest()`` —
16 lowercase hex chars, seed 0, over UTF-8 bytes
(/root/reference/src/parser/__init__.py:254,
/root/reference/src/cleaner/__init__.py:29-32, 157-164).

Spark's built-in ``xxhash64()`` is NOT that function: it is XXH64 with
seed 42 over Spark's internal value encoding and returns a signed
LongType — fine as a fast engine-internal key, but not byte-equal with
the reference digests.  So the engine carries two flavors:

- ``F.xxhash64(col)``            — fast JVM path for engine-internal
  keys (salting, partitioning).
- ``xxh64_hex_udf``              — reference-parity hex digests via an
  Arrow-batched pandas UDF.  The XXH64 core below is a from-spec
  implementation of the public xxHash algorithm (Yann Collet,
  https://github.com/Cyan4973/xxHash — BSD-licensed spec); it prefers
  the C ``xxhash`` wheel when installed (production clusters should
  ship it via --py-files/conda env) and falls back to pure Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_MASK = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _MASK
    return (_rotl(acc, 31) * _P1) & _MASK


def xxh64_int(data: bytes, seed: int = 0) -> int:
    """XXH64 of *data* as an unsigned 64-bit int (from-spec, pure Python)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        end = n - 32
        while i <= end:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        for v in (v1, v2, v3, v4):
            h ^= _round(0, v)
            h = (h * _P1 + _P4) & _MASK
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


try:  # prefer the C wheel when the cluster ships it
    import xxhash as _xxhash

    def xxh64_hexdigest(s: str) -> str:
        return _xxhash.xxh64(s.encode("utf-8")).hexdigest()

except ImportError:

    def xxh64_hexdigest(s: str) -> str:
        return format(xxh64_int(s.encode("utf-8")), "016x")


@pandas_udf(StringType())
def xxh64_hex_udf(s: pd.Series) -> pd.Series:
    """Arrow-batched reference-parity hash: xxh64 hex digest of UTF-8.

    Used for ``html_hash`` (parser/__init__.py:254), cause-number
    redaction (cleaner/__init__.py:29-32) and attorney hashing
    (cleaner/__init__.py:157-164).  Batch-level vectorization — one
    Python call per Arrow batch, not per row-group of the plan.
    """
    return s.map(lambda x: None if x is None else xxh64_hexdigest(x))
