"""Content hashing, reference-parity flavor.

The reference hashes case HTML (after dropping the volatile financial
balance table) and PII strings with ``xxhash.xxh64(s).hexdigest()`` —
16 lowercase hex chars, seed 0, over UTF-8 bytes
(/root/reference/src/parser/__init__.py:254,
/root/reference/src/cleaner/__init__.py:29-32, 157-164).

Spark's built-in ``xxhash64()`` is NOT that function: it is XXH64 with
seed 42 over Spark's internal value encoding and returns a signed
LongType — fine as a fast engine-internal key, but not byte-equal with
the reference digests, and no column expression reaches seed 0.  So
the engine carries these flavors:

- ``F.xxhash64(col)``   — fast JVM path for engine-internal keys
  (salting, partitioning).
- ``xxh64_hex_many``    — reference-parity hex digests of a whole batch
  of strings in one call: XXH64 written over numpy ``uint64`` lanes,
  one lane per string, so the per-row cost of a Python hash becomes a
  per-stripe cost of a few array operations.  The parse stage hashes
  every good record of an Arrow batch with it, and ``xxh64_hex_udf``
  (clean's redaction hashes) wraps it as a pandas UDF.
- ``xxh64_int`` / ``xxh64_hexdigest`` — the scalar from-spec XXH64 of
  the public xxHash algorithm (Yann Collet,
  https://github.com/Cyan4973/xxHash — BSD-licensed spec), the
  reference the batch kernel is tested against and the one-string
  hash of the sequential oracle and the synthetic portal.
  ``xxh64_hexdigest`` prefers the C ``xxhash`` wheel when installed.
"""

from __future__ import annotations

import numpy as np
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


_U1 = np.uint64(_P1)
_U2 = np.uint64(_P2)
_U3 = np.uint64(_P3)
_U4 = np.uint64(_P4)
_U5 = np.uint64(_P5)


def _rotl_v(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round_v(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl_v(acc + lane * _U2, 31) * _U1


def xxh64_hex_many(strings: list[str], seed: int = 0) -> list[str]:
    """XXH64 hex digests of the UTF-8 bytes of every string, in order.

    Equal to ``[xxh64_hexdigest(s) for s in strings]`` (and to
    ``xxh64_int(s.encode(), seed)`` per string), computed batch-wide:
    each string is a lane whose payload is zero-padded to whole 8-byte
    words in one flat ``uint64`` buffer, so every stripe and tail word
    is an aligned read.  The loop runs over the stripe index, not the
    strings; lanes are sorted by stripe count so the lanes still
    striping are a prefix, and the 8-, 4- and 1-byte tails are masked
    per lane with ``np.where``.  uint64 arithmetic wraps mod 2**64
    exactly as the spec's.
    """
    if not strings:
        return []
    data = [s.encode("utf-8") for s in strings]
    n = np.fromiter((len(b) for b in data), np.int64, len(data))
    words = (n + 7) >> 3
    woff = np.zeros(len(data), np.int64)
    np.cumsum(words[:-1], out=woff[1:])
    # one spare zero word: a lane whose tail is used up still reads the
    # word after its payload (the result is masked off)
    buf = b"".join(b + bytes(-len(b) & 7) for b in data) + bytes(8)
    flat = np.frombuffer(buf, "<u8")

    stripes = n >> 5
    order = np.argsort(-stripes, kind="stable")
    s_off = woff[order]
    v1 = np.full(len(data), (seed + _P1 + _P2) & _MASK, np.uint64)
    v2 = np.full(len(data), (seed + _P2) & _MASK, np.uint64)
    v3 = np.full(len(data), seed & _MASK, np.uint64)
    v4 = np.full(len(data), (seed - _P1) & _MASK, np.uint64)
    # active[k] = number of lanes with more than k stripes (a prefix)
    active = np.searchsorted(-stripes[order], -np.arange(stripes.max()), "left")
    for k, m in enumerate(active):
        at = s_off[:m] + 4 * k
        v1[:m] = _round_v(v1[:m], flat[at])
        v2[:m] = _round_v(v2[:m], flat[at + 1])
        v3[:m] = _round_v(v3[:m], flat[at + 2])
        v4[:m] = _round_v(v4[:m], flat[at + 3])
    h = _rotl_v(v1, 1) + _rotl_v(v2, 7) + _rotl_v(v3, 12) + _rotl_v(v4, 18)
    for v in (v1, v2, v3, v4):
        h = (h ^ _round_v(np.zeros_like(v), v)) * _U1 + _U4
    h_long = np.empty_like(h)
    h_long[order] = h
    h_short = np.uint64((seed + _P5) & _MASK)
    h = np.where(stripes > 0, h_long, h_short) + n.astype(np.uint64)

    pos = stripes << 5  # byte offset of the first tail byte, per lane
    for _ in range(3):  # at most three whole 8-byte words remain
        w = flat[woff + (pos >> 3)]
        step = _rotl_v(h ^ _round_v(np.zeros_like(w), w), 27) * _U1 + _U4
        more = n - pos >= 8
        h = np.where(more, step, h)
        pos = pos + np.where(more, 8, 0)
    w = flat[woff + (pos >> 3)] & np.uint64(0xFFFFFFFF)
    step = _rotl_v(h ^ (w * _U1), 23) * _U2 + _U3
    more = n - pos >= 4
    h = np.where(more, step, h)
    pos = pos + np.where(more, 4, 0)
    for _ in range(3):  # at most three single bytes remain
        shift = ((pos & 7) << 3).astype(np.uint64)
        b = (flat[woff + (pos >> 3)] >> shift) & np.uint64(0xFF)
        step = _rotl_v(h ^ (b * _U5), 11) * _U1
        more = pos < n
        h = np.where(more, step, h)
        pos = pos + more
    h ^= h >> np.uint64(33)
    h *= _U2
    h ^= h >> np.uint64(29)
    h *= _U3
    h ^= h >> np.uint64(32)
    hx = h.astype(">u8").tobytes().hex()
    return [hx[i : i + 16] for i in range(0, len(hx), 16)]


@pandas_udf(StringType())
def xxh64_hex_udf(s: pd.Series) -> pd.Series:
    """Arrow-batched reference-parity hash: xxh64 hex digest of UTF-8,
    NULL for NULL.

    Used for cause-number redaction (cleaner/__init__.py:29-32) and
    attorney hashing (cleaner/__init__.py:157-164): one
    :func:`xxh64_hex_many` call per Arrow batch.
    """
    valid = s.notna()
    out = pd.Series(None, index=s.index, dtype=object)
    out[valid] = xxh64_hex_many(s[valid].tolist())
    return out
