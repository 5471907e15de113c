"""xxh64 parity: spec vectors, the batch kernel against the scalar
reference, and a cross-check against Spark's JVM XXH64."""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from indigent_defense_stats_spark.functions.hashing import (
    xxh64_hex_many,
    xxh64_hex_udf,
    xxh64_hexdigest,
    xxh64_int,
)

# byte lengths where XXH64 changes code path: the 1-, 4- and 8-byte
# tails, the 32-byte stripe, and two stripes
BOUNDARIES = [0, 1, 3, 4, 7, 8, 31, 32, 33, 64]
SAMPLES = ["", "a", "hello world", "x" * 31, "y" * 32, "z" * 100, "café üñï"]


def _scalar(strings, seed=0):
    return [format(xxh64_int(s.encode("utf-8"), seed), "016x") for s in strings]


_ascii_at_boundary = st.sampled_from(BOUNDARIES).flatmap(
    lambda n: st.text(st.characters(max_codepoint=0x7F), min_size=n, max_size=n)
)
_batch = st.lists(
    st.one_of(
        st.text(max_size=200),
        _ascii_at_boundary,
        st.text(st.characters(min_codepoint=0x80), max_size=70),  # multi-byte
    ),
    max_size=24,
)


def test_empty_vector():
    # public xxHash spec vector
    assert xxh64_int(b"") == 0xEF46DB3751D8E999
    assert xxh64_hexdigest("") == "ef46db3751d8e999"


@given(st.binary(min_size=0, max_size=200), st.integers(min_value=0, max_value=2**32))
@settings(max_examples=50, deadline=None)
def test_hash_is_64bit(data, seed):
    h = xxh64_int(data, seed)
    assert 0 <= h < 2**64


@given(_batch)
@settings(max_examples=150, deadline=None)
def test_many_matches_hexdigest(strings):
    """Mixed lengths and encodings in one batch: every lane ends on its
    own stripe and tail, and must still equal the one-string hash."""
    assert xxh64_hex_many(strings) == [xxh64_hexdigest(s) for s in strings]


@given(_batch, st.integers(min_value=0, max_value=2**64 - 1))
@settings(max_examples=75, deadline=None)
def test_many_matches_scalar_at_any_seed(strings, seed):
    assert xxh64_hex_many(strings, seed) == _scalar(strings, seed)


def test_many_every_length_in_one_batch():
    # 0..300 repeats of a 1-, 1- or 3-byte character, shuffled; then
    # each boundary +-1 alone
    strings = ["ab€"[n % 3] * n for n in range(301)]
    random.Random(0).shuffle(strings)
    assert xxh64_hex_many(strings) == _scalar(strings)
    for n in BOUNDARIES:
        for m in (n - 1, n, n + 1):
            if m >= 0:
                assert xxh64_hex_many(["q" * m]) == _scalar(["q" * m])


def test_many_empty_batch():
    assert xxh64_hex_many([]) == []
    assert xxh64_hex_many([""]) == ["ef46db3751d8e999"]


def test_matches_spark_jvm_xxhash64(spark):
    """Spark's xxhash64(string) is XXH64(utf8, seed=42) as a signed long;
    our from-spec implementation must agree bit-for-bit (all code paths:
    empty, <32B, 32B boundary, >32B, multi-byte UTF-8)."""
    df = spark.createDataFrame([(s,) for s in SAMPLES], ["s"]).select(
        "s", F.xxhash64("s").alias("h")
    )
    for row in df.collect():
        mine = xxh64_int(row["s"].encode("utf-8"), seed=42)
        signed = mine - (1 << 64) if mine >= (1 << 63) else mine
        assert signed == row["h"], row["s"]


def test_many_matches_spark_jvm_xxhash64_at_seed_42(spark):
    """The batch kernel's seed argument, against the JVM's seed-42 XXH64
    over every code-path boundary and multi-byte UTF-8."""
    samples = SAMPLES + ["é" * n for n in range(1, 20)] + ["k" * n for n in BOUNDARIES]
    df = spark.createDataFrame([(s,) for s in samples], ["s"]).select(
        "s", F.xxhash64("s").alias("h")
    )
    rows = df.collect()
    mine = xxh64_hex_many([r["s"] for r in rows], seed=42)
    for row, hx in zip(rows, mine):
        h = int(hx, 16)
        signed = h - (1 << 64) if h >= (1 << 63) else h
        assert signed == row["h"], row["s"]


def test_udf_hashes_per_batch_and_keeps_nulls(spark):
    df = spark.createDataFrame([(s,) for s in SAMPLES + [None]], "s string")
    got = df.select("s", xxh64_hex_udf("s").alias("h")).collect()
    for row in got:
        want = None if row["s"] is None else xxh64_hexdigest(row["s"])
        assert row["h"] == want, row["s"]


def test_hexdigest_format():
    d = xxh64_hexdigest("State of Texas VS Nemo")
    assert len(d) == 16 and all(c in "0123456789abcdef" for c in d)
