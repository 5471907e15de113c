"""Partitioned Bloom URL-seen filter.

The reference's content/URL-seen check is an exact lookup per row
(updater/__init__.py:92-105).  At the 10^10-URL target a plain
anti-join would shuffle the full seen set every wave; the north rule
asks for a *partitioned* approximate filter instead.  The seen set is
append-only (nothing is ever un-seen), so a Bloom filter is enough.
Design:

- the seen set is hash-bucketed by ``pmod(xxhash64(url), n_buckets)``;
- each bucket keeps one Bloom bit-array (built/maintained per bucket
  with ``applyInPandas`` — numpy bit ops over the whole bucket at
  once, no per-row Python);
- candidates probe via **cogroup** on the bucket key, so each bloom
  bit-array crosses the wire once per bucket-partition, not per row;
- bloom-negative candidates are *definitely new* (no false negatives)
  and skip the exact join entirely; only bloom-positives (true dups +
  ~fp_rate of new URLs) continue to the exact anti-join.

The per-bucket arrays are maintained INCREMENTALLY (``update_state``:
build bits for the wave's new keys only — O(wave) — and bitwise-OR
them into the persisted state), so no wave ever rescans the full seen
set to build filters.  ``build`` remains the from-scratch constructor
(seed time, tests, and the equivalence oracle for the incremental
path).

All hash inputs are computed JVM-side (``F.xxhash64``) so the pandas
stage only does numpy index math.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    StructField,
    StructType,
)

N_HASHES = 5

BLOOM_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("bits", BinaryType(), False),
    ]
)


def with_bucket_and_hashes(df: DataFrame, url_col: str, n_buckets: int) -> DataFrame:
    """Attach bucket + the two 64-bit hashes (JVM-side, codegen).

    The bucket uses its own salt: deriving it from h1 would make all
    of a bucket's h1 values congruent mod n_buckets, and since
    n_buckets divides the power-of-two bit count, the k=0 bit index
    would only ever touch 1/n_buckets of the bucket's bit positions —
    inflating the false-positive rate n_buckets-fold for that hash."""
    return (
        df.withColumn(
            "bucket",
            F.pmod(
                F.xxhash64(F.col(url_col), F.lit("bucket-salt")), F.lit(n_buckets)
            ).cast("int"),
        )
        .withColumn("h1", F.xxhash64(F.col(url_col)))
        .withColumn("h2", F.xxhash64(F.col(url_col), F.lit("bloom-salt")))
    )


def _indices(h1: np.ndarray, h2: np.ndarray, n_bits: int) -> np.ndarray:
    """(n, N_HASHES) bit indices via double hashing, uint64 wraparound."""
    a = h1.astype(np.int64).view(np.uint64)
    b = h2.astype(np.int64).view(np.uint64)
    k = np.arange(N_HASHES, dtype=np.uint64)
    with np.errstate(over="ignore"):
        return ((a[:, None] + k[None, :] * b[:, None]) % np.uint64(n_bits)).astype(
            np.int64
        )


def build(seen: DataFrame, url_col: str, n_buckets: int, n_bits: int) -> DataFrame:
    """seen -> (bucket, bits) one Bloom per bucket."""
    hashed = with_bucket_and_hashes(seen, url_col, n_buckets).select(
        "bucket", "h1", "h2"
    )

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(n_bits // 8, dtype=np.uint8)
        idx = _indices(pdf["h1"].values, pdf["h2"].values, n_bits).ravel()
        np.bitwise_or.at(bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iloc[0])], "bits": [bits.tobytes()]}
        )

    return hashed.groupBy("bucket").applyInPandas(make, schema=BLOOM_SCHEMA)


def update_state(
    old_state: DataFrame | None,
    new_keys: DataFrame,
    url_col: str,
    n_buckets: int,
    n_bits: int,
) -> DataFrame:
    """Incremental bloom maintenance: bits for *new_keys* only, OR-ed
    into *old_state* per bucket.  Cost is O(new keys) + O(n_buckets ×
    n_bits/8) state bytes — independent of the seen-set size."""
    new_bits = build(new_keys, url_col, n_buckets, n_bits)
    if old_state is None:
        return new_bits

    def or_reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros(n_bits // 8, dtype=np.uint8)
        for b in pdf["bits"]:
            acc |= np.frombuffer(b, dtype=np.uint8)
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iloc[0])], "bits": [acc.tobytes()]}
        )

    return (
        old_state.unionByName(new_bits)
        .groupBy("bucket")
        .applyInPandas(or_reduce, schema=BLOOM_SCHEMA)
    )


def filter_new_with_state(
    candidates: DataFrame,
    seen: DataFrame | None,
    state: DataFrame,
    url_col: str,
    n_buckets: int,
    n_bits: int,
) -> DataFrame:
    """filter_new against a PERSISTED bloom state (no per-wave rebuild
    over the seen set): probe the state, exact-verify the positives."""
    return prefilter_anti_join(
        candidates,
        seen,
        url_col,
        n_buckets,
        lambda cand: probe(cand, state, n_bits),
    )


def probe(candidates: DataFrame, bloom: DataFrame, n_bits: int) -> DataFrame:
    """candidates (must carry bucket/h1/h2) -> + maybe_seen boolean.

    Cogrouped on bucket: each task sees one bucket's candidates and
    its single bloom row.
    """
    out_schema = StructType(
        candidates.schema.fields + [StructField("maybe_seen", BooleanType(), False)]
    )
    cols = candidates.columns

    def check(cand: pd.DataFrame, bl: pd.DataFrame) -> pd.DataFrame:
        if cand.empty:
            return pd.DataFrame(columns=cols + ["maybe_seen"])
        if bl.empty:
            cand["maybe_seen"] = False
            return cand
        bits = np.frombuffer(bl["bits"].iloc[0], dtype=np.uint8)
        idx = _indices(cand["h1"].values, cand["h2"].values, n_bits)
        hit = (bits[idx >> 3] & (1 << (idx & 7)).astype(np.uint8)) != 0
        cand["maybe_seen"] = hit.all(axis=1)
        return cand

    return (
        candidates.groupBy("bucket")
        .cogroup(bloom.groupBy("bucket"))
        .applyInPandas(check, schema=out_schema)
    )


def prefilter_anti_join(
    candidates: DataFrame,
    seen: DataFrame | None,
    url_col: str,
    n_buckets: int,
    probe_fn,
) -> DataFrame:
    """Shared seen-filter composition (the fresh-build and the
    persisted-state bloom probes both use it): the bloom pre-filter
    marks ``maybe_seen``; definite negatives pass straight through (no
    false negatives by filter contract); positives go to the exact
    anti-join.  ``probe_fn`` takes the
    bucketed+hashed candidate frame and returns it + ``maybe_seen``."""
    cand = with_bucket_and_hashes(candidates, url_col, n_buckets)
    if seen is None or seen.isEmpty():
        return cand.drop("bucket", "h1", "h2")
    probed = probe_fn(cand)
    definitely_new = probed.filter(~F.col("maybe_seen"))
    maybe = probed.filter(F.col("maybe_seen"))
    # exact anti-join only for filter positives — tiny at real fp rates
    survivors = maybe.join(
        seen.select(F.col(url_col).alias("__seen_url")),
        maybe[url_col] == F.col("__seen_url"),
        "left_anti",
    )
    return definitely_new.unionByName(survivors).drop(
        "bucket", "h1", "h2", "maybe_seen"
    )


def filter_new(
    candidates: DataFrame,
    seen: DataFrame | None,
    url_col: str,
    n_buckets: int,
    n_bits: int,
) -> DataFrame:
    """Return only candidates whose url is not in *seen*:
    bloom pre-filter + exact anti-join on the survivors."""
    return prefilter_anti_join(
        candidates,
        seen,
        url_col,
        n_buckets,
        lambda cand: probe(cand, build(seen, url_col, n_buckets, n_bits), n_bits),
    )
