"""Distributed BPE tokenizer training + segmentation (training-data
layer).

A pretraining pipeline does not just FILTER its corpus — it also
trains the tokenizer on it (Sennrich et al. 2016 byte-pair encoding),
then segments the full corpus with the learned merges.  Both steps
are classic map-reduce shapes and belong in the engine:

- ``bpe_merge_ranks`` — learn the first ``N_MERGES`` BPE merges over
  the ``documents`` corpus.  The 100 TB shape: ONE corpus-sized
  shuffle builds the (word, count) vocabulary (map-side partial
  aggregation; the vocab is Zipf-bounded, orders of magnitude smaller
  than the corpus), and every merge iteration after that runs on the
  VOCAB table only — explode adjacent symbol pairs weighted by word
  count, one vocab-sized aggregate, one bounded argmax collect
  (1 row), then a JVM higher-order fold rewrites the symbol arrays.
  The corpus is never touched again.  Per-round lineage is truncated
  with ``localCheckpoint`` (the iterative-algorithm idiom, same as
  the dedup.py component loops).
- ``bpe_segment_stats`` — segment the corpus with the learned merges
  and report per-source token accounting (words / chars / BPE
  tokens).  The apply side is the production-relevant direction at
  100 TB: merges are applied to the distinct-word VOCAB (bounded),
  and the corpus only pays a broadcast hash join word -> token_len
  plus a linear aggregate — no corpus-sized shuffle beyond the
  (source, word) count.

Merge semantics (pinned by tests and the oracle): greedy
left-to-right, non-overlapping — a symbol produced by a merge in this
round does NOT immediately re-merge with the following symbol (the
``fresh`` flag in the fold), matching the reference BPE algorithm.
Argmax tiebreak is (count DESC, lhs ASC, rhs ASC) — ASCII corpus, so
Spark's UTF8 binary ordering and Python's code-point ordering agree.

Reference analog: the scraper's per-case tokenize-and-count loops
(reference src/parser/hays.py cell cleanup + charge tokenization)
generalized to corpus-level subword statistics.

Cross-engine determinism: everything is integer counts and string
concatenation; no floats anywhere.  The oracle (below) is an
INDEPENDENT pure-Python BPE that shares no code with the Spark fold,
baked as literals at oracle-build time (same convention as the IVF
baked centroids and the sitemap arithmetic expected table).
"""

from __future__ import annotations

import os
import re
from functools import lru_cache

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

N_MERGES = 8
_WORD_SPLIT = "[^a-z0-9]+"  # identical semantics in Java + Python regex

_ORACLE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, cnt, syms): corpus word counts + initial char-level symbol
    arrays.  The ONE corpus-sized shuffle of the whole trainer."""
    words = (
        _docs(spark, sf_dir)
        .select(
            F.explode(F.split(F.lower(F.col("text")), _WORD_SPLIT)).alias("w")
        )
        .filter(F.col("w") != "")
    )
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    # bind the symbol array as a real column (projection boundary)
    # BEFORE any fold consumes it — the bigram_lm_score lesson
    # (BENCH/NOTES.md): folds over inline expressions re-evaluate per
    # element.
    syms = F.transform(
        F.sequence(F.lit(1), F.char_length(F.col("w"))),
        lambda i: F.substring(F.col("w"), i, 1),
    )
    # pin: the vocab is a small aggregate with a corpus-sized upstream
    # and every merge round re-reads it
    return wc.withColumn("syms", syms).localCheckpoint(eager=False)


def _adjacent_pairs(cur: DataFrame) -> DataFrame:
    """Weighted adjacent symbol pairs (lhs, rhs, cnt) from the vocab's
    bound symbol arrays; 1-symbol words contribute nothing."""
    n = F.size(F.col("syms"))
    lhs_arr = F.slice(F.col("syms"), F.lit(1), n - F.lit(1))
    rhs_arr = F.slice(F.col("syms"), F.lit(2), n - F.lit(1))
    pairs = (
        cur.filter(n > 1)
        # bind both slices before zipping (projection boundary)
        .select("cnt", lhs_arr.alias("la"), rhs_arr.alias("ra"))
        .select(
            "cnt",
            F.explode(
                F.zip_with(
                    "la",
                    "ra",
                    lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
                )
            ).alias("p"),
        )
        .select(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"), "cnt")
    )
    return pairs


def _apply_merge(syms: F.Column, a: str, b: str) -> F.Column:
    """Greedy left-to-right single-rule merge as a JVM fold.

    Accumulator (out, prev, fresh): ``prev`` is the last unflushed
    symbol, ``fresh`` means prev was produced by a merge THIS step and
    must not merge again (non-overlapping semantics: 'aaa' under
    (a,a) -> ['aa','a'], never ['aaa']).
    """
    merged = a + b
    acc0 = F.struct(
        F.expr("CAST(array() AS array<string>)").alias("out"),
        F.lit(None).cast("string").alias("prev"),
        F.lit(False).alias("fresh"),
    )

    def flush(acc):
        return F.when(acc["prev"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["prev"]))
        )

    def step(acc, s):
        hit = (
            (~acc["fresh"])
            & (acc["prev"] == F.lit(a))
            & (s == F.lit(b))
        )
        return F.when(
            hit,
            F.struct(
                acc["out"].alias("out"),
                F.lit(merged).alias("prev"),
                F.lit(True).alias("fresh"),
            ),
        ).otherwise(
            F.struct(
                flush(acc).alias("out"),
                s.alias("prev"),
                F.lit(False).alias("fresh"),
            )
        )

    return F.aggregate(syms, acc0, step, flush)


def _train(spark: SparkSession, sf_dir: str, n_merges: int = N_MERGES):
    """Run the distributed trainer; returns (merges, final_vocab_df)
    where merges = [(rank, lhs, rhs, merged, pair_count), ...]."""
    cur = _vocab(spark, sf_dir)
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            _adjacent_pairs(cur)
            .groupBy("lhs", "rhs")
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.col("pc").desc(), "lhs", "rhs")
            .limit(1)
            .collect()
        )  # bounded: exactly one row
        if not top:
            break
        a, b, pc = top[0]["lhs"], top[0]["rhs"], int(top[0]["pc"])
        merges.append((rank, a, b, a + b, pc))
        cur = cur.select(
            "w", "cnt", _apply_merge(F.col("syms"), a, b).alias("syms")
        ).localCheckpoint(eager=False)  # truncate per-round lineage
    return merges, cur


def bpe_merge_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First N_MERGES learned BPE merges with their pair counts.

    The returned table is the training ARTIFACT — o(1) rows by
    construction (like the IVF centroid table); the distributed work
    happened in the vocab shuffle + per-round vocab aggregates.
    """
    merges, _ = _train(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        schema="rank int, lhs string, rhs string, merged string, pair_count bigint",
    )


def bpe_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token accounting after segmenting with the learned
    merges: (source, n_words, n_chars, n_tokens), all BIGINT.

    Apply side: merges rewrite the distinct-word vocab (bounded), the
    corpus pays one (source, word) count shuffle + a BROADCAST join
    word -> token_len + one per-source aggregate.  At 100 TB the
    vocab broadcast is MBs and the corpus never wide-shuffles.
    """
    merges, vocab = _train(spark, sf_dir)
    tok_len = vocab.select(
        "w", F.size(F.col("syms")).cast("long").alias("tok_len")
    )
    by_word = (
        _docs(spark, sf_dir)
        .select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), _WORD_SPLIT)).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        by_word.join(F.broadcast(tok_len), "w")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.char_length(F.col("w"))).alias("n_chars"),
            F.sum(F.col("cnt") * F.col("tok_len")).alias("n_tokens"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# Oracle: INDEPENDENT pure-Python BPE (shares no code with the Spark
# fold), run at oracle-build time on the oracle-sf parquet and baked
# as a VALUES literal — the IVF-centroid / sitemap-expected-table
# convention.  Deliberately written dict-and-loop style.
# --------------------------------------------------------------------


def _ref_apply(syms: list[str], a: str, b: str) -> list[str]:
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2  # non-overlapping: skip both; the merged token
            # cannot re-merge with the next symbol this round
        else:
            out.append(syms[i])
            i += 1
    return out


@lru_cache(maxsize=1)
def _ref_train() -> tuple[tuple, ...]:
    """Reference BPE over the oracle-sf documents: returns
    ((rank, lhs, rhs, merged, pair_count, by_source_stats), ...)."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(_ORACLE_SF_DIR, "documents.parquet"),
        columns=["text", "source"],
    )
    texts = t.column("text").to_pylist()
    sources = t.column("source").to_pylist()

    wc: dict[str, int] = {}
    per_source: dict[str, dict[str, int]] = {}
    for txt, src in zip(texts, sources):
        for w in re.split(_WORD_SPLIT, (txt or "").lower()):
            if not w:
                continue
            wc[w] = wc.get(w, 0) + 1
            per_source.setdefault(src, {})
            per_source[src][w] = per_source[src].get(w, 0) + 1

    symtab: dict[str, list[str]] = {w: list(w) for w in wc}
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, N_MERGES + 1):
        pc: dict[tuple[str, str], int] = {}
        for w, syms in symtab.items():
            c = wc[w]
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                pc[k] = pc.get(k, 0) + c
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, n))
        for w in symtab:
            symtab[w] = _ref_apply(symtab[w], a, b)

    stats = []
    for src in sorted(per_source):
        n_words = sum(per_source[src].values())
        n_chars = sum(c * len(w) for w, c in per_source[src].items())
        n_tokens = sum(
            c * len(symtab[w]) for w, c in per_source[src].items()
        )
        stats.append((src, n_words, n_chars, n_tokens))
    return tuple(merges), tuple(stats)


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _merge_ranks_sql() -> str:
    merges, _ = _ref_train()
    rows = ", ".join(
        f"({r}, {_q(a)}, {_q(b)}, {_q(m)}, {n})" for r, a, b, m, n in merges
    )
    return f"""
        SELECT CAST(rank AS INTEGER) AS rank, lhs, rhs, merged,
               CAST(pair_count AS BIGINT) AS pair_count
        FROM (VALUES {rows}) AS t(rank, lhs, rhs, merged, pair_count)
        ORDER BY rank
    """


def _segment_stats_sql() -> str:
    _, stats = _ref_train()
    rows = ", ".join(
        f"({_q(s)}, {w}, {c}, {n})" for s, w, c, n in stats
    )
    return f"""
        SELECT source, CAST(n_words AS BIGINT) AS n_words,
               CAST(n_chars AS BIGINT) AS n_chars,
               CAST(n_tokens AS BIGINT) AS n_tokens
        FROM (VALUES {rows}) AS t(source, n_words, n_chars, n_tokens)
        ORDER BY source
    """


QUERIES = {
    "bpe_merge_ranks": bpe_merge_ranks,
    "bpe_segment_stats": bpe_segment_stats,
}


def ORACLE_SQL() -> dict[str, str]:  # callable: bakes oracle-sf data
    return {
        "bpe_merge_ranks": _merge_ranks_sql(),
        "bpe_segment_stats": _segment_stats_sql(),
    }
