"""Driver-visible operators over the INTERLEAVED span table (the
BASELINE.json input_hint shape: ``doc_id`` +
``spans: array<struct<kind,text,media_ref,offset>>``).

The crawl engine produces this table for real (plans/frontier.py sink;
schemas.SPAN; pytest span-sequence equality vs the sequential oracle),
but its rows depend on the crawl loop, which DuckDB cannot replay — so
those queries are rows-only.  This module closes that gap: it derives
the SAME interleaved shape deterministically from ``documents.parquet``
(10-token text spans, a media span after every 3rd text span, exact
offsets) with pure JVM array expressions, so every step replays in
DuckDB SQL and the driver's value-hash check covers the interleaved
payload end-to-end.

Scale: building + exploding spans is a pure per-row map over the
parquet scan (no shuffle, no Python); the reconstruct check is a
second map.  At 100 TB both are embarrassingly parallel.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from .textstats import EN_STOP, md5_int

CHUNK = 10  # tokens per text span
MEDIA_EVERY = 3  # media span after every 3rd text span
SEQ_BUDGET = 512  # tokens per packed sequence
N_SHARDS = 8


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _shuffle_key() -> Column:
    """Deterministic pseudo-random order key (seeded, portable)."""
    return md5_int(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))


def _span_array() -> Column:
    """array<struct<kind,text,media_ref>> for one document; offsets are
    assigned by position on explode (posexplode pos == offset)."""
    t = F.split(F.col("text"), " ")
    nchunks = (F.size(t) + F.lit(CHUNK - 1)) / F.lit(CHUNK)
    nchunks = F.floor(nchunks).cast("int")

    def text_span(i: Column) -> Column:
        return F.struct(
            F.lit("text").alias("kind"),
            F.concat_ws(" ", F.slice(t, i * CHUNK + 1, CHUNK)).alias("text"),
            F.lit("").alias("media_ref"),
        )

    def media_span(i: Column) -> Column:
        ref = F.concat(
            F.lit("m://"),
            F.col("doc_id").cast("string"),
            F.lit("/"),
            F.floor(i / MEDIA_EVERY).cast("int").cast("string"),
        )
        return F.struct(
            F.lit("media").alias("kind"),
            F.lit("").alias("text"),
            ref.alias("media_ref"),
        )

    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), nchunks - 1),
            lambda i: F.when(
                i % MEDIA_EVERY == MEDIA_EVERY - 1,
                F.array(text_span(i), media_span(i)),
            ).otherwise(F.array(text_span(i))),
        )
    )


def interleaved_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interleaved table itself, exploded to one row per span with
    its offset — the input_hint shape made driver-checkable."""
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.posexplode(_span_array()).alias("offset", "s"))
        .select(
            "doc_id",
            F.col("offset").cast("int").alias("offset"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
        )
    )


def span_reconstruct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip invariant: concatenating the text spans in offset
    order must reproduce the original document byte-for-byte
    (md5-checked), and the media refs must be dense 0..k-1.  Any
    interleave/ordering defect in either engine hash-mismatches."""
    spans = _span_array()
    texts = F.filter(spans, lambda s: s["kind"] == F.lit("text"))
    medias = F.filter(spans, lambda s: s["kind"] == F.lit("media"))
    rebuilt = F.array_join(
        F.transform(texts, lambda s: s["text"]), " "
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(rebuilt).alias("rebuilt_md5"),
        (F.md5(rebuilt) == F.md5(F.col("text"))).cast("int").alias("reconstruct_ok"),
        F.size(texts).alias("n_text_spans"),
        F.size(medias).alias("n_media_spans"),
        F.array_join(
            F.transform(medias, lambda s: s["media_ref"]), ","
        ).alias("media_refs"),
    )


def spans_to_documents(crawl_docs: DataFrame) -> DataFrame:
    """Crawl span table ``(doc_id, county, spans)`` -> the canonical
    ``documents`` corpus schema ``(doc_id:long, text, lang, source,
    n_chars)``: text = the doc's text spans in offset order (media
    refs stay behind in the span table), source = the crawling
    county, case ids densified to longs by deterministic order.  The
    bridge from the crawl engine's interleaved output to the
    ``documents``-shaped text operators in this package, pinned end
    to end by tests/test_pipeline_e2e.py."""
    from pyspark.sql import Window

    text = F.array_join(
        F.transform(
            F.filter("spans", lambda s: s["kind"] == F.lit("text")),
            lambda s: s["text"],
        ),
        " ",
    )
    return (
        crawl_docs.select(
            F.col("doc_id").alias("case_id"), "county", text.alias("text")
        )
        .withColumn(
            "doc_id",
            F.row_number().over(Window.orderBy("county", "case_id")).cast("long"),
        )
        .select(
            "doc_id",
            "text",
            F.lit("en").alias("lang"),
            F.col("county").alias("source"),
            F.length("text").cast("long").alias("n_chars"),
        )
    )


IMG_TOKENS = 64  # fixed token budget a media span costs in a sequence


def media_caption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption mining over the interleaved span table: for every media
    span, emit (media_ref, caption) where the caption is the TEXT span
    immediately preceding it in document order — the standard way
    image/text pairs are harvested from interleaved web documents for
    multimodal training (the reference's case pages interleave document
    images with the text rows that describe them; see
    /root/reference/src/scraper/__init__.py events/dispositions loop).

    Scale shape: pure per-row array expressions — the caption lookup is
    ``element_at(spans, i)`` (the span before position ``i``), so there
    is NO explode, NO window, NO shuffle: a 100 TB corpus streams
    through as a map-only plan.  The span array is materialized ONCE
    into a named column before the transform: referencing the
    ``_span_array()`` expression tree directly inside the lambda would
    re-evaluate the whole array build per element (O(spans²) per doc —
    measured 3x slower at sf0.1), while an attribute reference makes
    ``element_at`` an O(1) lookup."""
    sp = F.col("spans")
    pairs = F.filter(
        F.transform(
            sp,
            lambda s, i: F.struct(
                s["kind"].alias("kind"),
                s["media_ref"].alias("media_ref"),
                # element_at is 1-based: position i IS the previous
                # span.  transform evaluates BEFORE the media filter,
                # so guard i=0 (the first span is always text, never
                # media — the guarded value is unreachable).
                F.element_at(sp, F.greatest(i, F.lit(1)))["text"].alias(
                    "caption"
                ),
            ),
        ),
        lambda p: p["kind"] == F.lit("media"),
    )
    return (
        _docs(spark, sf_dir)
        .withColumn("spans", _span_array())
        .select("doc_id", F.posexplode(pairs).alias("media_ord", "p"))
        .select(
            "doc_id",
            F.col("media_ord").cast("int").alias("media_ord"),
            F.col("p.media_ref").alias("media_ref"),
            F.col("p.caption").alias("caption"),
            F.size(F.split(F.col("p.caption"), " ")).cast("int").alias(
                "n_caption_tokens"
            ),
        )
    )


def pack_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal sequence packing (the LM concat-and-chunk): each
    document's cost is its TEXT tokens plus ``IMG_TOKENS`` per media
    span (vision-language trainers budget a fixed number of positions
    per image).  Documents are packed greedily in deterministic
    shuffle-key order into sequences of ``SEQ_BUDGET`` positions per
    shard.

    Scale shape: the cost is a per-row array fold over the span array
    (no explode); packing reuses the per-shard cumulative-sum window —
    shards parallelize, no global sort.  Dtype discipline: every
    windowed sum is cast to BIGINT on both engines (DuckDB windowed
    sums are HUGEINT)."""
    sp = _span_array()
    n_text = F.aggregate(
        F.filter(sp, lambda s: s["kind"] == F.lit("text")),
        F.lit(0).cast("bigint"),
        lambda acc, s: acc + F.size(F.split(s["text"], " ")),
    )
    n_media = F.size(F.filter(sp, lambda s: s["kind"] == F.lit("media")))
    d = _docs(spark, sf_dir).select(
        "doc_id",
        (n_text + n_media.cast("bigint") * F.lit(IMG_TOKENS)).alias("cost"),
        _shuffle_key().alias("h"),
    )
    d = d.withColumn("shard", (F.col("h") % N_SHARDS).cast("int"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    cum_before = F.coalesce(
        F.sum("cost").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    ).cast("bigint")
    return (
        d.withColumn("cum_before", cum_before)
        .select(
            "doc_id",
            "shard",
            "cost",
            F.floor(F.col("cum_before") / SEQ_BUDGET)
            .cast("bigint")
            .alias("seq_id"),
            (F.col("cum_before") % SEQ_BUDGET).alias("offset_in_seq"),
        )
    )


def media_caption_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption-hash media dedup over the interleaved span table: two
    media spans whose mined captions are byte-identical are treated as
    duplicates (the LAION-style text-side dedup of an image/text
    corpus — identical alt-text overwhelmingly means the same asset
    re-embedded).  Keeper = lexicographically smallest media_ref in
    the caption group (ASCII refs, so min() agrees byte-for-byte
    across engines).

    Scale shape: one linear shuffle keyed by the caption hash (the
    exact-dedup shape from ``dedup.exact_dedup_docs`` applied to the
    media axis); boilerplate captions form hot keys, which AQE
    skew-split handles — and at 100 TB the same banding used by
    ``minhash_lsh_neardup`` extends this to NEAR-duplicate captions."""
    p = media_caption_pairs(spark, sf_dir).withColumn(
        "caption_md5", F.md5(F.col("caption"))
    )
    w = Window.partitionBy("caption_md5")
    return p.select(
        "doc_id",
        "media_ref",
        "caption_md5",
        F.count(F.lit(1)).over(w).alias("n_copies"),
        (F.col("media_ref") == F.min("media_ref").over(w)).alias("is_keeper"),
    )


# multimodal document-quality rules (integer-form so engines agree):
# a trainable interleaved doc needs enough text per image and not a
# wall of images — the multimodal analog of the Gopher absolute rules
MM_MIN_TEXT_SPANS = 3
MM_MAX_MEDIA_DEN = 10  # keep if media <= text (den/num form: m*10 <= t*10)
MM_MIN_CAPTION_TOKENS = 3  # every media span needs a real caption


def interleaved_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style ABSOLUTE quality rules for INTERLEAVED documents
    (the multimodal analog of ``textstats.gopher_quality_filters``):
    per-doc span composition stats with one flag per rule plus the
    composed keep —

    - ``ok_text``: at least ``MM_MIN_TEXT_SPANS`` text spans (a bare
      image gallery carries no language-modeling signal);
    - ``ok_density``: media spans do not outnumber text spans
      (integer compare, no float ratio);
    - ``ok_captions``: the MINIMUM caption length across the doc's
      media spans is ≥ ``MM_MIN_CAPTION_TOKENS`` tokens (every image
      is anchored by usable text; vacuously true with no media).

    Scale shape: all three rules fold over the span array per row —
    zero shuffle, map-only, same plan class as the text Gopher rules.
    """
    sp = F.col("spans")
    texts = F.filter(sp, lambda s: s["kind"] == F.lit("text"))
    n_text = F.size(texts)
    n_media = F.size(sp) - n_text
    # caption of media at position i (0-based) = span i-1, always text
    caption_lens = F.filter(
        F.transform(
            sp,
            lambda s, i: F.when(
                s["kind"] == F.lit("media"),
                F.size(
                    F.split(
                        F.element_at(sp, F.greatest(i, F.lit(1)))["text"], " "
                    )
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    min_cap = F.array_min(caption_lens)
    ok_text = n_text >= MM_MIN_TEXT_SPANS
    ok_density = n_media <= n_text
    ok_captions = F.coalesce(
        min_cap >= MM_MIN_CAPTION_TOKENS, F.lit(True)
    )
    # span-fold stats projected ONCE before the flags: n_text/min_cap
    # are interpreted span folds referenced by several rules each —
    # inlined they re-evaluate per reference (lang_id cost model)
    stats = (
        _docs(spark, sf_dir)
        .withColumn("spans", _span_array())
        .select(
            "doc_id",
            n_text.cast("int").alias("n_text_spans"),
            n_media.cast("int").alias("n_media_spans"),
            F.coalesce(min_cap, F.lit(-1)).cast("int").alias(
                "min_caption_tokens"
            ),
        )
    )
    nt = F.col("n_text_spans")
    nm = F.col("n_media_spans")
    mc = F.col("min_caption_tokens")
    ok_text_c = nt >= MM_MIN_TEXT_SPANS
    ok_density_c = nm <= nt
    # min_caption_tokens = -1 encodes "no media" (vacuously true)
    ok_captions_c = (mc < 0) | (mc >= MM_MIN_CAPTION_TOKENS)
    return stats.select(
        "doc_id",
        "n_text_spans",
        "n_media_spans",
        "min_caption_tokens",
        ok_text_c.alias("ok_text"),
        ok_density_c.alias("ok_density"),
        ok_captions_c.alias("ok_captions"),
        (ok_text_c & ok_density_c & ok_captions_c).alias("keep"),
    )


BP_MIN_DOCS = 3  # a span text in >= this many distinct docs is boilerplate


def span_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal over the INTERLEAVED span table (the
    trafilatura/jusText step of a web-corpus pipeline, generalized to
    the multimodal payload): a text span whose exact content appears
    in ``BP_MIN_DOCS``+ distinct documents is site chrome (headers,
    navigation, footers — the reference's Odyssey pages repeat the
    same banner rows on every case page), so ALL its occurrences are
    stripped — removal, not the keep-first rule ``line_dedup``
    applies — and a media span whose anchoring caption (the text span
    immediately before it) was stripped is dropped as an orphan: an
    image whose only text anchor is boilerplate carries no pairable
    signal.  Per doc: span counts before/after, boilerplate/orphan
    counts, and the md5 of the surviving text (offset order), so any
    rewrite defect value-hash-mismatches.

    Scale shape: one linear span-text frequency aggregate (hot
    boilerplate keys are exactly the AQE skew-split case), then the
    df-filtered boilerplate set — tiny BY CONSTRUCTION relative to the
    corpus, same argument as the inverted-index stop list — broadcasts
    back, so the corpus side never shuffles for the match; the
    orphan-media rule and the per-doc rewrite share ONE doc_id-keyed
    exchange (window and groupBy use the same key).  No all-pairs
    anywhere; survives 100 TB unchanged."""
    ex = interleaved_spans(spark, sf_dir).withColumn(
        "tmd5", F.when(F.col("kind") == "text", F.md5("text"))
    )
    boiler = (
        ex.filter(F.col("kind") == "text")
        .groupBy("tmd5")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= BP_MIN_DOCS)
        .select("tmd5", F.lit(True).alias("is_b"))
    )
    marked = ex.join(F.broadcast(boiler), "tmd5", "left").withColumn(
        "is_boiler", F.coalesce(F.col("is_b"), F.lit(False))
    )
    w = Window.partitionBy("doc_id").orderBy("offset")
    keep = F.when(F.col("kind") == "text", ~F.col("is_boiler")).otherwise(
        F.coalesce(~F.lag("is_boiler").over(w), F.lit(True))
    )
    k = marked.withColumn("keep", keep)
    kept_text = F.when(
        F.col("keep") & (F.col("kind") == "text"),
        F.struct("offset", "text"),
    )
    return k.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(((F.col("kind") == "text") & F.col("is_boiler")).cast("int"))
        .cast("bigint")
        .alias("n_boiler_text"),
        F.sum(((F.col("kind") == "media") & ~F.col("keep")).cast("int"))
        .cast("bigint")
        .alias("n_orphan_media"),
        F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_text)),
                    lambda x: x["text"],
                ),
                " ",
            )
        ).alias("new_text_md5"),
    )


# jusText-style in-document classification constants (Pomikálek 2011,
# adapted to the 10-token span grammar): a span shorter than
# JT_MIN_TOKENS carries too little signal to classify directly (the
# paper's length heuristic); >= JT_GOOD_STOPS stopword hits in a
# <=CHUNK-token span is the >=20% stopword-density "good" rule; exactly
# one hit is "near-good" and resolves by neighbor context.
JT_MIN_TOKENS = 5
JT_GOOD_STOPS = 2


def text_density_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document content extraction (the jusText step of a
    web-corpus pipeline), complementing :func:`span_boilerplate_strip`
    whose signal is CROSS-document frequency: here each text span is
    classified alone by stopword density + length, then one-pass
    context smoothing promotes "near-good" spans adjacent to a good
    one — the short headline between two paragraphs survives, the
    isolated nav fragment does not.  (Real jusText iterates smoothing
    to a fixpoint over paragraph blocks; the one-pass lag/lead variant
    is documented here as the contract and replayed exactly by the
    oracle.)

    Per text span: ``cls`` = 0 (bad) when under ``JT_MIN_TOKENS``
    tokens or zero stopword hits, 2 (good) at >= ``JT_GOOD_STOPS``
    hits, else 1 (near-good).  Final keep = good, or near-good with a
    good lag/lead neighbor in offset order.  Per doc: class counts,
    promoted count, kept token sum, and the md5 of the kept text in
    offset order so any rewrite defect value-hash-mismatches (the
    span_boilerplate_strip discipline).

    Scale shape: the span features are pure per-row folds over the
    scan (no Python); ONE doc_id-keyed Exchange is shared by the
    lag/lead window and the final per-doc aggregate (doc_id hash
    partitioning satisfies the grouping key; budget-pinned).  No joins, no dimension tables; survives
    100 TB unchanged."""
    sp = interleaved_spans(spark, sf_dir).filter(F.col("kind") == "text")
    toks = F.split(F.col("text"), " ")
    stop_lits = F.array(*[F.lit(w) for w in EN_STOP])
    base = sp.select(
        "doc_id",
        "offset",
        "text",
        F.size(toks).alias("n_tok"),
        F.size(
            F.filter(toks, lambda t: F.array_contains(stop_lits, t))
        ).alias("n_stop"),
    )
    cls = (
        F.when(F.col("n_tok") < JT_MIN_TOKENS, F.lit(0))
        .when(F.col("n_stop") >= JT_GOOD_STOPS, F.lit(2))
        .when(F.col("n_stop") == 1, F.lit(1))
        .otherwise(F.lit(0))
    )
    w = Window.partitionBy("doc_id").orderBy("offset")
    g = base.withColumn("cls", cls).withColumn(
        "keep",
        (F.col("cls") == 2)
        | (
            (F.col("cls") == 1)
            & (
                (F.coalesce(F.lag("cls").over(w), F.lit(0)) == 2)
                | (F.coalesce(F.lead("cls").over(w), F.lit(0)) == 2)
            )
        ),
    )
    kept_text = F.when(F.col("keep"), F.struct("offset", "text"))
    return g.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_text_spans"),
        F.sum((F.col("cls") == 2).cast("int")).cast("int").alias("n_good"),
        F.sum((F.col("cls") == 1).cast("int")).cast("int").alias("n_near"),
        F.sum(((F.col("cls") == 1) & F.col("keep")).cast("int"))
        .cast("int")
        .alias("n_promoted"),
        F.sum(F.when(F.col("keep"), F.col("n_tok")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("content_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_text)),
                    lambda x: x["text"],
                ),
                " ",
            )
        ).alias("content_md5"),
    )


QUERIES = {
    "interleaved_spans": interleaved_spans,
    "span_reconstruct_check": span_reconstruct_check,
    "media_caption_pairs": media_caption_pairs,
    "pack_interleaved": pack_interleaved,
    "media_caption_dedup": media_caption_dedup,
    "interleaved_quality_filters": interleaved_quality_filters,
    "span_boilerplate_strip": span_boilerplate_strip,
    "text_density_extract": text_density_extract,
}

_SQL_SPANS = f"""
    SELECT doc_id, text,
           flatten(list_transform(
               generate_series(0, CAST((len(string_split(text, ' ')) + {CHUNK - 1})
                                       // {CHUNK} AS INT) - 1),
               i -> CASE WHEN i % {MEDIA_EVERY} = {MEDIA_EVERY - 1} THEN
                   [{{'kind': 'text',
                      'text': array_to_string(string_split(text, ' ')
                                  [i*{CHUNK}+1 : i*{CHUNK}+{CHUNK}], ' '),
                      'media_ref': ''}},
                    {{'kind': 'media', 'text': '',
                      'media_ref': 'm://' || CAST(doc_id AS VARCHAR) || '/' ||
                                   CAST(i // {MEDIA_EVERY} AS VARCHAR)}}]
               ELSE
                   [{{'kind': 'text',
                      'text': array_to_string(string_split(text, ' ')
                                  [i*{CHUNK}+1 : i*{CHUNK}+{CHUNK}], ' '),
                      'media_ref': ''}}]
               END)) AS sp
    FROM documents
"""

_SQL_H = "('0x' || left(md5('shuf:' || doc_id), 15))::BIGINT"

ORACLE_SQL = {
    "media_caption_pairs": f"""
        WITH s AS ({_SQL_SPANS}),
        e AS (
            SELECT doc_id, i, sp[i].media_ref AS media_ref,
                   sp[i - 1].text AS caption
            FROM s, unnest(generate_series(1, len(sp))) AS g(i)
            WHERE sp[i].kind = 'media'
        )
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
                    AS INT) AS media_ord,
               media_ref, caption,
               CAST(len(string_split(caption, ' ')) AS INT)
                   AS n_caption_tokens
        FROM e
    """,
    "pack_interleaved": f"""
        WITH s AS ({_SQL_SPANS}),
        k AS (
            SELECT doc_id,
                   CAST(list_sum(list_transform(
                            list_filter(sp, x -> x.kind = 'text'),
                            x -> len(string_split(x.text, ' '))))
                        AS BIGINT)
                   + {IMG_TOKENS} * len(list_filter(
                            sp, x -> x.kind = 'media')) AS cost,
                   {_SQL_H} AS h
            FROM s
        ),
        sh AS (
            SELECT doc_id, cost, h, CAST(h % {N_SHARDS} AS INT) AS shard
            FROM k
        ),
        c AS (
            -- DuckDB windowed sum() over integers is HUGEINT; cast at
            -- the source so derived columns hash as BIGINT (the
            -- round-2 driver red-row class)
            SELECT doc_id, shard, cost,
                   CAST(coalesce(sum(cost) OVER (
                       PARTITION BY shard ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS cum_before
            FROM sh
        )
        SELECT doc_id, shard, cost,
               CAST(floor(cum_before / {SEQ_BUDGET}) AS BIGINT) AS seq_id,
               cum_before % {SEQ_BUDGET} AS offset_in_seq
        FROM c
    """,
    "interleaved_quality_filters": f"""
        WITH s AS ({_SQL_SPANS}),
        k AS (
            SELECT doc_id,
                   len(list_filter(sp, x -> x.kind = 'text')) AS n_text,
                   len(sp) - len(list_filter(sp, x -> x.kind = 'text'))
                       AS n_media,
                   list_min(list_transform(
                       list_filter(generate_series(1, len(sp)),
                                   i -> sp[i].kind = 'media'),
                       i -> len(string_split(sp[i - 1].text, ' '))
                   )) AS min_cap
            FROM s
        )
        SELECT doc_id,
               CAST(n_text AS INT) AS n_text_spans,
               CAST(n_media AS INT) AS n_media_spans,
               CAST(coalesce(min_cap, -1) AS INT) AS min_caption_tokens,
               n_text >= {MM_MIN_TEXT_SPANS} AS ok_text,
               n_media <= n_text AS ok_density,
               coalesce(min_cap >= {MM_MIN_CAPTION_TOKENS}, TRUE)
                   AS ok_captions,
               (n_text >= {MM_MIN_TEXT_SPANS}) AND (n_media <= n_text)
                   AND coalesce(min_cap >= {MM_MIN_CAPTION_TOKENS}, TRUE)
                   AS keep
        FROM k
    """,
    "media_caption_dedup": f"""
        WITH s AS ({_SQL_SPANS}),
        e AS (
            SELECT doc_id, i, sp[i].media_ref AS media_ref,
                   sp[i - 1].text AS caption
            FROM s, unnest(generate_series(1, len(sp))) AS g(i)
            WHERE sp[i].kind = 'media'
        ),
        p AS (
            SELECT doc_id, media_ref, md5(caption) AS caption_md5 FROM e
        )
        SELECT doc_id, media_ref, caption_md5,
               count(*) OVER (PARTITION BY caption_md5) AS n_copies,
               media_ref = min(media_ref) OVER (PARTITION BY caption_md5)
                   AS is_keeper
        FROM p
    """,
    "span_boilerplate_strip": f"""
        WITH s AS ({_SQL_SPANS}),
        ex AS (
            SELECT doc_id, i, sp[i].kind AS kind, sp[i].text AS text
            FROM s, unnest(generate_series(1, len(sp))) AS g(i)
        ),
        b AS (
            SELECT md5(text) AS tmd5 FROM ex WHERE kind = 'text'
            GROUP BY 1 HAVING count(DISTINCT doc_id) >= {BP_MIN_DOCS}
        ),
        m AS (
            SELECT e.doc_id, e.i, e.kind, e.text,
                   (e.kind = 'text' AND b.tmd5 IS NOT NULL) AS is_boiler
            FROM ex e LEFT JOIN b
              ON e.kind = 'text' AND md5(e.text) = b.tmd5
        ),
        k AS (
            SELECT doc_id, i, kind, text, is_boiler,
                   CASE WHEN kind = 'text' THEN NOT is_boiler
                        ELSE coalesce(NOT lag(is_boiler) OVER (
                                 PARTITION BY doc_id ORDER BY i), TRUE)
                   END AS keep
            FROM m
        )
        SELECT doc_id,
               count(*)::BIGINT AS n_spans,
               CAST(count(*) FILTER (WHERE kind = 'text' AND is_boiler)
                    AS BIGINT) AS n_boiler_text,
               CAST(count(*) FILTER (WHERE kind = 'media' AND NOT keep)
                    AS BIGINT) AS n_orphan_media,
               CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
               md5(coalesce(array_to_string(
                   list(text ORDER BY i)
                       FILTER (WHERE keep AND kind = 'text'),
                   ' '), '')) AS new_text_md5
        FROM k GROUP BY doc_id
    """,
    "text_density_extract": f"""
        WITH s AS ({_SQL_SPANS}),
        t AS (
            SELECT doc_id, i, sp[i].text AS text,
                   len(string_split(sp[i].text, ' ')) AS n_tok,
                   len(list_filter(string_split(sp[i].text, ' '),
                       x -> list_contains(
                           [{", ".join(repr(w) for w in EN_STOP)}],
                           x))) AS n_stop
            FROM s, unnest(generate_series(1, len(sp))) AS g(i)
            WHERE sp[i].kind = 'text'
        ),
        c AS (
            SELECT doc_id, i, text, n_tok,
                   CASE WHEN n_tok < {JT_MIN_TOKENS} THEN 0
                        WHEN n_stop >= {JT_GOOD_STOPS} THEN 2
                        WHEN n_stop = 1 THEN 1
                        ELSE 0 END AS cls
            FROM t
        ),
        k AS (
            SELECT doc_id, i, text, n_tok, cls,
                   (cls = 2) OR (cls = 1 AND (
                       coalesce(lag(cls) OVER w, 0) = 2
                       OR coalesce(lead(cls) OVER w, 0) = 2)) AS keep
            FROM c WINDOW w AS (PARTITION BY doc_id ORDER BY i)
        )
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_text_spans,
               CAST(count(*) FILTER (WHERE cls = 2) AS INT) AS n_good,
               CAST(count(*) FILTER (WHERE cls = 1) AS INT) AS n_near,
               CAST(count(*) FILTER (WHERE cls = 1 AND keep) AS INT)
                   AS n_promoted,
               CAST(coalesce(sum(n_tok) FILTER (WHERE keep), 0) AS BIGINT)
                   AS content_tokens,
               md5(coalesce(array_to_string(
                   list(text ORDER BY i) FILTER (WHERE keep),
                   ' '), '')) AS content_md5
        FROM k GROUP BY doc_id
    """,
    "interleaved_spans": f"""
        WITH s AS ({_SQL_SPANS})
        SELECT doc_id,
               CAST(i - 1 AS INT) AS offset,
               sp[i].kind AS kind,
               sp[i].text AS text,
               sp[i].media_ref AS media_ref
        FROM s, unnest(generate_series(1, len(sp))) AS g(i)
    """,
    "span_reconstruct_check": f"""
        WITH s AS ({_SQL_SPANS}),
        r AS (
            SELECT doc_id, text,
                   array_to_string(list_transform(
                       list_filter(sp, x -> x.kind = 'text'), x -> x.text),
                       ' ') AS rebuilt,
                   list_transform(
                       list_filter(sp, x -> x.kind = 'media'),
                       x -> x.media_ref) AS mrefs,
                   len(list_filter(sp, x -> x.kind = 'text')) AS n_text
            FROM s
        )
        SELECT doc_id,
               md5(rebuilt) AS rebuilt_md5,
               CASE WHEN md5(rebuilt) = md5(text) THEN 1 ELSE 0 END
                   AS reconstruct_ok,
               CAST(n_text AS INT) AS n_text_spans,
               CAST(len(mrefs) AS INT) AS n_media_spans,
               coalesce(array_to_string(mrefs, ','), '') AS media_refs
        FROM r
    """,
}
