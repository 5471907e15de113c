"""Interleaved span table operators: invariants + plan shape.
(Exact DuckDB-oracle equality is covered by the driver and
scripts/check_oracles.py.)"""

from __future__ import annotations

from indigent_defense_stats_spark import schemas
from indigent_defense_stats_spark.operators import interleaved

SF_DIR = "/root/testdata/sf0.001"


def test_reconstruct_roundtrip_holds(spark):
    rows = interleaved.span_reconstruct_check(spark, SF_DIR).collect()
    assert rows and all(r["reconstruct_ok"] == 1 for r in rows)
    for r in rows:
        # media span after every 3rd text span
        assert r["n_media_spans"] == r["n_text_spans"] // interleaved.MEDIA_EVERY
        refs = [x for x in r["media_refs"].split(",") if x]
        assert len(refs) == r["n_media_spans"]
        assert refs == [f"m://{r['doc_id']}/{k}" for k in range(len(refs))]


def test_span_columns_match_input_hint_schema(spark):
    """Exploded output carries exactly the input_hint span fields."""
    cols = set(interleaved.interleaved_spans(spark, SF_DIR).columns)
    span_fields = {f.name for f in schemas.SPAN.fields}
    assert span_fields <= cols | {"offset"}
    assert {"doc_id", "offset", "kind", "text", "media_ref"} == cols


def test_plan_is_map_only(spark):
    """Span build + explode must be a pure map: no shuffle (Exchange),
    no Python (EvalPython) in the physical plan."""
    plan = (
        interleaved.interleaved_spans(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_caption_pairs_precede_media(spark):
    """Every media span's caption is the text span at offset-1, and
    media_ord is dense 0..k-1 per document."""
    spans = {
        (r["doc_id"], r["offset"]): r
        for r in interleaved.interleaved_spans(spark, SF_DIR).collect()
    }
    pairs = interleaved.media_caption_pairs(spark, SF_DIR).collect()
    assert pairs
    by_doc: dict[int, list] = {}
    for p in pairs:
        by_doc.setdefault(p["doc_id"], []).append(p)
        # the media span itself exists at SOME offset with this ref;
        # its caption is the text span right before it
        m = [
            (k, s)
            for (k, s) in spans.items()
            if k[0] == p["doc_id"] and s["media_ref"] == p["media_ref"]
        ]
        assert len(m) == 1
        (doc, off), _ = m[0]
        prev = spans[(doc, off - 1)]
        assert prev["kind"] == "text"
        assert p["caption"] == prev["text"]
        assert p["n_caption_tokens"] == len(p["caption"].split(" "))
    for rows in by_doc.values():
        assert sorted(r["media_ord"] for r in rows) == list(range(len(rows)))


def test_caption_pairs_plan_map_only(spark):
    plan = (
        interleaved.media_caption_pairs(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_pack_interleaved_cost_and_budget(spark):
    """Cost = text tokens + IMG_TOKENS per media span; within a shard,
    consecutive docs in (h, doc_id) order tile the position stream
    (cum_before is the running sum) and offset_in_seq < SEQ_BUDGET."""
    from indigent_defense_stats_spark.operators.interleaved import SEQ_BUDGET

    recon = {
        r["doc_id"]: r
        for r in interleaved.span_reconstruct_check(spark, SF_DIR).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    out = interleaved.pack_interleaved(spark, SF_DIR).collect()
    assert len(out) == len(docs)
    for r in out:
        want = len(docs[r["doc_id"]].split(" ")) + interleaved.IMG_TOKENS * (
            recon[r["doc_id"]]["n_media_spans"]
        )
        assert r["cost"] == want
        assert 0 <= r["offset_in_seq"] < SEQ_BUDGET
        assert r["seq_id"] >= 0


def test_media_caption_dedup_groups_and_keeper(spark, tmp_path):
    """Two docs sharing an aligned caption chunk -> their media spans
    group on the caption hash; keeper = smallest media_ref; exactly
    one keeper per group."""
    C, M = interleaved.CHUNK, interleaved.MEDIA_EVERY
    shared = " ".join(f"s{i}" for i in range(C * M))  # identical 3 chunks
    tail_a = " ".join(f"a{i}" for i in range(C * M))
    tail_b = " ".join(f"b{i}" for i in range(C * M))
    solo = " ".join(f"z{i}" for i in range(C * M))
    d = str(tmp_path / "corpus")
    spark.createDataFrame(
        [
            (1, f"{shared} {tail_a}", "en", "s", 10),
            (2, f"{shared} {tail_b}", "en", "s", 10),
            (3, solo, "en", "s", 10),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    rows = interleaved.media_caption_dedup(spark, d).collect()
    by_ref = {r["media_ref"]: r for r in rows}
    # docs 1 and 2 share the caption before their FIRST media span
    assert by_ref["m://1/0"]["caption_md5"] == by_ref["m://2/0"]["caption_md5"]
    assert by_ref["m://1/0"]["n_copies"] == 2
    assert by_ref["m://1/0"]["is_keeper"] and not by_ref["m://2/0"]["is_keeper"]
    # second media spans have diverged captions -> singleton groups
    assert by_ref["m://1/1"]["caption_md5"] != by_ref["m://2/1"]["caption_md5"]
    assert by_ref["m://3/0"]["n_copies"] == 1 and by_ref["m://3/0"]["is_keeper"]
    # exactly one keeper per caption group
    groups: dict[str, int] = {}
    for r in rows:
        groups[r["caption_md5"]] = groups.get(r["caption_md5"], 0) + r["is_keeper"]
    assert all(v == 1 for v in groups.values())


def test_interleaved_quality_rules_recompute(spark):
    """Each flag recomputes from the reported stats; composed keep is
    the conjunction; caption rule is vacuous without media."""
    rows = interleaved.interleaved_quality_filters(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["ok_text"] == (r["n_text_spans"] >= interleaved.MM_MIN_TEXT_SPANS)
        assert r["ok_density"] == (r["n_media_spans"] <= r["n_text_spans"])
        if r["n_media_spans"] == 0:
            assert r["min_caption_tokens"] == -1 and r["ok_captions"]
        else:
            assert r["ok_captions"] == (
                r["min_caption_tokens"] >= interleaved.MM_MIN_CAPTION_TOKENS
            )
        assert r["keep"] == (r["ok_text"] and r["ok_density"] and r["ok_captions"])


def test_interleaved_quality_plan_is_map_only(spark):
    plan = (
        interleaved.interleaved_quality_filters(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_boilerplate_strip_hand_corpus(spark, tmp_path):
    """3 docs share chunk #3 (df=3 -> boilerplate); the media span it
    anchors must be dropped as an orphan, and the rebuilt text is the
    two surviving chunks.  A 4th all-unique doc passes untouched."""
    import hashlib

    def chunk(prefix):
        return " ".join(f"{prefix}_{t}" for t in range(interleaved.CHUNK))

    boiler = chunk("boiler")
    texts, want = [], {}
    for d in range(3):
        c0, c1 = chunk(f"u{d}a"), chunk(f"u{d}b")
        texts.append(f"{c0} {c1} {boiler}")
        want[d] = (4, 1, 1, 2, hashlib.md5(f"{c0} {c1}".encode()).hexdigest())
    ctrl = f"{chunk('ca')} {chunk('cb')} {chunk('cc')}"
    texts.append(ctrl)
    want[3] = (4, 0, 0, 4, hashlib.md5(ctrl.encode()).hexdigest())

    d = str(tmp_path / "bp")
    rows = [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = {
        r["doc_id"]: (
            r["n_spans"],
            r["n_boiler_text"],
            r["n_orphan_media"],
            r["n_kept"],
            r["new_text_md5"],
        )
        for r in interleaved.span_boilerplate_strip(spark, d).collect()
    }
    assert got == want


def test_boilerplate_strip_invariants_on_testdata(spark):
    """Keep accounting is exact (kept = spans - boiler - orphans) and
    untouched documents rebuild to their original text md5; sf0.01 has
    real cross-doc duplicate chunks, so the query is non-degenerate."""
    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.01"
    out = interleaved.span_boilerplate_strip(spark, sf)
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", F.md5("text").alias("orig_md5")
    )
    rows = out.join(docs, "doc_id").collect()
    assert sum(r["n_boiler_text"] for r in rows) > 0, "degenerate corpus"
    for r in rows:
        assert r["n_kept"] == r["n_spans"] - r["n_boiler_text"] - r["n_orphan_media"]
        if r["n_boiler_text"] == 0:
            assert r["n_orphan_media"] == 0
            assert r["new_text_md5"] == r["orig_md5"]


def test_text_density_hand_corpus(spark, tmp_path):
    """Class rules + smoothing pinned on a constructed corpus:
    doc 0 = good, near(promoted via left neighbor), bad;
    doc 1 = bad, near(no good neighbor -> dropped), bad;
    doc 2 = good then a SHORT trailing span of pure stopwords — the
    length rule must win over the stopword rule (cls 0, not 2)."""
    import hashlib

    def chunk(prefix, stops=0):
        toks = [f"{prefix}{t}" for t in range(interleaved.CHUNK - stops)]
        toks += interleaved.EN_STOP[:stops]
        return " ".join(toks)

    g0, n0, b0 = chunk("g", 2), chunk("n", 1), chunk("b")
    texts = {
        0: f"{g0} {n0} {b0}",
        1: f"{chunk('x')} {chunk('y', 1)} {chunk('z')}",
        2: f"{chunk('q', 2)} the a",
    }
    want = {
        0: (3, 1, 1, 1, 20, hashlib.md5(f"{g0} {n0}".encode()).hexdigest()),
        1: (3, 0, 1, 0, 0, hashlib.md5(b"").hexdigest()),
        2: (2, 1, 0, 0, 10, hashlib.md5(chunk("q", 2).encode()).hexdigest()),
    }
    d = str(tmp_path / "jt")
    rows = [(i, t, "en", "s0", len(t)) for i, t in texts.items()]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        r["doc_id"]: (
            r["n_text_spans"],
            r["n_good"],
            r["n_near"],
            r["n_promoted"],
            r["content_tokens"],
            r["content_md5"],
        )
        for r in interleaved.text_density_extract(spark, d).collect()
    }
    assert got == want


def test_text_density_python_replay_on_testdata(spark):
    """Full replay: pure-Python jusText pass over the parquet must
    reproduce every output row exactly (classes, smoothing, token sums,
    content md5), and the corpus must exercise all three classes plus
    both smoothing outcomes."""
    import hashlib

    out = {
        r["doc_id"]: (
            r["n_text_spans"],
            r["n_good"],
            r["n_near"],
            r["n_promoted"],
            r["content_tokens"],
            r["content_md5"],
        )
        for r in interleaved.text_density_extract(spark, SF_DIR).collect()
    }
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    stops = set(interleaved.EN_STOP)
    want = {}
    tot = [0, 0, 0]
    any_promoted = any_dropped_near = False
    for doc in docs:
        toks = doc["text"].split(" ")
        spans = [
            toks[i : i + interleaved.CHUNK]
            for i in range(0, len(toks), interleaved.CHUNK)
        ]
        cls = []
        for sp in spans:
            ns = sum(1 for t in sp if t in stops)
            if len(sp) < interleaved.JT_MIN_TOKENS:
                cls.append(0)
            elif ns >= interleaved.JT_GOOD_STOPS:
                cls.append(2)
            elif ns == 1:
                cls.append(1)
            else:
                cls.append(0)
        keep = [
            c == 2
            or (
                c == 1
                and (
                    (i > 0 and cls[i - 1] == 2)
                    or (i + 1 < len(cls) and cls[i + 1] == 2)
                )
            )
            for i, c in enumerate(cls)
        ]
        for c in cls:
            tot[c] += 1
        any_promoted |= any(c == 1 and k for c, k in zip(cls, keep))
        any_dropped_near |= any(c == 1 and not k for c, k in zip(cls, keep))
        content = " ".join(
            " ".join(sp) for sp, k in zip(spans, keep) if k
        )
        want[doc["doc_id"]] = (
            len(spans),
            sum(1 for c in cls if c == 2),
            sum(1 for c in cls if c == 1),
            sum(1 for c, k in zip(cls, keep) if c == 1 and k),
            sum(len(sp) for sp, k in zip(spans, keep) if k),
            hashlib.md5(content.encode()).hexdigest(),
        )
    assert out == want
    assert all(tot) and any_promoted and any_dropped_near, (
        "degenerate corpus for the density classifier: " + repr(tot)
    )
