"""robots.txt parser (RFC 9309 groups + Crawl-delay) -> engine rules."""

from __future__ import annotations

from indigent_defense_stats_spark.functions.robots import (
    MAX_DELAY_MS,
    parse_robots_batch,
    parse_robots_txt,
    rules_from_robots_texts,
)

BASIC = """
# portal robots
User-agent: *
Disallow: /admin
Disallow: /internal
Crawl-delay: 0.5
"""

GROUPS = """
User-agent: ids-crawler
Disallow: /slow
Crawl-delay: 2

User-agent: *
Disallow: /admin

User-agent: ids-crawler
Disallow: /also
"""

MESSY = """
Disallow: /ignored-no-group
User-agent: *
Allow: /public
Disallow:
Disallow: /x   # trailing comment
Unknown-directive: whatever
Crawl-delay: not-a-number
User-Agent: *
Disallow: /y
"""


SITEMAPPED = """
Sitemap: https://h.example/sitemaps/main.xml
User-agent: ids-crawler
Disallow: /slow
Sitemap: https://h.example/sitemaps/cases.xml
User-agent: also-this-agent
Disallow: /other
Sitemap: https://h.example/sitemaps/main.xml
"""


def test_basic_group_and_fractional_delay():
    p = parse_robots_txt(BASIC)
    assert p["deny"] == ["/admin", "/internal"]
    assert p["crawl_delay_ms"] == 500


def test_sitemap_directive_is_global_and_group_transparent():
    """Sitemap: lines apply regardless of agent (collected even before
    any group and from non-matching groups), do not leak into deny,
    dedup in order — and a Sitemap line between two User-agent lines
    must NOT split the agent run (ids-crawler still gets /slow only
    under longest-prefix selection)."""
    p = parse_robots_txt(SITEMAPPED, agent="ids-crawler")
    assert p["sitemaps"] == [
        "https://h.example/sitemaps/main.xml",
        "https://h.example/sitemaps/cases.xml",
    ]
    assert p["deny"] == ["/slow"]
    # a different agent sees the same sitemap list
    q = parse_robots_txt(SITEMAPPED, agent="unrelated-bot")
    assert q["sitemaps"] == p["sitemaps"]


def test_sitemap_between_consecutive_agent_lines_keeps_the_run():
    txt = (
        "User-agent: a\n"
        "Sitemap: https://x.example/s.xml\n"
        "User-agent: b\n"
        "Disallow: /blocked\n"
    )
    # agents a and b are ONE group (the Sitemap line is transparent),
    # so both inherit the Disallow
    assert parse_robots_txt(txt, agent="a")["deny"] == ["/blocked"]
    assert parse_robots_txt(txt, agent="b")["deny"] == ["/blocked"]
    assert parse_robots_txt(txt, agent="a")["sitemaps"] == [
        "https://x.example/s.xml"
    ]


def test_specific_agent_beats_star_and_groups_merge():
    p = parse_robots_txt(GROUPS, agent="ids-crawler")
    assert p["deny"] == ["/slow", "/also"]  # both ids-crawler groups
    assert p["crawl_delay_ms"] == 2000
    star = parse_robots_txt(GROUPS, agent="otherbot")
    assert star["deny"] == ["/admin"]
    assert star["crawl_delay_ms"] is None


def test_agent_prefix_match_longest_wins():
    txt = (
        "User-agent: ids\nDisallow: /a\n\n"
        "User-agent: ids-crawler\nDisallow: /b\n\n"
        "User-agent: *\nDisallow: /c\n"
    )
    assert parse_robots_txt(txt, "ids-crawler/1.0")["deny"] == ["/b"]
    assert parse_robots_txt(txt, "idsomething")["deny"] == ["/a"]
    assert parse_robots_txt(txt, "zzz")["deny"] == ["/c"]


def test_messy_file_is_conservative():
    """Rules before any group ignored; empty Disallow = no rule; Allow
    and unknown directives skipped; bad Crawl-delay skipped; a second
    consecutive-run * group MERGES (case-insensitive keys)."""
    p = parse_robots_txt(MESSY)
    assert p["deny"] == ["/x", "/y"]
    assert p["crawl_delay_ms"] is None


def test_empty_or_missing_allows_all():
    for text in (None, "", "# only comments\n"):
        p = parse_robots_txt(text)
        assert p == {
                "deny": [],
                "crawl_delay_ms": None,
                "sitemaps": [],
                "rules": [],
            }


def test_delay_capped():
    p = parse_robots_txt("User-agent: *\nCrawl-delay: 999999\n")
    assert p["crawl_delay_ms"] == MAX_DELAY_MS


def test_rules_from_texts_compiles_ctor_args():
    rules, delays = rules_from_robots_texts(
        {"h1": BASIC, "h2": "User-agent: *\nDisallow: /q\n", "h3": None}
    )
    assert rules == {
        "h1": ["/admin", "/internal"],
        "h2": ["/q"],
        "h3": [],
    }
    assert delays == {"h1": 500}


def test_batch_parser_under_spark(spark):
    df = spark.createDataFrame(
        [("h1", BASIC), ("h2", None)], "host string, robots_txt string"
    )
    out = {
        r["host"]: r
        for r in df.mapInPandas(
            parse_robots_batch(),
            "host string, deny array<string>, crawl_delay_ms int,"
            " sitemaps array<string>",
        ).collect()
    }
    assert out["h1"]["deny"] == ["/admin", "/internal"]
    assert out["h1"]["crawl_delay_ms"] == 500
    assert out["h2"]["deny"] == [] and out["h2"]["crawl_delay_ms"] is None
    assert list(out["h1"]["sitemaps"]) == [] and list(out["h2"]["sitemaps"]) == []


def test_engine_accepts_compiled_rules(spark, tmp_path):
    """End-to-end: raw robots text -> compiled args -> engine ctor; the
    declared Crawl-delay lands in the intervals dimension."""
    from datetime import date

    from indigent_defense_stats_spark import synth
    from indigent_defense_stats_spark.plans.frontier import (
        POLITENESS_MS,
        CrawlEngine,
    )

    reg = synth.make_registry(2, n_scrape=2)
    h0, h1 = synth.portal_host(0), synth.portal_host(1)
    rules, delays = rules_from_robots_texts(
        {
            h0: "User-agent: *\nDisallow: /admin\nCrawl-delay: 1\n",
            h1: "User-agent: *\nDisallow: /admin\n",
        }
    )
    eng = CrawlEngine(
        spark,
        str(tmp_path),
        reg,
        date(2024, 7, 1),
        1,
        n_buckets=2,
        robots_rules=rules,
        crawl_delay_ms=delays,
    )
    iv = eng._intervals
    assert iv == {h0: 1000, h1: POLITENESS_MS}


# ---------------------------------------------------------------- RFC 9309
# full-rule model: Allow + Disallow with wildcards (session-7)

from indigent_defense_stats_spark.functions.robots import (  # noqa: E402
    pattern_to_regex,
    robots_allowed,
)

WILD = """
User-agent: *
Disallow: /case/*9$
Allow: /case/199$
Disallow: /private
Allow: /private/ok*
Disallow: /lit$eral
"""


def test_pattern_to_regex():
    assert pattern_to_regex("/a/*9$") == "^/a/.*9$"
    assert pattern_to_regex("/a") == "^/a"
    assert pattern_to_regex("/a$b") == "^/a\\$b"  # non-trailing $ literal
    assert pattern_to_regex("/*/x") == "^/.*/x"


def test_full_rules_compiled():
    rules = parse_robots_txt(WILD)["rules"]
    assert [(r["pattern"], r["allow"]) for r in rules] == [
        ("/case/*9$", False),
        ("/case/199$", True),
        ("/private", False),
        ("/private/ok*", True),
        ("/lit$eral", False),
    ]
    # precedence = pattern octet length
    assert [r["prec"] for r in rules] == [9, 10, 8, 12, 9]


def test_rfc_rule_evaluation():
    rules = parse_robots_txt(WILD)["rules"]
    cases = {
        "/case/9": False,  # wildcard + end anchor
        "/case/19": False,
        "/case/199": True,  # longer Allow wins
        "/case/1990": True,  # $ anchor: no match -> allowed
        "/private": False,
        "/private/oknow": True,  # Allow carve-out, longer pattern
        "/private/x": False,
        "/lit$eral/x": False,  # non-trailing $ matched literally
        "/public": True,  # no rule matches
    }
    for path, want in cases.items():
        assert robots_allowed(path, rules) == want, path


def test_allow_beats_disallow_on_equal_length():
    txt = "User-agent: *\nDisallow: /same\nAllow: /same\n"
    rules = parse_robots_txt(txt)["rules"]
    assert robots_allowed("/same/x", rules) is True


def test_empty_text_has_empty_rules():
    assert parse_robots_txt(None)["rules"] == []
    assert parse_robots_txt("")["rules"] == []


def test_column_matcher_equals_python(spark):
    """robots_allowed_col over randomized paths == the Python
    evaluator, rule set compiled from WILD."""
    import pyspark.sql.functions as F

    from indigent_defense_stats_spark.functions.robots import (
        robots_allowed_col,
    )

    rules = parse_robots_txt(WILD)["rules"]
    paths = (
        [f"/case/{n}" for n in range(0, 250, 7)]
        + [f"/private/ok{n}" for n in range(5)]
        + ["/private", "/public", "/lit$eral/x", "/case/199", "/"]
    )
    dim = [(r["regex"], r["allow"], r["prec"]) for r in rules]
    df = spark.createDataFrame([(p,) for p in paths], "path string").withColumn(
        "rules",
        F.lit(None).cast(
            "array<struct<rx:string,allow:boolean,prec:int>>"
        ),
    )
    # literal rule array via a python-side broadcast join substitute
    rules_df = spark.createDataFrame(
        [(1, dim)],
        "k int, rules array<struct<rx:string,allow:boolean,prec:int>>",
    )
    got = {
        r["path"]: r["allowed"]
        for r in df.drop("rules")
        .crossJoin(F.broadcast(rules_df))
        .select(
            "path",
            robots_allowed_col(F.col("path"), F.col("rules")).alias("allowed"),
        )
        .collect()
    }
    assert got == {p: robots_allowed(p, rules) for p in paths}


def test_column_matcher_null_rules_allows(spark):
    import pyspark.sql.functions as F

    from indigent_defense_stats_spark.functions.robots import (
        robots_allowed_col,
    )

    df = spark.createDataFrame([("/x",)], "path string").withColumn(
        "rules",
        F.lit(None).cast("array<struct<rx:string,allow:boolean,prec:int>>"),
    )
    [row] = df.select(
        robots_allowed_col(F.col("path"), F.col("rules")).alias("a")
    ).collect()
    assert row["a"] is True
