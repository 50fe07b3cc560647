"""RFC 9309 robots.txt parsing + longest-match verdicts
(functions/robots.py). Cases follow the RFC's own examples (§2.2.2 /
§5.2) and the widely-published Google robots.txt documentation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_crawler_spark.functions.robots import (
    parse_robots_body,
    parse_robots_rules,
    pattern_to_regex,
    robots_verdict,
    select_agent_group,
)


class TestParse:
    def test_groups_and_directives(self):
        body = "\n".join(
            [
                "# comment line",
                "User-Agent: *",
                "Disallow: /private/",
                "Allow: /private/ok.html",
                "",
                "user-agent: fetchbot",  # case-insensitive key
                "User-agent: altbot",  # consecutive UA lines share rules
                "Disallow: /bots/  # trailing comment",
                "Crawl-delay: 10",  # unknown/ignored directive
                "Disallow:",  # empty value = no rule
            ]
        )
        rules = parse_robots_body(body)
        assert ("*", False, "/private/") in rules
        assert ("*", True, "/private/ok.html") in rules
        assert ("fetchbot", False, "/bots/") in rules
        assert ("altbot", False, "/bots/") in rules
        assert len(rules) == 4

    def test_second_ua_after_rules_starts_new_group(self):
        body = "User-agent: a\nDisallow: /x\nUser-agent: b\nDisallow: /y"
        rules = parse_robots_body(body)
        assert rules == [("a", False, "/x"), ("b", False, "/y")]

    def test_rules_before_any_group_dropped(self):
        assert parse_robots_body("Disallow: /early\nUser-agent: *\nDisallow: /x") == [
            ("*", False, "/x")
        ]

    def test_pattern_to_regex(self):
        assert pattern_to_regex("/a/*.php") == r"^/a/.*\.php"
        assert pattern_to_regex("/fish$") == r"^/fish$"
        assert pattern_to_regex("/p") == "^/p"


class TestVerdict:
    @pytest.fixture(scope="class")
    def rules(self, spark):
        corpus = spark.createDataFrame(
            [
                (
                    "h.example.com",
                    "\n".join(
                        [
                            "User-agent: *",
                            "Disallow: /private/",
                            "Allow: /private/pub/",
                            "Disallow: /*.zip$",
                            "Allow: /page",  # RFC §2.2.2 tie example base
                            "Disallow: /*.htm",
                            "Allow: /folder",
                            "Disallow: /folder",  # equal length: allow wins
                        ]
                    ),
                ),
                (
                    "bots.example.com",
                    "User-agent: fetchbot\nDisallow: /\nUser-agent: *\nDisallow: /none/",
                ),
                ("open.example.com", "# no rules at all\n"),
            ],
            ["host", "body"],
        )
        return parse_robots_rules(corpus)

    def _verdicts(self, spark, rules, urls, agent="*"):
        df = spark.createDataFrame(
            [(u, u.split("/")[2]) for u in urls], ["url", "host"]
        )
        out = robots_verdict(df, rules, agent=agent)
        return {r["url"]: r["robots_allowed"] for r in out.collect()}

    def test_longest_match_and_anchors(self, spark, rules):
        v = self._verdicts(
            spark,
            rules,
            [
                "https://h.example.com/private/secret.html",  # disallow
                "https://h.example.com/private/pub/x",  # longer allow wins
                "https://h.example.com/data/file.zip",  # $-anchored wildcard
                "https://h.example.com/data/file.zip.txt",  # anchor miss
                "https://h.example.com/page.htm",  # /*.htm (len 6) beats /page (5)
                "https://h.example.com/folder/x",  # tie -> allow wins
                "https://h.example.com/other",  # no match -> allowed
            ],
        )
        assert v["https://h.example.com/private/secret.html"] is False
        assert v["https://h.example.com/private/pub/x"] is True
        assert v["https://h.example.com/data/file.zip"] is False
        assert v["https://h.example.com/data/file.zip.txt"] is True
        assert v["https://h.example.com/page.htm"] is False
        assert v["https://h.example.com/folder/x"] is True
        assert v["https://h.example.com/other"] is True

    def test_agent_group_selection(self, spark, rules):
        urls = ["https://bots.example.com/anything", "https://h.example.com/other"]
        # fetchbot has its own group on bots.example.com: Disallow: /
        v = self._verdicts(spark, rules, urls, agent="FetchBot")
        assert v["https://bots.example.com/anything"] is False
        # ...but falls back to * on hosts without a fetchbot group
        assert v["https://h.example.com/other"] is True
        # a generic agent uses the * group (Disallow: /none/ only)
        v2 = self._verdicts(spark, rules, urls, agent="other-bot")
        assert v2["https://bots.example.com/anything"] is True

    def test_unknown_host_and_empty_file_allowed(self, spark, rules):
        v = self._verdicts(
            spark,
            rules,
            ["https://open.example.com/x", "https://nowhere.example.com/y"],
        )
        assert v == {
            "https://open.example.com/x": True,
            "https://nowhere.example.com/y": True,
        }

    def test_select_agent_group_exclusivity(self, spark, rules):
        chosen = select_agent_group(rules, "fetchbot")
        by_host = {}
        for r in chosen.collect():
            by_host.setdefault(r["host"], set()).add(r["agent"])
        assert by_host["bots.example.com"] == {"fetchbot"}
        assert by_host["h.example.com"] == {"*"}


class TestMatcherDifferential:
    """The engine's regex translation (pattern_to_regex -> Java/RE2) and
    the simulator's independent segment scanner must agree on every
    (path, pattern) pair — property-tested over the RFC alphabet."""

    def test_differential_random(self):
        import random
        import re

        from go_crawler_spark.simulator import _rfc_match

        rng = random.Random(42)
        alphabet = "ab/.*"
        checked = 0
        for _ in range(4000):
            pattern = "/" + "".join(
                rng.choice(alphabet) for _ in range(rng.randint(0, 8))
            )
            if rng.random() < 0.3:
                pattern += "$"
            path = "/" + "".join(
                rng.choice("ab/.x") for _ in range(rng.randint(0, 10))
            )
            via_regex = re.search(pattern_to_regex(pattern), path) is not None
            via_scan = _rfc_match(path, pattern)
            assert via_regex == via_scan, (pattern, path)
            checked += 1
        assert checked == 4000


class TestCrawlDelay:
    BODY = "\n".join(
        [
            "User-agent: *",
            "Crawl-delay: 10",
            "Disallow: /x",
            "",
            "User-agent: fetchbot",
            "Crawl-delay: 2.5",
            "",
            "User-agent: broken",
            "Crawl-delay: soon",  # invalid -> dropped
        ]
    )

    def test_parse(self):
        from go_crawler_spark.functions.robots import parse_crawl_delays_body

        assert parse_crawl_delays_body(self.BODY) == [
            ("*", 10.0),
            ("fetchbot", 2.5),
        ]

    def test_slots_conversion(self, spark):
        from go_crawler_spark.functions.robots import (
            crawl_delay_slots,
            parse_crawl_delays,
        )

        corpus = spark.createDataFrame(
            [("a.com", self.BODY), ("b.com", "User-agent: *\nCrawl-delay: 120\n")],
            ["host", "body"],
        )
        delays = parse_crawl_delays(corpus)
        # generic agent at a 60-second round: a.com 60/10 = 6 slots,
        # b.com delay 120 > round -> minimum 1 slot
        star = {
            r["host"]: r["host_slots"]
            for r in crawl_delay_slots(delays, round_seconds=60).collect()
        }
        assert star == {"a.com": 6, "b.com": 1}
        # fetchbot has its own (faster) group on a.com: 60/2.5 = 24
        fb = {
            r["host"]: r["host_slots"]
            for r in crawl_delay_slots(
                delays, round_seconds=60, agent="fetchbot"
            ).collect()
        }
        assert fb == {"a.com": 24, "b.com": 1}


def test_robots_sitemap_refs_edges(spark):
    from go_crawler_spark.functions.robots import robots_sitemap_refs

    body = (
        "User-agent: *\r\n"
        "Disallow: /private\r\n"
        "Sitemap: https://a.example/s1.xml\r\n"
        "SITEMAP:https://a.example/s2.xml   # no space + comment\r\n"
        "sitemap:\r\n"              # empty value -> dropped
        "# Sitemap: https://a.example/commented.xml\r\n"  # whole-line comment
        "Allow: /\r\n"
    )
    df = spark.createDataFrame([("a.example", body), ("b.example", "Allow: /\n")],
                               ["host", "body"])
    got = sorted(
        (r["host"], r["sitemap_url"]) for r in robots_sitemap_refs(df).collect()
    )
    assert got == [
        ("a.example", "https://a.example/s1.xml"),
        ("a.example", "https://a.example/s2.xml"),
    ]


def test_rfc_verdict_on_other_columns(spark):
    """The crawl re-checks a redirect's target: the URL and host sit in
    other columns than the rules table's ``host``."""
    from go_crawler_spark.operators.politeness import robots_blocked

    rules = parse_robots_rules(spark.createDataFrame(
        [("b.com", "User-agent: *\nDisallow: /x\n")], "host string, body string"))
    fr = spark.createDataFrame(
        [("https://a.com/x", "a.com", "https://b.com/x", "b.com"),
         ("https://b.com/x", "b.com", "https://a.com/x", "a.com")],
        "url string, host string, _fetch_url string, _fetch_host string")
    out = robots_blocked(fr, rules, host_col="_fetch_host", url_col="_fetch_url")
    assert sorted((r["url"], r["robots_blocked"]) for r in out.collect()) == [
        ("https://a.com/x", True), ("https://b.com/x", False)]


class TestPrefixGate:
    """The simple ``(host, disallow_prefix)`` shape of
    :func:`go_crawler_spark.operators.politeness.apply_robots`: a
    broadcast per-host prefix array, decided map-side."""

    FRONTIER = [
        ("https://a.com/x/1", "a.com", 1),   # /x prefix: blocked
        ("https://a.com/y", "a.com", 2),     # no matching prefix
        ("https://b.com/", "b.com", 3),      # empty prefix blocks all
        (None, "a.com", 4),                  # NULL path: allowed
        ("https://c.com/x", None, 5),        # NULL host: no rules
        ("https://a.com/xy", "a.com", 6),    # prefix, not segment
        ("https://d.com/x", "d.com", 7),     # host without rules
    ]

    def _split(self, spark, rules):
        from go_crawler_spark.operators.politeness import apply_robots

        fr = spark.createDataFrame(
            self.FRONTIER, "url string, host string, seq long")
        rb = spark.createDataFrame(rules, "host string, disallow_prefix string")
        allowed, blocked = apply_robots(fr, rb)
        return (allowed, sorted(r["seq"] for r in allowed.collect()),
                sorted(r["seq"] for r in blocked.collect()))

    def test_semantics(self, spark):
        rules = [("a.com", "/x"), ("b.com", ""), ("a.com", None)]
        _, allowed, blocked = self._split(spark, rules)
        assert allowed == [2, 4, 5, 7]
        assert blocked == [1, 3, 6]
        # duplicate rules change nothing
        _, allowed2, blocked2 = self._split(spark, rules + rules)
        assert (allowed2, blocked2) == (allowed, blocked)

    def test_frontier_never_shuffled(self, spark):
        import io
        from contextlib import redirect_stdout

        allowed, _, _ = self._split(spark, [("a.com", "/x")])
        buf = io.StringIO()
        with redirect_stdout(buf):
            allowed.explain()
        plan = buf.getvalue()
        assert "BroadcastHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan
