"""RFC 9309 robots.txt support: group-aware parsing and longest-match
rule evaluation [EXTENSION — north rule names robots.txt enforcement; the
reference crawler has no robots handling at all].

Semantics implemented from the public RFC 9309 (Koster et al., 2022):

- a *group* is one or more consecutive ``User-agent`` lines followed by
  rules; rules belong to every agent named in the group header
  (RFC §2.2.1);
- crawlers obey the group for their own product token if one exists,
  otherwise the ``*`` group, otherwise everything is allowed (§2.2.1);
- rule patterns support ``*`` (any substring) and a trailing ``$``
  (end anchor); matching is leftmost/prefix-based otherwise (§2.2.3);
- the verdict for a URL is the matching rule with the LONGEST pattern
  (octet length); on a length tie ``Allow`` wins (§2.2.2);
- an empty ``Disallow:`` value means "no rule" (historic allow-all idiom);
- keys are case-insensitive, values are case-sensitive, ``#`` starts a
  comment, unknown directives are ignored (§2.2).

Scale shape: parsing runs once per *host* (a robots corpus is tiny next to
the page corpus — one small file per registrable domain) through an
Arrow-batched ``mapInPandas``; the rules table it yields is a classic
broadcast dimension. Verdict evaluation is a broadcast join frontier ⋈
rules(host) with a JVM ``startswith`` fast path for the (dominant) plain
prefix rules — only patterns that actually contain ``*``/``$`` fall back
to ``regexp_like`` — then a per-URL max over (pattern_len, allow): no
shuffle wider than the frontier's own columns.
"""

from __future__ import annotations

import re
from typing import Iterator, List, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F

ROBOTS_RULES_SCHEMA = (
    "host string, agent string, allow boolean, pattern string, "
    "pattern_len int, regex string"
)


# deterministic synthetic robots corpus for the driver-contract queries:
# exercises groups (incl. multi-agent headers), comments, unknown
# directives, empty values, wildcards, and $-anchors. INPUT data shared
# with tools/gen_fixtures.py (the EXPECTED parse there is an independent
# implementation).
SYNTHETIC_ROBOTS_CORPUS: list[tuple[str, str]] = [
    (
        "h0.example.com",
        "# corpus robots\nUser-agent: *\nDisallow: /private/\n"
        "Allow: /private/pub/\nDisallow: /*.zip$\nCrawl-delay: 5\n",
    ),
    (
        "h1.example.com",
        "User-agent: *\nDisallow: /page\nAllow: /folder\nDisallow: /folder\n"
        "\nUser-agent: fetchbot\nUser-agent: altbot\nDisallow: /\n"
        "Allow: /open/  # comment\nDisallow:\n",
    ),
    ("h2.example.com", "# empty file — everything allowed\n"),
]

# literal rules for the SQL-oracled verdict query (agent column omitted —
# all '*'): (host, allow, pattern)
SYNTHETIC_VERDICT_RULES: list[tuple[str, bool, str]] = [
    ("h0.example.com", False, "/private/"),
    ("h0.example.com", True, "/private/pub/"),
    ("h0.example.com", False, "/*.zip$"),
    ("h1.example.com", False, "/page"),
    ("h1.example.com", True, "/folder"),
    ("h1.example.com", False, "/folder"),
]


def pattern_to_regex(pattern: str) -> str:
    """Translate an RFC 9309 rule pattern to an anchored regex with
    identical semantics in Java regex and RE2: literal segments escaped,
    ``*`` → ``.*``, trailing ``$`` → end anchor. (``re.escape`` emits only
    backslash-punctuation escapes, which Java regex and RE2 both read as
    the literal character.)"""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = ".*".join(re.escape(seg) for seg in body.split("*"))
    return "^" + rx + ("$" if anchored else "")


def parse_robots_body(body: str) -> List[Tuple[str, bool, str]]:
    """Parse one robots.txt body into ``(agent, allow, pattern)`` rules
    (pure function — the unit the tests pin against RFC examples)."""
    rules: List[Tuple[str, bool, str]] = []
    group_agents: List[str] = []
    in_header = False  # collecting consecutive User-agent lines
    for raw_line in body.split("\n"):
        line = raw_line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if not in_header:
                group_agents = []  # a new group header starts
                in_header = True
            group_agents.append(value.lower())
            continue
        in_header = False
        if key not in ("allow", "disallow"):
            continue  # crawl-delay, sitemap, unknown directives
        if not value:
            continue  # empty Disallow/Allow = no rule (historic allow-all)
        if not group_agents:
            continue  # rules before any User-agent line are undefined; drop
        for agent in group_agents:
            rules.append((agent, key == "allow", value))
    return rules


def robots_sitemap_refs(
    df: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """``Sitemap:`` discovery from robots.txt bodies (sitemaps.org
    protocol; RFC 9309 treats it as an "other record" — group-independent,
    so no User-agent state is needed and, unlike the rules parser above,
    the whole extraction is **pure JVM**: split lines → strip ``#``
    comments (same convention as ``parse_robots_body``) → keep
    case-insensitive ``sitemap:`` lines → take the value. One map-only
    pass inside whole-stage codegen; the discovered URLs feed
    ``sources/sitemap.py`` (index → sitemaps → S1 seed URLs).

    Returns (host, sitemap_url), one row per directive; hosts whose
    robots.txt names no sitemap produce no rows.
    """
    lines = F.split(F.col(body_col), r"\r?\n")
    cleaned = F.transform(
        lines, lambda l: F.trim(F.regexp_replace(l, "#.*$", ""))
    )
    sm = F.filter(cleaned, lambda l: l.rlike(r"(?i)^sitemap\s*:"))
    urls = F.transform(
        sm, lambda l: F.trim(F.regexp_replace(l, r"(?i)^sitemap\s*:\s*", ""))
    )
    return (
        df.select(F.col(host_col).alias("host"), F.explode(urls).alias("sitemap_url"))
        .filter(F.length("sitemap_url") > 0)
    )


def parse_crawl_delays_body(body: str) -> List[Tuple[str, float]]:
    """``(agent, delay_seconds)`` per group carrying a ``Crawl-delay``
    directive (non-standard but near-universal; Googlebot ignores it,
    most other crawlers honor it). Invalid/negative values are dropped."""
    out: List[Tuple[str, float]] = []
    group_agents: List[str] = []
    in_header = False
    for raw_line in body.split("\n"):
        line = raw_line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if not in_header:
                group_agents = []
                in_header = True
            group_agents.append(value.lower())
            continue
        in_header = False
        if key != "crawl-delay" or not group_agents:
            continue
        try:
            delay = float(value)
        except ValueError:
            continue
        if delay >= 0:
            out.extend((a, delay) for a in group_agents)
    return out


def parse_crawl_delays(
    df: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """``(host, body)`` robots corpus → ``(host, agent, delay_s)``."""

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hosts, agents, delays = [], [], []
            for host, body in zip(pdf[host_col], pdf[body_col]):
                for agent, delay in parse_crawl_delays_body(body or ""):
                    hosts.append(host)
                    agents.append(agent)
                    delays.append(delay)
            yield pd.DataFrame({"host": hosts, "agent": agents, "delay_s": delays})

    return df.select(F.col(host_col).alias(host_col), F.col(body_col)).mapInPandas(
        explode, "host string, agent string, delay_s double"
    )


def crawl_delay_slots(
    delays: DataFrame, round_seconds: float, agent: str = "*", max_slots: int = 2**31 - 1
) -> DataFrame:
    """Convert per-host crawl delays into per-host politeness slot
    overrides for the round-quantized scheduler: at one fetch per
    ``delay_s``, a host grants ``floor(round_seconds / delay_s)`` fetch
    slots per round (minimum 1 — a delay longer than the round still
    progresses; politeness is quantized to rounds, the same contract as
    ``assign_fetch_slots``). Agent selection: exact group, else ``*``."""
    agent = agent.lower()
    specific = delays.filter(F.col("agent") == agent)
    fallback = delays.filter(F.col("agent") == "*").join(
        specific.select("host").distinct(), "host", "left_anti"
    )
    chosen = specific.unionByName(fallback)
    slots = F.when(
        F.col("delay_s") <= 0, F.lit(max_slots)
    ).otherwise(
        F.greatest(F.floor(F.lit(float(round_seconds)) / F.col("delay_s")), F.lit(1))
    )
    return chosen.groupBy("host").agg(
        F.min(slots).cast("int").alias("host_slots")  # strictest delay wins
    )


def parse_robots_rules(
    df: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """``(host, body)`` robots corpus → exploded rules table
    ``(host, agent, allow, pattern, pattern_len, regex)``. Arrow-batched;
    one python pass per robots file, never per frontier URL."""

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("host", "agent", "allow", "pattern", "pattern_len", "regex")}
            for host, body in zip(pdf[host_col], pdf[body_col]):
                for agent, allow, pattern in parse_robots_body(body or ""):
                    out["host"].append(host)
                    out["agent"].append(agent)
                    out["allow"].append(allow)
                    out["pattern"].append(pattern)
                    out["pattern_len"].append(len(pattern))
                    out["regex"].append(pattern_to_regex(pattern))
            yield pd.DataFrame(out)

    return df.select(F.col(host_col).alias(host_col), F.col(body_col)).mapInPandas(
        explode, ROBOTS_RULES_SCHEMA
    )


def select_agent_group(rules: DataFrame, agent: str) -> DataFrame:
    """Per-host group selection (RFC §2.2.1): hosts with a group for
    ``agent`` use ONLY that group; all other hosts fall back to ``*``.
    Rules tables are broadcast-small, so the anti-join is cheap."""
    agent = agent.lower()
    specific = rules.filter(F.col("agent") == agent)
    fallback = rules.filter(F.col("agent") == "*").join(
        specific.select("host").distinct(), "host", "left_anti"
    )
    return specific.unionByName(fallback)


def robots_verdict(
    frontier: DataFrame,
    rules: DataFrame,
    agent: str = "*",
    url_col: str = "url",
    host_col: str = "host",
) -> DataFrame:
    """Frontier + boolean ``robots_allowed`` column under RFC 9309
    longest-match semantics for ``agent``. No matching rule (or no rules
    for the host at all) ⇒ allowed.

    Plan: frontier ⋈ broadcast(selected rules) on host; per joined row the
    match test is JVM-only — ``startswith`` when the pattern is a plain
    prefix, ``regexp_like`` against the pre-translated anchored regex
    otherwise; the per-URL reduction is ``max(struct(pattern_len, allow))``
    so a length tie resolves to Allow (struct comparison is
    lexicographic and true > false)."""
    chosen = select_agent_group(rules, agent).withColumnRenamed("host", host_col)
    path = F.coalesce(F.parse_url(F.col(url_col), F.lit("PATH")), F.lit("/"))
    is_plain = ~F.col("pattern").contains("*") & ~F.col("pattern").endswith("$")
    matches = F.when(
        is_plain, path.startswith(F.col("pattern"))
    ).otherwise(F.regexp_like(path, F.col("regex")))

    group_cols = [c for c in frontier.columns]
    joined = (
        frontier.join(F.broadcast(chosen), on=host_col, how="left")
        .withColumn(
            "_m",
            F.when(
                F.col("pattern").isNotNull() & matches,
                F.struct(F.col("pattern_len"), F.col("allow")),
            ),
        )
    )
    return (
        joined.groupBy(*group_cols)
        .agg(F.max("_m").alias("_best"))
        .withColumn(
            "robots_allowed",
            F.coalesce(F.col("_best.allow"), F.lit(True)),
        )
        .drop("_best")
    )
