"""Spider-trap detection via URL-template census [EXTENSION — frontier
hygiene]. A 10^10-URL frontier's worst enemy is not volume but GENERATED
volume: calendar pages, unbounded pagination, and numeric session ids mint
infinitely many URLs whose content barely varies. The reference crawler
has no defense (its budget just fills up, internal/queue.go:101-106); a
production frontier needs one before the seen-set and the budget are
wasted on a trap.

Detection signal (Heritrix/Nutch folklore, made deterministic): group the
frontier by :func:`go_crawler_spark.functions.urls.url_template_expr`
(host + digit-collapsed path) and flag templates that are BOTH prolific
(``n_urls >= min_urls``) and content-poor (distinct content fingerprints
are at most 1/4 of the URL count — an integer comparison, no float
threshold, so the SQL oracle reproduces the verdict exactly).

Scale shape: one groupBy on the template (map-side combined; the exchange
carries (template, fingerprint) pairs — never page bytes); the census
output is bounded by the number of distinct templates, orders of magnitude
below the URL count. At 10^10 URLs swap the exact
``count_distinct(fingerprint)`` for ``approx_count_distinct`` — same plan
shape, HLL instead of exact dedup (the oracle keeps the exact form).
Flagged templates feed the frontier as an anti-join gate, exactly like the
blocklist (``url_blocklist_gate``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from go_crawler_spark.functions.urls import url_template_expr


def url_trap_census(
    urls: DataFrame,
    url_col: str = "url",
    fp_col: str = "fingerprint",
    min_urls: int = 20,
) -> DataFrame:
    """(template, n_urls, n_distinct_fp, is_trap) over a frontier/log of
    (url, content-fingerprint) rows. ``is_trap`` = prolific AND
    content-poor (see module docstring)."""
    t = urls.select(
        url_template_expr(F.col(url_col)).alias("template"),
        F.col(fp_col).alias("_fp"),
    )
    census = t.groupBy("template").agg(
        F.count("*").alias("n_urls"),
        F.count_distinct("_fp").alias("n_distinct_fp"),
    )
    return census.select(
        "template",
        "n_urls",
        "n_distinct_fp",
        (
            (F.col("n_urls") >= min_urls)
            & (F.col("n_distinct_fp") * 4 <= F.col("n_urls"))
        ).alias("is_trap"),
    )


def mark_traps(
    frontier: DataFrame, trap_templates: DataFrame, url_col: str = "url"
) -> DataFrame:
    """``frontier`` plus a boolean ``trapped`` column — the crawl-loop
    form of :func:`trap_gate` (one broadcast left join; the template list
    is census-sized, tiny next to the frontier). ``trap_templates`` is
    either a raw (template) list or a full :func:`url_trap_census` output
    (rows with ``is_trap`` false are ignored)."""
    tpl = trap_templates
    if "is_trap" in tpl.columns:
        tpl = tpl.filter(F.col("is_trap"))
    traps = tpl.select(F.col("template").alias("_tpl"),
                       F.lit(True).alias("_trap_hit"))
    keyed = frontier.withColumn("_tpl", url_template_expr(F.col(url_col)))
    return keyed.join(F.broadcast(traps), "_tpl", "left").select(
        *frontier.columns,
        F.coalesce(F.col("_trap_hit"), F.lit(False)).alias("trapped"),
    )


def trap_gate(frontier: DataFrame, census: DataFrame, url_col: str = "url") -> DataFrame:
    """Drop frontier rows whose URL template is a flagged trap — a
    broadcast anti-join on the (small) trap-template list, the same shape
    as the domain blocklist gate."""
    traps = census.filter(F.col("is_trap")).select("template")
    keyed = frontier.withColumn("_tpl", url_template_expr(F.col(url_col)))
    return (
        keyed.join(
            F.broadcast(traps),
            keyed["_tpl"] == traps["template"],
            "left_anti",
        ).drop("_tpl")
    )
