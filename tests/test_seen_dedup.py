"""The one seen-dedup implementation (operators.dedup.dedup_against_seen):
the seen filter's Python verdict runs once per row and never over the
seen table."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from go_crawler_spark.operators.dedup import BloomFilter, dedup_against_seen


def _depth(line: str) -> int:
    m = re.search(r"[+:]- ", line)
    return m.start() if m else -1


def _subtrees(plan: str, marker: str) -> list[str]:
    """The tree-string subtree of every plan node whose line holds
    ``marker`` (a child line is indented past its parent's ``+-``)."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if marker in line:
            sub = [line]
            for nxt in lines[i + 1:]:
                if _depth(nxt) <= _depth(line):
                    break
                sub.append(nxt)
            out.append("\n".join(sub))
    return out


def _children(subtree: str) -> list[str]:
    """The subtrees of a node's direct children."""
    lines = subtree.splitlines()[1:]
    top = min(_depth(line) for line in lines)
    starts = [i for i, line in enumerate(lines) if _depth(line) == top]
    return ["\n".join(lines[a:b]) for a, b in zip(starts, starts[1:] + [len(lines)])]


def test_filter_verdict_runs_once_and_never_over_seen(spark, tmp_path):
    """One ``maybe_seen`` evaluation in the executed plan, and none on the
    anti-join's ``seen`` side: the optimizer once copied the verdict's
    filter across the join key onto the seen scan, and a definite-new /
    maybe-seen union evaluated it once per branch."""
    urls = spark.range(300).select(
        F.concat(F.lit("https://a.example/p"), F.col("id").cast("string")).alias("url"),
        F.col("id").alias("parent_seq"),
    )
    seen_path = str(tmp_path / "seen")
    urls.filter(F.col("parent_seq") % 3 == 0).select("url").write.parquet(seen_path)
    seen = spark.read.parquet(seen_path)
    bloom = BloomFilter(1 << 16, 4)
    hashes = seen.select(F.xxhash64("url").alias("h1"),
                         F.xxhash64("url", F.lit(0x9E3779B9)).alias("h2")).toPandas()
    bloom.add_many(hashes["h1"].to_numpy(), hashes["h2"].to_numpy())

    out = dedup_against_seen(urls, seen, "url", bloom, mark_definite="_definite")
    rows = out.collect()
    assert sorted(r["parent_seq"] for r in rows) == [i for i in range(300) if i % 3]

    final = out._jdf.queryExecution().executedPlan().executedPlan().toString()
    evals = [line for line in final.splitlines()
             if "ArrowEvalPython" in line and "maybe_seen" in line]
    assert len(evals) == 1, final
    (join,) = _subtrees(final, "LeftAnti")
    seen_side = [c for c in _children(join) if seen_path in c]
    assert len(seen_side) == 1, final
    assert "maybe_seen" not in seen_side[0], final
