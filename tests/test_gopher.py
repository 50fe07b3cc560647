"""Gopher/MassiveText rule gate: one hand-built document per failure mode,
each violating exactly one rule relative to a passing base document."""

from __future__ import annotations

from go_crawler_spark.operators.gopher import gopher_quality_gate

# 60 words, mean length in [3,10], no symbols, no bullets/ellipses, all
# alphabetic, contains >= 2 required stop words ("the", "and")
BASE = (
    "the quick brown fox jumps over and over the lazy dog near a very "
    "calm river bank while many small birds watch from tall green trees "
    "and sing simple songs about warm summer days that never seem to end "
    "while gentle winds carry soft white clouds across wide open skies "
    "toward distant blue hills"
)


def _rows(spark, docs):
    df = spark.createDataFrame(docs, "doc_id int, text string")
    return {
        r["doc_id"]: r.asDict()
        for r in gopher_quality_gate(df, min_words=50).collect()
    }


def test_base_passes_and_each_rule_fails_alone(spark):
    n_base = len(BASE.split())
    assert n_base >= 50
    docs = [
        (0, BASE),
        # 1: too few words
        (1, "the cat and dog sat"),
        # 2: mean word length too high (long tokens)
        (2, " ".join(["pneumonoultramicroscopic"] * 60) + " the and"),
        # 3: symbol ratio >= 0.1 (hashes)
        (3, BASE + " " + "# # # # # # # #"),
        # 4: >= 90% bullet lines
        (4, "\n".join(["- the item and more"] * 10)),
        # 5: >= 30% ellipsis-ending lines
        (5, "\n".join([BASE, "the first and..." , "the second and..."])),
        # 6: < 80% alphabetic words (numbers)
        (6, BASE + " " + " ".join(str(i) for i in range(40))),
        # 7: fewer than 2 required stop words
        (7, BASE.replace("the ", "a ").replace("and ", "or ").replace(
            " that ", " this ").replace(" to ", " at ").replace(
            " over ", " across ")),
    ]
    got = _rows(spark, docs)

    assert got[0]["keep"] is True
    for i in range(1, 8):
        assert got[i]["keep"] is False, (i, got[i])

    # the failing rule is the intended one
    assert got[1]["n_words"] < 50
    assert got[2]["mean_word_len"] > 10.0
    assert got[3]["symbol_ratio"] >= 0.1
    assert got[4]["bullet_frac"] >= 0.9
    assert got[5]["ellipsis_frac"] >= 0.3
    assert got[6]["alpha_word_frac"] < 0.8
    assert got[7]["n_req_stopwords"] < 2

    # ...and no OTHER rule fails for each single-violation doc
    def ok_except(d, skip):
        checks = {
            "n_words": 50 <= d["n_words"] <= 100_000,
            "mean_word_len": 3.0 <= d["mean_word_len"] <= 10.0,
            "symbol_ratio": d["symbol_ratio"] < 0.1,
            "bullet_frac": d["bullet_frac"] < 0.9,
            "ellipsis_frac": d["ellipsis_frac"] < 0.3,
            "alpha_word_frac": d["alpha_word_frac"] >= 0.8,
            "n_req_stopwords": d["n_req_stopwords"] >= 2,
        }
        return all(v for k, v in checks.items() if k != skip)

    for i, rule in [(3, "symbol_ratio"), (6, "alpha_word_frac"),
                    (7, "n_req_stopwords")]:
        assert ok_except(got[i], rule), (i, got[i])


def test_empty_and_blank_text(spark):
    got = _rows(spark, [(0, ""), (1, "   \n  \n ")])
    for i in (0, 1):
        assert got[i]["keep"] is False
        assert got[i]["n_words"] == 0
        assert got[i]["bullet_frac"] == 0.0
        assert got[i]["ellipsis_frac"] == 0.0


def test_unicode_bullet_and_ellipsis(spark):
    got = _rows(spark, [
        (0, "\n".join(["• the point and detail"] * 10)),
        (1, "\n".join([BASE, "the first and…", "the second and…"])),
    ])
    assert got[0]["bullet_frac"] == 1.0
    assert got[1]["ellipsis_frac"] >= 0.3
