"""Unit tests for the round-5 corpus operators: C4/RefinedWeb line
filtering + corpus-wide exact-line dedup (operators/lines.py), directed
shingle containment (dedup_corpus.containment_verify), the capped inverted
index (operators/index.py), and the hashed-linear quality scorer
(quality.linear_quality_score). The cross-engine DuckDB parity for all
four is pinned by tests/test_queries_oracle.py; these tests pin the
operator SEMANTICS on hand-built corpora where the expected output is
computable by eye."""

from __future__ import annotations

import hashlib

from go_crawler_spark.operators.dedup_corpus import containment_verify
from go_crawler_spark.operators.index import inverted_index
from go_crawler_spark.operators.lines import line_filters
from go_crawler_spark.operators.quality import linear_quality_score


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


GOOD = "alpha beta gamma delta epsilon."  # 5 words, terminal punct


def test_line_rules(spark):
    rows = [
        (
            1,
            "\n".join(
                [
                    GOOD,  # kept
                    "too short.",  # < 5 words
                    "alpha beta gamma delta epsilon",  # no terminal punct
                    "alpha beta gamma { delta epsilon.",  # brace
                    "alpha beta JavaScript delta epsilon.",  # javascript
                    "one two three four five six!",  # kept
                    'quoted one two three four five."',  # kept (quote end)
                ]
            ),
        ),
    ]
    out = line_filters(_docs(spark, rows), min_words=5, min_lines=3).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_lines == 7
    assert r.n_kept == 3
    assert r.n_dropped_rules == 4
    assert r.n_dropped_dup == 0
    assert r.clean_text.split("\n") == [
        GOOD,
        "one two three four five six!",
        'quoted one two three four five."',
    ]


def test_line_min_lines_drops_doc(spark):
    rows = [(1, GOOD + "\n" + "six seven eight nine ten.")]
    assert (
        line_filters(_docs(spark, rows), min_words=5, min_lines=3).count()
        == 0
    )
    assert (
        line_filters(_docs(spark, rows), min_words=5, min_lines=2).count()
        == 1
    )


def test_line_dedup_keeps_first_writer(spark):
    uniq5 = [f"unique five {i} aa bb cc dd." for i in range(3)]
    uniq9 = [f"unique nine {i} aa bb cc dd." for i in range(3)]
    rows = [
        (5, "\n".join([GOOD] + uniq5)),  # doc 5: dup GOOD at idx 1
        (9, "\n".join(uniq9) + "\n" + GOOD),  # doc 9: dup GOOD at idx 4
        (2, "x y z.\n" + GOOD),  # doc 2 < 5 BUT its copy of GOOD is idx 2
    ]
    # winner of GOOD is (2, 2): lowest (doc, idx) in struct order — doc 2
    # holds it even though doc 5 has it at an earlier index.
    out = {
        r["doc_id"]: r
        for r in line_filters(
            _docs(spark, rows), min_words=4, min_lines=1
        ).collect()
    }
    assert GOOD in out[2].clean_text.split("\n")
    assert GOOD not in out[5].clean_text.split("\n")
    assert GOOD not in out[9].clean_text.split("\n")
    assert out[5].n_dropped_dup == 1
    assert out[9].n_dropped_dup == 1
    assert out[2].n_dropped_dup == 0
    # "x y z." has 3 words < min_words=4 → rule-dropped, not dup-dropped
    assert out[2].n_dropped_rules == 1


def test_line_dedup_off(spark):
    rows = [(1, GOOD), (2, GOOD)]
    out = line_filters(
        _docs(spark, rows), min_words=5, min_lines=1, dedup_lines=False
    ).collect()
    assert len(out) == 2
    assert all(r.clean_text == GOOD for r in out)


def test_containment_direction(spark):
    full = "a b c d e f g h i j k l m n o p"
    half = "a b c d e f g h"
    corpus = _docs(spark, [(1, full), (2, half)])
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = containment_verify(
        corpus, pairs, "text", "doc_id", shingle_n=3, threshold=0.9
    ).collect()
    # half ⊆ full: C(2→1) = 1.0; C(1→2) = 6/14 < 0.9 — only one direction
    assert len(out) == 1
    assert (out[0].id_a, out[0].id_b) == (2, 1)
    assert abs(out[0].containment - 1.0) < 1e-12


def test_containment_mutual_for_exact_dup(spark):
    t = "a b c d e f"
    corpus = _docs(spark, [(1, t), (2, t)])
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = containment_verify(
        corpus, pairs, "text", "doc_id", shingle_n=3, threshold=0.99
    ).collect()
    assert sorted((r.id_a, r.id_b) for r in out) == [(1, 2), (2, 1)]


def test_inverted_index_caps_and_counts(spark):
    rows = [(i, "hot cold" if i < 12 else "cold") for i in range(15)]
    out = {
        r["term"]: r
        for r in inverted_index(
            _docs(spark, rows), postings_cap=8, min_df=2
        ).collect()
    }
    assert out["hot"].df == 12
    assert out["hot"].cf == 12
    assert out["hot"].postings == list(range(8))  # capped, lowest ids
    assert out["cold"].df == 15
    assert out["cold"].postings == list(range(8))


def test_inverted_index_min_df_and_cf(spark):
    rows = [(1, "x x x y"), (2, "x z")]
    out = {
        r["term"]: r
        for r in inverted_index(
            _docs(spark, rows), postings_cap=8, min_df=2
        ).collect()
    }
    assert list(out) == ["x"]  # y, z are singletons
    assert out["x"].df == 2
    assert out["x"].cf == 4  # tf 3 + tf 1
    assert out["x"].postings == [1, 2]


def _w(tok: str) -> int:
    h = hashlib.md5(tok.encode()).hexdigest()
    return int(h[:2], 16) - 128


def test_linear_quality_score_matches_md5(spark):
    rows = [(1, "alpha beta beta"), (2, ""), (3, "   ")]
    out = {
        r["doc_id"]: r
        for r in linear_quality_score(_docs(spark, rows)).collect()
    }
    exp = _w("alpha") + 2 * _w("beta")
    assert out[1].score == exp
    assert out[1].n_tokens == 3
    assert abs(out[1].mean_w - round(exp / 3, 6)) < 1e-9
    assert out[1].label == (exp > 0)
    for d in (2, 3):
        assert out[d].score == 0
        assert out[d].n_tokens == 0
        assert out[d].mean_w == 0.0
        assert out[d].label is False


# ---------------------------------------------------------------------------
# mirror-host detection
# ---------------------------------------------------------------------------


def _pages(spark, rows):
    from go_crawler_spark.operators.mirrors import mirror_hosts  # noqa: F401

    return spark.createDataFrame(rows, "host string, fingerprint string")


def test_mirror_hosts_detects_full_mirror(spark):
    from go_crawler_spark.operators.mirrors import mirror_hosts

    rows = [("big.org", f"f{i}") for i in range(10)]
    rows += [("copy.org", f"f{i}") for i in range(5)]  # half-size full mirror
    rows += [("other.org", "g1"), ("other.org", "g2")]
    out = mirror_hosts(_pages(spark, rows), overlap_threshold=0.8).collect()
    assert len(out) == 1
    r = out[0]
    # host_a < host_b in string order
    assert (r.host_a, r.host_b) == ("big.org", "copy.org")
    assert r.shared == 5 and r.size_a == 10 and r.size_b == 5
    assert abs(r.overlap - 1.0) < 1e-12


def test_mirror_hosts_prunes_ubiquitous_fingerprint(spark):
    from go_crawler_spark.operators.mirrors import mirror_hosts

    # 'parked' fp on every host; tiny pair shares ONLY parked content
    hosts = [f"h{i}.org" for i in range(6)] + ["tiny-a.org", "tiny-b.org"]
    rows = [(h, "parked") for h in hosts]
    rows += [(h, f"own-{h}") for h in hosts]  # min_docs satisfied
    out = mirror_hosts(
        _pages(spark, rows),
        overlap_threshold=0.5,
        min_docs=2,
        max_hosts_per_fp=4,
    ).collect()
    assert out == []  # the parked fp (8 hosts > cap 4) never pairs anyone
    # with a higher cap the parked fp pairs EVERY host pair
    out2 = mirror_hosts(
        _pages(spark, rows),
        overlap_threshold=0.5,
        min_docs=2,
        max_hosts_per_fp=64,
    ).collect()
    assert len(out2) == len(hosts) * (len(hosts) - 1) // 2


def test_mirror_hosts_min_docs(spark):
    from go_crawler_spark.operators.mirrors import mirror_hosts

    rows = [("a.org", "x"), ("b.org", "x"), ("b.org", "y")]
    # a.org has 1 distinct fp < min_docs=2 → no pair
    assert (
        mirror_hosts(_pages(spark, rows), overlap_threshold=0.5).collect()
        == []
    )


# ---------------------------------------------------------------------------
# BPE merge training
# ---------------------------------------------------------------------------


def test_bpe_learns_expected_merges(spark):
    from go_crawler_spark.operators.bpe import learn_bpe_merges

    # 'abab' x3 + 'ab' x2: pairs (a,b)=8, (b,a)=3 → merge 1 = ab(8);
    # then (ab,ab)=3 beats nothing else → merge 2 = abab(3)
    rows = [(1, "abab abab abab ab ab")]
    out = learn_bpe_merges(_docs(spark, rows), n_merges=2).collect()
    assert [(r.step, r.left, r.right, r.merged, r.pair_count) for r in out] == [
        (1, "a", "b", "ab", 8),
        (2, "ab", "ab", "abab", 3),
    ]


def test_bpe_greedy_nonoverlapping_merge(spark):
    from go_crawler_spark.operators.bpe import learn_bpe_merges

    # 'aaa': overlapping pair count (a,a)=2 per word; greedy rewrite gives
    # [aa, a] so step 2's top pair is (aa, a)
    rows = [(1, "aaa aaa aaa")]
    out = learn_bpe_merges(_docs(spark, rows), n_merges=2).collect()
    assert [(r.step, r.merged, r.pair_count) for r in out] == [
        (1, "aa", 6),
        (2, "aaa", 3),
    ]


def test_bpe_stops_when_fully_merged(spark):
    from go_crawler_spark.operators.bpe import learn_bpe_merges

    rows = [(1, "ab ab")]
    out = learn_bpe_merges(_docs(spark, rows), n_merges=10).collect()
    # one merge exhausts every adjacent pair → early stop
    assert len(out) == 1
    assert out[0].merged == "ab"


def test_bpe_tie_break_deterministic(spark):
    from go_crawler_spark.operators.bpe import learn_bpe_merges

    # (x,y) and (p,q) both count 2 → lexicographically smaller left wins
    rows = [(1, "xy xy pq pq")]
    out = learn_bpe_merges(_docs(spark, rows), n_merges=1).collect()
    assert (out[0].left, out[0].right) == ("p", "q")


# ---------------------------------------------------------------------------
# randomized model-equivalence (seeded): the Spark operators must match a
# from-scratch pure-Python model on generated corpora that exercise dup
# collisions, skewed lines, and merge cascades harder than the hand cases
# ---------------------------------------------------------------------------


def _py_line_filters(docs, min_words, min_lines):
    import re

    flagged = []  # (doc, idx, line, ok)
    for d, text in docs:
        for i, line in enumerate(text.split("\n"), start=1):
            t = line.strip()
            ok = (
                bool(re.search(r'[.!?"]$', t))
                and len(re.split(r"\s+", t)) >= min_words
                and "{" not in t
                and "javascript" not in t.lower()
            )
            flagged.append((d, i, line, ok))
    first = {}
    for d, i, line, ok in flagged:
        if ok:
            k = line.strip()
            if k not in first or (d, i) < first[k]:
                first[k] = (d, i)
    out = {}
    for d, i, line, ok in flagged:
        r = out.setdefault(d, {"n": 0, "p": 0, "kept": []})
        r["n"] += 1
        if ok:
            r["p"] += 1
            if first[line.strip()] == (d, i):
                r["kept"].append((i, line))
    rows = {}
    for d, r in out.items():
        kept = [l for _, l in sorted(r["kept"])]
        if len(kept) >= min_lines:
            rows[d] = (
                "\n".join(kept),
                r["n"],
                len(kept),
                r["n"] - r["p"],
                r["p"] - len(kept),
            )
    return rows


def test_line_filters_matches_python_model_random(spark):
    import random

    rng = random.Random(1234)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    shared = [
        "shared line %d one two three four." % j for j in range(4)
    ]
    docs = []
    for d in range(30):
        lines = []
        for _ in range(rng.randint(0, 8)):
            kind = rng.random()
            if kind < 0.35:
                lines.append(rng.choice(shared))  # cross-doc dup
            else:
                n = rng.randint(1, 8)
                w = " ".join(rng.choice(vocab) for _ in range(n))
                suf = rng.choice([".", "!", "", " {", " javascript."])
                lines.append(w + suf)
        docs.append((d, "\n".join(lines)))
    exp = _py_line_filters(docs, min_words=4, min_lines=2)
    got = {
        r["doc_id"]: (
            r.clean_text,
            r.n_lines,
            r.n_kept,
            r.n_dropped_rules,
            r.n_dropped_dup,
        )
        for r in line_filters(
            _docs(spark, docs), min_words=4, min_lines=2
        ).collect()
    }
    assert got == exp


def _py_bpe(word_counts, n_merges):
    sym = {w: list(w) for w in word_counts}
    merges = []
    for step in range(1, n_merges + 1):
        stats = {}
        for w, c in word_counts.items():
            s = sym[w]
            for i in range(len(s) - 1):
                stats[(s[i], s[i + 1])] = stats.get((s[i], s[i + 1]), 0) + c
        if not stats:
            break
        (a, b), cnt = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, a, b, a + b, cnt))
        for w, s in sym.items():
            o = []
            for t in s:
                if o and o[-1] == a and t == b:
                    o[-1] = a + b
                else:
                    o.append(t)
            sym[w] = o
    return merges


def test_bpe_matches_python_model_random(spark):
    import random

    from go_crawler_spark.operators.bpe import learn_bpe_merges

    rng = random.Random(77)
    # heavy repetition → deep merge cascades incl. merged-symbol pairs
    words = ["".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
             for _ in range(40)]
    docs = []
    counts: dict[str, int] = {}
    for d in range(12):
        toks = [rng.choice(words) for _ in range(rng.randint(0, 25))]
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        docs.append((d, " ".join(toks)))
    exp = _py_bpe(counts, n_merges=8)
    got = [
        (r.step, r.left, r.right, r.merged, r.pair_count)
        for r in learn_bpe_merges(_docs(spark, docs), n_merges=8).collect()
    ]
    assert got == exp
