"""BPE encode: the JVM fold-chain path, the Arrow rank-dict path, and a
pure-Python classic (iterative lowest-rank-pair) replica must all agree on
trained merge tables — including words never seen in training."""

from __future__ import annotations

import pytest

from go_crawler_spark.operators.bpe import (
    bpe_encode_docs,
    encode_words,
    learn_bpe_merges,
)

CORPUS = [
    (1, "the cat sat on the mat the cat sat"),
    (2, "the bat and the cat and the rat sat flat"),
    (3, "thermal that there matter chatter scatter"),
    (4, "aaa aaaa ab abab ababab"),
]

# words with repeated/overlapping pair structure plus OOV forms
WORDS = [
    "the", "that", "thethe", "cat", "scatter", "matter",
    "aaa", "aaaa", "aaaaa", "ababab", "ba", "xyz", "z", "a",
    "thatthatthat", "catcat",
]


def _classic(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Iterative lowest-rank-adjacent-pair algorithm (subword-nmt /
    GPT-2 style) — the independent model for both engine paths."""
    ranks = {p: i for i, p in enumerate(merges)}
    sym = list(word)
    while len(sym) >= 2:
        best = min(
            ((ranks.get((sym[i], sym[i + 1]), None), i)
             for i in range(len(sym) - 1)),
            key=lambda t: (t[0] is None, t[0]),
        )
        if best[0] is None:
            break
        a, b = merges[best[0]]
        out: list[str] = []
        i = 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


@pytest.fixture(scope="module")
def merges(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id int, text string")
    rows = learn_bpe_merges(docs, n_merges=10).orderBy("step").collect()
    assert len(rows) >= 5
    return [(r["left"], r["right"]) for r in rows]


def _encode_via(spark, merges, jvm_max):
    wdf = spark.createDataFrame([(w,) for w in WORDS], "word string")
    out = encode_words(wdf, merges, jvm_max_merges=jvm_max).collect()
    return {r["word"]: list(r["pieces"]) for r in out}


def test_encode_paths_agree_with_classic(spark, merges):
    jvm = _encode_via(spark, merges, jvm_max=64)
    arrow = _encode_via(spark, merges, jvm_max=0)  # force the pandas path
    model = {w: _classic(w, merges) for w in WORDS}
    assert jvm == model
    assert arrow == model
    # sanity: the merges actually did something beyond char-splitting
    assert any(len(p) > 1 for ps in model.values() for p in ps)


def test_bpe_encode_docs_counts(spark, merges):
    docs = spark.createDataFrame(CORPUS, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["n_words"], r["n_pieces"])
        for r in bpe_encode_docs(docs, merges).collect()
    }
    for doc_id, text in CORPUS:
        words = text.split()
        exp_pieces = sum(len(_classic(w, merges)) for w in words)
        assert got[doc_id] == (len(words), exp_pieces)


def test_encode_accepts_merges_dataframe(spark, merges):
    docs = spark.createDataFrame(CORPUS, "doc_id int, text string")
    mdf = spark.createDataFrame(
        [(i + 1, l, r, l + r, 0) for i, (l, r) in enumerate(merges)],
        "step int, left string, right string, merged string, pair_count long",
    )
    a = sorted(tuple(r) for r in bpe_encode_docs(docs, mdf).collect())
    b = sorted(tuple(r) for r in bpe_encode_docs(docs, merges).collect())
    assert a == b
