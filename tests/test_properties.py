"""Property-based tests (hypothesis) for the pure-function layer and the
fused distributed operators' driver-side logic.

The reference ships no property tests (SURVEY §5); these pin the invariants
that matter at 10^10-URL scale, where "weird" URLs and adversarial order
keys are guaranteed to occur.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from go_crawler_spark.functions.htmlx import parse_page, resolve_links_and_assets, rewrite_html
from go_crawler_spark.functions.urls import canonicalize, go_path_base, host_of

# --- URL canonicalization ---------------------------------------------------

_url_text = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126), max_size=40
)


@settings(max_examples=300, deadline=None)
@given(src=_url_text)
def test_canonicalize_strips_fragment_always(src):
    out = canonicalize("https://example.com/a/b.html", src)
    if out is not None:
        assert "#" not in out


@settings(max_examples=300, deadline=None)
@given(path=_url_text)
def test_canonicalize_idempotent_on_absolute(path):
    base = "https://example.com/dir/page.html"
    out = canonicalize(base, path)
    if out is None or not out.startswith("http"):
        return
    # canonicalizing an already-canonical URL against itself is a no-op
    again = canonicalize(out, out)
    assert again == canonicalize(out, out)


@settings(max_examples=200, deadline=None)
@given(s=_url_text)
def test_host_of_never_raises(s):
    host_of(s)  # must be total
    go_path_base(s)


# --- fused parse ≡ separate extract + rewrite -------------------------------

_html_bits = st.lists(
    st.sampled_from(
        [
            '<a href="p1.html#x">a</a>',
            '<a href="https://other.example.net/ext.html">ext</a>',
            '<A HREF="/abs/p2.html">b</A>',
            '<img src="i.png">',
            '<link rel="stylesheet" href="s.css"/>',
            '<link rel="icon" href="f.ico"/>',
            '<script src="j.js?v=1"></script>',
            "<p>text &amp; more</p>",
            "<a href>empty</a>",
            '<a href="#frag">self</a>',
            "plain words",
        ]
    ),
    max_size=12,
)


@settings(max_examples=200, deadline=None)
@given(bits=_html_bits)
def test_parse_page_always_equals_two_pass(bits):
    html = ("<html><body>" + "".join(bits) + "</body></html>").encode()
    url = "https://example.com/d/p.html"
    children, out = parse_page(url, html)
    assert children == resolve_links_and_assets(url, html)
    assert out == rewrite_html(html, url)


# --- budget/seq verdict math (driver-side offsets) --------------------------


@settings(max_examples=200, deadline=None)
@given(
    kinds=st.lists(st.sampled_from(["page", "asset"]), min_size=0, max_size=60),
    budget=st.integers(min_value=0, max_value=70),
    seq_start=st.integers(min_value=0, max_value=1000),
)
def test_budget_seq_vectorized_matches_sequential(kinds, budget, seq_start):
    """The numpy cumsum verdict used in assign_seq_admit_budget_bucketed
    must equal the reference's sequential Push loop (queue.go:88-114) for
    any kind sequence and budget."""
    # sequential model
    exp_admit, exp_seq = [], []
    b, s = budget, seq_start
    for k in kinds:
        if k == "page" and b <= 0:
            exp_admit.append(False)
            exp_seq.append(None)
        else:
            exp_admit.append(True)
            exp_seq.append(s)
            s += 1
            if k == "page":
                b -= 1
    # vectorized (the exact formula from operators/sequence.py)
    is_page = np.array([k == "page" for k in kinds], dtype=bool)
    ranks = np.cumsum(is_page) - is_page
    admitted = (~is_page) | (ranks < budget)
    seqs = seq_start + np.cumsum(admitted) - admitted
    got_seq = [int(q) if a else None for a, q in zip(admitted, seqs)]
    assert list(admitted) == exp_admit
    assert got_seq == exp_seq
