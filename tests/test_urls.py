"""Unit tests for URL canonicalization and Go-compatible save paths.

Ports the semantics pinned by internal/pageparser.go:33-53 and
internal/models.go:208-249 (see docstrings in functions/urls.py).
"""

from go_crawler_spark.functions.urls import (
    asset_save_path,
    canonicalize,
    go_path_base,
    go_path_clean,
    go_path_dir,
    host_of,
    link_target_save_path,
    make_relative_url,
    md5_hex,
    page_save_path,
    registrable_host,
    resolve_local_save_path,
)

PAGE = "https://www.sheldonbrown.com/web_sample1.html"


class TestCanonicalize:
    def test_fragment_stripped_before_resolve(self):
        # pageparser.go:39 — web_glossary.html#browser → absolutized, no fragment
        assert (
            canonicalize(PAGE, "web_glossary.html#browser")
            == "https://www.sheldonbrown.com/web_glossary.html"
        )

    def test_self_fragment_resolves_to_page(self):
        assert canonicalize(PAGE, "web_sample1.html#href2") == PAGE
        assert canonicalize(PAGE, "#href2") == PAGE

    def test_absolute_passthrough(self):
        assert (
            canonicalize(PAGE, "https://www.external.com/1.html")
            == "https://www.external.com/1.html"
        )

    def test_querystring_survives(self):
        # pinned by pageparser_test.go:66-71 (added.js?someAttr=true)
        assert (
            canonicalize(PAGE, "https://www.sheldonbrown.com/common-data/added.js?someAttr=true")
            == "https://www.sheldonbrown.com/common-data/added.js?someAttr=true"
        )

    def test_relative_dotdot(self):
        assert (
            canonicalize("https://h.com/a/b/c.html", "../x.html")
            == "https://h.com/a/x.html"
        )

    def test_unparseable_dropped(self):
        assert canonicalize(PAGE, "http://[bad") is None

    def test_host(self):
        assert host_of(PAGE) == "www.sheldonbrown.com"
        assert host_of("https://h.com:8080/p") == "h.com:8080"
        assert registrable_host("https://UpPer.COM:8080/p") == "upper.com"


class TestGoPath:
    # parity cases with Go's path package (path.Base/Dir/Clean)
    def test_base(self):
        assert go_path_base("") == "."
        assert go_path_base("/") == "/"
        assert go_path_base("/a/b.html") == "b.html"
        assert go_path_base("/a/") == "a"
        assert go_path_base("a") == "a"

    def test_dir(self):
        assert go_path_dir("/a/b.html") == "/a"
        assert go_path_dir("b.html") == "."
        assert go_path_dir("/") == "/"
        assert go_path_dir("") == "."

    def test_clean(self):
        assert go_path_clean("/a/./b/../c") == "/a/c"
        assert go_path_clean("a//b") == "a/b"
        assert go_path_clean("") == "."


class TestSavePath:
    def test_page_with_file(self):
        # models.go:61-63: dir+base, ".html" appended
        assert page_save_path(PAGE) == "/web_sample1.html.html"

    def test_page_root(self):
        # path "" → Dir(".")+Base(".") → fallback "index" → "index.html";
        # path "/" → Dir("/")="/" → "/index.html" (Go path semantics)
        assert page_save_path("https://h.com") == "index.html"
        assert page_save_path("https://h.com/") == "/index.html"

    def test_asset(self):
        # models.go:187-189: no fallback, no ext
        assert (
            asset_save_path("https://www.sheldonbrown.com/common-data/screen.css")
            == "/common-data/screen.css"
        )

    def test_asset_empty_base_md5(self):
        # models.go:222-224: empty name → md5 of full URL
        url = "https://h.com"
        assert asset_save_path(url) == md5_hex(url)

    def test_link_target(self):
        # models.go:96: link target save path gets ".html"
        assert (
            link_target_save_path("https://www.sheldonbrown.com/web_glossary.html")
            == "/web_glossary.html.html"
        )

    def test_querystring_not_in_path(self):
        assert (
            asset_save_path("https://h.com/common-data/added.js?someAttr=true")
            == "/common-data/added.js"
        )


class TestMakeRelativeURL:
    def test_same_dir(self):
        # models.go:233-249: Rel from page dir, "./"-prefixed
        assert make_relative_url("/a/index.html", "/a/style.css") == "./style.css"

    def test_subdir(self):
        assert make_relative_url("/index.html", "/common-data/screen.css") == "./common-data/screen.css"

    def test_updir(self):
        assert make_relative_url("/a/b/index.html", "/a/x.css") == "../x.css"

    def test_mixed_abs_rel_fallback(self):
        # Go filepath.Rel errors on mixed abs/rel → fallback "./"+base
        assert make_relative_url("index.html", "/x/y.css") == "./y.css"


class TestFastPathsDifferential:
    """The regex fast paths in functions/urls.py must be byte-equivalent
    to the urllib/posixpath general paths on every input that takes them.
    Strategy: drive BOTH implementations over adversarial + generated
    inputs and assert equality (the gates may send any input to the slow
    path — that is always safe — but a fast-path result must match what
    the stdlib would have produced)."""

    BASES = [
        "https://www.sheldonbrown.com/web_sample1.html",
        "https://host.example.com/a/b/c.html",
        "https://host.example.com/",
        "https://host.example.com",
        "https://h:8080/x/y.html",
        "http://h/p.html?q=1",
        "http://h/p.html#frag",
        "https://h//double//slash.html",
        "ftp://h/p",
        "relative/base.html",
        "",
    ]
    SRCS = [
        "p8.html", "img/p0.jpg", "common/app.js?v=1", "a#f", "#f", "",
        "x.html#", "x.html?", "?q", "/rooted/x.css", "//proto-rel.com/x",
        "https://abs.com/x.html", "https://abs.com/x.html#frag",
        "HTTP://UPPER.com/x", "https://abs.com", "https://abs.com/",
        "./dot/x.html", "../up/x.html", "a/./b.html", "a/../b.html",
        "a//b.html", "mailto:x@y.z", "javascript:void(0)", "data:text/plain,x",
        "x y.html", "x%20y.html", "sub.dir/deep/er/x.png",
        "https://a\\b/c", "a\\b.html", "p.html?a=1&b=2#x",
        "https://h/p?", "https://h/p?#f", ":colon", "a:b/c",
        " ", " x.html", "x.html ", "a\tb.html", "https://h/p\t.html",
        "https://h/p ", "https://[::1]/x", "https://[bad/x",
        "https://hést.com/x", "https://＃.com/x", "x\né.html",
        "/", "/a/b/", "/a//b", "/a/./b", "/a/../b", "/x?q=1", "/x?",
        "/x#f", "#", "#top", "#a#b", " #top", "#\tx",
    ]

    def test_canonicalize_matches_slow(self):
        from go_crawler_spark.functions.urls import _canonicalize_slow

        for base in self.BASES:
            for src in self.SRCS:
                assert canonicalize(base, src) == _canonicalize_slow(base, src), (
                    base, src)

    def test_canonicalize_matches_slow_hypothesis(self):
        from hypothesis import given, settings, strategies as st

        from go_crawler_spark.functions.urls import _canonicalize_slow

        seg = st.text(
            alphabet="abcXYZ019-._~%+\\:@ #?/\t\n[]é", min_size=0, max_size=8
        )
        url_s = st.one_of(
            seg,
            st.tuples(
                st.sampled_from(["https://", "http://", "HTTPS://", "//", ""]),
                st.sampled_from(["h", "h.example.com", "h:80", ""]),
                seg,
            ).map(lambda t: t[0] + t[1] + "/" + t[2]),
        )

        @settings(max_examples=400, deadline=None)
        @given(base=url_s, src=url_s)
        def check(base, src):
            assert canonicalize(base, src) == _canonicalize_slow(base, src)

        check()

    def test_host_of_matches_urlsplit(self):
        from urllib.parse import urlsplit

        for u in self.BASES + self.SRCS:
            try:
                expect = urlsplit(u).netloc
            except ValueError:
                expect = ""
            assert host_of(u) == expect, u

    def test_save_path_extraction_matches_urlsplit(self):
        for u in self.BASES + self.SRCS:
            # the function's contract is urlsplit(url).path feeding the Go
            # path pipeline; compare against a slow-path clone
            from urllib.parse import urlsplit

            from go_crawler_spark.functions.urls import (
                go_path_base as b, go_path_clean as c, go_path_dir as d,
            )
            import posixpath

            try:
                path = urlsplit(u).path
            except ValueError:
                path = ""
            dd, name = d(path), b(path)
            if name in (".", "/"):
                name = "index"
            if name == "":
                name = md5_hex(u)
            expect = c(posixpath.join(dd, name)) + ".html"
            assert resolve_local_save_path(u, "index", "html") == expect, u

    def test_make_relative_url_matches_posixpath(self):
        import posixpath

        from go_crawler_spark.functions.urls import go_path_base, go_path_dir

        paths = [
            "a/b.html", "a/b/c.css", "x.html", "/r/a.html", "/r/b/c.js",
            "a/b/../c.html", "../up.html", "deep/er/still/x.png", "/",
            "a", "a/", "a//b", "common/site.css",
        ]
        for root in paths:
            for local in paths:
                from_dir = go_path_dir(root)
                if from_dir.startswith("/") != local.startswith("/"):
                    expect = "./" + go_path_base(local)
                else:
                    expect = posixpath.relpath(local, from_dir)
                    if not expect.startswith("."):
                        expect = "./" + expect
                assert make_relative_url(root, local) == expect, (root, local)


def test_rfc3986_normalize_vectors(spark):
    """RFC 3986 §6.2.2/§6.2.3 vectors + malformed-% passthrough."""
    from pyspark.sql import functions as F

    from go_crawler_spark.functions.urls import rfc3986_normalize_expr

    cases = [
        # the spec's own §6.2.2 example shape
        ("HTTP://www.Example.COM:80/%7eSmith/home.html",
         "http://www.example.com/~Smith/home.html"),
        ("https://Example.com:443?q=%3a%2f", "https://example.com/?q=%3A%2F"),
        # userinfo stays case-sensitive; host lowers; :443 drops
        ("https://User:Pw@Host.ORG:443/a", "https://User:Pw@host.org/a"),
        ("http://example.com", "http://example.com/"),
        # non-hierarchical: percent pass only
        ("mailto:Someone@Example.COM", "mailto:Someone@Example.COM"),
        # every unreserved class decodes
        ("http://h/%41%5a%61%7a%30%39%2d%2e%5f%7e", "http://h/AZaz09-._~"),
        # malformed % and reserved %25/%20 pass through byte-identically
        ("http://h/a%zz%", "http://h/a%zz%"),
        ("http://h/100%25%20ok", "http://h/100%25%20ok"),
        # :80 on https (non-default) is KEPT; :443 on http kept
        ("https://h.org:80/x", "https://h.org:80/x"),
        ("http://h.org:443/x", "http://h.org:443/x"),
    ]
    df = spark.createDataFrame([(a, b) for a, b in cases], "u string, want string")
    got = df.select(
        rfc3986_normalize_expr(F.col("u")).alias("n"), "want", "u"
    ).collect()
    for r in got:
        assert r["n"] == r["want"], (r["u"], r["n"], r["want"])


def test_rfc3986_normalize_collapses_seen_identity(spark):
    """The operator's purpose: trivially-equivalent spellings become ONE
    seen-set row."""
    from pyspark.sql import functions as F

    from go_crawler_spark.functions.urls import rfc3986_normalize_expr

    spellings = [
        "http://EXAMPLE.com:80/%7Euser",
        "HTTP://example.COM/%7euser",
        "http://example.com:80/~user",
    ]
    df = spark.createDataFrame([(s,) for s in spellings], "u string")
    n = df.select(rfc3986_normalize_expr(F.col("u")).alias("n")).distinct()
    rows = n.collect()
    assert len(rows) == 1 and rows[0]["n"] == "http://example.com/~user"


def test_rfc3986_normalize_idempotent(spark):
    """Normalizing twice equals normalizing once: the host is lowercased
    AFTER percent-decoding (``ex%41mple`` → ``example``), the hex of
    a percent-triplet left in the host stays upper, and a stray ``%``
    that a decoded character could complete is emitted as ``%25``."""
    from pyspark.sql import functions as F

    from go_crawler_spark.functions.urls import rfc3986_normalize_expr

    cases = [
        ("http://ex%41mple.com/", "http://example.com/"),
        ("HTTP://EX%41MPLE.COM:80/%7eA", "http://example.com/~A"),
        ("https://u%41@H%c3%A9.EX:443?q", "https://uA@h%C3%A9.ex/?q"),
        ("http://ex%2dample.com", "http://ex-ample.com/"),
        ("mailto:Joe%41@x", "mailto:JoeA@x"),
        # a stray % whose decoded successors would complete a triplet
        ("http://a.com/%%34%31", "http://a.com/%2541"),
        ("http://a.com/%4%31x%", "http://a.com/%2541x%"),
    ]
    df = spark.createDataFrame(cases, "u string, want string")
    once = df.select("u", "want", rfc3986_normalize_expr(F.col("u")).alias("n1"))
    twice = once.select(
        "u", "want", "n1", rfc3986_normalize_expr(F.col("n1")).alias("n2"))
    for r in twice.collect():
        assert r["n1"] == r["want"], (r["u"], r["n1"])
        assert r["n2"] == r["n1"], (r["u"], r["n1"], r["n2"])
