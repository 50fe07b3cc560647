"""HTML resource extraction, text extraction, and URL rewrite.

Deterministic pure functions over raw HTML bytes (stdlib ``html.parser`` —
no version-drifting third-party parser), plus Arrow-vectorized pandas-UDF
wrappers. These are the engine's only "parse" code paths.

Reference semantics reproduced:
- resource collection (tags a/link/script/img, document order):
  pkg/htmlparser/parser.go:20-39 (walk parser.go:83-98)
- attribute dispatch (script,img→src; link→href iff type=text/css or
  rel=stylesheet; a→href; first attribute occurrence wins):
  pkg/htmlparser/parser.go:41-65,100-108
- URL rewrite (WriteResourceURL): pkg/htmlparser/parser.go:67-80,110-118.
  DIVERGENCE, documented: the reference re-renders the whole DOM
  (internal/models.go:102-108) which normalizes markup; this engine rewrites
  attribute values *in place*, leaving every other byte identical — a pure,
  deterministic function of (html, url) as the input_hint requires.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import List, Optional, Tuple

import pandas as pd
import pyarrow  # noqa: F401  (assert Arrow availability early)
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from go_crawler_spark.functions.urls import (
    asset_save_path,
    canonicalize,
    host_of,
    link_target_save_path,
    make_relative_url,
    page_save_path,
)

RESOURCE_TAGS = ("a", "link", "script", "img")


def _first_attr(attrs: List[Tuple[str, Optional[str]]], name: str) -> Optional[str]:
    """First occurrence wins — ref: pkg/htmlparser/parser.go:100-108."""
    for k, v in attrs:
        if k == name:
            return v if v is not None else ""
    return None


def _resource_src(tag: str, attrs: List[Tuple[str, Optional[str]]]) -> Optional[str]:
    """Attribute-read dispatch — ref: pkg/htmlparser/parser.go:41-65."""
    if tag in ("script", "img"):
        return _first_attr(attrs, "src")
    if tag == "link":
        type_attr = _first_attr(attrs, "type") or ""
        rel_attr = _first_attr(attrs, "rel") or ""
        if type_attr == "text/css" or rel_attr == "stylesheet":
            return _first_attr(attrs, "href")
        return None
    if tag == "a":
        return _first_attr(attrs, "href")
    return None


class _CollectParser(HTMLParser):
    """Collects (tag, src, byte_offset, raw_tag_text) for resource tags in
    document order. Input is the latin-1 decoding of the raw bytes so that
    offsets are byte offsets and re-encoding roundtrips exactly."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.found: list[tuple[str, str, int, str]] = []
        self._line_starts: list[int] = [0]

    def feed_text(self, s: str) -> None:
        pos = 0
        while True:
            nl = s.find("\n", pos)
            if nl < 0:
                break
            self._line_starts.append(nl + 1)
            pos = nl + 1
        self.feed(s)
        self.close()

    def _abs_offset(self) -> int:
        line, col = self.getpos()
        return self._line_starts[line - 1] + col

    def handle_starttag(self, tag, attrs):
        if tag in RESOURCE_TAGS:
            src = _resource_src(tag, attrs)
            if src is not None:
                raw = self.get_starttag_text() or ""
                self.found.append((tag, src, self._abs_offset(), raw))

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)


# ---------------------------------------------------------------------------
# fast tag scanner
# ---------------------------------------------------------------------------
#
# html.parser walks every byte through goahead() with per-event method
# dispatch, data/charref handling, and newline counting (updatepos) that
# the resource collector never uses. This scanner hops '<'-to-'<' with the
# SAME compiled regexes html.parser itself uses (tagfind_tolerant /
# attrfind_tolerant / locatestarttagend_tolerant / endtagfind), so on the
# constructs it accepts it is byte-equivalent to _CollectParser by
# construction; any construct whose tolerant-mode handling has quirks
# (comments, CDATA/marked sections, processing instructions, bogus
# comments, junk-terminated start tags, non-canonical end tags) makes it
# return None and the caller reparses with the real HTMLParser. Pinned by
# differential + hypothesis tests in tests/test_htmlx.py.

import html.parser as _hp

from html import unescape as _unescape

_LOCATESTART = _hp.locatestarttagend_tolerant
_TAGFIND = _hp.tagfind_tolerant
_ATTRFIND = _hp.attrfind_tolerant
_ENDTAGFIND = _hp.endtagfind
# set_cdata_mode's per-element close pattern, verbatim
_CDATA_CLOSE = {
    t: re.compile(r"</\s*%s\s*>" % t, re.I) for t in ("script", "style")
}
# a start-tag span containing none of these is "plain": every html.parser
# recovery branch for it either ends the construct at the first '>' or
# emits it as data and resumes at the next '<' — which, with no '<' in the
# span, is the same place the skip lands
_TAGSPAN_COMPLEX_RE = re.compile(r"[\"'/<]")
_NAME_END_RE = re.compile(r"[\t\n\r\f ]")
# tags whose attrs (or cdata content mode) the scanner must actually parse
_INTERESTING_TAGS = frozenset(("a", "link", "script", "img", "style"))


def _fast_collect(s: str) -> Optional[list[tuple[str, str, int, str]]]:
    """One-pass clone of ``_CollectParser.found`` over the latin-1 page
    string, or None when the input needs the full HTMLParser."""
    found: list[tuple[str, str, int, str]] = []
    i = 0
    find = s.find
    while True:
        lt = find("<", i)
        if lt < 0:
            return found
        nxt = s[lt + 1 : lt + 2]
        if "a" <= nxt <= "z" or "A" <= nxt <= "Z":
            gt = find(">", lt + 1)
            if gt < 0:
                # no '>' left anywhere: no start tag can ever complete, so
                # no further resources exist (the EOF recovery re-scan only
                # finds constructs that also fail to complete)
                return found
            span = s[lt + 1 : gt]
            if not _TAGSPAN_COMPLEX_RE.search(span):
                nm = _NAME_END_RE.search(span)
                name = (span[: nm.start()] if nm else span).lower()
                if name not in _INTERESTING_TAGS:
                    # plain non-resource tag (or data that html.parser
                    # re-emits and resumes after this same '>'): skip it
                    i = gt + 1
                    continue
            # parse_starttag, minus the junk-recovery branches
            m = _LOCATESTART.match(s, lt)
            j = m.end()
            c = s[j : j + 1]
            if c == ">":
                endpos = j + 1
            elif c == "/" and s.startswith("/>", j):
                endpos = j + 2
            else:
                return None  # tolerant junk/EOF recovery → HTMLParser
            tm = _TAGFIND.match(s, lt + 1)
            tag = tm.group(1).lower()
            k = tm.end()
            attrs: List[Tuple[str, Optional[str]]] = []
            while k < endpos:
                am = _ATTRFIND.match(s, k)
                if not am:
                    break
                attrname, rest, attrvalue = am.group(1, 2, 3)
                if not rest:
                    attrvalue = None
                elif (
                    attrvalue[:1] == "'" == attrvalue[-1:]
                    or attrvalue[:1] == '"' == attrvalue[-1:]
                ):
                    attrvalue = attrvalue[1:-1]
                if attrvalue:
                    attrvalue = _unescape(attrvalue)
                attrs.append((attrname.lower(), attrvalue))
                k = am.end()
            if s[k:endpos].strip() not in (">", "/>"):
                return None  # parse_starttag would emit this as data
            if tag in RESOURCE_TAGS:
                src = _resource_src(tag, attrs)
                if src is not None:
                    found.append((tag, src, lt, s[lt:endpos]))
            i = endpos
            if tag in ("script", "style") and endpos == j + 1:
                # CDATA content mode: skip to the tag's own close pattern
                # (goahead's `interesting` in cdata mode); an unclosed
                # element swallows the rest of the document as data
                cm = _CDATA_CLOSE[tag].search(s, endpos)
                if not cm:
                    return found
                i = cm.end()
        elif nxt == "/":
            # every parse_endtag branch (exact close, tolerant junk, bogus
            # comment, '</>') advances to the first '>' + 1 and emits no
            # resources; with no '>' left, nothing can complete after it
            gt = find(">", lt + 2)
            if gt < 0:
                return found
            i = gt + 1
        elif nxt == "!":
            if s[lt : lt + 9].lower() == "<!doctype":
                gt = find(">", lt + 9)
                if gt < 0:
                    return None  # unterminated decl: EOF re-scan quirks
                i = gt + 1
            else:
                return None  # comment / marked section / bogus comment
        elif nxt == "?":
            return None  # processing instruction
        elif nxt == "":
            return found  # lone '<' at EOF is data
        else:
            i = lt + 1  # '<' not opening a construct is data


def _collect(s: str) -> list[tuple[str, str, int, str]]:
    """(tag, src, byte_offset, raw_tag_text) in document order — fast
    scanner when the input qualifies, full HTMLParser otherwise."""
    found = _fast_collect(s)
    if found is None:
        p = _CollectParser()
        p.feed_text(s)
        found = p.found
    return found


def extract_resources_raw(html: bytes) -> list[tuple[str, str, int]]:
    """Raw-layer extraction: (tag, src, pos) in document order, externals
    kept — ref: pkg/htmlparser/parser.go:20-39 (the parser layer does no
    host filtering, pinned by pkg/htmlparser/parser_test.go:56-59)."""
    if not html:
        return []
    found = _collect(html.decode("latin-1"))
    return [(t, s, i) for i, (t, s, _, _) in enumerate(found)]


def resolve_links_and_assets(page_url: str, html: bytes) -> list[tuple[str, str, int]]:
    """Resolved-layer extraction: canonicalize + same-host filter + classify.

    Returns (kind, url, pos) with kind in {page, asset}; pos is the raw
    document position (link_pos in the canonical order key).
    ref: internal/pageparser.go:28-68 (fragment strip :39, absolutize :42,
    same-host :45-47, a→Link else asset :49-64). The inner re-check for
    external ``a`` at pageparser.go:50-53 is dead code (always false after
    the outer filter) and is intentionally not reproduced.
    """
    page_host = host_of(page_url)
    out: list[tuple[str, str, int]] = []
    for tag, src, pos in extract_resources_raw(html):
        resolved = canonicalize(page_url, src)
        if resolved is None:
            continue
        if host_of(resolved) != page_host:
            continue
        kind = "page" if tag == "a" else "asset"
        out.append((kind, resolved, pos))
    return out


class _TextParser(HTMLParser):
    _SKIP = {"script", "style"}

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.chunks: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in self._SKIP:
            self._skip_depth += 1

    def handle_endtag(self, tag):
        if tag in self._SKIP and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data):
        if self._skip_depth == 0 and data.strip():
            self.chunks.append(data)


def extract_text(html: bytes) -> str:
    """Deterministic text extraction: UTF-8 decode (errors replaced),
    script/style stripped, entity-decoded, whitespace-normalized. This is
    the engine's golden ``text`` column — byte-identical per url across
    runs (input_hint invariant)."""
    if not html:
        return ""
    p = _TextParser()
    p.feed(html.decode("utf-8", errors="replace"))
    p.close()
    return " ".join(" ".join(c.split()) for c in p.chunks)


# ---------------------------------------------------------------------------
# rewrite (T1)
# ---------------------------------------------------------------------------

_ATTR_RE_CACHE: dict[str, re.Pattern] = {}


def _attr_value_re(attr: str) -> re.Pattern:
    if attr not in _ATTR_RE_CACHE:
        _ATTR_RE_CACHE[attr] = re.compile(
            r"(?is)(\b%s\s*=\s*)(\"[^\"]*\"|'[^']*'|[^\s>]*)" % re.escape(attr)
        )
    return _ATTR_RE_CACHE[attr]


_WRITE_ATTR = {"script": "src", "img": "src", "link": "href", "a": "href"}


def parse_page(page_url: str, html: bytes) -> tuple[list[tuple[str, str, int]], bytes]:
    """ONE DOM parse producing BOTH the resolved children (==
    ``resolve_links_and_assets``) and the rewritten page bytes (==
    ``rewrite_html``) — byte-identical to calling the two separately,
    at half the parse CPU and, in the crawl plan, half the Arrow traffic
    (the ~KB html column crosses the Python boundary once, not twice).

    ref: parse internal/pageparser.go:28-68 + transform internal/
    models.go:83-110 — the reference also runs these on the same item in
    one worker pass (main.go:184-252 parse stage feeding save's Transform).
    """
    if not html:
        return [], html
    s = html.decode("latin-1")
    page_host = host_of(page_url)
    page_path = page_save_path(page_url)

    children: list[tuple[str, str, int]] = []
    edits: list[tuple[int, int, str]] = []
    for pos, (tag, src, off, raw) in enumerate(_collect(s)):
        resolved = canonicalize(page_url, src)
        if resolved is None or host_of(resolved) != page_host:
            continue
        kind = "page" if tag == "a" else "asset"
        children.append((kind, resolved, pos))
        local = link_target_save_path(resolved) if tag == "a" else asset_save_path(resolved)
        new_url = make_relative_url(page_path, local)
        attr = _WRITE_ATTR[tag]
        m = _attr_value_re(attr).search(raw)
        if not m:
            continue
        old_val = m.group(2)
        if old_val.startswith(("\"", "'")):
            new_val = old_val[0] + new_url + old_val[0]
        else:
            new_val = new_url
        edits.append((off + m.start(2), off + m.end(2), new_val))

    if not edits:
        return children, html
    out: list[str] = []
    cursor = 0
    for start, end, repl in sorted(edits):
        if start < cursor:  # overlapping duplicate attr matches: keep first
            continue
        out.append(s[cursor:start])
        out.append(repl)
        cursor = end
    out.append(s[cursor:])
    return children, "".join(out).encode("latin-1")


def rewrite_html(html: bytes, page_url: str) -> bytes:
    """Rewrite same-host resource URLs to relative local paths, in place.

    For each resource that survives canonicalize+same-host (exactly the set
    resolveLinksAndAssets returns): assets → makeRelativeURL(page_path,
    asset_save_path) (ref: internal/models.go:92-95), links →
    makeRelativeURL(page_path, resolveLocalSavePath(url, "", "html"))
    (ref: internal/models.go:96-99). Attribute written per WriteResourceURL
    dispatch (pkg/htmlparser/parser.go:67-80); attribute must already exist
    (parser.go:110-118 only overwrites, never inserts).

    Every byte outside the rewritten attribute values is preserved.
    """
    if not html:
        return html
    s = html.decode("latin-1")
    page_host = host_of(page_url)
    page_path = page_save_path(page_url)

    edits: list[tuple[int, int, str]] = []  # (start, end, replacement) over raw tag span
    for tag, src, off, raw in _collect(s):
        resolved = canonicalize(page_url, src)
        if resolved is None or host_of(resolved) != page_host:
            continue
        if tag == "a":
            local = link_target_save_path(resolved)
        else:
            local = asset_save_path(resolved)
        new_url = make_relative_url(page_path, local)
        attr = _WRITE_ATTR[tag]
        m = _attr_value_re(attr).search(raw)
        if not m:
            continue
        old_val = m.group(2)
        if old_val.startswith(("\"", "'")):
            new_val = old_val[0] + new_url + old_val[0]
        else:
            new_val = new_url
        start = off + m.start(2)
        end = off + m.end(2)
        edits.append((start, end, new_val))

    if not edits:
        return html
    out: list[str] = []
    cursor = 0
    for start, end, repl in sorted(edits):
        if start < cursor:  # overlapping duplicate attr matches: keep first
            continue
        out.append(s[cursor:start])
        out.append(repl)
        cursor = end
    out.append(s[cursor:])
    return "".join(out).encode("latin-1")


# ---------------------------------------------------------------------------
# vectorized pandas UDFs
# ---------------------------------------------------------------------------

EXTRACT_SCHEMA = ArrayType(
    StructType(
        [
            StructField("kind", StringType()),
            StructField("url", StringType()),
            StructField("pos", IntegerType()),
        ]
    )
)
@pandas_udf(EXTRACT_SCHEMA)
def extract_resolved_udf(page_url: pd.Series, html: pd.Series) -> pd.Series:
    """P1+P2+P3+P4+P5+P6 fused in one Arrow batch pass: html bytes →
    resolved same-host children [(kind, url, pos)]. An empty/missing body
    parses to zero children — a skipped-download page still flows
    (ref: cmd/crawler/main.go:158-163, SURVEY §3.2)."""
    return pd.Series(
        [
            resolve_links_and_assets(u, h) if (h is not None and u is not None) else []
            for u, h in zip(page_url, html)
        ],
        dtype=object,
    )


PARSE_PAGE_SCHEMA = StructType(
    [
        StructField("children", EXTRACT_SCHEMA),
        StructField("html_out", BinaryType()),
    ]
)


@pandas_udf(PARSE_PAGE_SCHEMA)
def parse_page_udf(page_url: pd.Series, html: pd.Series) -> pd.DataFrame:
    """Fused extract+rewrite (see ``parse_page``): one parse, one Arrow
    round-trip for the heavy html column."""
    children: list = []
    html_out: list = []
    for u, h in zip(page_url, html):
        if h is None or u is None:
            children.append([])
            html_out.append(h)
        else:
            c, ho = parse_page(u, h)
            children.append(c)
            html_out.append(ho)
    return pd.DataFrame({"children": children, "html_out": html_out})


# ---------------------------------------------------------------------------
# anchor-text extraction [EXTENSION — LLM-pipeline]
# ---------------------------------------------------------------------------
#
# Per-target anchor text is the classic web-corpus signal the crawl graph
# gives away for free (link-text features for URL quality / query-doc
# relevance; e.g. anchors feed the quality classifiers of production
# crawl curation). The reference parses <a> tags but discards their inner
# text (internal/pageparser.go:28-68 keeps only the resolved URL); this
# layer keeps (resolved url, normalized text) pairs. Unlike the resource
# scanner above, no byte offsets or rewrite fidelity are needed, so the
# stock HTMLParser is used directly.


class _AnchorParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.pairs: list[tuple[str, str, int]] = []  # (href, text, pos)
        self._open: list[tuple[str, int, list]] = []
        self._n = 0

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            href = _first_attr(attrs, "href")
            if href is not None:
                self._open.append((href, self._n, []))
                self._n += 1

    def handle_startendtag(self, tag, attrs):
        # <a ... /> — empty anchor, dropped by the text filter below
        pass

    def handle_endtag(self, tag):
        if tag == "a" and self._open:
            href, pos, parts = self._open.pop()
            self.pairs.append((href, "".join(parts), pos))

    def handle_data(self, data):
        for _, _, parts in self._open:
            parts.append(data)


def extract_anchor_texts(page_url: str, html: bytes) -> list[tuple[str, str, int]]:
    """(resolved_url, anchor_text, pos) for every ``<a href>`` whose
    normalized inner text is non-empty, in document order (pos = open
    order). Text = concatenated text nodes (entities unescaped, nested
    markup transparent), whitespace collapsed to single spaces. URLs go
    through the same canonicalization as the children pipeline (fragment
    strip + RFC 3986 absolutize) but are NOT same-host-filtered — anchors
    pointing off-host are exactly the valuable ones. Unclosed anchors at
    EOF are flushed (malformed pages still contribute)."""
    p = _AnchorParser()
    try:
        p.feed(html.decode("utf-8", "replace"))
        p.close()
    except Exception:  # noqa: BLE001 — parser blow-up == no anchors
        return []
    while p._open:
        href, pos, parts = p._open.pop()
        p.pairs.append((href, "".join(parts), pos))
    out: list[tuple[str, str, int]] = []
    for href, text, pos in p.pairs:
        norm = " ".join(text.split())
        if not norm:
            continue
        resolved = canonicalize(page_url, href)
        if resolved is None:
            continue
        out.append((resolved, norm, pos))
    out.sort(key=lambda t: t[2])
    return out


ANCHOR_SCHEMA = ArrayType(
    StructType(
        [
            StructField("url", StringType()),
            StructField("anchor", StringType()),
            StructField("pos", IntegerType()),
        ]
    )
)


@pandas_udf(ANCHOR_SCHEMA)
def extract_anchors_udf(page_url: pd.Series, html: pd.Series) -> pd.Series:
    return pd.Series(
        [
            extract_anchor_texts(u, h)
            if (h is not None and u is not None) else []
            for u, h in zip(page_url, html)
        ],
        dtype=object,
    )
