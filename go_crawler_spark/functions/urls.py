"""URL canonicalization, host extraction, and save-path resolution.

Pure functions first (unit-testable, deterministic), then vectorized
pandas-UDF wrappers operating on Arrow batches. No per-row Python UDFs
anywhere in the hot path — the batch wrappers are the only entry Spark uses.

Reference semantics reproduced here:
- fragment strip:   internal/pageparser.go:39
- absolutize:       internal/pageparser.go:42 (RFC 3986 ResolveReference)
- same-host check:  internal/pageparser.go:45-47
- save paths:       internal/models.go:208-231 (md5 fallback models.go:208-211)
- relative rewrite: internal/models.go:233-249
"""

from __future__ import annotations

import functools
import hashlib
import posixpath
import re
from typing import Optional
from urllib.parse import urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# ---------------------------------------------------------------------------
# pure functions
# ---------------------------------------------------------------------------

# Fast paths for the URL shapes that dominate a web corpus. Each is gated
# to inputs where it is PROVABLY byte-equivalent to the urllib/posixpath
# general path (the gate falls through to the stdlib on anything unusual),
# and pinned by differential tests (tests/test_urls.py) that compare fast
# vs stdlib over generated and golden inputs. urllib's generic parser costs
# ~25 µs per resolve — ×20 resources/page × 10^10 pages it is the single
# largest CPU line in the crawl after the HTML scan itself.

# netloc restricted to printable ASCII reg-name/userinfo/port characters,
# EXCLUDING brackets: urlsplit raises ValueError on mismatched or invalid
# bracketed (IPv6) hosts and on non-ASCII netlocs whose NFKC normalization
# introduces separators, so any url whose authority falls outside this
# class must take the stdlib path to reproduce those outcomes
_NETLOC_SAFE = r"[A-Za-z0-9._~%!$&'()*+,;=:@-]"

# absolute http(s) URL with lowercase scheme, a real authority, and a
# '/'-rooted path free of dot segments: fragment-strip + resolve is the
# identity (urlsplit/urlunsplit roundtrip exactly; urljoin returns the
# ref unchanged after its no-op remove_dot_segments)
_ABS_FAST_RE = re.compile(
    r"^https?://" + _NETLOC_SAFE + r"+(/(?:[^?#/\\]*/)*[^?#/\\]*)(\?[^#]*)?(#.*)?$"
)
# relative reference: plain path segments (no scheme/authority/rooted
# start, no dot segments, no backslash or other parse-altering chars),
# optional non-empty-or-absent query, optional fragment (stripped)
_REL_FAST_RE = re.compile(
    r"^(?!/)(?![A-Za-z][A-Za-z0-9+.-]*:)"
    r"((?:[^/?#\\:]+/)*[^/?#\\:]+)(\?[^#]*)?(#.*)?$"
)
# base page URL usable for fast relative resolution: absolute http(s),
# no query/fragment of its own, no dot segments, and no EMPTY path
# segments — urljoin's merge step drops empty segments ("//a//b" → "/a/b"),
# so double-slash bases take the slow path
_BASE_FAST_RE = re.compile(
    r"^(https?://" + _NETLOC_SAFE + r"+)((?:/[^?#/\\]+)*/?)$"
)

# rooted (host-relative) reference: single-'/' start, non-empty inner
# segments (urljoin's segment walk preserves only '.'/'..'-free shapes
# verbatim), optional query/fragment as in the other fast shapes
_ROOTED_FAST_RE = re.compile(
    r"^(/(?!/)(?:[^/?#\\]+/)*[^/?#\\]*)(\?[^#]*)?(#.*)?$"
)
# base whose scheme://netloc prefix a rooted ref can be glued onto — the
# base's own path/query/fragment are irrelevant for rooted resolution
_HOSTONLY_FAST_RE = re.compile(r"^(https?://" + _NETLOC_SAFE + r"+)(?=[/?#]|$)")

_DOTSEG_RE = re.compile(r"(?:^|/)\.\.?(?:/|$)")

# urlsplit strips C0-control-or-space characters from both ends of the url
# and removes tab/CR/LF anywhere before splitting; a string containing any
# of those must take the stdlib path so the stripping is reproduced
_WS_UNSAFE_RE = re.compile(r"^[\x00-\x20]|[\x00-\x20]$|[\t\n\r]")


def canonicalize(page_url: str, src: str) -> Optional[str]:
    """Fragment-strip then absolutize ``src`` against ``page_url``.

    ref: internal/pageparser.go:33-42 — unparseable URLs are dropped
    (return None), the fragment is cleared *before* resolution, and
    resolution follows RFC 3986 (Go's ResolveReference ≡ urljoin).
    """
    if not src or src[0] == "#":
        # fragment-only (or empty) ref: clearing the fragment leaves the
        # empty reference, and urljoin(base, "") returns base verbatim
        # before parsing it — exact for every page_url
        return page_url
    if not _WS_UNSAFE_RE.search(src):
        m = _ABS_FAST_RE.match(src)
        if (
            m
            and not _DOTSEG_RE.search(m.group(1))
            and m.group(2) != "?"
            # the slow path still urlsplits page_url inside urljoin, which
            # can raise ValueError (→ None) for bracketed or non-ASCII
            # authorities — only skip the parse when that cannot happen
            and page_url.isascii()
            and "[" not in page_url
            and "]" not in page_url
        ):
            # identity resolve: drop the fragment, keep everything else
            return src[: m.start(3)] if m.group(3) is not None else src
        m = _REL_FAST_RE.match(src)
        if (
            m
            and not _DOTSEG_RE.search(m.group(1))
            and m.group(2) != "?"
            and not _WS_UNSAFE_RE.search(page_url)
        ):
            b = _BASE_FAST_RE.match(page_url)
            if b and not _DOTSEG_RE.search(b.group(2)):
                ref = src[: m.start(3)] if m.group(3) is not None else src
                base_path = b.group(2)
                base_dir = base_path[: base_path.rfind("/") + 1] or "/"
                return b.group(1) + base_dir + ref
        m = _ROOTED_FAST_RE.match(src)
        if (
            m
            and not _DOTSEG_RE.search(m.group(1))
            and m.group(2) != "?"
            and not _WS_UNSAFE_RE.search(page_url)
        ):
            b = _HOSTONLY_FAST_RE.match(page_url)
            if b:
                ref = src[: m.start(3)] if m.group(3) is not None else src
                return b.group(1) + ref
    return _canonicalize_slow(page_url, src)


def _canonicalize_slow(page_url: str, src: str) -> Optional[str]:
    try:
        parts = urlsplit(src)
    except ValueError:
        return None
    # drop anchor (pageparser.go:39): clearing Fragment before resolve means
    # a bare "#frag" href resolves to the page URL itself.
    src_nofrag = urlunsplit((parts.scheme, parts.netloc, parts.path, parts.query, ""))
    try:
        return urljoin(page_url, src_nofrag)
    except ValueError:
        return None


# scheme://authority prefix whose netloc a plain scan can read off —
# identical to urlsplit().netloc whenever the url starts scheme + "//"
# with a bracket-free ASCII authority (see _NETLOC_SAFE)
_NETLOC_FAST_RE = re.compile(
    r"^[A-Za-z][A-Za-z0-9+.-]*://(" + _NETLOC_SAFE + r"*)(?=[/?#]|$)"
)


def host_of(url: str) -> str:
    """Host component (netloc) — the reference compares url.Host which
    includes the port (internal/pageparser.go:45)."""
    m = _NETLOC_FAST_RE.match(url)
    if m and not _WS_UNSAFE_RE.search(url):
        return m.group(1)
    try:
        return urlsplit(url).netloc
    except ValueError:
        return ""


def registrable_host(url: str) -> str:
    """Lower-cased host without port/userinfo — the politeness grouping key
    [EXTENSION]. The reference groups nothing by host; the north rule's
    politeness buckets need a canonical host."""
    try:
        h = urlsplit(url).hostname
    except ValueError:
        return ""
    return (h or "").lower()


# --- Go path package semantics (path.Dir / path.Base / path.Clean) ---------
# Python's posixpath differs at the edges the reference relies on:
# Go path.Base("")="." , path.Base("/a/")="a" ; posixpath.basename gives ""
# for both. These helpers reproduce Go exactly (ref: models.go:213-231 uses
# pathlib.Dir / pathlib.Base on URL paths).


def go_path_base(p: str) -> str:
    if p == "":
        return "."
    p = p.rstrip("/")
    if p == "":
        return "/"
    i = p.rfind("/")
    if i >= 0:
        p = p[i + 1:]
    return p if p else "/"


def go_path_clean(p: str) -> str:
    if p == "":
        return "."
    rooted = p.startswith("/")
    out: list[str] = []
    for seg in p.split("/"):
        if seg in ("", "."):
            continue
        if seg == "..":
            if out and out[-1] != "..":
                out.pop()
            elif not rooted:
                out.append("..")
        else:
            out.append(seg)
    res = "/".join(out)
    if rooted:
        res = "/" + res
    return res if res else ("/" if rooted else ".")


def go_path_dir(p: str) -> str:
    i = p.rfind("/")
    return go_path_clean(p[: i + 1])


def md5_hex(s: str) -> str:
    """ref: internal/models.go:208-211."""
    return hashlib.md5(s.encode("utf-8")).hexdigest()


# scheme://netloc followed by the path (up to '?' or '#') — reads off
# exactly urlsplit().path whenever the url has a scheme + authority with
# a bracket-free ASCII netloc (anything else falls through to urlsplit)
_URL_PATH_FAST_RE = re.compile(
    r"^[A-Za-z][A-Za-z0-9+.-]*://" + _NETLOC_SAFE + r"*((?:/[^?#]*)?)(?=[?#]|$)"
)


@functools.lru_cache(maxsize=1 << 16)  # pure; shared asset/link targets
def resolve_local_save_path(url: str, fallback_name: str, ext: str) -> str:  # repeat across pages — ~20 MB/worker bound
    """ref: internal/models.go:213-231.

    dir(path)+base(path); base of "." or "/" → fallback name; empty base →
    md5(full url); pages add ".html" (models.go:61-63), assets add nothing
    (models.go:187-189).
    """
    m = _URL_PATH_FAST_RE.match(url)
    if m and not _WS_UNSAFE_RE.search(url):
        path = m.group(1)
    else:
        try:
            path = urlsplit(url).path
        except ValueError:
            path = ""
    d = go_path_dir(path)
    name = go_path_base(path)
    if name in (".", "/"):
        name = fallback_name
    if name == "":
        name = md5_hex(url)
    joined = go_path_clean(posixpath.join(d, name))
    if ext:
        joined += "." + ext
    return joined


def page_save_path(url: str) -> str:
    """ref: internal/models.go:61-63 — fallback "index", ext "html"."""
    return resolve_local_save_path(url, "index", "html")


def asset_save_path(url: str) -> str:
    """ref: internal/models.go:187-189 — no fallback, no ext."""
    return resolve_local_save_path(url, "", "")


def link_target_save_path(url: str) -> str:
    """ref: internal/models.go:96 — links rewritten to
    resolveLocalSavePath(link.URL, "", "html")."""
    return resolve_local_save_path(url, "", "html")


def make_relative_url(root_path: str, local_path: str) -> str:
    """ref: internal/models.go:233-249 — filepath.Rel from the page's dir,
    "/"-normalized, "./"-prefixed; fallback "./base" when Rel would error
    (mixed absolute/relative operands)."""
    from_dir = go_path_dir(root_path)
    if from_dir.startswith("/") != local_path.startswith("/"):
        return "./" + go_path_base(local_path)
    # fast path: when neither operand carries '..' segments, relpath is
    # plain common-prefix stripping — posixpath.relpath's abspath round
    # trips (cwd join + normpath) only matter for '..'-bearing inputs,
    # which go_path_clean'd save paths produce only for unresolvable
    # relative paths (differential-tested in tests/test_urls.py)
    if local_path and ".." not in local_path and ".." not in from_dir:
        p = [s for s in local_path.split("/") if s and s != "."]
        q = [s for s in from_dir.split("/") if s and s != "."]
        i = 0
        n = min(len(p), len(q))
        while i < n and p[i] == q[i]:
            i += 1
        parts = [".."] * (len(q) - i) + p[i:]
        rel = "/".join(parts) if parts else "."
    else:
        rel = posixpath.relpath(local_path, from_dir)
    if not rel.startswith("."):
        rel = "./" + rel
    return rel


# ---------------------------------------------------------------------------
# vectorized pandas UDFs (Arrow batches; the only Spark-facing entry points)
# ---------------------------------------------------------------------------


@pandas_udf(StringType())
def canonicalize_udf(page_url: pd.Series, src: pd.Series) -> pd.Series:
    """Batch canonicalize; None rows are dropped by a downstream
    ``filter(col.isNotNull())`` (ref drop: pageparser.go:34-36)."""
    return pd.Series(
        [canonicalize(p, s) if s is not None else None
         for p, s in zip(page_url, src)],
        dtype=object,
    )


@pandas_udf(StringType())
def registrable_host_udf(url: pd.Series) -> pd.Series:
    return url.map(lambda u: registrable_host(u) if u is not None else "")


# ---------------------------------------------------------------------------
# SURT locality key (pure-JVM column expressions, whole-stage codegen)
# ---------------------------------------------------------------------------


def surt_host_expr(url):
    """Lower-cased host of an absolute URL, as a JVM Column: authority up to
    the first ``/`` or ``?``, userinfo and port stripped, trailing dot
    removed. Input is assumed canonical (post-P3/P4 absolutize), so no
    stdlib error paths are needed — every step is a built-in string op
    inside whole-stage codegen."""
    url = F.col(url) if isinstance(url, str) else url
    rest = F.regexp_replace(
        F.split(url, "#", 2).getItem(0), r"^[A-Za-z][A-Za-z0-9+.\-]*://", ""
    )
    authority = F.regexp_extract(rest, r"^[^/?]*", 0)
    host_port = F.element_at(F.split(authority, "@"), -1)
    host = F.lower(F.split(host_port, ":", 2).getItem(0))
    return F.regexp_replace(host, r"\.$", "")


def surt_key_expr(url):
    """SURT-style sort/partition key [EXTENSION — frontier locality]:
    ``com,example,www)/path?query`` — the host reversed label-by-label and
    comma-joined, then ``)``, then the path+query (fragment stripped; empty
    path becomes ``/``). Range-partitioning the frontier on this key
    co-locates every URL of a host (and of a registrable domain's
    subdomains, which share the key prefix) in the same partitions, so
    per-host politeness grouping and prefix index lookups touch few
    partitions instead of all of them — the layout Common Crawl's URL index
    uses for exactly this reason. Simplifications vs. pywb SURT, chosen for
    a one-pass JVM expression and documented here: the port is always
    dropped (not just default ports) and path/query case is preserved.
    This is a LOCALITY key, not an identity key — identity stays the
    canonical URL string (Q1, ``Queueable.ItemId``, models.go:149-151)."""
    url = F.col(url) if isinstance(url, str) else url
    no_frag = F.split(url, "#", 2).getItem(0)
    rest = F.regexp_replace(no_frag, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    authority = F.regexp_extract(rest, r"^[^/?]*", 0)
    host = surt_host_expr(url)
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    # path+query = everything after the authority; '' -> '/', '?...' -> '/?...'
    tail = F.substring(rest, F.length(authority) + F.lit(1), F.lit(1 << 30))
    path_q = (
        F.when(F.length(tail) == 0, F.lit("/"))
        .when(F.startswith(tail, F.lit("?")), F.concat(F.lit("/"), tail))
        .otherwise(tail)
    )
    return F.concat(rev, F.lit(")"), path_q)


# tracking parameters stripped by query canonicalization: the de-facto
# public list (utm_* per Google Analytics docs, plus the big platforms'
# click ids). Name-prefix match on the raw `name=value` token.
TRACKING_PARAM_RE = r"^(utm_|fbclid|gclid|msclkid|mc_eid|igshid|ref_src)"


def strip_tracking_params_expr(url):
    """Query canonicalization [EXTENSION — Q1 identity quality]: drop
    tracking parameters and sort the survivors, so `?b=2&utm_source=x&a=1`
    and `?a=1&b=2` collapse to one frontier identity. Without this, every
    tracking-tagged share link re-enters a 10^10-URL frontier as a distinct
    URL — at web scale tracking params are a dedup multiplier, not noise.

    Pure JVM higher-order functions (filter/array_sort/array_join inside
    whole-stage codegen) — no Python, no shuffle. Applied after fragment
    strip (P3), so inputs carry no ``#fragment``. Sorting is bytewise on
    the raw ``name=value`` token (cross-engine stable); percent-encoding
    is preserved untouched."""
    url = F.col(url) if isinstance(url, str) else url
    parts = F.split(url, r"\?", 2)
    base = parts.getItem(0)
    qs = F.get(parts, 1)  # null when there is no '?'
    kept = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda p: (F.length(p) > 0) & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    return F.when(
        qs.isNull() | (F.size(kept) == 0), base
    ).otherwise(F.concat(base, F.lit("?"), F.array_join(kept, "&")))


def registrable_domain_expr(host):
    """Last two host labels as a JVM Column (``cdn.src3.example.org`` →
    ``example.org``); a single-label host (``localhost``) is its own
    registrable key. The blocklist/politeness grouping key when a public
    suffix list is out of scope (documented simplification: two labels,
    which is exact for the synthetic corpus and for .com/.org style hosts
    but OVER-GROUPS under multi-label public suffixes —
    ``example.co.uk`` → ``co.uk`` — so a blocklist entry on such a suffix
    would cover unrelated domains; consumers of blocklists on real ccTLD
    traffic should swap in a PSL-backed key, same join shape).
    Broadcast-joining a blocklist on this key covers every subdomain with
    an equality join — no per-row suffix LIKE scan over 10^10 URLs."""
    host = F.col(host) if isinstance(host, str) else host
    labels = F.split(host, r"\.")
    return F.when(F.size(labels) >= 2, F.array_join(F.slice(labels, -2, 2), ".")).otherwise(
        host
    )


def url_template_expr(url):
    """Crawler-trap URL template [EXTENSION — frontier hygiene]: host +
    lower-cased path with every digit run collapsed to ``<d>`` (query and
    fragment stripped). URLs minted by calendars, pagination, and numeric
    session ids — the classic spider traps — collapse onto one template,
    so a census over templates exposes them while legitimate document
    trees keep distinct templates. Pure JVM string ops, whole-stage
    codegen, mirrored verbatim in the ``url_trap_census`` oracle SQL."""
    url = F.col(url) if isinstance(url, str) else url
    no_query = F.split(F.split(url, "#", 2).getItem(0), r"\?", 2).getItem(0)
    rest = F.regexp_replace(no_query, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    authority = F.regexp_extract(rest, r"^[^/?]*", 0)
    path = F.substring(rest, F.length(authority) + F.lit(1), F.lit(1 << 30))
    path = F.when(F.length(path) == 0, F.lit("/")).otherwise(path)
    return F.concat(
        surt_host_expr(url), F.regexp_replace(F.lower(path), "[0-9]+", "<d>")
    )


def pct_normalize_expr(url):
    """RFC 3986 §6.2.2.1-2 percent-encoding normalization as a pure JVM
    expression: decode percent-triplets of UNRESERVED characters
    (ALPHA / DIGIT / ``-._~`` — §2.3: these encodings are equivalent to
    the raw character and SHOULD be decoded) and uppercase the hex of
    every other triplet (``%3a`` ≡ ``%3A``; the canonical form is upper).
    Malformed ``%`` sequences pass through byte-identically, except a
    stray ``%`` with fewer than two characters before the next ``%``:
    it is emitted as ``%25``, since a decoded character could otherwise
    complete a new triplet behind it (``%%34%31`` → ``%41``), and
    normalizing twice would differ from normalizing once.

    Mechanics: split on ``%`` — each later piece starts with the
    candidate hex pair — then one ``transform`` re-emits each piece
    decoded, case-folded, or untouched. No regex callbacks (neither
    engine has them), no Python; the DuckDB oracle replays the identical
    piece algebra.
    """
    url = F.col(url) if isinstance(url, str) else url
    pieces = F.split(url, "%", -1)
    head = F.element_at(pieces, 1)

    tail = F.slice(pieces, 2, F.greatest(F.size(pieces) - 1, F.lit(0)))

    def _fix(p, i):
        hex2 = F.substring(p, 1, 2)
        is_hex = hex2.rlike("^[0-9A-Fa-f]{2}$")
        code = F.conv(hex2, 16, 10).cast("int")
        unreserved = (
            ((code >= 48) & (code <= 57))
            | ((code >= 65) & (code <= 90))
            | ((code >= 97) & (code <= 122))
            | code.isin(45, 46, 95, 126)
        )
        rest = F.substring(p, 3, 1 << 30)
        return (
            F.when(is_hex & unreserved, F.concat(F.char(code), rest))
            .when(is_hex, F.concat(F.lit("%"), F.upper(hex2), rest))
            .when((F.length(p) < 2) & (i < F.size(tail) - 1),
                  F.concat(F.lit("%25"), p))
            .otherwise(F.concat(F.lit("%"), p))
        )

    return F.concat(head, F.array_join(F.transform(tail, _fix), ""))


def _lower_keep_pct_expr(s):
    """``lower(s)`` that leaves the hex digits of percent-triplets alone
    (upper after :func:`pct_normalize_expr`, §6.2.2.1) — the host is
    case-insensitive, its percent-encodings are not lowered with it."""
    pieces = F.split(s, "%", -1)

    def _fix(p):
        hex2 = F.substring(p, 1, 2)
        return F.concat(
            F.lit("%"),
            F.when(
                hex2.rlike("^[0-9A-Fa-f]{2}$"),
                F.concat(hex2, F.lower(F.substring(p, 3, 1 << 30))),
            ).otherwise(F.lower(p)),
        )

    tail = F.slice(pieces, 2, F.greatest(F.size(pieces) - 1, F.lit(0)))
    return F.concat(
        F.lower(F.element_at(pieces, 1)), F.array_join(F.transform(tail, _fix), "")
    )


def rfc3986_normalize_expr(url):
    """RFC 3986 §6.2.2 syntax-based normalization [EXTENSION — URL
    identity for the Q1 seen-set]: the transformations every compliant
    crawler applies before the seen-check, so trivially-equivalent spellings
    (``HTTP://Example.COM:80/%7euser`` vs ``http://example.com/~user``)
    collapse to ONE frontier row instead of being fetched twice:

    - percent-encoding normalized via :func:`pct_normalize_expr`, FIRST:
      decoding yields only unreserved characters (never a delimiter, so
      the parse below sees the same structure) and a decoded host letter
      (``ex%41mple.com``) must be lowercased with the rest of the host,
      or normalizing twice would differ from normalizing once;
    - scheme and host lowercased (§6.2.2.1; userinfo stays case-sensitive;
      the hex of a percent-triplet in the host stays upper);
    - default port dropped (``:80`` for http, ``:443`` for https — §6.2.3);
    - empty path → ``/`` for http(s) (§6.2.3).

    Dot-segment removal (§6.2.2.3) is NOT repeated here: it already
    happens at absolutization (canonicalize()'s RFC-3986 resolution —
    the only place relative paths exist). Non-hierarchical inputs (no
    ``://``) pass through percent-normalized only.

    Scale shape: map-only string algebra, zero shuffles — a frontier of
    10^10 URLs normalizes inside the scan's codegen span, and because the
    result is deterministic per URL it composes with the hash-bucketed
    seen layout (same input → same bucket on any executor).

    Fast path: a URL that is PROVABLY already normal — no uppercase or
    ``%`` anywhere, hierarchical with a non-empty path, no ``:80``/``:443``
    in the authority — passes through on three regex tests instead of the
    full pipeline. Conservative by construction: any URL the tests cannot
    clear (uppercase in the PATH is legal and preserved, but trips the
    cheap test) takes the slow path and gets the identical answer; the
    in-loop A/B (BENCH/BASELINE.md) measures the gate's payoff on an
    already-canonical frontier, the common case of a mature crawl.
    """
    url = F.col(url) if isinstance(url, str) else url
    already_normal = (
        ~url.rlike(r"[A-Z%]")
        & url.rlike(r"^[a-z][a-z0-9+.\-]*://[^/?#]*/")
        & ~url.rlike(r"^[a-z][a-z0-9+.\-]*://[^/?#]*:(80|443)/")
    )

    def _rebuild(dec):
        m_scheme = F.regexp_extract(dec, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
        rest = F.regexp_replace(dec, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
        authority = F.regexp_extract(rest, r"^[^/?#]*", 0)
        tail = F.substring(rest, F.length(authority) + F.lit(1), F.lit(1 << 30))

        scheme_l = F.lower(m_scheme)
        # userinfo (case-sensitive, kept) vs host:port (lowered)
        has_at = authority.contains("@")
        userinfo = F.when(
            has_at, F.concat(F.element_at(F.split(authority, "@"), 1), F.lit("@"))
        ).otherwise(F.lit(""))
        host_port = F.element_at(F.split(authority, "@"), -1)
        host_port = _lower_keep_pct_expr(F.when(
            (scheme_l == "http") & host_port.endswith(":80"),
            F.substring(host_port, 1, F.length(host_port) - F.lit(3)),
        ).when(
            (scheme_l == "https") & host_port.endswith(":443"),
            F.substring(host_port, 1, F.length(host_port) - F.lit(4)),
        ).otherwise(host_port))

        path_q = F.when(
            (F.length(tail) == 0) & scheme_l.isin("http", "https"), F.lit("/")
        ).when(
            F.startswith(tail, F.lit("?")) & scheme_l.isin("http", "https"),
            F.concat(F.lit("/"), tail),
        ).otherwise(tail)

        rebuilt = F.concat(scheme_l, F.lit("://"), userinfo, host_port, path_q)
        return F.when(m_scheme != "", rebuilt).otherwise(dec)

    # the lambda binds the decoded URL once: the structural pass reads it
    # many times, and Spark does not share a subexpression that sits in
    # one branch of a conditional
    decoded = F.array(pct_normalize_expr(url))
    return F.when(already_normal, url).otherwise(
        F.element_at(F.transform(decoded, _rebuild), 1)
    )
