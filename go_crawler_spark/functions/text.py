"""Text-analysis functions for large-scale training-data pipelines.

All of these are built from JVM-side ``pyspark.sql.functions`` only — they
stay inside whole-stage codegen, no Python in the hot path — and each has
an exact ANSI-SQL (DuckDB) oracle in ``__spark_entry__.oracle_sql``.

These extend the reference's capabilities (its only text op is HTML text
extraction) to what a 100 TB webtext pipeline needs: token counting,
quality scoring, language ID, and document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# whitespace tokenization — \\s+ split of trimmed text
def tokens(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    """Whitespace token count; empty string → 0."""
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(
        F.size(tokens(col))
    )


def word_token_count(col: Column) -> Column:
    """BPE-ish token estimate: count of word/number/punctuation atoms.
    Splitting on word boundaries approximates subword segmentation load."""
    return F.size(
        F.filter(
            F.split(col, r"(?<=\W)|(?=\W)"),
            lambda t: F.length(F.trim(t)) > 0,
        )
    )


def punct_ratio(col: Column) -> Column:
    """#non-alnum-non-space chars / #chars (0 for empty)."""
    cleaned = F.regexp_replace(col, r"[A-Za-z0-9\s]", "")
    return F.when(F.length(col) == 0, F.lit(0.0)).otherwise(
        F.length(cleaned) / F.length(col)
    )


# tiny per-language marker lexicons for the n-gram/stopword heuristic —
# deliberately small & fixed so the SQL oracle can embed the same lists
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "les", "et", "est", "que", "pour", "dans"),
    "es": ("el", "la", "los", "que", "es", "para", "con", "una"),
}


def stopword_hits(col: Column, words: tuple[str, ...]) -> Column:
    """Count of tokens that are in ``words`` (lower-cased exact match)."""
    lowered = F.split(F.trim(F.lower(col)), r"\s+")
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(lowered, lambda t: F.array_contains(arr, t)))


def stopword_ratio(col: Column, words: tuple[str, ...] = LANG_MARKERS["en"]) -> Column:
    return F.when(token_count(col) == 0, F.lit(0.0)).otherwise(
        stopword_hits(col, words) / token_count(col)
    )


def quality_score(col: Column) -> Column:
    """Composite quality heuristic in [0,1]:
    0.4·length-band + 0.3·(1-punct_ratio) + 0.3·min(1, 5·stopword_ratio).
    Deterministic, closed-form, oracle-checkable."""
    n = token_count(col)
    length_band = F.when((n >= 10) & (n <= 10000), F.lit(1.0)).when(
        n > 0, F.lit(0.5)
    ).otherwise(F.lit(0.0))
    return (
        F.lit(0.4) * length_band
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio(col))
        + F.lit(0.3) * F.least(F.lit(1.0), F.lit(5.0) * stopword_ratio(col))
    )


def lang_scores(col: Column) -> list[tuple[str, Column]]:
    """Marker-hit count per language — argmax = language ID."""
    return [(lang, stopword_hits(col, ws)) for lang, ws in LANG_MARKERS.items()]


def lang_id(col: Column) -> Column:
    """Highest-scoring language, ties broken alphabetically, 'und' if all 0."""
    pairs = lang_scores(col)
    best = F.greatest(*[s for _, s in pairs])
    out = F.lit("und")
    # build reverse so earlier (alphabetical) languages win ties
    for lang, score in sorted(pairs, key=lambda p: p[0], reverse=True):
        out = F.when((score == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def normalize_for_fingerprint(col: Column) -> Column:
    """lower-case, collapse whitespace, strip non-alnum — the canonical form
    hashed for exact-dup detection."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(col), r"[^a-z0-9\s]", ""), r"\s+", " ")
    )


def fingerprint_md5(col: Column) -> Column:
    """Content fingerprint: md5 of the normalized text (md5 matches the
    reference's only hash, internal/models.go:208-211; engine-internal
    paths use xxhash64 instead per the north rule)."""
    return F.md5(normalize_for_fingerprint(col))


def _bound_once(expr: Column, body) -> Column:
    """Evaluate ``expr`` once per row and pass it to ``body`` as a lambda
    variable. An expression referenced inside a higher-order-function lambda
    is re-evaluated per element (no CSE across lambda scopes in Catalyst),
    which turns an O(len) shingle pass into O(len²) regex work; binding via
    a 1-element array + transform forces single evaluation."""
    return F.get(F.transform(F.array(expr), body), 0)


def token_ngrams(col: Column, n: int = 3) -> Column:
    """Array of token n-gram strings ("shingles") — minhash input.
    Tokenization is evaluated once per row (see ``_bound_once``)."""
    return _bound_once(
        tokens(normalize_for_fingerprint(col)),
        lambda toks: F.when(
            F.size(toks) - (n - 1) < 1, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                # guard: sequence(1, 0) would be the DESCENDING [1, 0]
                F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------
#
# Patterns deliberately restricted to syntax with identical semantics in
# Java regex (Spark) and RE2 (DuckDB oracle): character classes, greedy
# bounded/unbounded quantifiers, no lookarounds or backreferences. Both
# engines use leftmost matching with greedy quantifiers here, so the
# replacements are byte-identical — verified by the pii_scrub oracle.

PII_EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# international-ish phone: leading digit (optionally +), then >=6 chars of
# digits/separators, ending in a digit — conservative on purpose: a scrub
# pass at corpus scale should over-redact rather than leak
PII_PHONE_PATTERN = r"\+?[0-9][0-9()\[\] .-]{6,}[0-9]"


def scrub_email(col: Column) -> Column:
    return F.regexp_replace(col, PII_EMAIL_PATTERN, "<EMAIL>")


def scrub_phone(col: Column) -> Column:
    return F.regexp_replace(col, PII_PHONE_PATTERN, "<PHONE>")


def scrub_pii(col: Column) -> Column:
    """Redact emails then phone-like digit runs (in that order: the email
    pass removes the digits an email's local part would otherwise leak
    into the phone pass). Pure JVM regexp_replace — codegen'd, no Python;
    at 100 TB this runs as a map-only pass with no shuffle."""
    return scrub_phone(scrub_email(col))


# --- mojibake repair (ftfy-style, bounded single pass) ---------------------
#
# The classic web-corpus corruption: UTF-8 bytes decoded as Windows-1252
# ("CafÃ©", "donâ€™t"). The repair table is DERIVED from the encoding
# principle, not hand-listed: for each target character c, the corrupt form
# is sloppy_cp1252(utf8(c)) — cp1252 with the five unmapped bytes falling
# through to their Latin-1 code points, which is exactly how browsers (and
# ftfy's sloppy-windows-1252 codec) read those bytes. Repair is a bounded
# chain of literal JVM `replace` calls — map-only, inside codegen, no
# regex, no Python — applied longest-form-first so a 3-byte artifact is
# never half-eaten by a 2-byte rule. Single-depth by design: doubly-encoded
# text (utf8→cp1252 applied twice) produces artifacts of 'Ã'/'Â'
# themselves — uppercase forms outside this repertoire — and is left
# (mostly) alone rather than guessed at; >99% of real mojibake is
# single-depth (ftfy's own default heuristic depth).

# the high-value repertoire: Latin-1 letters common in western-web text
# plus the cp1252 punctuation block (curly quotes, dashes, ellipsis, euro)
MOJIBAKE_TARGETS = (
    "éèêëáàâäãåíìîïóòôöõúùûüñçß" "…‘’“”–—·©«»€™°"
)


def as_mojibake(s: str) -> str:
    """Corrupt ``s`` the way the web does: encode UTF-8, decode
    sloppy-cp1252. Test/fixture helper — the inverse of the repair."""
    out = []
    for x in s.encode("utf-8"):
        try:
            out.append(bytes([x]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(x))  # cp1252 holes -> Latin-1 / C1, per WHATWG
    return "".join(out)


def mojibake_pairs() -> list[tuple[str, str]]:
    """(corrupt_form, target_char) repair table, longest form first (then
    lexicographic — a total, deterministic order both engines replay)."""
    pairs = [(as_mojibake(c), c) for c in MOJIBAKE_TARGETS]
    return sorted(pairs, key=lambda p: (-len(p[0]), p[0]))


def fix_mojibake(col: Column) -> Column:
    """Repair single-depth UTF-8-as-cp1252 mojibake. Bounded literal
    replace chain (|table| ≈ 40), evaluated entirely JVM-side."""
    out = col
    for bad, good in mojibake_pairs():
        out = F.replace(out, F.lit(bad), F.lit(good))
    return out


# --- Unicode script mix (pre-langid signal) ---------------------------------

# the big script blocks a webtext pipeline routes on before n-gram lang-id
# (script decides WHICH language models are even candidates — CLD/fastText
# both gate on it): Basic Latin letters, digits, CJK Unified Ideographs,
# Cyrillic, Arabic. Ranges are embedded as literal characters so the same
# pattern strings run in Spark (Java regex) and DuckDB (RE2) unchanged.
SCRIPT_CLASSES = (
    ("latin", "[A-Za-z]"),
    ("digit", "[0-9]"),
    ("cjk", f"[{chr(0x4E00)}-{chr(0x9FFF)}]"),
    ("cyrillic", f"[{chr(0x0400)}-{chr(0x04FF)}]"),
    ("arabic", f"[{chr(0x0600)}-{chr(0x06FF)}]"),
)


def script_counts(col: Column) -> list[tuple[str, Column]]:
    """Per-script character counts — one JVM ``regexp_count`` per class,
    map-only, no explode."""
    return [
        (name, F.regexp_count(col, F.lit(pat))) for name, pat in SCRIPT_CLASSES
    ]


def dominant_script(col: Column) -> Column:
    """argmax over :func:`script_counts` with the table order as the
    deterministic tie-break (first listed wins ties — so empty text and
    all-punctuation rows fall through to 'und'). Built as a fold of
    when/otherwise over running maxima: pure codegen, no array, no sort."""
    counts = script_counts(col)
    best_name = F.lit("und")
    best_n = F.lit(0).cast("int")
    # strictly-greater comparison preserves first-listed-wins on ties
    for name, n in counts:
        is_better = n > best_n
        best_name = F.when(is_better, F.lit(name)).otherwise(best_name)
        best_n = F.when(is_better, n).otherwise(best_n)
    return best_name
