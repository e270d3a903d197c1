"""Text-analysis column expressions (north-star extension; BASELINE.json).

Everything here is a pure Catalyst expression over a string column — JVM-side,
codegen'd, zero Python in the hot path. These are the building blocks for the
training-data-pipeline operators (quality filtering, language ID, token
budgeting, fingerprint dedup) that a 100 TB text corpus needs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword marker lists for the n-gram/stopword-hit
#: language heuristic. Real deployments swap in fastText et al. via a Pandas
#: UDF; the heuristic keeps the plumbing test-able without model files.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "en", "los"),
    "de": ("der", "die", "und", "das", "nicht", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "des", "est", "une"),
    "zh": ("的", "是", "不", "了", "在", "我", "有"),
}


def _tokens(text: Column, sep: str = " ") -> Column:
    return F.split(text, sep)


def token_count(text: Column, sep: str = " ") -> Column:
    """Whitespace token count — the cheap token-budget estimator."""
    return F.size(_tokens(text, sep))


def approx_bpe_token_count(text: Column) -> Column:
    """BPE-ish token estimate: word-piece regex segments + digit runs.

    A deterministic, JVM-side proxy for tokenizer budgeting when the real
    tokenizer (Python-side) would be the bottleneck: counts maximal runs of
    letters (split every 4 chars, the empirical subword length), digits, and
    non-space punctuation.
    """
    # 1 token per ≤4-char chunk of each letter run + 1 per digit run + 1 per
    # punctuation char. ceil(len/4) via (len + 3) div 4. Digit runs count the
    # NON-EMPTY split segments (split keeps leading/trailing empties, so the
    # old size()-1 miscounted texts starting/ending with digits or with none).
    letters_len = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    digit_runs = F.size(
        F.filter(
            F.split(F.regexp_replace(text, r"[^0-9]+", " "), " "),
            lambda t: t != "",
        )
    )
    punct = F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", ""))
    return ((letters_len + 3) / F.lit(4)).cast("long") + digit_runs + punct


def _hits(tokens: Column, words: tuple[str, ...]) -> Column:
    """Count of ``tokens`` that are in ``words`` (tokens already lowercased)."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(arr, t)))


def stopword_hits(text: Column, words: tuple[str, ...], sep: str = " ") -> Column:
    """Count of tokens that are in ``words`` (case-insensitive)."""
    return _hits(_tokens(F.lower(text), sep), words)


def quality_features(text: Column, sep: str = " ") -> dict[str, Column]:
    """Quality-scoring features: lengths + character-class ratios.

    Ratios are int/int double divisions — deterministic across engines, so
    these stay oracle-comparable.
    """
    n_chars = F.length(text)
    n_tokens = token_count(text, sep)
    alpha = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    digits = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    spaces = F.length(F.regexp_replace(text, r"[^ ]", ""))
    punct = n_chars - alpha - digits - spaces
    denom = F.greatest(n_chars, F.lit(1))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "alpha_ratio": alpha / denom,
        "digit_ratio": digits / denom,
        "punct_ratio": punct / denom,
        "mean_token_len": (n_chars - spaces) / F.greatest(n_tokens, F.lit(1)),
        "stopword_ratio": stopword_hits(text, LANG_MARKERS["en"], sep)
        / F.greatest(n_tokens, F.lit(1)),
    }


def quality_score(text: Column, sep: str = " ") -> Column:
    """Scalar quality score in [0, 1]: high alpha ratio, sane token length,
    some stopwords, low digit/punct noise. Weights are heuristic; the value
    is deterministic arithmetic over the features."""
    f = quality_features(text, sep)
    score = (
        F.lit(0.4) * f["alpha_ratio"]
        + F.lit(0.3) * F.least(f["stopword_ratio"] * 4, F.lit(1.0))
        + F.lit(0.3)
        * F.when((f["mean_token_len"] >= 3) & (f["mean_token_len"] <= 10), 1.0)
        .otherwise(0.0)
    )
    return F.round(score, 6)


def lang_scores(tokens: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts of lowercased ``tokens`` (the
    n-gram-heuristic scorer)."""
    return {lang: _hits(tokens, words) for lang, words in LANG_MARKERS.items()}


def predict_lang(text: Column, sep: str = " ", default: str = "und") -> Column:
    """argmax over :func:`lang_scores` with deterministic tie-break
    (lexicographically smallest language code wins ties; 'und' if no hits).

    The higher-order filters are interpreted, so each language's filter
    would evaluate its own ``lower(text)``; transforming a one-element
    array binds the lowercased tokens to one lambda variable instead, and
    each document is lowercased and split once."""

    def pick(tokens: Column) -> Column:
        scores = lang_scores(tokens)
        # array of structs (score DESC via negation, lang ASC) → sort → first
        entries = F.array(
            *[
                F.struct((-scores[lang]).alias("neg"), F.lit(lang).alias("lang"))
                for lang in sorted(scores)
            ]
        )
        best = F.array_sort(entries)[0]
        return F.when(best["neg"] < 0, best["lang"]).otherwise(F.lit(default))

    return F.transform(F.array(_tokens(F.lower(text), sep)), pick)[0]


def fingerprint(text: Column) -> Column:
    """Document fingerprint for exact dedup: md5 hex (engine-portable, unlike
    murmur3 ``F.hash``). For near-dup see ``datapipe/dedup.py``."""
    return F.md5(text)


def simhash64(text: Column, sep: str = " ") -> Column:
    """64-bit SimHash over whitespace tokens, md5-derived per-token hashes.

    Classic near-dup signature: per token take a 64-bit hash (first 16 hex
    chars of md5 → signed bigint via conv), sum ±1 per bit position weighted
    by token frequency, sign → bit. Pure higher-order array functions — no
    UDF, fully distributed, deterministic across engines.
    """
    n_bits = 60
    tokens = _tokens(F.lower(text), sep)
    hashes = F.transform(
        tokens, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )
    # per-token bit vector (shift amounts must be literals), then one
    # elementwise fold → per-position set-bit counts
    bit_arrays = F.transform(
        hashes,
        lambda h: F.array(
            *[
                F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("long")
                for b in range(n_bits)
            ]
        ),
    )
    zeros = F.array(*[F.lit(0).cast("long") for _ in range(n_bits)])
    ones_count = F.aggregate(
        bit_arrays, zeros, lambda acc, x: F.zip_with(acc, x, lambda a, v: a + v)
    )
    n_tok = F.size(tokens)
    # bit b set ⟺ (#ones > #zeros) at position b; disjoint powers sum = OR
    sig = None
    for b in range(n_bits):
        term = F.when(
            F.element_at(ones_count, b + 1) * 2 > n_tok, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return sig


# ---------------------------------------------------------------------------
# PII scrubbing (pretraining-pipeline hygiene): regex redaction of the
# common identifier shapes. Patterns deliberately use only syntax shared by
# Java regex (Spark) and RE2 (DuckDB/oracle): no backrefs, no lookaround.
# ---------------------------------------------------------------------------
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "phone": r"\+?[0-9][0-9()\-\s]{6,}[0-9]",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
}


def scrub_pii(text: Column, kinds: tuple[str, ...] | None = None) -> Column:
    """Replace each PII kind with a ``[PII-<KIND>]`` token — chained
    ``regexp_replace``, pure Catalyst, order fixed (email before phone so
    digit runs inside addresses are claimed by the email pass first is NOT
    needed — patterns are disjoint — but a fixed order keeps the output
    deterministic and oracle-reproducible)."""
    out = text
    for kind in kinds or tuple(PII_PATTERNS):
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"[PII-{kind.upper()}]")
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind match counts (LONG) — the audit side of :func:`scrub_pii`."""
    return {
        kind: F.regexp_count(text, F.lit(pat)).cast("long")
        for kind, pat in PII_PATTERNS.items()
    }


# ---------------------------------------------------------------------------
# HTML → text extraction (the WET step of a web-crawl pipeline: raw HTML in,
# visible text out — upstream of C4 cleaning / language ID / dedup).
# Entirely chained regexp_replace/trim: pure Catalyst, codegen-fused into
# the scan, no Python, no shuffle. Patterns restrict to the Java-regex ∩
# RE2 subset (no backrefs/lookaround) so the SAME expressions run in the
# DuckDB oracle.
# ---------------------------------------------------------------------------
#: Fixed entity set decoded JVM-side. Numeric character references and the
#: long tail of named entities need a real parser (lxml/html5lib) — a
#: deployment swaps this for a Pandas-UDF `html.unescape` pass; the fixed
#: set covers the entities that dominate crawl text. &amp; is decoded LAST
#: so "&amp;lt;" yields the literal "&lt;" (double-escape correctness).
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&amp;", "&"),
)


def html_to_text(html: Column) -> Column:
    """Visible text of an HTML document:

    1. drop ``<script>``/``<style>``/``<noscript>`` elements wholesale
       (their content is never visible text) and HTML comments;
    2. turn block-closing/breaking tags into newlines so paragraph
       structure survives for the downstream line-level C4 rules;
    3. strip every remaining tag;
    4. decode the fixed entity set (``&amp;`` last — double-escapes
       resolve one level, matching a real parser);
    5. collapse horizontal whitespace, trim each line, drop blank runs.

    Composes with :func:`ihop_reddit_spark.datapipe.cleaning.c4_clean`
    (HTML → text → line rules) into the standard crawl-extraction
    pipeline.
    """
    out = html
    for el in ("script", "style", "noscript"):
        out = F.regexp_replace(
            out, f"(?is)<{el}[^>]*>.*?</{el}>", " "
        )
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(
        out,
        r"(?i)</?(p|div|br|h[1-6]|li|ul|ol|tr|table|blockquote|section"
        r"|article|header|footer)[^>]*>",
        "\n",
    )
    out = F.regexp_replace(out, r"(?s)<[^>]*>", " ")
    for ent, repl in HTML_ENTITIES:
        # literal replace (not regex) — entity strings contain '&' only
        out = F.replace(out, F.lit(ent), F.lit(repl))
    out = F.regexp_replace(out, r"[ \t\r]+", " ")
    out = F.regexp_replace(out, r" ?\n ?", "\n")
    out = F.regexp_replace(out, r"\n{2,}", "\n")
    # trim() strips spaces only — newlines at the page edges (from the
    # outermost block tags) need the explicit char set
    return F.btrim(out, F.lit(" \n"))


def link_density(html: Column) -> Column:
    """Fraction of visible characters inside ``<a>`` elements — the
    classic boilerplate signal (nav bars and footers are link-dense;
    body prose is not; jusText/boilerpipe both threshold on it). Exact
    rational as DOUBLE; 0.0 for pages with no visible text. Same
    JVM-only shape as :func:`html_to_text`."""
    anchors = F.regexp_replace(
        # visible text inside anchor elements, tags stripped
        F.concat_ws(
            " ",
            F.regexp_extract_all(html, F.lit(r"(?is)<a[^>]*>(.*?)</a>"), 1),
        ),
        r"(?s)<[^>]*>",
        " ",
    )
    a_len = F.length(F.regexp_replace(anchors, r"\s+", ""))
    t_len = F.length(F.regexp_replace(html_to_text(html), r"\s+", ""))
    return F.when(t_len > 0, a_len / t_len).otherwise(F.lit(0.0))
