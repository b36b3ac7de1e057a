"""Text-analysis operators for LLM data pipelines (SURVEY.md §7 Phase 4).

All native column expressions — tokenization, language ID, quality scoring,
token counting, and fingerprinting run inside whole-stage codegen with zero
Python in the row path. Every function here has a DuckDB-expressible twin
(plans/extensions.py), using only cross-engine-deterministic primitives:
ASCII regexes, integer counts, and md5-derived 60-bit hashes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: ASCII-only token pattern: identical semantics in Java regex (Spark) and
#: RE2 (DuckDB) — unicode classes like \w differ between engines.
TOKEN_PATTERN = "[A-Za-z0-9]+"

#: Tiny per-language stopword sets for the n-gram/stopword-voting heuristic.
#: Deliberately small + high-frequency; language ID here is a pipeline
#: operator (bucketing quality), not a linguistics product.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "es": ["que", "de", "la", "el", "en", "los", "del", "las", "por", "una"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"],
    "fr": ["le", "la", "les", "de", "des", "est", "une", "dans", "que", "pour"],
}


def h60(col: Column | str) -> Column:
    """Deterministic 60-bit hash: first 15 hex digits of md5, as int64.

    Chosen over xxhash64/hash because DuckDB computes the identical value
    (``CAST(('0x' || substr(md5(x),1,15)) AS BIGINT)``), making every
    hash-derived operator oracle-checkable bit-for-bit.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    """DuckDB twin of :func:`h60`."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


#: ASCII case-fold tables. Tokenization folds case with translate() over
#: these, NOT lower(): full Unicode case mapping is library-dependent
#: (Java/ICU lowers U+0130 'İ' to "i"+U+0307 — minting an ASCII 'i' —
#: where DuckDB's utf8proc maps it to plain "i"), so any lower() before
#: an ASCII token extraction silently diverges across engines on
#: non-ASCII input (caught by tests/test_unicode_sweep.py). translate()
#: maps listed codepoints only, identically everywhere, and is a no-op on
#: every non-ASCII character — deterministic by construction.
_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def ascii_lower(col: Column | str) -> Column:
    """Fold A-Z to a-z, leave every other codepoint untouched."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, _ASCII_UPPER, _ASCII_LOWER)


def ascii_lower_sql(expr: str) -> str:
    """DuckDB twin of :func:`ascii_lower`."""
    return f"translate({expr}, '{_ASCII_UPPER}', '{_ASCII_LOWER}')"


def tokenize(col: Column | str, lowercase: bool = True) -> Column:
    """ASCII word tokens (regexp_extract_all), ASCII-case-folded."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = ascii_lower(c)
    return F.regexp_extract_all(c, F.lit(TOKEN_PATTERN), F.lit(0))


def token_count(col: Column | str) -> Column:
    """Whitespace-free token count (the BPE-ish regex count)."""
    return F.size(tokenize(col, lowercase=False))


#: GPT-2-style pre-tokenizer, lookahead-free so Java regex (Spark) and RE2
#: (DuckDB oracle) agree: contraction suffixes, space-prefixed letter runs,
#: digit runs, punctuation runs, residual whitespace. Counting its matches
#: estimates the BPE token budget of a document without shipping a
#: vocabulary — the standard cheap cost model for LLM-pipeline sizing.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def ws_token_count(col: Column | str) -> Column:
    """Whitespace-split token count (runs of non-space)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"\S+"))


def bpe_token_estimate(col: Column | str) -> Column:
    """Pre-tokenizer match count — an upper-bound estimate of BPE tokens
    (each match is one-or-more merged BPE tokens; for sizing, the match
    count tracks real tokenizer output within ~25% on English text)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_PATTERN))


def stopword_hits(tokens: Column, lang: str) -> Column:
    """Number of token positions that are stopwords of ``lang``."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens, lambda t: F.array_contains(sw, t)))


def lang_id(text_col: Column | str) -> Column:
    """Stopword-voting language ID: argmax over per-language hit counts,
    'und' (undetermined) when no stopwords match at all.

    Ties break by the fixed language order en > es > de > fr (documented,
    mirrored in the oracle SQL).
    """
    tokens = tokenize(text_col)
    hits = {lang: stopword_hits(tokens, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    expr = F.when(best <= 0, "und")
    for lang in STOPWORDS:  # insertion order = tie precedence
        expr = expr.when(hits[lang] == best, lang)
    return expr


def quality_score(text_col: Column | str) -> Column:
    """Heuristic document quality in [0,1]: length band + punctuation ratio
    + stopword ratio + mean word length band, equally weighted.

    All four terms are ratios of integer counts -> deterministic doubles,
    combined with fixed left-associated arithmetic (oracle bit-exact).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    tokens = tokenize(c)
    n_tok = F.size(tokens)
    n_chars = F.length(c)
    # alnum-char count as a length difference, NOT
    # size(regexp_extract_all(c, '[A-Za-z0-9]')): the extract_all form
    # allocates one array element PER CHARACTER, and the resulting GC
    # pressure is what capped this scan at 1.6x going 8 -> 32 cores on
    # a CPU-scaling probe (allocation-bound, not CPU-bound). Same
    # integer by construction (single-char matches can't overlap), same
    # NULL propagation; value identity pinned in
    # tests/test_extensions.py.
    n_alnum = n_chars - F.length(F.regexp_replace(c, "[A-Za-z0-9]", ""))
    n_stop = stopword_hits(tokens, "en")

    len_ok = ((n_chars >= 50) & (n_chars <= 2000)).cast("double")
    alnum_ratio = n_alnum.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    stop_ratio = n_stop.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
    mean_wordlen = n_alnum.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
    wordlen_ok = ((mean_wordlen >= 2.0) & (mean_wordlen <= 12.0)).cast("double")

    return (
        len_ok * 0.25 + alnum_ratio * 0.25 + stop_ratio * 0.25 + wordlen_ok * 0.25
    )


def word_ngrams(tokens: Column, n: int) -> Column:
    """Word n-gram strings from a token array (space-joined, distinct).

    Guarded for short docs: fewer-than-n tokens short-circuit to an empty
    array (a negative slice length is never evaluated — CaseWhen only
    runs the matching branch per row).

    Grams are built as a fold of ``zip_with`` over n shifted whole-array
    slices: slice j is the token array offset by
    j, and each zip_with appends one token + separator to every gram in
    a single linear pass. This replaces the earlier shape
    (``transform(sequence(1, count), i -> concat(element_at...))``),
    which itself replaced per-gram sub-array slices (2.8x slower still).
    Measured at sf0.1: dsir's bigram stage 1.71 s -> 0.84 s, the MinHash
    shingle projection 0.72 s -> 0.66 s; output byte-identical (regexp
    tokens are never null, so concat with literal separators preserves
    the exact gram strings, same order, then the same array_distinct).

    ``tokens`` is LET-BOUND before use: the expression is wrapped in a
    1-element array and entered through a ``transform`` lambda, so
    whatever the caller passes — typically the full ``tokenize(text)``
    regexp — is evaluated ONCE per row and every reference inside the
    gram builder is a cheap bound-variable read. Referencing the raw
    expression from the lambda body instead re-evaluates it per GRAM
    (measured 9.3 s vs 0.5 s for the x10 shingle projection); callers
    that hoist into their own projection (dedup.shingle_docs) skip even
    the single re-wrap.
    """

    def grams(ts: Column) -> Column:
        count = F.size(ts) - (n - 1)
        g = F.slice(ts, 1, count)
        for j in range(1, n):
            g = F.zip_with(
                g,
                F.slice(ts, 1 + j, count),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        return F.when(count <= 0, F.array().cast("array<string>")).otherwise(
            F.array_distinct(g)
        )

    return F.element_at(F.transform(F.array(tokens), grams), 1)


def doc_fingerprint(text_col: Column | str, n: int = 5) -> Column:
    """Winnowing-style document fingerprint: min 60-bit hash over word
    n-grams (the minimum of a rolling-hash window family). Empty/short docs
    fingerprint to null.
    """
    grams = word_ngrams(tokenize(text_col), n)
    return F.array_min(F.transform(grams, h60))


#: Gopher-rule word set: a doc must contain >= 2 distinct of these to pass
#: the stopword rule (the classic "is this prose at all" test).
GOPHER_REQUIRED_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with", "a", "in"]

#: Rule thresholds (word-count band, mean-word-length band, max symbol
#: ratio, min alphabetic-word ratio, min distinct required-word hits).
GOPHER_BOUNDS = {
    "min_words": 10,
    "max_words": 100_000,
    "min_mean_wordlen": 2.0,
    "max_mean_wordlen": 12.0,
    "max_symbol_ratio": 0.1,
    "min_alpha_ratio": 0.8,
    "min_required_hits": 2,
}


def gopher_flags(text_col: Column | str) -> dict[str, Column]:
    """Gopher-style quality-rule census: one boolean per rule plus the
    conjunctive ``keep`` verdict, all from integer counts in one pass.

    Rules (Rae et al. 2021, "Scaling Language Models" §A1.1, public
    paper): word-count band, mean-word-length band, symbol-to-word ratio
    (# and ... marks), alphabetic-word ratio, and >=2 distinct required
    stopwords. Every term is a ratio of integer counts with fixed
    arithmetic order, so the DuckDB twin reproduces doubles bit-for-bit.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    b = GOPHER_BOUNDS
    words = F.regexp_extract_all(c, F.lit(r"\S+"), F.lit(0))
    n_words = F.size(words)
    denom_w = F.greatest(n_words, F.lit(1)).cast("double")
    n_nonws = F.length(F.regexp_replace(c, r"\s", ""))
    mean_wordlen = n_nonws.cast("double") / denom_w
    n_symbol = F.regexp_count(c, F.lit(r"#|\.\.\."))
    symbol_ratio = n_symbol.cast("double") / denom_w
    n_alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_ratio = n_alpha_words.cast("double") / denom_w
    required = F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS])
    n_required = F.size(
        F.array_intersect(F.array_distinct(tokenize(c)), required)
    )
    flags = {
        "n_words": n_words,
        "mean_wordlen": mean_wordlen,
        "symbol_ratio": symbol_ratio,
        "alpha_ratio": alpha_ratio,
        "n_required_words": n_required,
        "word_count_ok": (n_words >= b["min_words"]) & (n_words <= b["max_words"]),
        "wordlen_ok": (mean_wordlen >= b["min_mean_wordlen"])
        & (mean_wordlen <= b["max_mean_wordlen"]),
        "symbol_ok": symbol_ratio <= b["max_symbol_ratio"],
        "alpha_ok": alpha_ratio >= b["min_alpha_ratio"],
        "stopword_ok": n_required >= b["min_required_hits"],
    }
    flags["keep"] = (
        flags["word_count_ok"]
        & flags["wordlen_ok"]
        & flags["symbol_ok"]
        & flags["alpha_ok"]
        & flags["stopword_ok"]
    )
    return flags


def gopher_flags_sql(expr: str) -> dict[str, str]:
    """DuckDB twins of :func:`gopher_flags` (same names, same arithmetic)."""
    b = GOPHER_BOUNDS
    words = f"regexp_extract_all({expr}, '\\S+')"
    n_words = f"len({words})"
    denom_w = f"CAST(greatest({n_words}, 1) AS DOUBLE)"
    n_nonws = f"length(regexp_replace({expr}, '\\s', '', 'g'))"
    mean_wordlen = f"(CAST({n_nonws} AS DOUBLE) / {denom_w})"
    n_symbol = f"len(regexp_extract_all({expr}, '#|\\.\\.\\.'))"
    symbol_ratio = f"(CAST({n_symbol} AS DOUBLE) / {denom_w})"
    n_alpha = f"len(list_filter({words}, w -> regexp_matches(w, '[A-Za-z]')))"
    alpha_ratio = f"(CAST({n_alpha} AS DOUBLE) / {denom_w})"
    req = "[" + ", ".join(f"'{w}'" for w in GOPHER_REQUIRED_WORDS) + "]"
    toks = f"regexp_extract_all({ascii_lower_sql(expr)}, '{TOKEN_PATTERN}')"
    n_required = f"len(list_intersect(list_distinct({toks}), {req}))"
    flags = {
        "n_words": f"CAST({n_words} AS INT)",
        "mean_wordlen": mean_wordlen,
        "symbol_ratio": symbol_ratio,
        "alpha_ratio": alpha_ratio,
        "n_required_words": f"CAST({n_required} AS INT)",
        "word_count_ok": f"({n_words} >= {b['min_words']} AND {n_words} <= {b['max_words']})",
        "wordlen_ok": f"({mean_wordlen} >= {b['min_mean_wordlen']!r}"
        f" AND {mean_wordlen} <= {b['max_mean_wordlen']!r})",
        "symbol_ok": f"({symbol_ratio} <= {b['max_symbol_ratio']!r})",
        "alpha_ok": f"({alpha_ratio} >= {b['min_alpha_ratio']!r})",
        "stopword_ok": f"({n_required} >= {b['min_required_hits']})",
    }
    flags["keep"] = (
        f"({flags['word_count_ok']} AND {flags['wordlen_ok']} AND "
        f"{flags['symbol_ok']} AND {flags['alpha_ok']} AND {flags['stopword_ok']})"
    )
    return flags
