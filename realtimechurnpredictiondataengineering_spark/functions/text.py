"""Text-analysis expressions (north star; SURVEY §2.10).

Everything operates on the ``documents`` table's ``text`` column and is
built from JVM-side ``pyspark.sql.functions`` only — regexps, split,
higher-order array functions — so a 100 TB corpus scan stays inside
WholeStageCodegen with zero Python in the row path.

Components: whitespace + BPE-ish token counting, n-gram-marker language
ID, length/punctuation/stopword quality scoring, md5 + polynomial-rolling
document fingerprints, and word-shingling (the MinHash/Jaccard feedstock
in ``operators.dedup``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: GPT-2-style pre-tokenizer approximation: letter runs, digit runs, or a
#: single non-alphanumeric-non-space symbol each count as one token.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: Tiny per-language marker vocabularies (function words — the classic
#: n-gram/stopword language-ID heuristic).  Ordered dict → deterministic
#: tie-break: first language listed wins ties.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "los", "que", "es"),
    "fr": ("le", "la", "les", "et", "est"),
    "de": ("der", "die", "das", "und", "ist"),
    "zh": ("的", "是", "了", "在", "我"),
}

EN_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def normalized(col: Column | str) -> Column:
    """Canonical text form: lower-cased, whitespace collapsed, trimmed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of the normalized text → array<string>."""
    return F.split(normalized(col), " ")


def token_count(col: Column | str) -> Column:
    """Whitespace token count (NULL and empty text both count 0 — a
    NULL here would poison every downstream arithmetic/filter with
    three-valued logic, silently dropping the document instead of
    scoring it as empty)."""
    n = normalized(col)
    return F.when(
        n.isNull() | (F.length(n) == 0), F.lit(0)
    ).otherwise(F.size(F.split(n, " ")))


def bpe_token_count(col: Column | str) -> Column:
    """BPE-ish token count: occurrences of ``BPE_ISH_PATTERN``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_ISH_PATTERN))


#: The marker-word boundary contract is ASCII-defined ([A-Za-z0-9_] is
#: a word char, everything else — including é, CJK and combining marks
#: — is not).  RE2's ``\b`` is exactly that; JAVA's ``\b`` is
#: Unicode-aware (probed: ``\ba\b`` misses 'a' in "aé", "a的" and
#: "a"+U+030A), so the two engines disagree whenever a marker word
#: abuts a non-ASCII char.  The Java spelling below pins ASCII
#: semantics while keeping ``\b``'s native speed as the fast path:
#: boundary := ``\b`` OR an adjacent non-ASCII byte (the exact cases
#: where Java's ``\b`` under-fires vs the ASCII contract).  Benchmarked
#: on the sf0.1 documents scan: explicit per-word lookarounds cost
#: ~2x the old ``\b`` on marker-scoring queries; this short-circuit
#: form lands within noise of it.
_JAVA_LB = r"(?:\b|(?<=[^\x00-\x7F]))"
_JAVA_RB = r"(?:\b|(?=[^\x00-\x7F]))"


def _marker_pattern(word: str) -> str:
    """RE2 spelling: ASCII-``\\b``-bounded for ASCII words; plain
    substring for CJK (``\\b`` never fires between CJK chars)."""
    return rf"\b{word}\b" if word.isascii() else word


def marker_pattern(words: tuple[str, ...], java: bool = False) -> str:
    """ONE alternation over all marker words.  Counting matches of the
    combined pattern equals summing per-word counts: every alternative is
    either a word-bounded ASCII word (at most one can fire per token) or
    a distinct CJK char, so alternatives never compete for a position.
    One regex pass instead of ``len(words)`` — the scoring kernels run
    over every document, so the constant factor is the corpus-scan cost.
    Default spelling is the RE2/ASCII-``\\b`` form (the DuckDB twins);
    ``java=True`` spells the same ASCII-boundary contract for Java's
    Unicode-aware ``\\b`` (see the boundary notes above), factoring the
    ASCII words into one boundary-bracketed group (boundaries don't
    consume, so a separator stays available to the next match and the
    counts equal the per-word form — fuzz-pinned in tests)."""
    if not java:
        return "|".join(_marker_pattern(w) for w in words)
    ascii_words = [w for w in words if w.isascii()]
    cjk = [w for w in words if not w.isascii()]
    parts = (
        [_JAVA_LB + "(?:" + "|".join(ascii_words) + ")" + _JAVA_RB]
        if ascii_words
        else []
    )
    return "|".join(parts + cjk)


def marker_hits(col: Column | str, words: tuple[str, ...]) -> Column:
    """How many marker-word occurrences (ASCII-word-bounded) the text
    contains."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    return F.regexp_count(c, F.lit(marker_pattern(words, java=True)))


def language_scores(col: Column | str) -> dict[str, Column]:
    """Per-language marker-hit scores (the language-ID feature vector)."""
    return {lang: marker_hits(col, words) for lang, words in LANG_MARKERS.items()}


def language_id(col: Column | str) -> Column:
    """Argmax language over ``LANG_MARKERS`` scores; ``und`` when no
    marker hits at all.  Ties break in LANG_MARKERS order (deterministic).
    """
    scores = language_scores(col)
    best = F.greatest(*scores.values())
    result = F.lit("und")
    # Build the argmax back-to-front so earlier languages win ties.
    for lang in reversed(list(scores)):
        result = F.when(scores[lang] == best, F.lit(lang)).otherwise(result)
    return F.when(best == 0, F.lit("und")).otherwise(result)


def punct_ratio(col: Column | str) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.regexp_count(c, F.lit(r"[^A-Za-z0-9\s]"))
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        n_punct.cast("double") / F.length(c)
    )


def stopword_ratio(col: Column | str) -> Column:
    """English stopword tokens / total tokens (0 when no tokens)."""
    tc = token_count(col)
    sw = marker_hits(col, EN_STOPWORDS)
    return F.when(tc == 0, F.lit(0.0)).otherwise(sw.cast("double") / tc)


def mean_word_length(col: Column | str) -> Column:
    """Average token length — a classic gibberish / boilerplate signal."""
    n = normalized(col)
    tc = token_count(col)
    n_chars = F.length(F.regexp_replace(n, " ", ""))
    return F.when(tc == 0, F.lit(0.0)).otherwise(n_chars.cast("double") / tc)


def quality_score(col: Column | str) -> Column:
    """Composite document-quality score in [0, 1].

    Heuristic bands (all built-ins, mirror what large-corpus filters like
    C4/Gopher publish): length in [200, 10k] chars, punctuation below
    30%%, some stopwords present, mean word length in [3, 12].  Each
    band contributes 0.25.
    """
    c = F.col(col) if isinstance(col, str) else col
    len_ok = (F.length(c) >= 200) & (F.length(c) <= 10_000)
    punct_ok = punct_ratio(c) <= 0.3
    stop_ok = stopword_ratio(c) > 0.0
    word_ok = (mean_word_length(c) >= 3.0) & (mean_word_length(c) <= 12.0)
    score = (
        len_ok.cast("double") * 0.25
        + punct_ok.cast("double") * 0.25
        + stop_ok.cast("double") * 0.25
        + word_ok.cast("double") * 0.25
    )
    return F.round(score, 2)


#: PII patterns kept in the common Java-regex/RE2 subset (no lookaround,
#: no backrefs) so the same pattern text runs in Spark, DuckDB, and any
#: RE2-based scrubber.  Replacement ORDER matters (emails contain dots
#: and digits): email -> ip -> phone, fixed by this dict's order.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
}


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-category PII match counts (pre-redaction)."""
    c = F.col(col) if isinstance(col, str) else col
    return {kind: F.regexp_count(c, F.lit(pat)) for kind, pat in PII_PATTERNS.items()}


def redact_pii(col: Column | str) -> Column:
    """Replace every PII match with ``[<KIND>]`` — the standard scrubbing
    pass before corpus release.  One chained ``regexp_replace`` per
    category, entirely JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    for kind, pat in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, f"[{kind.upper()}]")
    return c


def fingerprint_md5(col: Column | str) -> Column:
    """Content fingerprint: md5 of the normalized text.  Engine-portable
    (DuckDB md5 is identical) → the exact-dedup key."""
    return F.md5(normalized(col))


def word_kgrams(toks: Column, k: int, min_one: bool = True) -> Column:
    """Positional stride-1 word k-grams of a token array (the shared
    core of shingling, repetition folds, and duplicated-span grams).

    ``min_one=True`` clamps the gram count to at least one, so a
    document shorter than ``k`` tokens yields its whole text as the
    single (partial) gram; ``min_one=False`` yields an empty array
    instead — callers that map grams back to token POSITIONS need the
    strict form.
    """
    n = F.size(toks)
    last = F.greatest(n - k + 1, F.lit(1)) if min_one else (n - k + 1)
    grams = F.transform(
        F.sequence(F.lit(1), last),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    if min_one:
        return grams
    return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))


def shingles(col: Column | str, k: int = 5) -> Column:
    """Word k-gram shingle set (distinct) → array<string>.

    Documents shorter than ``k`` tokens yield their whole text as the
    single shingle, so short docs still participate in MinHash.
    """
    return F.array_distinct(word_kgrams(tokens(col), k))


def repetition_ratio(col: Column | str) -> Column:
    """Token repetition: 1 − distinct/total tokens (0 for empty text).

    The Gopher/RefinedWeb-family duplication signal — high values mean
    boilerplate or degenerate generation.  Pure column expression: no
    shuffle, no UDF."""
    toks = tokens(col)
    n = token_count(col)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(toks)) / n
    )


def top_bigram_fraction(col: Column | str) -> Column:
    """Fraction of all word bigrams taken by the single most frequent one
    (0 when fewer than 2 tokens).

    Computed scan-local: build the bigram array, sort it, and fold once
    counting the longest run of equal adjacent elements — O(n log n) per
    row inside codegen'd expressions, ZERO shuffles, where the textbook
    explode → count → max formulation costs two exchanges per corpus.
    """
    toks = tokens(col)
    n = F.size(toks)
    grams = F.sort_array(word_kgrams(toks, 2))
    best_run = F.aggregate(
        grams,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return F.when(n < 2, F.lit(0.0)).otherwise(best_run / (n - 1))


def dup_ngram_char_fraction(col: Column | str, k: int = 3) -> Column:
    """Fraction of characters inside duplicated word k-grams (0 when
    fewer than ``k`` tokens) — the other Gopher-family repetition
    signal: high values mean long stretches of the document repeat.

    A character is "inside a duplicated k-gram" if it belongs to any
    k-gram occurrence whose gram appears more than once in the document;
    we approximate char attribution the way the reference formulations
    do — each occurrence owns its gram's character length — and divide
    by the total k-gram-owned length.  Scan-local like
    ``top_bigram_fraction``: sort the gram array, fold once counting
    characters in equal-adjacent runs of length >= 2, zero shuffles.
    """
    toks = tokens(col)
    n = F.size(toks)
    grams = F.sort_array(word_kgrams(toks, k))
    # fold state: (prev gram, run length, chars in duplicated runs so
    # far, chars total so far).  When a run ends with length r >= 2 its
    # r*len(gram) chars count as duplicated; the finish lambda flushes
    # the last run.
    folded = F.aggregate(
        grams,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).cast("long").alias("dup_chars"),
            F.lit(0).cast("long").alias("total_chars"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            (
                acc.dup_chars
                + F.when(
                    (x != acc.prev) & (acc.run >= 2),
                    acc.run * F.length(acc.prev),
                ).otherwise(F.lit(0))
            ).alias("dup_chars"),
            (acc.total_chars + F.length(x)).alias("total_chars"),
        ),
        lambda acc: F.struct(
            (
                acc.dup_chars
                + F.when(acc.run >= 2, acc.run * F.length(acc.prev)).otherwise(F.lit(0))
            ).alias("dup_chars"),
            acc.total_chars.alias("total_chars"),
        ),
    )
    return F.when((n < k) | (folded.total_chars == 0), F.lit(0.0)).otherwise(
        folded.dup_chars / folded.total_chars
    )


# --------------------------------------------------------------------------
# Gopher rule-set document gates
# --------------------------------------------------------------------------


def alpha_word_fraction(col: Column | str) -> Column:
    """Fraction of tokens containing at least one alphabetic character
    (0 for empty text) — Gopher's 80%-alphabetic rule input.  Computed
    as one regex count over the normalized text (a token with a letter
    matches ``\\S*[A-Za-z]\\S*`` exactly once), no explode."""
    n = normalized(col)
    tc = token_count(col)
    n_alpha = F.regexp_count(n, F.lit(r"\S*[A-Za-z]\S*"))
    return F.when(tc == 0, F.lit(0.0)).otherwise(n_alpha.cast("double") / tc)


def symbol_word_ratio(col: Column | str) -> Column:
    """Gopher's symbol-to-word ratio: occurrences of hash marks and
    ellipses per token (0 for empty text)."""
    c = F.col(col) if isinstance(col, str) else col
    tc = token_count(col)
    n_sym = F.regexp_count(c, F.lit(r"#|\.\.\.|…"))
    return F.when(tc == 0, F.lit(0.0)).otherwise(n_sym.cast("double") / tc)


def gopher_rules(col: Column | str) -> dict[str, Column]:
    """The Gopher (Rae et al. 2021, §A1.1) document-quality gates as
    individual boolean columns plus the conjunction ``keep``.

    Thresholds follow the paper where the signal exists in this engine:
    50-100k tokens, mean word length in [3, 10], ≥80% alphabetic words,
    symbol-to-word ratio ≤0.1, ≥2 English stopword hits, and the
    RefinedWeb-style additions: token repetition ratio ≤0.3 and
    duplicated-3-gram character fraction ≤0.2.  Every gate is a
    scan-local built-in expression (regex counts + array folds): the
    whole rule set is ONE projection, no shuffle, no UDF — at 100 TB it
    runs at scan speed and feeds the corpus-prep gate chain.

    NULL text is an explicit REJECT, not a NULL flag: every gate (and
    ``keep``) is wrapped in ``coalesce(flag, false)`` so callers that
    select rejects via ``~keep`` or count ``keep = false`` see NULL-text
    documents instead of silently missing them (three-valued-logic
    filters would drop them from BOTH keep and reject sides).
    """
    tc = token_count(col)
    mwl = mean_word_length(col)
    rules = {
        "tokens_ok": (tc >= 50) & (tc <= 100_000),
        "word_len_ok": (mwl >= 3.0) & (mwl <= 10.0),
        "alpha_ok": alpha_word_fraction(col) >= 0.8,
        "symbol_ok": symbol_word_ratio(col) <= 0.1,
        "stopwords_ok": marker_hits(col, EN_STOPWORDS) >= 2,
        "repetition_ok": repetition_ratio(col) <= 0.3,
        "dup_gram_ok": dup_ngram_char_fraction(col, k=3) <= 0.2,
    }
    rules = {name: F.coalesce(flag, F.lit(False)) for name, flag in rules.items()}
    keep = F.lit(True)
    for flag in rules.values():
        keep = keep & flag
    rules["keep"] = keep
    return rules


# ---------------------------------------------------------------------------
# HTML -> text extraction (the crawl text-extraction stage)
# ---------------------------------------------------------------------------
#
# Every real WARC `response` body is HTML; the corpus gates want TEXT.
# Trafilatura/jusText-style DOM extraction needs a parser, but the
# classic pipeline fallback (C4-style preprocessing, and countless
# crawl jobs) is regex extraction: drop script/style/comment blocks,
# strip tags, decode the common entities, collapse whitespace.  All
# steps are RE2/Java-portable regexp_replace + replace chains — scan-
# local, zero Python, oracle-checkable — so extraction runs inside
# whole-stage codegen at any corpus size.
#
# Order matters and is part of the contract:
# 1. script/style/comment BLOCKS go first (their content may contain
#    '<' / '>' that the bare tag-strip would mangle);
# 2. then every remaining tag strips to ONE SPACE (block boundaries
#    must not glue words together);
# 3. entities decode AFTER tag-strip ('&lt;p&gt;' must NOT become a
#    strippable tag) with '&amp;' LAST (no double-decode);
# 4. whitespace collapses to single spaces + trim.

#: (pattern, replacement) applied in order via regexp_replace.  RE2 and
#: java.util.regex agree on every construct used: inline (?is) flags,
#: non-greedy .*?, character classes.
_HTML_STRIP_STEPS: tuple[tuple[str, str], ...] = (
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"<[^>]+>", " "),
)

#: entity -> replacement, '&amp;' deliberately last
_HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def html_to_text(col: Column | str) -> Column:
    """Extract readable text from an HTML string column (see the
    contract comment above).  NULL in -> NULL out."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, rep in _HTML_STRIP_STEPS:
        c = F.regexp_replace(c, pat, rep)
    for ent, rep in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def sql_html_to_text(col_sql: str) -> str:
    """DuckDB twin of :func:`html_to_text` — same steps, same order
    (DuckDB regexp_replace needs the explicit 'g' flag where Spark's
    replaces globally by default)."""
    e = col_sql
    for pat, rep in _HTML_STRIP_STEPS:
        e = f"regexp_replace({e}, '{pat}', '{rep}', 'g')"
    for ent, rep in _HTML_ENTITIES:
        rep_sql = rep.replace("'", "''")
        e = f"replace({e}, '{ent.replace(chr(39), chr(39)*2)}', '{rep_sql}')"
    return f"trim(regexp_replace({e}, '\\s+', ' ', 'g'))"
