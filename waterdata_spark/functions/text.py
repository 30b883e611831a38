"""Text-analysis functions (extension surface X4; BASELINE.json
north-star "text analysis" for LLM-data pipelines).

Everything here is built from JVM-side expressions (split, regexp,
aggregate, transform, md5) — no Python UDFs — so each scales linearly
over a 100 TB documents table with zero serde overhead.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"
# BPE-ish word/piece regex: runs of letters, runs of digits, or a
# single non-space symbol — a deterministic approximation of byte-pair
# pre-tokenization.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization → array<string> (empty strings removed)."""
    col = F.col(c) if isinstance(c, str) else c
    arr = F.split(F.trim(col), TOKEN_SPLIT_RE)
    return F.filter(arr, lambda t: t != "")


def token_count(c: Column | str) -> Column:
    """Whitespace token count (int)."""
    return F.size(tokens(c))


def bpe_tokens(c: Column | str) -> Column:
    """Regex pre-tokenization: letters / digits / single symbols."""
    col = F.col(c) if isinstance(c, str) else c
    return F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), 0)


def punct_count(c: Column | str) -> Column:
    """Number of punctuation characters (quality-scoring feature)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.length(col) - F.length(F.regexp_replace(col, r"[!-/:-@\[-`{-~]", ""))


# Tiny stopword markers per language, for the n-gram/stopword language
# heuristic. Deliberately small + deterministic so the DuckDB oracle
# can reproduce the exact scores with string arithmetic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is"],
    "es": ["el", "la", "de", "que"],
    "fr": ["le", "la", "et", "les"],
    "de": ["der", "die", "und", "das"],
    "zh": ["的", "是", "了", "在"],
}


def lang_id_score(c: Column | str, lang: str) -> Column:
    """Count of this language's marker tokens in the text (int).

    Heuristic language-ID: argmax over ``lang_id_score`` per language.
    Marker occurrences counted as whole tokens via the tokenized array,
    so 'theory' does not count as 'the'.
    """
    toks = tokens(c)
    markers = LANG_MARKERS[lang]
    return F.size(F.filter(toks, lambda t: F.lower(t).isin(markers)))


def sliding_windows(arr: Column, n: int, sep: str = " ") -> Column:
    """``sep``-joined sliding ``n``-element windows of an array —
    length ``size-n+1``, empty when the array has fewer than ``n``
    elements (null in → null out; a window containing a null element
    is dropped, matching the pre-r12 shifted-copy form).

    Two HOF traps shape this construction (both measured):

    - The natural ``transform(sequence(1,m), i -> slice(arr, i, n))``
      re-evaluates the captured ``arr`` SUBTREE once per element
      (interpreted HOFs do no caching), which is O(m²) per row when
      ``arr`` is itself an O(m) expression — measured 57s for one
      20k-token document (r6).
    - The r6 fix (n-1 shifted copies folded with ``zip_with``)
      references ``arr`` as a direct OPERAND ~2(n-1) times, and
      Catalyst performs no common-subexpression elimination across
      operands: the r12 plan audit found ``filter(split(text, ''))``
      inlined ~15x into the x08 Generate node — every slice/size
      re-split the text, and the allocation storm made the signature
      pass wildly GC-sensitive (same-JVM repeats 8s-355s under memory
      pressure).

    The r12 form LET-BINDS the array once per row —
    ``transform(array(arr), a -> windows(a))`` evaluates ``arr``
    exactly once and exposes it as the O(1) lambda variable ``a`` —
    then builds each window with ``n`` ``element_at`` lookups. Cost is
    O(n·m) per row with ONE evaluation of ``arr`` and one output
    allocation per window (probe: tools/shingle_probe.py@72b9015 — x08's
    signature pass 8.3s → 1.8s min-of-4 at 50k docs, and the 355s GC
    spikes gone; values bit-identical).
    """
    if n == 1:
        return arr

    if sep:
        def join(elems):
            guard = elems[0].isNotNull()
            for e in elems[1:]:
                guard = guard & e.isNotNull()
            return F.when(guard, F.concat_ws(sep, *elems))
    else:
        # concat propagates null, matching the drop-window-on-null rule
        def join(elems):
            return F.concat(*elems)

    def windows(a):
        w = F.transform(
            F.sequence(F.lit(1), F.size(a) - (n - 1)),
            lambda i: join([F.element_at(a, i + j) for j in range(n)]),
        )
        return (
            F.when(a.isNull(), F.lit(None).cast("array<string>"))
            .when(F.size(a) >= n, F.filter(w, lambda g: g.isNotNull()))
            .otherwise(F.array().cast("array<string>"))
        )

    return F.element_at(F.transform(F.array(arr), windows), 1)


def char_shingles(c: Column | str, k: int = 8) -> Column:
    """All k-character shingles of the text → array<string>.

    JVM-side via :func:`sliding_windows` over the character array (the
    old per-index ``substr(i, k)`` scan was O(i) per shingle on UTF-8
    strings — quadratic per document). The shingle set feeds MinHash /
    fingerprinting. Returns the whole text when shorter than k.
    """
    col = F.col(c) if isinstance(c, str) else c
    chars = F.filter(F.split(col, ""), lambda ch: ch != "")
    sh = sliding_windows(chars, k, sep="")
    # shorter-than-k (incl. empty) → the whole text, as one shingle;
    # null text → null (both match the previous substr construction)
    return F.when(F.length(col) >= k, sh).when(F.length(col) < k, F.array(col))


def doc_fingerprint(c: Column | str, k: int = 8) -> Column:
    """Deterministic document fingerprint: min(md5(shingle)) over all
    k-shingles — a 1-permutation MinHash usable for near-dup
    bucketing. md5 exists in both Spark and DuckDB, so this is
    oracle-checkable."""
    return F.array_min(F.transform(char_shingles(c, k), F.md5))


def lines(c: Column | str) -> Column:
    """Non-empty lines of the text → array<string>.

    Splits on ``\\r?\\n`` so CRLF and LF corpora behave identically:
    Spark's ``trim`` strips only spaces, so splitting on ``\\n`` alone
    would leave a trailing ``\\r`` that defeats line-dedup equality and
    the ellipsis/bullet anchors (ADVICE r5)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.filter(F.split(col, r"\r?\n"), lambda l: F.trim(l) != "")


def word_ngrams(c: Column | str, n: int = 2) -> Column:
    """Space-joined word n-grams → array<string> (empty when the text
    has fewer than n tokens, or is null). JVM-side and linear per row
    via :func:`sliding_windows`."""
    grams = sliding_windows(tokens(c), n, sep=" ")
    return F.coalesce(grams, F.array().cast("array<string>"))


def _dup_fraction(arr: Column) -> Column:
    """1 - distinct/total over an array; 0.0 for empty arrays."""
    total = F.size(arr)
    return F.when(
        total > 0,
        F.lit(1.0) - F.size(F.array_distinct(arr)).cast("double") / total.cast("double"),
    ).otherwise(F.lit(0.0))


def repetition_features(c: Column | str, ngram: int = 3) -> dict[str, Column]:
    """Within-document repetition/boilerplate signals — the standard
    pretraining-corpus filters (C4's line dedup, Raffel et al. 2020;
    Gopher's repetition thresholds, Rae et al. 2021 §A1.1), as pure
    JVM expressions:

    - ``dup_line_fraction``: fraction of non-empty lines that are
      repeats of an earlier line (C4 drops these);
    - ``dup_ngram_fraction``: fraction of word ``ngram``-grams that are
      duplicates (Gopher filters docs above ~0.1-0.2);
    - ``top_ngram_fraction``: share of all ``ngram``-grams taken by the
      most frequent one (boilerplate/template detector);
    - ``ellipsis_line_fraction`` / ``bullet_line_fraction``: lines
      ending in ellipsis / starting with a bullet (Gopher caps these).

    Every signal is linear-ish per row (``top_ngram_fraction`` sorts
    the gram array — O(n log n) — then takes the longest equal run in
    one linear pass, so an adversarial 100k-token boilerplate document
    costs ~1e6 comparisons, not the 1e10 a distinct×filter scan would)
    and nothing shuffles.
    """
    ls = lines(c)
    grams = word_ngrams(c, ngram)
    n_grams = F.size(grams)
    # most-frequent-gram count == longest run of equal adjacent
    # elements in the sorted array; single aggregate pass, no
    # distinct×total rescan (VERDICT r5 item 4)
    top_count = F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                a["best"],
                F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda a: a["best"],
    )
    return {
        "dup_line_fraction": _dup_fraction(ls),
        "dup_ngram_fraction": _dup_fraction(grams),
        "top_ngram_fraction": F.when(
            n_grams > 0, top_count.cast("double") / n_grams.cast("double")
        ).otherwise(F.lit(0.0)),
        "ellipsis_line_fraction": F.when(
            F.size(ls) > 0,
            F.size(F.filter(ls, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))).cast("double")
            / F.size(ls).cast("double"),
        ).otherwise(F.lit(0.0)),
        "bullet_line_fraction": F.when(
            F.size(ls) > 0,
            F.size(F.filter(ls, lambda l: F.trim(l).rlike(r"^([-*•‣▪]|\d+[.)])\s"))).cast("double")
            / F.size(ls).cast("double"),
        ).otherwise(F.lit(0.0)),
    }


# PII patterns, applied in order (email before phone: an email's digit
# runs must not be half-eaten by the phone pattern first)
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"(?<!\d)(?:\+?1[-. ]?)?(?:\(\d{3}\)|\d{3})[-. ]\d{3}[-. ]\d{4}(?!\d)", "<PHONE>"),
]


def redact_pii(c: Column | str) -> Column:
    """Scrub the PII classes every pretraining pipeline handles —
    emails, IPv4s, US SSNs, US phone numbers — replacing each with a
    typed placeholder token (C4 and its descendants drop or mask these
    before training). A chain of JVM-side ``regexp_replace`` calls:
    no UDF, no shuffle, linear per row.

    Deliberately pattern-scoped (regexes are auditable and cheap at
    100 TB); entity-model scrubbing (names, addresses) is a different
    cost class and belongs behind an Arrow-batched codec like the
    multimodal decoders."""
    out = F.col(c) if isinstance(c, str) else c
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_counts(c: Column | str) -> dict[str, Column]:
    """Per-class PII occurrence counts (audit/reporting companion to
    :func:`redact_pii` — pipelines log these before deciding whether a
    document is droppable or maskable).

    Each class is counted on the text with EARLIER classes already
    redacted — the same sequential chain :func:`redact_pii` applies —
    so the counts reconcile exactly with the redaction output: a phone
    number embedded in an email local-part counts once, as email
    (ADVICE r5: independent per-pattern counts double-counted it)."""
    cur = F.col(c) if isinstance(c, str) else c
    out: dict[str, Column] = {}
    for pattern, token in PII_PATTERNS:
        out[token.strip("<>").lower() + "_count"] = F.size(
            F.regexp_extract_all(cur, F.lit(pattern), 0)
        )
        cur = F.regexp_replace(cur, pattern, token)
    return out


#: Gopher quality-filter thresholds (Rae et al. 2021, Table A1) — the
#: published operating points; override any subset via gopher_gate's
#: ``thresholds``. Keys map 1:1 to gopher_signals outputs.
GOPHER_THRESHOLDS: dict[str, tuple[float, float]] = {
    # (min, max) inclusive bounds; use -inf/inf for one-sided rules
    "n_words": (50, 100_000),
    "mean_word_len": (3.0, 10.0),
    "alpha_word_ratio": (0.80, float("inf")),
    "symbol_word_ratio": (float("-inf"), 0.10),
    "bullet_line_fraction": (float("-inf"), 0.90),
    "ellipsis_line_fraction": (float("-inf"), 0.30),
    "dup_line_fraction": (float("-inf"), 0.30),
    "top_2gram_fraction": (float("-inf"), 0.20),
    "top_3gram_fraction": (float("-inf"), 0.18),
    "top_4gram_fraction": (float("-inf"), 0.16),
    "dup_5gram_fraction": (float("-inf"), 0.15),
    "dup_10gram_fraction": (float("-inf"), 0.10),
}


def gopher_signals(c: Column | str) -> dict[str, Column]:
    """Every signal the Gopher document filter thresholds (Rae et al.
    2021 §A1.1 / Table A1), as JVM expressions over one text column:
    word count, mean word length, fraction of words containing an
    alphabetic character, #/… symbol-to-word ratio, bullet/ellipsis/
    duplicate line fractions, top {2,3,4}-gram share and duplicate
    {5,10}-gram fractions. Linear per row (each n-gram size adds one
    :func:`sliding_windows` pass); composes into :func:`gopher_gate`."""
    col = F.col(c) if isinstance(c, str) else c
    toks = tokens(col)
    n_words = F.size(toks)
    n_words_safe = F.greatest(n_words, F.lit(1)).cast("double")
    rep2 = repetition_features(col, ngram=2)
    out: dict[str, Column] = {
        "n_words": n_words,
        "mean_word_len": quality_features(col)["mean_token_len"],
        "alpha_word_ratio": F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
        / n_words_safe,
        "symbol_word_ratio": F.size(F.filter(toks, lambda t: t.rlike(r"#|\.\.\.|…")))
        / n_words_safe,
        "bullet_line_fraction": rep2["bullet_line_fraction"],
        "ellipsis_line_fraction": rep2["ellipsis_line_fraction"],
        "dup_line_fraction": rep2["dup_line_fraction"],
    }
    for n in (2, 3, 4):
        out[f"top_{n}gram_fraction"] = repetition_features(col, ngram=n)["top_ngram_fraction"]
    for n in (5, 10):
        out[f"dup_{n}gram_fraction"] = repetition_features(col, ngram=n)["dup_ngram_fraction"]
    return out


def gopher_gate(
    df,
    text_col: str = "text",
    thresholds: dict[str, tuple[float, float]] | None = None,
    audit_col: str | None = None,
):
    """The composed Gopher document filter: keep rows whose every
    signal sits inside its published [min, max] band. With
    ``audit_col`` the frame instead KEEPS all rows and adds an
    array<string> of failed rule names (empty = clean) — the
    drop-vs-review decision pipelines audit before deleting corpus
    data. One scan, all signals in one projection, no shuffle."""
    th = {**GOPHER_THRESHOLDS, **(thresholds or {})}
    sig = gopher_signals(text_col)
    unknown = set(th) - set(sig)
    if unknown:
        raise ValueError(f"gopher_gate: unknown signal(s) {sorted(unknown)}")
    # NULL text must FAIL, not pass: every signal of a null document is
    # null, each threshold F.when then yields null, and array_compact
    # would remove them all — a null document would report as clean. An
    # explicit first rule makes null text a named failure instead.
    fails = F.array_compact(
        F.array(
            F.when(F.col(text_col).isNull(), F.lit("null_text")),
            *[
                F.when((sig[k] < lo) | (sig[k] > hi), F.lit(k))
                for k, (lo, hi) in sorted(th.items())
            ],
        )
    )
    if audit_col:
        return df.withColumn(audit_col, fails)
    return df.filter(F.size(fails) == 0)


def quality_features(c: Column | str) -> dict[str, Column]:
    """Quality-scoring features for an LLM-data pipeline: raw length,
    token count, mean token length, punctuation ratio, uppercase ratio."""
    col = F.col(c) if isinstance(c, str) else c
    toks = tokens(col)
    n_tok = F.size(toks)
    n_char = F.length(col)
    return {
        "n_chars": n_char,
        "n_tokens": n_tok,
        "mean_token_len": (
            F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)).cast("double")
            / F.greatest(n_tok, F.lit(1)).cast("double")
        ),
        "punct_ratio": punct_count(col).cast("double") / F.greatest(n_char, F.lit(1)).cast("double"),
        "upper_ratio": (
            (n_char - F.length(F.regexp_replace(col, r"[A-Z]", ""))).cast("double")
            / F.greatest(n_char, F.lit(1)).cast("double")
        ),
    }


# decode order matters: specific entities first, bare '&amp;' LAST so
# already-decoded ampersands are not re-expanded ('&amp;lt;' decodes to
# '&lt;' — literal text, correctly NOT a second round of '<')
_HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#34;", '"'),
    ("&apos;", "'"),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&#160;", " "),
    ("&mdash;", "—"),
    ("&ndash;", "–"),
    ("&hellip;", "…"),
    ("&lsquo;", "‘"),
    ("&rsquo;", "’"),
    ("&ldquo;", "“"),
    ("&rdquo;", "”"),
    ("&amp;", "&"),
]

# tags whose END (or self-close) is a text break — the WET-style block
# structure signal; everything else is inline and strips to nothing
_HTML_BLOCK_BREAK = (
    r"(?i)</(?:p|div|li|ul|ol|h[1-6]|tr|table|blockquote|section|article|"
    r"header|footer|pre|figure|figcaption|dd|dt)>|<br\s*/?>|<hr\s*/?>"
)
_HTML_CELL_BREAK = r"(?i)</(?:td|th)>"


def html_to_text(c: Column | str) -> Column:
    """Raw HTML → plain text, the crawl-to-corpus extraction stage
    (the WET-file convention: drop markup/script/style, keep block
    structure as line breaks). A chain of JVM ``regexp_replace`` —
    same cost class as :func:`redact_pii`: no UDF, no shuffle, linear
    per row, auditable patterns — NOT a spec-complete HTML5 parser
    (malformed-markup recovery, CSS visibility, generic numeric
    entities are a different cost class; a fixed table of the common
    entities is decoded, see ``_HTML_ENTITIES``).

    Order: (1) script/style/comment SUBTREES removed content-and-all;
    (2) block-end tags → newline, table-cell ends → space; (3) every
    remaining tag stripped; (4) entities decoded (specific first,
    ``&amp;`` last); (5) whitespace normalized — spaces collapsed,
    blank runs of 3+ newlines → 2 (paragraph break), edges trimmed.
    Null in → null out."""
    out = F.col(c) if isinstance(c, str) else c
    out = F.regexp_replace(out, r"(?is)<script\b[^>]*>.*?</script\s*>", " ")
    out = F.regexp_replace(out, r"(?is)<style\b[^>]*>.*?</style\s*>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, _HTML_BLOCK_BREAK, "\n")
    out = F.regexp_replace(out, _HTML_CELL_BREAK, " ")
    out = F.regexp_replace(out, r"(?s)<[^>]*>", "")
    for entity, ch in _HTML_ENTITIES:
        out = F.regexp_replace(out, entity, ch)
    out = F.regexp_replace(out, r"[ \t\x0b\f\r]+", " ")
    out = F.regexp_replace(out, r" ?\n ?", "\n")
    out = F.regexp_replace(out, r"\n{3,}", "\n\n")
    # trim() strips spaces only — edge NEWLINES need the regex form
    return F.regexp_replace(out, r"^\s+|\s+$", "")


def normalize_unicode(
    c: Column | str,
    form: str = "NFKC",
    lower: bool = True,
    strip_accents: bool = False,
) -> Column:
    """Unicode normalization for dedup/linkage preprocessing — the
    step every published crawl pipeline runs before hashing text
    (CCNet, Wenzek 2020 §3: lowercase + NFD accent strip before
    paragraph hashes; Gopher/fastText lang-ID conventions): full-width
    and ligature folding (NFKC: 'ﬁ' -> 'fi', 'Ａ' -> 'A'), composed/
    decomposed unification (café is one string whether the é arrived
    as one codepoint or two), optional casefold and accent strip.
    Without this, byte-identical CONTENT hashes differently across
    encoders and MinHash recall silently drops.

    This is the documented exception to the no-Python-UDF rule: the
    JVM expression surface has no Unicode normalizer, so this is an
    Arrow-batched pandas UDF (never row-at-a-time Python). Keep it
    OFF the hot path of operators that don't need it — it is a
    deliberate opt-in preprocessor, zero shuffle, linear per row.

    ``strip_accents`` decomposes (NFKD) and drops combining marks
    (category Mn), then re-applies ``form``. ``lower`` uses Python
    ``str.casefold`` (the Unicode-correct lowercase: 'ß' -> 'ss').
    Null in -> null out. Idempotent for every flag combination
    (law-tested).
    """
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    import pandas as pd  # noqa: F401  (Arrow batch transport)

    @F.pandas_udf("string")
    def _norm(s):
        import unicodedata

        def one(x):
            if x is None:
                return None
            y = unicodedata.normalize(form, x)
            if strip_accents:
                y = unicodedata.normalize("NFKD", y)
                y = "".join(ch for ch in y if not unicodedata.combining(ch))
                y = unicodedata.normalize(form, y)
            if lower:
                y = y.casefold()
                # casefold can re-introduce compositions NFKC would fold
                y = unicodedata.normalize(form, y)
            return y

        return s.map(one)

    return _norm(F.col(c) if isinstance(c, str) else c)


def top_ngrams(
    df,
    text_col: str = "text",
    n: int = 2,
    k: int = 20,
    min_docs: int = 1,
    lowercase: bool = True,
):
    """Corpus-wide n-gram heavy hitters: the top-``k`` word n-grams by
    total occurrence count, with document frequency alongside — the
    diagnostic that finds template boilerplate BEFORE you pick
    :func:`~waterdata_spark.operators.dedup.remove_boilerplate_lines`
    thresholds, and the corpus-level counterpart of the per-document
    ``top_ngram_fraction`` Gopher signal (Rae 2021 §A1.1 uses exactly
    this statistic class).

    Returns ``(ngram, occurrences, doc_freq)`` sorted by occurrences
    desc, then ngram asc (deterministic ties). ``min_docs`` drops
    grams seen in fewer documents (noise floor).

    Shape at 100 TB: explode → two-phase aggregate on the gram string
    (map-side combine collapses each task to its distinct grams;
    doc_freq is a count_distinct expansion on the same shuffle), then
    TakeOrderedAndProject for the top-k — no full sort, no window.
    Hot grams are exactly what combiners flatten, so gram skew is
    absorbed map-side. The gram strings themselves ride the shuffle
    (bounded by n * word length); for corpus-scale runs prefer n >= 2
    and the default token split, which cap the distinct-gram blowup.
    """
    from pyspark.sql import functions as _F

    src = _F.col(text_col)
    if lowercase:
        src = _F.lower(src)
    # the doc id must bind BEFORE the explode — in the same select,
    # monotonically_increasing_id() would run once per GRAM row and
    # doc_freq would silently equal occurrences
    base = df.select(
        _F.monotonically_increasing_id().alias("__doc"),
        word_ngrams(src, n).alias("__grams"),
    )
    grams = base.select("__doc", _F.explode("__grams").alias("ngram"))
    agg = (
        grams.groupBy("ngram")
        .agg(
            _F.count(_F.lit(1)).alias("occurrences"),
            _F.count_distinct("__doc").alias("doc_freq"),
        )
        .filter(_F.col("doc_freq") >= min_docs)
    )
    return agg.orderBy(_F.col("occurrences").desc(), _F.col("ngram").asc()).limit(k)
