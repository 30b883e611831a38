"""Deduplication operators (SURVEY.md §2.4: C22-C24; extension X1).

The reference's "keep best row per key" is a sort + drop_duplicates
(down/down_water_prep.py:498-501), which relies on pandas' stable
sort. In a distributed engine that recipe is nondeterministic, so the
engine's canonical form is an explicit row_number window — same
result on one core or a thousand executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def priority_dedup(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column | str],
    rn_col: str = "__rn",
) -> DataFrame:
    """C22: keep exactly one row per key — the first under ``order_by``.

    Reference: sort desc by tiebreak, then drop_duplicates(subset=keys)
    keeping first (down/down_water_prep.py:498-501). Spark mapping:
    row_number over Window.partitionBy(keys).orderBy(order_by), keep
    rn==1. Deterministic iff order_by is a total order within each key
    group — callers should append a unique column as final tiebreak.

    Scale: one shuffle on ``keys``; AQE handles skewed keys. No
    collect, no sort of the full table (window sorts per partition
    group only).
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn(rn_col, F.row_number().over(w))
        .filter(F.col(rn_col) == 1)
        .drop(rn_col)
    )


def priority_dedup_agg(df: DataFrame, keys: list[str], sort_key: Column) -> DataFrame:
    """C22, aggregate form — the scale path for LOW-cardinality keys.

    Keeps the row with the MINIMAL ``sort_key`` per key group via
    ``min_by(struct(all columns), sort_key)``. Partial ``min_by`` runs
    map-side, so when keys are FEW relative to rows the shuffle
    carries at most one candidate per (map task, key) — a fraction of
    the window form's full-row shuffle.

    Cardinality caveat (r6, measured under a full-materialization
    drain — earlier numbers were count()-pruned and wrong): when keys
    approach row count (q06's ~4 rows/orderkey, 15M keys at sf10) the
    map-side hash table exceeds memory, falls back to sort-based
    aggregation and spills — 21.6s vs the window form's 7.4s on 60M
    rows. Rule of thumb: use this form when distinct keys per map task
    fit memory (keys ≪ rows); otherwise :func:`priority_dedup`. Also:
    PRUNE the payload to needed columns first — min_by carries the
    whole struct through the shuffle (the unpruned q06 cost 56s).

    ``sort_key`` must totally order each key group (append a unique
    tiebreak) and encode direction numerically — negate a numeric
    column for descending (e.g. ``F.struct(-price, linenumber)`` for
    ``price DESC, linenumber ASC``). For mixed-direction STRING sort
    columns keep the window form — strings can't be negated.
    """
    payload = F.struct(*[F.col(c) for c in df.columns])
    best = df.groupBy(*keys).agg(F.min_by(payload, sort_key).alias("__best"))
    return best.select(*[F.col("__best")[c].alias(c) for c in df.columns])


def dedup_any(df: DataFrame, keys: list[str]) -> DataFrame:
    """C24: "any one row per key" — the reference documents the kept
    row as arbitrary (direct/direct_water_prep.py:130,144-145). Spark's
    dropDuplicates has exactly those semantics. For oracle tests use
    priority_dedup instead (pinned deterministic)."""
    return df.dropDuplicates(keys)


def content_digest(content_cols: list[str]):
    """sha2 over an UNAMBIGUOUS multi-column encoding: each value is
    length-prefixed (``len:value``) and null gets a sentinel that can
    never start a length prefix. Separator-joined concat would let
    ("ab","c") collide with ("a","bc") when a value contains the
    separator, and concat_ws skips nulls so null collided with '' —
    and in the cross-corpus form a false collision silently DELETES
    corpus rows (ADVICE r6).

    Public (r9) so pipelines can compute the digest ONCE, project the
    wide content columns away, and run every downstream dedup stage on
    the fixed-width digest — the content then never rides a shuffle
    (see ``exact_dedup(digest_col=...)``)."""
    parts = []
    for c in content_cols:
        s = F.col(c).cast("string")
        parts.append(
            F.coalesce(
                F.concat(F.length(s).cast("string"), F.lit(":"), s), F.lit("N")
            )
        )
    return F.sha2(F.concat(*parts), 256)


#: module-internal alias (pre-r9 name, kept for call sites/tests)
_content_digest = content_digest


def exact_dedup(
    df: DataFrame,
    content_cols: list[str],
    id_col: str,
    digest_col: str | None = None,
) -> DataFrame:
    """X1: exact content dedup at scale — keep the row with the lowest
    id per distinct content. groupBy(content)+min(id) then semi-join
    back would shuffle twice; a window does it in one shuffle on a
    hash of the content (cheap fixed-width shuffle key even for long
    text). Content identity is the length-prefixed
    :func:`content_digest` — no column-boundary or null/'' collisions.

    ``digest_col`` (r9): name of a PRE-COMPUTED :func:`content_digest`
    column to dedup on instead of computing one here (``content_cols``
    is then ignored). The 100 TB reason: when a caller digests once
    and projects the text away before calling, the wide content never
    rides the election shuffle — only fixed-width digests do — and a
    downstream cross-corpus stage reuses the same digest instead of
    re-scanning the text. The column is caller-owned and kept."""
    if digest_col is not None:
        return priority_dedup(df, [digest_col], [F.col(id_col).asc()])
    df = df.withColumn("__h", content_digest(content_cols))
    out = priority_dedup(df, ["__h"], [F.col(id_col).asc()])
    return out.drop("__h")


def dedup_lines_global(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_chars: int = 1,
    drop_empty_docs: bool = True,
) -> DataFrame:
    """C4-style GLOBAL line deduplication (Raffel et al. 2020 §2.2:
    occurrences of any three-sentence span beyond the first are
    removed corpus-wide; the unit here is the LINE, the same one
    repetition_features scores): every line keeps only its FIRST
    occurrence across the whole corpus — first by ``(id_col, line
    index)``, deterministic — and later occurrences are deleted from
    their documents. The boilerplate killer exact-dedup can't reach:
    headers, footers, cookie banners repeated across millions of
    pages that are each otherwise unique.

    Shape at 100 TB: lines shuffle ONCE on ``xxhash64(trimmed line)``
    — a fixed-width key, the line text never rides the first shuffle —
    to elect the winner (map-side-combinable ``min_by``), then
    surviving lines group back by document (second shuffle, bounded by
    surviving volume) and reassemble in original order via
    ``sort_array(collect_list(struct(idx, line)))``. No windows over
    the whole corpus, no driver-side state.

    Lines shorter than ``min_line_chars`` (after trim) are passed
    through untouched — single-character separators are not
    boilerplate evidence. Documents whose every line is removed become
    empty text ('' — dropped entirely when ``drop_empty_docs``).
    Returns ``(id_col, text_col)`` plus ``n_lines_kept`` /
    ``n_lines_dropped`` audit columns. Reassembled text is
    line-normalized: blank lines dropped, single ``\\n`` separators
    (the same normalization ``lines()`` applies for scoring). Line
    identity is a 96-bit composite (xxhash64 + crc32 of the trimmed
    line) so a corpus-scale collision cannot silently delete a line.
    """
    ls = _exploded_lines(df, id_col, text_col)
    scored = ls.withColumn(
        "__h", F.struct(F.xxhash64("__t").alias("a"), F.crc32(F.col("__t").cast("binary")).alias("b"))
    ).withColumn(
        "__pos", F.struct(F.col(id_col).alias("i"), F.col("__idx").alias("x"))
    )
    dedupable = F.length("__t") >= min_line_chars
    winners = (
        scored.filter(dedupable)
        .groupBy("__h")
        .agg(F.min_by("__pos", "__pos").alias("__win"))
    )
    kept = scored.join(winners, "__h", "left").filter(
        (~dedupable)
        | ((F.col("__win.i") == F.col(id_col)) & (F.col("__win.x") == F.col("__idx")))
    )
    return _reassemble_lines(kept, df, id_col, text_col, drop_empty_docs)


def _exploded_lines(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Shared head of the line-granularity corpus operators: one row
    per (document, line index), blank lines already dropped by
    ``lines()``'s normalization, plus the trimmed identity ``__t``."""
    from waterdata_spark.functions.text import lines

    return df.select(
        F.col(id_col),
        F.posexplode(lines(F.col(text_col))).alias("__idx", "__line"),
    ).withColumn("__t", F.trim("__line"))


def _reassemble_lines(
    kept: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    drop_empty_docs: bool,
) -> DataFrame:
    """Shared tail: group surviving lines back by document and rebuild
    text in original order, with kept/dropped audit counts against the
    document's pre-filter line total."""
    from waterdata_spark.functions.text import lines

    out = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("__idx", "__line"))),
                    lambda s: s["__line"],
                ),
                "\n",
            ).alias(text_col),
            F.count(F.lit(1)).alias("n_lines_kept"),
        )
    )
    totals = df.select(
        F.col(id_col), F.size(lines(F.col(text_col))).alias("__n_total")
    )
    out = (
        totals.join(out, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            (F.col("__n_total") - F.coalesce("n_lines_kept", F.lit(0))).alias(
                "n_lines_dropped"
            ),
        )
    )
    if drop_empty_docs:
        out = out.filter(F.col("n_lines_kept") > 0)
    return out


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    min_doc_frac: float | None = None,
    min_line_chars: int = 1,
    drop_empty_docs: bool = True,
) -> DataFrame:
    """X1/X9: corpus-wide BOILERPLATE line removal (CCNet, Wenzek 2020
    §3.1 removes paragraphs duplicated across shards; RefinedWeb,
    Penedo 2023 §3.4 line-level corrections): a line whose DISTINCT-
    document frequency reaches the threshold is deleted from EVERY
    document — including the first occurrence. That is the difference
    from :func:`dedup_lines_global`, which keeps the first copy: a
    cookie banner on 10M pages is not content anywhere, not even where
    it first appeared.

    Threshold: ``min_docs`` documents, or when ``min_doc_frac`` is
    given, ``max(min_docs, ceil(frac * corpus_doc_count))`` — the
    fraction form costs one bounded count() action and tracks corpus
    growth so re-crawls don't need retuning.

    Shape at 100 TB: lines shuffle ONCE on the fixed-width trimmed-
    line hash to count distinct parent documents (two-phase partial
    aggregation — the (hash, doc) pairs combine map-side), the hot set
    is joined back on the same key, and surviving lines reassemble per
    document exactly like :func:`dedup_lines_global`. Line identity is
    the same 96-bit xxhash64+crc32 composite, checked against exact-
    string semantics by the x22 oracle's ``boiler`` leg. No windows
    over the corpus, no driver-side state beyond the optional count.

    Lines shorter than ``min_line_chars`` after trim pass through
    untouched (separators are not boilerplate evidence). Returns
    ``(id_col, text_col, n_lines_kept, n_lines_dropped)``; documents
    reduced to nothing drop entirely when ``drop_empty_docs``.
    """
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2 — a 1-document 'boilerplate' threshold would delete every line")
    threshold = min_docs
    if min_doc_frac is not None:
        if not (0.0 < min_doc_frac <= 1.0):
            raise ValueError("min_doc_frac must be in (0, 1]")
        import math

        n_docs = df.select(id_col).distinct().count()
        threshold = max(min_docs, math.ceil(min_doc_frac * n_docs))

    ls = _exploded_lines(df, id_col, text_col)
    scored = ls.withColumn(
        "__h",
        F.struct(
            F.xxhash64("__t").alias("a"),
            F.crc32(F.col("__t").cast("binary")).alias("b"),
        ),
    )
    dedupable = F.length("__t") >= min_line_chars
    hot = (
        scored.filter(dedupable)
        .groupBy("__h")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") >= threshold)
        .select("__h", F.lit(True).alias("__hot"))
    )
    kept = scored.join(hot, "__h", "left").filter(
        (~dedupable) | F.col("__hot").isNull()
    )
    return _reassemble_lines(kept, df, id_col, text_col, drop_empty_docs)


def dedup_against_exact(
    corpus: DataFrame,
    reference: DataFrame,
    content_cols: list[str],
    digest_col: str | None = None,
    prefilter: str | None = None,
    prefilter_depth: int = 4,
    prefilter_width: int = 1 << 20,
    prefilter_cms=None,
    prefilter_bloom=None,
    bloom_bits: int = 1 << 23,
    bloom_k: int = 4,
) -> DataFrame:
    """Cross-corpus EXACT dedup: drop corpus rows whose content exists
    anywhere in ``reference`` (dedup a new crawl against the corpus
    already ingested — X1's two-table form; the fuzzy sibling is
    ``dedup_approx.dedup_against``). Both sides reduce to a sha2
    content digest, so the anti-join shuffles fixed-width keys, never
    the documents; a small reference digest set broadcasts. Corpus
    rows pass through otherwise untouched (self-duplicates within the
    corpus are exact_dedup's job, deliberately not repeated here).
    Content identity is the length-prefixed :func:`content_digest`
    (same encoding as exact_dedup) — a column-boundary or null/''
    collision here would silently delete corpus rows.

    ``digest_col`` (r9): name of a pre-computed :func:`content_digest`
    column present on BOTH frames — reuses an upstream digest instead
    of re-scanning the content (``content_cols`` ignored; the column
    is caller-owned and kept on the output).

    ``prefilter='cms'`` (r10): the Bloom-gate scale path. At 100 TB the
    stored reference digest set is billions of rows — too big to
    broadcast, so the plain anti-join shuffles the ENTIRE corpus on
    the digest. The gate sketches the reference digests once into a
    bounded ``prefilter_depth × prefilter_width`` counter table
    (``sketches.count_min_build``) and flags each corpus row with
    shuffle-free broadcast joins (``count_min_might_contain``): a
    missed counter means DEFINITELY not in the reference (the sketch
    never underestimates — no false negatives, so the result is
    EXACTLY the plain path's, test-pinned), and only the flagged
    sliver (true members + the load-factor false-positive rate) pays
    the exact anti-join. The corpus plan is evaluated twice (pass
    branch + candidate branch) — two scans beat one corpus-wide
    shuffle whenever overlap is the exception. **Correctness
    requirement, not just cost** (ADVICE r10): the corpus plan must be
    DETERMINISTIC across those two evaluations — a ``rand()`` column,
    an unseeded ``sample``, or a re-read of a source that changes
    mid-job can make the two branches disagree and silently drop or
    duplicate rows. Persist/checkpoint such an upstream first (also
    the cheaper choice when it is an expensive derivation).

    ``prefilter='bloom'`` (r10): the bit-packed serving form of the
    same gate (``operators/bloom`` — 64x denser than the counter rows,
    one Arrow bit-gather instead of broadcast joins; same md5 hashes,
    same no-false-negative exactness). Building the filter runs ONE
    eager aggregation over the reference digests at call time; pass a
    prebuilt/merged :class:`~waterdata_spark.operators.bloom.
    BloomFilter` via ``prefilter_bloom`` to amortize it across shards
    — the filter must have been built over the SAME digest encoding
    (``content_digest`` of ``content_cols``, or the ``digest_col``
    values).

    ``prefilter_cms`` (r11): the counter-table analogue of
    ``prefilter_bloom`` — a prebuilt/merged ``count_min_build`` frame
    (e.g. the stream-maintained store ``streaming/gates.read_cms``
    serves), built over the same digest encoding with
    ``seed='xgate'`` and the call's ``prefilter_depth``/``width``.
    Skips the at-call reference sketch; exactness is unchanged (no
    false negatives at any counter state)."""
    if prefilter not in (None, "cms", "bloom"):
        raise ValueError(f"unknown prefilter {prefilter!r}")
    if digest_col is not None:
        key = digest_col
        ref_h = reference.select(F.col(digest_col)).distinct()
        keyed = corpus
    else:
        key = "__h"
        h = content_digest(content_cols)
        ref_h = reference.select(h.alias("__h")).distinct()
        keyed = corpus.withColumn("__h", h)
    if prefilter == "cms":
        from waterdata_spark.operators.sketches import (
            count_min_build,
            count_min_might_contain,
        )

        cms = prefilter_cms
        if cms is None:
            cms = count_min_build(
                ref_h, key, prefilter_depth, prefilter_width, seed="xgate"
            )
        flagged = count_min_might_contain(
            cms, keyed, key, prefilter_depth, prefilter_width, seed="xgate",
            out_col="__maybe",
        )
        definitely_new = flagged.filter(~F.col("__maybe")).drop("__maybe")
        candidates = (
            flagged.filter(F.col("__maybe"))
            .drop("__maybe")
            .join(ref_h, key, "left_anti")
        )
        out = definitely_new.unionByName(candidates)
    elif prefilter == "bloom":
        from waterdata_spark.operators.bloom import bloom_build, with_bloom_contains

        bf = prefilter_bloom
        if bf is None:
            bf = bloom_build(ref_h, key, n_bits=bloom_bits, k=bloom_k, seed="xgate")
        flagged = with_bloom_contains(keyed, key, bf, out_col="__maybe")
        definitely_new = flagged.filter(~F.col("__maybe")).drop("__maybe")
        candidates = (
            flagged.filter(F.col("__maybe"))
            .drop("__maybe")
            .join(ref_h, key, "left_anti")
        )
        out = definitely_new.unionByName(candidates)
    else:
        out = keyed.join(ref_h, key, "left_anti")
    return out if digest_col is not None else out.drop("__h")


def dedup_spans_global(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 4,
    target_chunk_tokens: int = 32,
    min_chunk_tokens: int = 8,
    drop_empty_docs: bool = True,
    hash_fn: str = "xx",
) -> DataFrame:
    """GLOBAL duplicate-SPAN removal via content-defined chunking —
    the distributed-practical form of suffix-array substring dedup
    (Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better": repeated long token spans are removed corpus-wide,
    keeping the first occurrence). Sits between
    :func:`dedup_lines_global` (line granularity — needs the dup to
    be line-aligned) and :func:`exact_dedup` (whole documents): it
    catches long duplicated regions EMBEDDED mid-paragraph at
    arbitrary offsets.

    Why content-defined boundaries (the rsync/LBFS chunking idea —
    public technique): fixed token tiles are aligned to the document
    start, so the same region pasted at different offsets tiles
    differently and never matches. Here a chunk boundary falls after
    token ``i`` iff ``hash(tokens[i-w+1..i]) % p == 0`` (w =
    ``window``, p = ``target_chunk_tokens``) — a pure function of the
    local CONTENT, so identical regions chunk identically in every
    document that contains them (the interior chunks; up to one
    partial chunk at each edge differs). Expected chunk length is p
    tokens.

    Chunks shorter than ``min_chunk_tokens`` pass through untouched
    (short chunks are not span evidence — same contract as
    ``min_line_chars``). Election and reassembly reuse the line-dedup
    shape: one min_by shuffle on a 96-bit chunk-hash composite (text
    never rides the election shuffle), winners first by (doc, chunk
    position), reassembly via sort_array(collect_list). Output text is
    token-normalized (single spaces — the same convention as
    chunk/pack), with ``n_tokens_kept`` / ``n_tokens_dropped`` audit
    columns. ``hash_fn='md5'`` makes the BOUNDARY hash hashlib-
    reproducible for the pure-Python differential test; 'xx' is the
    production path (boundary placement differs between the two, the
    semantics — first corpus occurrence of every duplicated chunk
    survives — do not).

    100 TB shape: one narrow tokenize/flag pass; ONE window shuffle
    per document id for the running boundary sum (state bounded per
    doc); one fixed-width election shuffle; one reassembly shuffle
    bounded by surviving volume. No corpus-wide windows, no driver
    state."""
    from waterdata_spark.functions.text import sliding_windows, tokens

    toks = tokens(F.col(text_col))
    if hash_fn == "xx":
        bhash = lambda s: F.xxhash64(s)  # noqa: E731
    elif hash_fn == "md5":
        bhash = lambda s: F.conv(  # noqa: E731
            F.substring(F.md5(s), 1, 15), 16, 10
        ).cast("long")
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xx', got {hash_fn!r}")
    wins = sliding_windows(toks, window, sep=" ")
    bflag = F.concat(
        F.array_repeat(F.lit(0), F.least(F.lit(window - 1), F.size(toks))),
        F.transform(
            wins,
            lambda s: (F.pmod(bhash(s), F.lit(target_chunk_tokens)) == 0).cast(
                "int"
            ),
        ),
    )
    tok_rows = df.select(
        F.col(id_col),
        F.posexplode(F.arrays_zip(toks.alias("t"), bflag.alias("b"))).alias(
            "__pos", "__z"
        ),
    ).select(
        id_col,
        "__pos",
        F.col("__z.t").alias("__tok"),
        F.col("__z.b").alias("__bnd"),
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = tok_rows.withColumn(
        "__chunk", F.coalesce(F.sum("__bnd").over(w_prev), F.lit(0))
    )
    chunks = chunked.groupBy(id_col, "__chunk").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__pos", "__tok"))),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias("__ctext"),
        F.min("__pos").alias("__start"),
        F.count(F.lit(1)).alias("__ntok"),
    )
    scored = chunks.withColumn(
        "__h",
        F.struct(
            F.xxhash64("__ctext").alias("a"),
            F.crc32(F.col("__ctext").cast("binary")).alias("b"),
        ),
    ).withColumn(
        "__at", F.struct(F.col(id_col).alias("i"), F.col("__start").alias("x"))
    )
    dedupable = F.col("__ntok") >= min_chunk_tokens
    winners = (
        scored.filter(dedupable)
        .groupBy("__h")
        .agg(F.min_by("__at", "__at").alias("__win"))
    )
    kept = scored.join(winners, "__h", "left").filter(
        (~dedupable)
        | (
            (F.col("__win.i") == F.col(id_col))
            & (F.col("__win.x") == F.col("__start"))
        )
    )
    out = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__start", "__ctext"))),
                lambda s: s["__ctext"],
            ),
            " ",
        ).alias(text_col),
        F.sum("__ntok").alias("n_tokens_kept"),
    )
    totals = df.select(F.col(id_col), F.size(toks).alias("__n_total"))
    out = totals.join(out, id_col, "left").select(
        id_col,
        F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
        F.coalesce("n_tokens_kept", F.lit(0)).cast("long").alias("n_tokens_kept"),
        (
            F.greatest(F.col("__n_total"), F.lit(0))
            - F.coalesce("n_tokens_kept", F.lit(0))
        ).cast("long").alias("n_tokens_dropped"),
    )
    if drop_empty_docs:
        out = out.filter(F.col("n_tokens_kept") > 0)
    return out
