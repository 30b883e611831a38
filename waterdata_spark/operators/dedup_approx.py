"""Approximate / fuzzy deduplication at scale (SURVEY.md §2.9 X2;
BASELINE.json "dedup" north star).

Three families, all deterministic and all built JVM-side:

- **MinHash + LSH banding**: k independent min-hashes over character
  shingles; hashes grouped into bands; documents sharing any band
  bucket are near-dup candidates. Candidate generation is a groupBy
  on (band_id, band_hash) — a fixed-width shuffle key, never the
  document text. Classic Broder MinHash, public-domain algorithm.
- **SimHash**: 64-bit weighted-projection signature via xxhash64 of
  tokens; near-dups differ in few bits. Signature is one long —
  cheap to store, bucketable by prefix.
- **n-gram Jaccard verification**: exact set overlap on shingles for
  candidate pairs (the verify step after LSH recall).

Determinism note: min-hash permutations are md5(seed_i || shingle) —
stable across engines (md5 exists in DuckDB too, so the banding is
oracle-checkable, see x08 in queries.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from waterdata_spark.functions.text import char_shingles, tokens
from waterdata_spark.plans import cachereg


def _release_checkpoint(df: DataFrame) -> None:
    """Free a ``localCheckpoint``'s storage blocks immediately.

    Only call on frames that are provably unreachable from any live
    lineage (a checkpointed frame has no lineage to recompute from, so
    releasing a frame someone still holds would make it raise). Used by
    the iterative CC loop, where each round's EAGER checkpoint roots
    the next round — the previous round's snapshot is then dead weight
    that would otherwise stay pinned until driver GC + ContextCleaner
    (default periodic interval: 30 min)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # non-LogicalRDD plan / stopped session — nothing pinned


def _seeded_md5(seed: int):
    # NB: a plain `lambda s, i=i:` would be seen by PySpark as a
    # TWO-parameter (element, index) lambda — the seed would silently
    # become the array index Column. Factory closures avoid that.
    prefix = F.lit(f"{seed}:")
    return lambda s: F.md5(F.concat(prefix, s))


def minhash_signature(text_col: Column | str, n_hashes: int = 16, k: int = 8) -> Column:
    """Array of n_hashes min-hash values (hex strings) over k-char
    shingles. Permutation i = md5(i:shingle); min over the shingle set.

    CAUTION (column form): every downstream reference to an element of
    this array re-inlines the whole transform under CollapseProject —
    16 getItem references of a 16-hash signature re-ran the md5 pass
    256 times (measured 76s for a 5s computation). Prefer
    :func:`minhash_signature_frame`, whose aggregate is a plan barrier;
    this column form is kept for single-reference uses only."""
    sh = char_shingles(text_col, k)
    return F.array(*[F.array_min(F.transform(sh, _seeded_md5(i))) for i in range(n_hashes)])


def minhash_signature_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    k: int = 8,
    hash_fn: str = "md5",
    fingerprint: bool = False,
) -> DataFrame:
    """(id, __h0..__h{n-1}) minhash signature via explode + map-side-
    combinable ``min`` aggregates — each hash is computed exactly ONCE
    per (shingle, permutation), and the aggregate is a plan barrier so
    downstream band construction cannot re-inline the hash pass (the
    column-array form re-ran it once per element reference; r6 fix,
    measured 76s→14s on 5k documents for the md5 form).

    ``fingerprint=True`` adds a ``fingerprint`` column — the UNSEEDED
    min hash over the same shingles (``functions.text.doc_fingerprint``
    semantics, a 1-permutation MinHash document id) — as one more
    aggregate in the SAME pass: zero extra scans, and the x05 surface
    folds into the x08 registry slot (r6 verdict consolidation).

    ``hash_fn``: 'md5' (hex strings — DuckDB-reproducible, the x08/x10
    oracle contract) or 'xx' (xxhash64 longs — no string building,
    measured another ~4x faster; the 100 TB default for operators whose
    contract is band-collision semantics, not specific hash values:
    MinHash only needs a min-stable pseudo-random permutation family).

    Shuffle shape: a document's shingles stay in its partition (the
    explode is narrow), so partial aggregation collapses to one row
    per (map task, doc) and the exchange carries n_hashes values per
    document — never the shingles. Null-text rows produce no
    signature row (they have nothing to band)."""
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(char_shingles(F.col(text_col), k))).alias("__s"),
    )
    if hash_fn == "xx":
        # NB (r8): a one-base-hash + integer-permutation variant
        # (datasketch's a*h+b trick) was implemented and A/B-measured —
        # no gain: hashing 8-char shingles is NOT the bottleneck; the
        # explode row stream and the 16 min-agg buffer updates dominate,
        # so the independent-hash form is kept for its stronger
        # min-wise-independence (tools/x08_scale_probe.py@72b9015 for the
        # saturation analysis).
        aggs = [
            F.min(F.xxhash64(F.lit(i), F.col("__s"))).alias(f"__h{i}")
            for i in range(n_hashes)
        ]
    elif hash_fn == "md5":
        aggs = [
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("__s")))).alias(f"__h{i}")
            for i in range(n_hashes)
        ]
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xx', got {hash_fn!r}")
    if fingerprint:
        fp = (
            F.min(F.xxhash64(F.col("__s"))).cast("string")
            if hash_fn == "xx"
            else F.min(F.md5(F.col("__s")))
        )
        aggs.append(fp.alias("fingerprint"))
    return sh.groupBy(id_col).agg(*aggs)


def minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    n_bands: int = 4,
    k: int = 8,
    hash_fn: str = "md5",
    fingerprint: bool = False,
) -> DataFrame:
    """One row per (doc, band): (id, band_id, band_hash). Documents
    sharing (band_id, band_hash) are near-dup candidates. Built on
    :func:`minhash_signature_frame` (aggregate barrier — the band
    hashes reference real post-aggregate attributes, so the hash pass
    runs once; identical values to the old column form, measured 5-20x
    faster when the hashes are actually consumed). ``hash_fn='md5'``
    keeps the DuckDB-reproducible oracle contract; ``'xx'`` is the
    faster long-typed production path. ``fingerprint=True`` appends the
    unseeded 1-permutation MinHash fingerprint column (constant per
    document across its band rows) from the same signature pass."""
    sigf = minhash_signature_frame(
        df.select(id_col, text_col), id_col, text_col, n_hashes, k, hash_fn,
        fingerprint=fingerprint,
    )
    return _bands_from_signature(sigf, id_col, n_hashes, n_bands, hash_fn, fingerprint)


def _bands_from_signature(
    sigf: DataFrame,
    id_col: str,
    n_hashes: int,
    n_bands: int,
    hash_fn: str,
    fingerprint: bool = False,
) -> DataFrame:
    """Band rows from a prebuilt :func:`minhash_signature_frame` —
    split out so callers that also need the raw signatures (e.g.
    :func:`dedup_against`'s estimate prefilter) compute the expensive
    signature pass ONCE and derive both views from it."""
    rows_per_band = n_hashes // n_bands
    if hash_fn == "xx":
        def _band_hash(b: int):
            return F.xxhash64(
                *[F.col(f"__h{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).cast("string")
    else:
        def _band_hash(b: int):
            return F.md5(
                F.concat_ws(
                    "|", *[F.col(f"__h{b * rows_per_band + r}") for r in range(rows_per_band)]
                )
            )
    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band_id"), _band_hash(b).alias("band_hash"))
            for b in range(n_bands)
        ]
    )
    extra = [F.col("fingerprint")] if fingerprint else []
    return (
        sigf.withColumn("__band", F.explode(bands))
        .select(
            F.col(id_col),
            F.col("__band.band_id").alias("band_id"),
            F.col("__band.band_hash").alias("band_hash"),
            *extra,
        )
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    n_bands: int = 4,
    k: int = 8,
) -> DataFrame:
    """Near-dup candidate pairs (id_a < id_b) from LSH band collisions.

    Scale shape: self-join on (band_id, band_hash) — the quadratic
    blow-up is bounded per bucket; hot buckets (boilerplate docs) are
    exactly what AQE skew-join splits.
    """
    bands = minhash_bands(df, id_col, text_col, n_hashes, n_bands, k)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def _hashed_shingle_array(text: Column, k: int) -> Column:
    """Distinct char shingles hashed to int64 (xxhash64). Exact-Jaccard
    verification intersects SETS — hashing each ~k-char string shingle
    to one long preserves set sizes (64-bit collisions are negligible
    at <=10^4 shingles/doc: P < 3e-12 per pair) while cutting the
    per-pair join payload and comparison cost 3-5x versus string
    arrays (measured on the dedup_against verify stage). Jaccard
    VALUES are unchanged, so the DuckDB string-shingle oracle twins
    (x10/x15) still match hash-for-hash."""
    return F.array_distinct(
        F.transform(char_shingles(text, k), lambda s: F.xxhash64(s))
    )


def jaccard_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs; keep pairs ≥
    threshold. Joins the (small) candidate set back to the docs —
    two broadcast-able hash joins, no full-table crossJoin."""
    sh = df.select(
        F.col(id_col), _hashed_shingle_array(F.col(text_col), k).alias("__sh")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size(F.array_union("__sh_a", "__sh_b"))
    return (
        joined.withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    n_bands: int = 4,
    k: int = 8,
    threshold: float = 0.7,
    max_rounds: int = 50,
) -> DataFrame:
    """Full near-dup removal: LSH candidates → Jaccard verify →
    connected components via iterative label propagation (min-id) →
    keep the lowest id per component.

    Label propagation iterates a broadcast-join of the (tiny) edge
    set TO CONVERGENCE: labels only decrease, so the sum of labels is
    a strictly decreasing fixpoint witness — one cheap scalar action
    per round on the checkpointed label frame detects it. Near-dup
    clusters are shallow, so 3-5 rounds converge in practice;
    ``max_rounds`` is a diameter backstop. The exact-CC result is what
    x10's DuckDB recursive-CTE oracle computes, so this query is
    value-hash-checked, not rows-only. At trillion-doc scale this
    becomes the standard large-star/small-star algorithm — same plan
    shape, fewer effective rounds.
    """
    cand = minhash_candidate_pairs(df, id_col, text_col, n_hashes, n_bands, k)
    edges = jaccard_verify_pairs(df, cand, id_col, text_col, k, threshold).select("id_a", "id_b")
    labels = min_id_components(df.select(F.col(id_col).alias("node")), edges, max_rounds)
    keep = labels.filter(F.col("node") == F.col("label")).select(F.col("node").alias(id_col))
    return df.join(keep, id_col, "left_semi")


def min_id_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_rounds: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components as (node, label): label = the minimum node
    id in the component. ``nodes`` has one column ``node``; ``edges``
    has ``id_a``/``id_b`` (undirected, symmetrized here).

    Min-id label propagation WITH POINTER DOUBLING, iterated to
    convergence. Each round does two things:

    1. **propagate**: candidate label = min over the node's own label
       and its neighbors' labels (one O(E) join + map-side-combinable
       min — unchanged from the classic form);
    2. **shortcut** (r13, guide §2.4 "fewer passes"): the candidate is
       then re-pointed through the label table once more —
       ``label <- min(label, label(label))`` — one O(V) self-join of
       the fixed-width (node, label) frame. A label is always the id
       of a node in the SAME component (labels start as own ids and
       only ever adopt neighbor labels), so shortcutting preserves the
       invariant while letting label chains HALVE per round: a path
       that needed O(diameter) propagate-only rounds converges in
       O(log diameter). Round/wall measurements on the x25/x31 oracle
       graphs: tools/cc_rounds_probe.py@72b9015.
       Each round costs one extra small-frame join, repaid whenever it
       saves even one O(E) round.

    The fixpoint witness is an exact changed-row count: the update
    pass itself emits a ``__changed`` flag (new label strictly below
    the old one), and one ``sum`` action per round on the checkpointed
    frame reads it. A no-change round under shortcutting is in
    particular a no-change PROPAGATE round, so the classic fixpoint
    argument applies unchanged: labels are edge-constant, hence
    component-constant, hence the component minimum — the same output
    as the propagate-only form for every graph (differentially tested
    on random graphs and the pinned path/star cases). Works for ANY
    orderable id type — integral, string, binary — where the previous
    ``sum(label)`` witness silently cast string labels to NULL and
    stopped after one round. ``max_rounds`` is a diameter backstop.
    localCheckpoint per round truncates the lineage — without it the
    plan doubles every iteration and the optimizer re-plans the whole
    history each round (at scale: persist to a checkpoint table; at
    trillion-edge scale: :func:`star_contraction_components`, the
    large-star/small-star form).
    """
    ckpt = nodes.select(F.col("node"), F.col("node").alias("label")).localCheckpoint(eager=True)
    labels = ckpt
    sym = edges.union(edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))).localCheckpoint(
        eager=True
    )
    for rnd in range(max_rounds):
        neighbor_min = (
            sym.join(labels, sym.id_a == labels.node)
            .groupBy(F.col("id_b").alias("node2"))
            .agg(F.min("label").alias("nlabel"))
        )
        cand_label = F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label")))
        cand = labels.join(neighbor_min, labels.node == F.col("node2"), "left").select(
            F.col("node"),
            F.col("label").alias("__old"),
            cand_label.alias("__cand"),
        )
        if rnd == 0:
            # round 1's shortcut is a provable identity — the label
            # table still maps every node to itself (candidates are
            # always label-table VALUES, i.e. node ids), so
            # label(label)=label and the hop join would be pure
            # overhead (measured ~1 join/round on graphs that converge
            # in 4-5 rounds, tools/cc_rounds_probe.py@72b9015). Skip it.
            stepped = cand.select(
                F.col("node"),
                F.col("__cand").alias("label"),
                (F.col("__cand") < F.col("__old")).cast("long").alias("__changed"),
            )
        else:
            # pointer doubling: one hop through the CURRENT label table.
            # Left join — a label is a known node id, but an edge endpoint
            # absent from `nodes` would miss; coalesce keeps the candidate.
            par = labels.select(F.col("node").alias("__pn"), F.col("label").alias("__pl"))
            new_label = F.least(
                F.col("__cand"), F.coalesce(F.col("__pl"), F.col("__cand"))
            )
            stepped = cand.join(par, cand.__cand == par.__pn, "left").select(
                F.col("node"),
                new_label.alias("label"),
                (new_label < F.col("__old")).cast("long").alias("__changed"),
            )
        prev_ckpt = ckpt
        ckpt = stepped.localCheckpoint(eager=True)
        # the new EAGER checkpoint is a root — the previous round's
        # blocks are unreachable from any live lineage, so free them
        # NOW instead of waiting for driver GC + ContextCleaner (in a
        # long-lived JVM, O(rounds) label snapshots otherwise stay
        # pinned and evict useful storage)
        _release_checkpoint(prev_ckpt)
        n_changed = ckpt.agg(F.sum("__changed")).first()[0]
        labels = ckpt.select("node", "label")
        if stats is not None:
            stats["rounds"] = stats.get("rounds", 0) + 1
        if not n_changed:
            break
    # the result derives only from the final labels checkpoint; the
    # symmetrized edge snapshot is loop-internal — free it too
    _release_checkpoint(sym)
    return labels


def star_contraction_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_rounds: int = 50,
    checkpoint_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — public algorithm). Same (node, label) contract
    as :func:`min_id_components`, label = component minimum.

    Why a second algorithm: min-id label propagation needs O(diameter)
    rounds — a 10^6-long chain of near-dup shingles needs 10^6 joins.
    Star contraction halves star heights each round and converges in
    O(log^2 n) rounds on ANY graph shape, so it is the 100 TB path for
    components whose label chains exceed sane driver-loop counts.

    - **large-star** connects every neighbor larger than u to the
      minimum of u's closed neighborhood — edges always point
      (larger -> smaller), so each op is groupBy(node).min + one join.
    - **small-star** re-points each node and its smaller neighbors at
      the smallest of them.
    - Convergence witness is EXACT and type-agnostic: the edge set is
      a star forest iff no parent is itself a child — one anti-join
      emptiness probe per round (no hash-sum collision risk, no
      numeric-cast trap).
    - ``checkpoint_dir`` makes per-round state durable parquet
      (alternating slots, survives executor loss and truncates lineage
      across a multi-hour run); without it, localCheckpoint.

    Raises ``RuntimeError`` if not converged within ``max_rounds`` —
    with the O(log^2 n) bound, hitting 50 means something is broken.

    ``stats``: optional dict the function fills with ``{'rounds': k}``
    (contraction rounds actually executed) so tests can assert the
    round bound holds, not just that convergence happened.
    """

    def persist(df: DataFrame, slot: int) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=True)
        path = f"{checkpoint_dir}/stars_slot{slot % 2}"
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)

    # canonical undirected edge list, self-loops dropped
    e = (
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    e = persist(e, 0)

    converged = e.isEmpty()
    rounds_run = 0
    for rnd in range(max_rounds):
        if converged:
            break
        rounds_run = rnd + 1
        prev_ckpt = e  # this round reads it; the next checkpoint replaces it
        # large-star: m(u) = min(N(u) ∪ {u}); emit (v, m(u)) for v > u
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        e = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: edges now orient (child u > parent v); re-point u
        # and all its parents at the smallest parent
        pmin = e.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            e.join(pmin, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(pmin.select(F.col("u"), F.col("m").alias("v")))
            .distinct()
        )
        e = persist(e, rnd + 1)
        if checkpoint_dir is None:
            _release_checkpoint(prev_ckpt)  # new eager checkpoint roots the loop
        # star forest ⇔ no parent appears as a child AND every child has
        # exactly ONE parent. The second clause is load-bearing: small-star
        # re-points a child's OTHER parents at the minimum, which can give a
        # third node two parents in the same emission round (hypothesis
        # found the 7-edge witness pinned in test_properties /
        # test_operators) — parent-not-child alone called that converged
        # and returned a split component.
        no_parent_child = (
            e.select(F.col("v").alias("u")).join(e, "u", "left_semi").isEmpty()
        )
        # short-circuit: only pay the second emptiness job when the
        # first clause already holds
        converged = no_parent_child and (
            e.groupBy("u").agg(F.count(F.lit(1)).alias("__np"))
            .filter(F.col("__np") > 1)
            .isEmpty()
        )
    else:
        if not converged:
            raise RuntimeError(f"star contraction did not converge in {max_rounds} rounds")

    if stats is not None:
        stats["rounds"] = rounds_run
    return nodes.join(
        e.select(F.col("u").alias("node"), F.col("v").alias("__parent")), "node", "left"
    ).select(F.col("node"), F.coalesce(F.col("__parent"), F.col("node")).alias("label"))


def simhash_signature(text_col: Column | str, bits: int = 64) -> Column:
    """SimHash over whitespace tokens: per-bit majority vote of token
    hashes (xxhash64), packed into a long.

    Built with transform/aggregate over the token array — no UDF. Two
    texts within small Hamming distance are near-dups. Bit masks are
    literals (bit 63 = Long.MIN_VALUE, since 1<<63 overflows).
    """
    toks = tokens(text_col)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def mask(b: int) -> int:
        return (1 << b) if b < 63 else -(1 << 63)

    def vote_fn(m: Column):
        return lambda acc, h: acc + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)

    sig = F.lit(0).cast("long")
    for b in range(bits):
        m = F.lit(mask(b)).cast("long")
        vote = F.aggregate(hashes, F.lit(0), vote_fn(m))
        sig = sig + F.when(vote > 0, m).otherwise(F.lit(0).cast("long"))
    return sig


def simhash_signature_md5(text_col: Column | str, bits: int = 32) -> Column:
    """SimHash variant whose token hash is md5-derived instead of
    xxhash64 — bit-for-bit reproducible in any engine with md5
    (DuckDB: ``('0x' || substring(md5(t), 1, 15))::BIGINT``), so the
    signature is oracle-checkable (x09). Same per-bit majority-vote
    structure as :func:`simhash_signature`; 15 hex chars = 60 usable
    bits, default 32 signature bits.

    Prefer :func:`simhash_signature` (xxhash64) when cross-engine
    reproducibility is not needed — one JVM hash vs md5+conv per token.
    """
    toks = tokens(text_col)
    # hash each token ONCE into an array; the per-bit votes then fold
    # over the array of longs, not over re-hashed tokens
    hashes = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )

    def vote_fn(b: int):
        return lambda acc, h: acc + (
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1).cast("long")) == 1, 1).otherwise(-1)
        )

    sig = F.lit(0).cast("long")
    for b in range(bits):
        vote = F.aggregate(hashes, F.lit(0), vote_fn(b))
        sig = sig + F.when(vote > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two long signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def cosine_threshold_edges(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """EXACT similarity-graph edges: every (id_a < id_b) pair with
    cosine ≥ threshold, no top-k cap. Cosine is rounded to 6 decimals
    BEFORE the comparison so the threshold test is reproducible across
    engines (double summation-order ulps sit at 1e-15, far below the
    rounding grain). Quadratic — the verification baseline; the IVF
    candidate path is the scale form."""
    from waterdata_spark.operators.similarity import _dot, with_unit_vector

    unit = with_unit_vector(df.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("vec_id"), F.col("__unit")
    )
    a = unit.select(F.col("vec_id").alias("id_a"), F.col("__unit").alias("__ua"))
    b = unit.select(F.col("vec_id").alias("id_b"), F.col("__unit").alias("__ub"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("__sim", F.round(_dot(F.col("__ua"), F.col("__ub")), 6))
        .filter(F.col("__sim") >= threshold)
        .select("id_a", "id_b")
    )


def embedding_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    candidates: str = "ivf",
) -> DataFrame:
    """Embedding-cosine near-dup removal (BASELINE north-star dedup
    family): candidate pairs → cosine ≥ threshold edges → min-id
    label propagation (to convergence) → keep one row per cluster.

    candidates='ivf' (default, the scale path): the similarity
    module's IVF index bounds candidate cost by cells probed, not n²;
    high thresholds (≥0.9) are exactly the regime where coarse-
    quantized candidates have high recall — near-identical vectors
    land in the same cell. candidates='exact': the quadratic
    no-top-k-cap graph (:func:`cosine_threshold_edges`) — the
    verification baseline and the form x15's DuckDB oracle reproduces.
    """
    if candidates == "exact":
        edges = cosine_threshold_edges(df, id_col, vec_col, threshold)
    else:
        from waterdata_spark.operators.similarity import cosine_topk_ivf_blocked

        pairs = cosine_topk_ivf_blocked(
            df, id_col=id_col, vec_col=vec_col, k=10, n_cells=n_cells,
            n_probe=n_probe, seed=seed, sim_col="similarity",
        )
        edges = (
            pairs.filter(F.col("similarity") >= threshold)
            .filter(F.col("vec_id") < F.col("neighbor_id"))
            .select(F.col("vec_id").alias("id_a"), F.col("neighbor_id").alias("id_b"))
            .distinct()
        )

    labels = min_id_components(df.select(F.col(id_col).alias("node")), edges)
    keep = labels.filter(F.col("node") == F.col("label")).select(F.col("node").alias(id_col))
    return df.join(keep, id_col, "left_semi")


def dedup_against(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    n_bands: int = 4,
    k: int = 8,
    threshold: float | None = 0.7,
    prefilter_margin: float | None = 0.25,
    hash_fn: str = "xx",
) -> DataFrame:
    """Cross-corpus NEAR-dup dedup: drop corpus documents that
    near-duplicate ANY reference document (dedup a fresh crawl against
    the training corpus already ingested — the two-table form of
    ``minhash_dedup``; the exact sibling is
    ``dedup.dedup_against_exact``).

    Same LSH economics as the self-join path: both sides band their
    MinHash signatures (the xxhash64 fast path — this operator's
    contract is band-collision semantics, not oracle-reproducible hash
    values), candidates exist only where a (band_id, band_hash) bucket
    holds docs from BOTH sides — never an all-pairs product — and
    candidates are verified with exact shingle Jaccard ≥ ``threshold``
    before anything is dropped (``threshold=None`` skips verification
    and trusts band collisions — cheaper, more false drops). Returns
    the surviving corpus rows, all columns intact.

    Verification is a three-stage cascade (r7 — the shaping probe
    measured the single-stage exact verify at 3.56x/decade because
    band collisions on template-heavy corpora produce ~10 candidate
    PAIRS per doc, each paying an exact shingle intersection):

    1. band collision (fixed-width hash join, never all-pairs);
    2. SIGNATURE-ESTIMATE prefilter: each pair's Jaccard is estimated
       from the n_hashes minhash values already computed for banding
       (matching fraction — the textbook unbiased MinHash estimator);
       pairs with estimate < threshold - ``prefilter_margin`` skip
       exact verification. Comparing 16 longs per pair replaces an
       ~O(chars) array intersection for the vast majority of random-
       collision pairs (measured: 466k pairs -> exact-verifies only
       the plausible few percent at sf1).
    3. exact shingle Jaccard >= threshold on the survivors, with both
       text sides semi-join-pruned to the surviving docs before any
       shingle array is built.

    Recall: banding at j=0.7 (16 hashes, 4 bands) already accepts
    ~67% of true pairs by construction; the prefilter's miss adds
    P(est < t-margin | j >= t) <= ~2% at margin 0.25 (2.2 sigma of
    the estimator's sqrt(j(1-j)/16) noise), and a band-colliding pair
    has >= rows_per_band matching hashes by definition, correlating
    the estimate upward. ``prefilter_margin=None`` disables stage 2
    for exact-threshold parity with the r6 behavior."""
    ref2 = reference.select(
        F.col(id_col).alias("__rid"), F.col(text_col).alias("__rtext")
    )
    csig = minhash_signature_frame(
        corpus.select(id_col, text_col), id_col, text_col, n_hashes, k, hash_fn
    )
    rsig = minhash_signature_frame(ref2, "__rid", "__rtext", n_hashes, k, hash_fn)
    if threshold is not None:
        # signatures feed BOTH the band pass and the estimate join —
        # persist so the expensive shingle+hash pass runs once per
        # side (fixed width: n_hashes longs per doc)
        csig = cachereg.register("dedup_approx.cross_csig", csig.persist())
        rsig = cachereg.register("dedup_approx.cross_rsig", rsig.persist())
    cb = _bands_from_signature(csig, id_col, n_hashes, n_bands, hash_fn)
    rb = _bands_from_signature(rsig, "__rid", n_hashes, n_bands, hash_fn)
    cand = cb.join(rb, ["band_id", "band_hash"]).select(id_col, "__rid").distinct()
    if threshold is None:
        flagged = cand.select(id_col).distinct()
    else:
        if prefilter_margin is not None:
            # stage 2: estimate each pair's Jaccard from the cached
            # signatures — 2*n_hashes longs per pair through the join,
            # one fused comparison sum, no text anywhere
            matches = sum(
                (F.col(f"__ch{i}") == F.col(f"__rh{i}")).cast("int")
                for i in range(n_hashes)
            )
            c_named = csig.select(
                F.col(id_col), *[F.col(f"__h{i}").alias(f"__ch{i}") for i in range(n_hashes)]
            )
            r_named = rsig.select(
                F.col("__rid"), *[F.col(f"__h{i}").alias(f"__rh{i}") for i in range(n_hashes)]
            )
            cand = (
                cand.join(c_named, id_col)
                .join(r_named, "__rid")
                .filter(
                    matches.cast("double") / F.lit(float(n_hashes))
                    >= F.lit(max(0.0, threshold - prefilter_margin))
                )
                .select(id_col, "__rid")
            )
        # stage 3 (exact verify) sees only plausible pairs; persist the
        # tiny id-pair frame — it feeds three consumers (two semi-join
        # prunes + the pair join) that would otherwise each recompute
        # the band join
        cand = cachereg.register("dedup_approx.cross_candidates", cand.persist())
        c_ids = cand.select(id_col).distinct()
        r_ids = cand.select("__rid").distinct()
        csh = corpus.join(c_ids, id_col, "left_semi").select(
            F.col(id_col),
            _hashed_shingle_array(F.col(text_col), k).alias("__sa"),
        )
        rsh = ref2.join(r_ids, "__rid", "left_semi").select(
            "__rid", _hashed_shingle_array(F.col("__rtext"), k).alias("__sb")
        )
        # merge hints: the shingle-array frames look SMALL to AQE (row
        # count) but each row carries a ~100KB array — the unhinted plan
        # BROADCAST them (observed BuildRight on csh/rsh at sf1: a
        # multi-GB hashed relation built single-threaded). Sort-merge
        # streams the arrays through a partitioned shuffle instead,
        # which is also the only strategy that survives at 100 TB.
        j = cand.join(csh.hint("merge"), id_col).join(rsh.hint("merge"), "__rid")
        inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
        union = (F.size("__sa") + F.size("__sb")).cast("double") - inter
        flagged = (
            j.filter(inter / F.greatest(union, F.lit(1.0)) >= threshold)
            .select(id_col)
            .distinct()
        )
    return corpus.join(flagged, id_col, "left_anti")


def reference_signatures(
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    k: int = 8,
    hash_fn: str = "xx",
) -> DataFrame:
    """The frozen reference side of :func:`flag_near_reference`:
    (``__rid``, ``__h0..__h{n-1}``) minhash signatures. Fixed width —
    n_hashes values per reference doc — so a reference that fits the
    batch operator's broadcast bound also fits a driver-side snapshot
    for the streaming gate (streaming/hygiene.py)."""
    ref2 = reference.select(
        F.col(id_col).alias("__rid"), F.col(text_col).alias("__rtext")
    )
    return minhash_signature_frame(ref2, "__rid", "__rtext", n_hashes, k, hash_fn)


def flag_near_reference(
    corpus: DataFrame,
    ref_sig: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    n_bands: int = 4,
    k: int = 8,
    threshold: float = 0.7,
    hash_fn: str = "xx",
) -> DataFrame:
    """Corpus ids whose document NEAR-dups any reference doc, decided
    from SIGNATURES ALONE: band collision AND MinHash-estimate >=
    ``threshold`` (matching fraction of the n_hashes values — the
    unbiased Jaccard estimator). No exact shingle verification, so the
    decision needs only the fixed-width reference signatures, never
    the reference TEXT — the property that makes the streaming ingest
    gate possible (the reference rides as n_hashes values/doc) and the
    trade production systems take at corpus scale (trust the sketch;
    est-noise sigma = sqrt(j(1-j)/n_hashes)). The batch twin of
    streaming/hygiene.dedup_against_stream_sink — per-document and
    stateless given a frozen reference, so stream == batch exactly.

    ``ref_sig`` comes from :func:`reference_signatures` with the SAME
    (n_hashes, k, hash_fn)."""
    csig = cachereg.register(
        "dedup_approx.flag_csig",
        minhash_signature_frame(
            corpus.select(id_col, text_col), id_col, text_col, n_hashes, k, hash_fn
        ).persist(),
    )
    cb = _bands_from_signature(csig, id_col, n_hashes, n_bands, hash_fn)
    rb = _bands_from_signature(ref_sig, "__rid", n_hashes, n_bands, hash_fn)
    cand = (
        cb.join(F.broadcast(rb), ["band_id", "band_hash"])
        .select(id_col, "__rid")
        .distinct()
    )
    matches = sum(
        (F.col(f"__ch{i}") == F.col(f"__rh{i}")).cast("int") for i in range(n_hashes)
    )
    c_named = csig.select(
        F.col(id_col), *[F.col(f"__h{i}").alias(f"__ch{i}") for i in range(n_hashes)]
    )
    r_named = ref_sig.select(
        "__rid", *[F.col(f"__h{i}").alias(f"__rh{i}") for i in range(n_hashes)]
    )
    return (
        cand.join(c_named, id_col)
        .join(F.broadcast(r_named), "__rid")
        .filter(matches.cast("double") / F.lit(float(n_hashes)) >= F.lit(threshold))
        .select(id_col)
        .distinct()
    )
