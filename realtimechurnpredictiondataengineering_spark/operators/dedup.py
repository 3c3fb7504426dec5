"""Deduplication operators (north star; SURVEY §2.10, generalizing F8).

Five families, all designed around one rule: **never materialize the
O(n²) pair space**.  Candidate pairs come from equi-join-able bucket
keys (LSH bands, SimHash chunks, shared shingles with a document-
frequency cap, hyperplane buckets), so every plan is scan → narrow
shuffle on bucket key → verify — the shape that survives 100 TB.

Skew guard: a degenerate bucket (boilerplate shingle, all-empty docs)
would turn one reducer quadratic, so every bucket join applies a
``max_bucket`` cap and drops oversized buckets (standard practice in
web-scale dedup: a shingle shared by a million docs carries no
discriminative signal anyway).  Dropped-bucket counts are observable via
the returned plan, not silently hidden — the cap is an explicit knob.

Everything below is built-in functions + joins: zero UDFs, zero
``collect()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from realtimechurnpredictiondataengineering_spark.cache import (
    eager_persist as _eager_persist,
    persist_tracked as _persist,
)

from realtimechurnpredictiondataengineering_spark.functions.text import (
    fingerprint_md5,
    normalized,
    shingles,
    token_count,
    tokens,
    word_kgrams,
)
from realtimechurnpredictiondataengineering_spark.functions.vectors import (
    cosine,
    hyperplane_sign_bits,
)
from realtimechurnpredictiondataengineering_spark.operators.partitioning import fan_out

# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def content_hash_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact content dedup with deterministic survivor selection: one row
    per normalized-text md5, keeping the smallest id.  groupBy(min) rather
    than dropDuplicates so results are reproducible and oracle-checkable
    (dropDuplicates keeps an arbitrary row)."""
    return (
        df.select(F.col(id_col), fingerprint_md5(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
    )


# --------------------------------------------------------------------------
# MinHash + LSH near-dup
# --------------------------------------------------------------------------

#: Mersenne prime 2^31 - 1: the modulus of the portable MinHash
#: permutation family.  Small enough that (num_hashes * p) products stay
#: far below 2^63 on both engines (ANSI-overflow-safe), prime so every
#: (a*x + b) mod p with a != 0 is a bijection of Z_p — exactly what
#: MinHash needs from a "seeded hash".
PORTABLE_MINHASH_P = 2_147_483_647


def portable_hash60(col) -> F.Column:
    """Engine-portable 60-bit hash: first 15 hex chars of md5, as bigint.

    DuckDB twin: ``CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)``.
    15 hex chars (not 16) so the value always fits a signed 64-bit int
    without overflow on either engine.  Used by the ``portable_hash``
    modes below, which exist so the LSH operators can be value-checked
    against a SQL oracle; xxhash64 stays the default hot path.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 5,
    portable_hash: bool = False,
) -> DataFrame:
    """Per-document MinHash signature.

    One base xxhash64 per shingle, then ``num_hashes`` derived hashes
    (xxhash64 of (base, seed)) folded to their minima by a SINGLE
    ``aggregate`` pass over the already-hashed long array — all seeds'
    minima advance together through one ``zip_with``, no shuffle.  The
    one-fold shape matters as much as the arithmetic: the naive
    ``num_hashes`` separate ``array_min(transform(...))`` columns build
    an expression tree that costs seconds of Catalyst analysis/codegen
    per query, dominating small-batch latency.  Docs with no shingles
    (shorter than ``shingle_k``) keep the Long.MAX sentinel in every
    slot, so they band-bucket only with other empty docs.

    ``portable_hash=True`` swaps both hash stages for engine-portable
    ones so a DuckDB oracle can replay the signature bit-for-bit: base =
    ``portable_hash60`` (one md5 per shingle — same per-shingle cost
    shape as the default), derived = the permutation
    ``((s+1) * (base & p) + s) mod p`` with ``p = PORTABLE_MINHASH_P``
    (``& p`` masks base to 31 bits; pure arithmetic, no extra hashing).
    Same fold, same plan shape; only the leaf expressions change.
    Returns (id, shingles, sig: array<bigint>).
    """
    with_sh = df.select(
        F.col(id_col), shingles(text_col, shingle_k).alias("shingles")
    )
    if portable_hash:
        with_sh = with_sh.withColumn(
            "base_hashes",
            F.transform("shingles", lambda s: portable_hash60(s)),
        )
        p = PORTABLE_MINHASH_P
        sig = F.expr(
            f"""
            aggregate(
              base_hashes,
              array_repeat(cast({p} as bigint), {num_hashes}),
              (acc, h) -> zip_with(
                acc,
                sequence(0, {num_hashes - 1}),
                (a, s) -> least(a, ((s + 1) * (h & {p}) + s) % {p})
              )
            )
            """
        )
    else:
        with_sh = with_sh.withColumn(
            "base_hashes", F.transform("shingles", lambda s: F.xxhash64(s))
        )
        sig = F.expr(
            f"""
            aggregate(
              base_hashes,
              array_repeat(cast(9223372036854775807 as bigint), {num_hashes}),
              (acc, h) -> zip_with(
                acc,
                sequence(0, {num_hashes - 1}),
                (a, s) -> least(a, xxhash64(h, s))
              )
            )
            """
        )
    return with_sh.select(F.col(id_col), "shingles", sig.alias("sig"))


def _band_buckets(
    sig_df: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    portable_hash: bool = False,
) -> DataFrame:
    """Explode a signature into (band_id, band_hash, id) LSH bucket rows.

    Portable mode hashes each band slice as md5 of the comma-joined
    decimal values (DuckDB: ``md5(array_to_string(list_slice(...), ','))``)
    instead of xxhash64 of the array; only equality matters for the
    bucket join, so the band-hash type (string vs bigint) is internal.
    """
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        chunk = F.slice("sig", b * rows_per_band + 1, rows_per_band)
        if portable_hash:
            band_hash = F.md5(F.array_join(chunk.cast("array<string>"), ","))
        else:
            band_hash = F.xxhash64(chunk)
        band_cols.append(
            F.struct(F.lit(b).alias("band_id"), band_hash.alias("band_hash"))
        )
    return (
        sig_df.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("band"))
        .select(id_col, "band.band_id", "band.band_hash")
    )


def _capped_bucket_pairs(
    buckets: DataFrame, id_col: str, bucket_cols: list[str], max_bucket: int
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from bucket co-membership,
    dropping buckets larger than ``max_bucket`` (skew guard)."""
    sized = buckets.withColumn(
        "_bucket_n", F.count("*").over(Window.partitionBy(*bucket_cols))
    ).filter(F.col("_bucket_n") <= max_bucket)
    a = sized.select(*bucket_cols, F.col(id_col).alias("id_a"))
    b = sized.select(*bucket_cols, F.col(id_col).alias("id_b"))
    return (
        a.join(b, on=bucket_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.7,
    max_bucket: int = 10_000,
    portable_hash: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by MinHash-LSH, verified with true Jaccard.

    Plan shape: signature scan (no shuffle) → band explode → equi-join on
    (band_id, band_hash) → distinct pairs → join back shingle sets →
    exact Jaccard filter.  Candidate volume is controlled by the banding
    (16 bands × 4 rows ⇒ s-curve threshold ≈ 0.5) + the bucket cap.
    ``portable_hash`` selects the oracle-replayable hash family (see
    ``minhash_signature``); the verify stage is exact Jaccard either way.
    Returns (id_a, id_b, jaccard).
    """
    sigs = minhash_signature(
        fan_out(df), id_col, text_col, num_hashes, shingle_k, portable_hash
    )
    # band explode and shingle verify-join are SIBLING consumers of the
    # signature cache — materialize eagerly or AQE's concurrent stage
    # submission computes the expensive fold once per consumer
    # (cache.eager_persist)
    sigs = sigs.transform(_eager_persist)
    buckets = _band_buckets(sigs, id_col, num_hashes, bands, portable_hash)
    pairs = _capped_bucket_pairs(buckets, id_col, ["band_id", "band_hash"], max_bucket)

    sh = sigs.select(F.col(id_col), "shingles")
    verified = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )
    return verified


def near_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """Greedy near-dedup: drop every doc that has a near-duplicate with a
    smaller id (single-link approximation of connected components — the
    standard one-pass web-dedup rule; full transitive closure would need
    iterative joins).  Returns the surviving rows of ``df``."""
    dups = minhash_near_duplicates(df, id_col, text_col, **kwargs)
    losers = dups.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# SimHash near-dup
# --------------------------------------------------------------------------


def simhash64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable_hash: bool = False,
) -> DataFrame:
    """64-bit SimHash fingerprint per document.

    Token hashes are folded into 64 signed bit-counters with a single
    ``aggregate`` + ``zip_with`` pass (per-row, no shuffle), then packed
    into one bigint.  ``portable_hash=True`` swaps the token hash for
    ``portable_hash60`` so a DuckDB oracle can replay the fingerprint;
    its bits 60-63 are then always zero (counter −n, never set), so the
    portable fingerprint is effectively 60-bit — the fold and packing
    are unchanged.  Returns (id, simhash).
    """
    token_hash = portable_hash60 if portable_hash else F.xxhash64
    hashed = df.select(
        F.col(id_col), F.transform(tokens(text_col), lambda t: token_hash(t)).alias("hs")
    )
    counters = F.expr(
        """
        aggregate(
          hs,
          array_repeat(cast(0 as bigint), 64),
          (acc, h) -> zip_with(
            acc,
            sequence(0, 63),
            (a, b) -> a + if(((h >> b) & 1) = 1, cast(1 as bigint), cast(-1 as bigint))
          )
        )
        """
    )
    packed = F.expr(
        """
        aggregate(
          zip_with(counters, sequence(0, 63), (c, b) -> if(c > 0, shiftleft(cast(1 as bigint), b), cast(0 as bigint))),
          cast(0 as bigint),
          (acc, x) -> acc | x
        )
        """
    )
    return hashed.withColumn("counters", counters).select(
        F.col(id_col), packed.alias("simhash")
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 10_000,
    portable_hash: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash with Hamming-distance verification.

    Candidate generation: the 64-bit fingerprint is split into 4 16-bit
    chunks; by pigeonhole, any pair within Hamming distance 3 shares at
    least one identical chunk, so an equi-join on (chunk_id, chunk_value)
    finds all of them without an all-pairs pass.  Returns
    (id_a, id_b, hamming).
    """
    fp = simhash64(fan_out(df), id_col, text_col, portable_hash).transform(_persist)
    chunk_rows = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftright("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("chunk_value"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("chunk"),
    ).select(id_col, "simhash", "chunk.chunk_id", "chunk.chunk_value")

    sized = chunk_rows.withColumn(
        "_n", F.count("*").over(Window.partitionBy("chunk_id", "chunk_value"))
    ).filter(F.col("_n") <= max_bucket)
    a = sized.select("chunk_id", "chunk_value", F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sized.select("chunk_id", "chunk_value", F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        a.join(b, on=["chunk_id", "chunk_value"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# N-gram Jaccard (exact, inverted-index join)
# --------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int = 1_000,
    hash_shingles: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via an inverted shingle index.

    explode(shingles) → drop shingles with document frequency above
    ``max_doc_freq`` (stopword-grams carry no signal and are the skew
    bomb) → self-equi-join on shingle → count shared shingles per pair →
    Jaccard from per-doc set sizes.  Exact for every pair sharing at
    least one sub-cap shingle.  Returns (id_a, id_b, jaccard).

    Plan shape:

    - each index row carries its document's set size, so the Jaccard
      denominator is grouped through the pair aggregation instead of
      re-joined per side (the naive form pays two extra joins);
    - the frequency cap is a broadcast ANTI-join against the set of
      over-cap shingles, which prunes boilerplate postings MAP-SIDE —
      each over-cap shingle carries >max_doc_freq index rows, so
      dropping them before the pair shuffle is the whole point; a
      shuffled anti-join would move exactly those postings.  Envelope:
      the broadcast is 8 bytes per over-cap shingle, and the over-cap
      set shrinks as the cap grows (Zipf), so size it so the hot set
      stays in driver memory (~10⁷ shingles ≈ 100 MB is fine; if a
      corpus ever exceeds that, the exact cap must yield to an
      approximate one — e.g. a Bloom filter over the hot set, trading
      a bounded false-drop rate for O(1) memory);
    - ``hash_shingles`` (default) folds each shingle string to xxhash64
      before the shuffle: 8-byte join keys instead of arbitrary-length
      text.  A collision merges two shingles' postings — odds ~n²/2⁶⁴,
      the same accepted noise floor as MinHash itself; pass ``False``
      for the strictly-exact string index;
    - the shingle array is persisted BEFORE the explode: the cache is
      the barrier that keeps Catalyst's inferred ``size(shingles) > 0``
      filter (from Generate) from being pushed below the fan-out
      repartition — pushed down, that filter re-evaluates the whole
      shingle expression on the original (possibly single-file) scan
      layout, serializing the most expensive step of the operator.  The
      cheap explode re-runs from that cache for each consumer
      (hot-shingle agg, both self-join sides).
    """
    sh = fan_out(df).select(
        F.col(id_col), shingles(text_col, shingle_k).alias("sh")
    ).transform(_persist)
    inv = sh.select(
        F.col(id_col), F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle")
    )
    if hash_shingles:
        inv = inv.withColumn("shingle", F.xxhash64("shingle"))
    hot = (
        inv.groupBy("shingle")
        .agg(F.count("*").alias("df_"))
        .filter(F.col("df_") > max_doc_freq)
        .select("shingle")
    )
    inv_capped = inv.join(F.broadcast(hot), "shingle", "left_anti")
    a = inv_capped.select("shingle", F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    b = inv_capped.select("shingle", F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.withColumn(
            "jaccard", F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dup
# --------------------------------------------------------------------------


def embedding_near_duplicates(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Near-identical embedding pairs: random-hyperplane LSH bucketing →
    within-bucket equi-join → exact cosine verification.  High-cosine
    pairs land in the same sign-bucket with high probability (use several
    plane sets and union for higher recall).  Returns (id_a, id_b, cos_sim).
    """
    bucketed = fan_out(df).select(
        F.col(id_col),
        F.col(vec_col),
        hyperplane_sign_bits(F.col(vec_col), planes).alias("bucket"),
    )
    sized = bucketed.withColumn(
        "_n", F.count("*").over(Window.partitionBy("bucket"))
    ).filter(F.col("_n") <= max_bucket)
    a = sized.select("bucket", F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = sized.select("bucket", F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", cosine(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim"))
    )


def semdedup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_cluster: int = 10_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): semantic-duplicate
    pairs found INSIDE k-means clusters — cluster first, compare only
    within a cluster, so the pair space is Σ|cluster|², never corpus².

    ``centroids`` come from ``similarity.train_ivf_centroids`` (seeded
    spherical k-means on a bounded sample, unit-norm rows) and ship as a
    literal: assignment is a scan-local argmax of dots — with unit-norm
    centroids that IS the max-cosine assignment, no shuffle.  Pair
    generation is then an equi-join on the cluster id; ``max_cluster``
    is the skew valve (a degenerate cluster would go quadratic — at
    100 TB you raise nlist instead, keeping clusters at the ~10⁴ the
    paper uses).  The cluster-count side of the cap is one ≤nlist-row
    broadcast, not a window over the vectors.  Verification is exact
    cosine, rounded to 6 BEFORE thresholding so the pair set is
    engine-replayable.  Returns (cluster_id, id_a, id_b, cos_sim).
    """
    from realtimechurnpredictiondataengineering_spark.operators.similarity import _nearest_centroid

    cents_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )
    assigned = fan_out(df).select(
        F.col(id_col),
        F.col(vec_col),
        _nearest_centroid(F.col(vec_col), cents_lit).alias("cluster_id"),
    ).transform(_persist)
    sizes = assigned.groupBy("cluster_id").agg(F.count("*").alias("__n"))
    kept = assigned.join(
        F.broadcast(sizes.filter(F.col("__n") <= max_cluster).select("cluster_id")),
        "cluster_id",
    )
    a = kept.select(
        "cluster_id", F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a")
    )
    b = kept.select(
        "cluster_id", F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b")
    )
    return (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(cosine(F.col("v_a"), F.col("v_b")), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("cluster_id", "id_a", "id_b", "cos_sim")
    )


def semdedup_survivors(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_cluster: int = 10_000,
) -> DataFrame:
    """The dedup decision over ``semdedup_pairs``: drop the larger id of
    every semantic-duplicate pair (the deterministic single-link rule
    ``near_dedup`` uses), keep everything else.  Returns (id, cluster_id)
    for the surviving vectors — the frame a training pipeline feeds on.
    """
    pairs = semdedup_pairs(
        df, centroids, id_col=id_col, vec_col=vec_col,
        threshold=threshold, max_cluster=max_cluster,
    )
    from realtimechurnpredictiondataengineering_spark.operators.similarity import _nearest_centroid

    cents_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return (
        df.join(losers, id_col, "left_anti")
        .select(
            F.col(id_col),
            _nearest_centroid(F.col(vec_col), cents_lit).alias("cluster_id"),
        )
    )


# --------------------------------------------------------------------------
# Duplicate clustering (connected components over the pair graph)
# --------------------------------------------------------------------------


def _cc_edges(pairs: DataFrame, src_col: str = "id_a", dst_col: str = "id_b") -> DataFrame:
    """Both edge directions from ONE pass over ``pairs`` (explode, not a
    self-union): referencing ``pairs`` twice would execute its whole
    upstream plan — for near-dup graphs that is the expensive
    inverted-index join — twice.  Exposed (with ``_cc_propagate`` /
    ``_cc_jump``) so the plan gate can audit each CC stage's lazy shape
    without running the iteration (tests/test_plan_invariants.py)."""
    src, dst = F.col(src_col), F.col(dst_col)
    return (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(src.alias("src"), dst.alias("dst")),
                    F.struct(dst.alias("src"), src.alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )


def _cc_propagate(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label propagation round, lazily: edges ⋈ labels equi-join
    + per-src min aggregate + a left equi-join back onto the labels —
    the only join shapes a CC round is allowed to plan."""
    neighbor_min = (
        edges.join(labels, edges.dst == labels.id)
        .groupBy("src")
        .agg(F.min("label").alias("nb_label"))
    )
    return labels.join(
        neighbor_min, labels.id == neighbor_min.src, "left"
    ).select(
        "id",
        F.least(F.col("label"), F.coalesce("nb_label", "label")).alias("label"),
        (F.coalesce("nb_label", "label") < F.col("label")).alias("_changed"),
    )


def _cc_jump(propagated: DataFrame) -> DataFrame:
    """The pointer-jump stage (label <- label's label), lazily: one
    self equi-join on the label.  ``propagated`` must be materialized
    (localCheckpoint) by the caller — both branches read it, and Spark
    does not CSE across join branches."""
    parents = propagated.select(
        F.col("id").alias("_pid"), F.col("label").alias("_plabel")
    )
    return propagated.join(
        parents, propagated.label == F.col("_pid"), "left"
    ).select(
        "id",
        F.least(F.col("label"), F.coalesce("_plabel", "label")).alias("label"),
        (
            F.col("_changed")
            | (F.coalesce("_plabel", "label") < F.col("label"))
        ).alias("_changed"),
    )


from realtimechurnpredictiondataengineering_spark.cache import (
    stats_free_checkpoint as _cc_checkpoint,  # CC rounds MUST reset originStats (see cache.py)
)


def _cc_contract(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One edge-contraction stage, lazily: rewrite every edge endpoint to
    its CURRENT label (two equi-joins), drop self-loops, dedup.  This is
    what makes convergence structure-independent: plain min-label
    diffusion moves the component minimum ONE graph hop per round, and
    pointer jumping only shortcuts label chains — on a graph where the
    minimum must diffuse through many fresh nodes (a dense near-dup
    blob with interleaved ids: the measured ll08 semantic graph took 26
    rounds without contraction), neither helps.  Contracting the edges
    onto label space re-wires the frontier directly to each region's
    current minimum, and shrinks the edge set geometrically as
    components collapse — so later rounds get CHEAPER, the opposite of
    the uncontracted loop.  (The MapReduce-CC family — Kiveris et al.
    2014 — is built on exactly this contraction.)"""
    to_src = labels.select(F.col("id").alias("src"), F.col("label").alias("__ls"))
    to_dst = labels.select(F.col("id").alias("dst"), F.col("label").alias("__ld"))
    return (
        edges.join(to_src, "src")
        .join(to_dst, "dst")
        .select(F.col("__ls").alias("src"), F.col("__ld").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 40,
) -> DataFrame:
    """Cluster a near-dup pair graph into components by iterative
    min-label propagation with pointer jumping AND per-round edge
    contraction: every node's label converges to the smallest id
    reachable from it, so one canonical doc identifies each duplicate
    cluster (the transitive closure that the one-pass ``near_dedup``
    survivor rule approximates).

    Each round: one shuffle (edges ⋈ labels, groupBy min); from round
    3 a pointer jump through the labels (label ← label's label) — the
    jump collapses label CHAINS exponentially, so a 1000-link duplicate
    chain (mirror cascades) needs ~10 rounds where plain neighbor
    propagation needs 1000; then the edge set is CONTRACTED onto label
    space (``_cc_contract``) — which handles the case the jump cannot:
    a region where the minimum must diffuse through many
    not-yet-labeled nodes (measured on the ll08 lexical∪semantic graph:
    26 rounds without contraction, 7 with; chains keep their
    logarithmic behavior).  Contraction also shrinks the edge set
    geometrically, so per-round cost FALLS as components collapse.

    ``localCheckpoint`` truncates lineage each round — without it the
    iterated plan nests ``max_iter`` joins deep and Catalyst
    re-analysis dominates (the classic iterative-algorithm trap on
    Spark); the eager ``count()`` on the edge cache makes the ONE pass
    over the caller's (possibly enormous) upstream plan happen through
    the cache path, so every per-round plan — and every retained plan
    string — is built against the materialized relation, not the raw
    tree.  The convergence flag rides the checkpointed rows, so each
    round runs a constant number of jobs over materialized data.
    Raises ``RuntimeError`` if the graph has not converged within
    ``max_iter`` rounds — a silently split component would corrupt
    downstream dedup.  (Default 40: with contraction, rounds scale as
    ~log₂ of the longest chain plus a small constant — 40 covers a
    10⁹-link chain with margin; typical near-dup graphs finish in <10.)

    Returns (id, component) for every node appearing in ``pairs``.
    """
    base_edges = _cc_edges(pairs, src_col, dst_col).transform(_persist)
    base_edges.count()  # materialize the cache BEFORE any downstream plan is built
    edges = base_edges
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    labels = _cc_checkpoint(labels)
    converged = False
    for round_idx in range(max_iter):
        propagated = _cc_propagate(edges, labels)
        if round_idx >= 1:
            # Pointer jump (label <- label's label): one extra equi-join
            # per round turns O(diameter) convergence into
            # O(log diameter), so a 1000-link duplicate chain (mirror
            # cascades produce them) finishes in ~10 rounds instead of
            # blowing max_iter.  From round 1 on the jump is REQUIRED
            # for correctness, not just speed: the round-0 contraction
            # below rewires the edge set into label space, so a
            # non-representative node (one whose label is another id)
            # can only receive its region's new minimum through the
            # label chain — propagate alone would declare convergence
            # with such nodes stranded one hop behind their root.
            # Convergence is sound because it then requires BOTH no
            # propagate change AND an idempotent label map
            # (label(label) == label for every node): all chains
            # resolved, and any surviving contracted edge between two
            # distinct roots would have produced a propagate change.
            # Round 0 skips the jump (labels are still identity — there
            # is no chain to shortcut).  Safe: a node's label only
            # ever decreases toward its component minimum.
            # Persist BEFORE deriving parents: both jump-join branches
            # read ``propagated``, and Spark does not CSE across join
            # branches — unmaterialized, the edges⋈labels + groupBy
            # neighbor aggregation above would execute twice per round.
            # A (lazy) persist gives the same execute-once guarantee as
            # the eager localCheckpoint this used to be, WITHOUT its
            # extra driver job per round: the cache materializes inline
            # in the ``updated`` checkpoint's job, and the round's
            # lineage is still truncated right below at ``updated``, so
            # plans stay flat.  Released immediately after the round —
            # CC can run tens of rounds and the per-round frames must
            # not pile up in executor memory.
            propagated = propagated.persist()
            round_cache = propagated
            propagated = _cc_jump(propagated)
        else:
            round_cache = None
        updated = _cc_checkpoint(propagated)
        if round_cache is not None:
            round_cache.unpersist()
        # Convergence-check batching (guide §7 — driver overhead): the
        # `_changed` probe is one extra driver job per round.  Labels
        # only ever decrease, so skipping a probe cannot change the
        # fixpoint — a converged graph just exits up to one round later
        # (propagate over contracted-empty edges is cheap).  Round 0 is
        # skipped always: only an edgeless graph can converge there, and
        # for it the extra round is over empty frames.  Rounds 1-5 (the
        # window where measured near-dup graphs actually converge —
        # contraction lands typical graphs in <7 rounds) check every
        # round, so the common path never overshoots; past that, long
        # chains check every other round, halving the probe jobs on the
        # log-diameter tail.  The last two budgeted rounds always check,
        # so batching can never turn a converging run into the
        # non-convergence RuntimeError below.
        check = (
            1 <= round_idx <= 5
            or round_idx % 2 == 1
            or round_idx >= max_iter - 2
        )
        labels = updated.drop("_changed")
        if check and updated.filter("_changed").limit(1).count() == 0:
            converged = True
            break
        # contract the edge set onto label space for the next round —
        # checkpointed so round plans stay flat; the frame shrinks as
        # components collapse, so this gets cheaper every round
        edges = _cc_checkpoint(_cc_contract(edges, labels))
    base_edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; the graph has a longer chain than expected — raise max_iter"
        )
    return labels.select(F.col("id"), F.col("label").alias("component"))


def cluster_representatives(
    components: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    comp_col: str = "component",
    score_col: str = "quality",
) -> DataFrame:
    """Pick ONE representative per duplicate cluster — the "keep the
    best copy" step that turns a connected-components labeling into a
    dedup decision: instead of near_dedup's min-id survivor rule, each
    cluster keeps its highest-``score_col`` member (quality-aware dedup,
    the policy web-corpus pipelines actually want — mirrors usually
    differ in boilerplate, and min-id keeps an arbitrary copy).

    ``components`` is a (id, component) frame as produced by
    ``connected_components``; ``scores`` maps ``id_col`` to
    ``score_col``.  ``cluster_size`` counts the component's FULL
    membership (aggregated from ``components`` alone, before the scores
    join) — an unscored member still belongs to its cluster; only the
    representative pick is restricted to scored members.  One equi-join
    on the id plus one window over the cluster partition: clusters are
    bounded by the near-dup candidate caps upstream, so the
    per-partition sort is small by construction, and WindowGroupLimit
    prunes non-representatives before the full sort at scale.  Ties
    break toward the smaller id, making the choice deterministic and
    engine-replayable.
    Returns (component, rep_id, score, cluster_size).
    """
    sizes = components.groupBy(comp_col).agg(F.count("*").alias("cluster_size"))
    joined = components.join(scores, id_col)
    w_rank = Window.partitionBy(comp_col).orderBy(F.desc(score_col), F.asc(id_col))
    return (
        joined.withColumn("__r", F.row_number().over(w_rank))
        .filter(F.col("__r") == 1)
        .join(sizes, comp_col)
        .select(
            F.col(comp_col),
            F.col(id_col).alias("rep_id"),
            F.col(score_col),
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )


def tf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    max_doc_frac: float | None = 0.4,
) -> DataFrame:
    """Sparse term-frequency cosine near-dup pairs — the IR-style
    complement to shingle Jaccard (``ngram_jaccard_pairs``): documents
    are TF vectors over their vocabulary, similarity is vector cosine,
    and a pair qualifies at ``cosine >= threshold``.  Bag-of-words
    cosine catches re-orderings and partial rewrites that k-gram
    shingles miss (and vice versa, which is why pipelines run both).

    Plan: one tokenize-explode builds the (doc, term, tf) sparse matrix
    (a single shuffle on the doc-term key); boilerplate terms are
    dropped BEFORE the self-join — the same skew valve as d02, without
    which a stopword-ish term joins every document to every other.  The
    cap is a FRACTION of the corpus by default (``max_doc_frac``):
    "a term in >40% of documents carries no dedup signal" stays true at
    500 docs and at 500 billion, where any absolute ``max_doc_freq``
    silently becomes either a no-op or a drop-everything filter as the
    corpus grows (an absolute cap is still available for callers
    matching a fixed SLA).  The fractional threshold is a 1-row corpus
    count broadcast into the df filter.  The pair dot products come
    from the inverted-index self-join on the term (only shared terms
    generate work, never all pairs); norms are per-doc aggregates over
    the SAME capped vectors, so the cosine is exactly the cosine of the
    vectors the join actually used.  Returns
    (id_a, id_b, cosine) with id_a < id_b, rounded to 4.
    """
    # an explicit absolute cap overrides the fractional default
    tf = (
        df.filter(token_count(text_col) > 0)
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("__df"))
    if max_doc_freq is not None:
        hot = dfreq.filter(F.col("__df") > max_doc_freq).select("term")
    else:
        n_docs = df.agg(F.count("*").alias("__n"))
        hot = (
            dfreq.crossJoin(F.broadcast(n_docs))
            .filter(F.col("__df") > F.col("__n") * max_doc_frac)
            .select("term")
        )
    capped = tf.join(F.broadcast(hot), "term", "left_anti").transform(_persist)
    norms = capped.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("norm")
    )
    a = capped.select(F.col("term"), F.col(id_col).alias("id_a"), F.col("tf").alias("tf_a"))
    b = capped.select(F.col("term"), F.col(id_col).alias("id_b"), F.col("tf").alias("tf_b"))
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("norm").alias("norm_a"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("norm").alias("norm_b"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("cosine", F.col("dot") / (F.col("norm_a") * F.col("norm_b")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_distance: int = 20,
    block_chars: int = 8,
    cmp_chars: int = 100,
    max_block: int = 50,
) -> DataFrame:
    """Edit-distance near-dup candidates via prefix blocking: documents
    whose normalized texts share their first ``block_chars`` characters
    and differ by at most ``max_distance`` edits over the first
    ``cmp_chars`` characters.

    Levenshtein is quadratic per comparison and useless as an all-pairs
    metric; the standard scale shape is block -> compare: the equi-join
    on the prefix key confines comparisons to each block, and
    ``max_block`` drops degenerate blocks (boilerplate prefixes shared
    by thousands of documents) with a broadcast anti-join — the same
    skew valve as ``ngram_jaccard_pairs``' document-frequency cap, and
    the same tradeoff: a true near-dup pair differing inside the first
    ``block_chars`` characters is missed (use the shingle or MinHash
    operators for cut-insensitive recall).  Comparing capped prefixes
    (``cmp_chars``) bounds per-pair cost on book-length documents.

    One shuffle on the block key; everything stays in whole-stage
    codegen (``levenshtein`` is a built-in).  Returns
    (id_a, id_b, distance)."""
    from realtimechurnpredictiondataengineering_spark.functions.text import normalized

    blocked = df.select(
        F.col(id_col),
        F.substring(normalized(text_col), 1, block_chars).alias("block"),
        F.substring(normalized(text_col), 1, cmp_chars).alias("prefix"),
    )
    hot = (
        blocked.groupBy("block")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > max_block)
        .select("block")
    )
    capped = blocked.join(F.broadcast(hot), "block", "left_anti")
    a = capped.select(F.col("block"), F.col(id_col).alias("id_a"), F.col("prefix").alias("pa"))
    b = capped.select(F.col("block"), F.col(id_col).alias("id_b"), F.col("prefix").alias("pb"))
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("distance", F.levenshtein("pa", "pb"))
        .filter(F.col("distance") <= max_distance)
        .select("id_a", "id_b", F.col("distance").cast("long").alias("distance"))
    )


def incremental_dedup(
    incoming: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    jaccard_threshold: float | None = 0.5,
    max_doc_freq: int = 1_000,
) -> DataFrame:
    """Dedup an incoming snapshot AGAINST the existing corpus — the
    production shape: each crawl/delivery dedups against everything
    already accepted, not just against itself.

    Three pruning stages, cheapest first, each only over what the
    previous kept:

    1. exact self-dedup of the batch (min-id survivor per content hash);
    2. exact cross-dedup: anti-join of batch fingerprints against the
       existing corpus' fingerprint set — at 100 TB the existing side
       is a pre-computed fingerprint table (8-byte hashes, not text),
       so the anti-join shuffles hashes only;
    3. near-dup (optional, ``jaccard_threshold=None`` skips): shingle
       inverted-index join of the SURVIVING batch against existing —
       never batch x batch x existing; the existing index is filtered
       by the same document-frequency cap before the join so
       boilerplate grams don't pair everything with everything.

    Returns surviving ``incoming`` rows unchanged.  A near-dup against
    ``existing`` always drops the incoming row (the corpus is the
    canon); ties inside the batch keep the smaller id."""
    inc_fp = incoming.select(
        F.col(id_col), fingerprint_md5(text_col).alias("fingerprint")
    )
    batch_canon = inc_fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    ex_fp = existing.select(fingerprint_md5(text_col).alias("fingerprint"))
    fresh_ids = batch_canon.join(ex_fp, "fingerprint", "left_anti").select(id_col)
    survivors = incoming.join(fresh_ids, id_col, "left_semi")
    if jaccard_threshold is None:
        return survivors

    def _index(df: DataFrame, side: str) -> DataFrame:
        sh = fan_out(df).select(F.col(id_col), shingles(text_col, shingle_k).alias("sh"))
        return sh.select(
            F.col(id_col).alias(f"id_{side}"),
            F.size("sh").alias(f"n_{side}"),
            F.explode("sh").alias("shingle"),
        ).withColumn("shingle", F.xxhash64("shingle"))

    inc_inv = _index(survivors, "a")
    # The existing-corpus index feeds both the document-frequency cap
    # and the join probe side — persist so the tokenize+shingle scan of
    # the (much larger) existing side runs once, not twice.  The cached
    # rows are (id, n, 8-byte hash) — ~24 bytes/shingle, no text.
    ex_inv = _index(existing, "b").transform(_persist)
    hot = (
        ex_inv.groupBy("shingle")
        .agg(F.count("*").alias("df_"))
        .filter(F.col("df_") > max_doc_freq)
        .select("shingle")
    )
    inter = (
        inc_inv.join(F.broadcast(hot), "shingle", "left_anti")
        .join(ex_inv.join(F.broadcast(hot), "shingle", "left_anti"), "shingle")
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_inter"))
    )
    near = (
        inter.filter(
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            >= jaccard_threshold
        )
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return survivors.join(near, id_col, "left_anti")


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_tokens: int = 10,
    portable_hash: bool = False,
) -> DataFrame:
    """Maximal duplicated token spans per document — the practical Spark
    shape of suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every stride-1
    ``gram_tokens``-gram is hashed; a gram occurring more than once
    corpus-wide marks its token interval as duplicated; per document,
    overlapping/adjacent duplicated intervals merge into maximal spans
    (the classic gaps-and-islands window).

    Plan: gram fan-out is scan-local (same cardinality as a stride-1
    shingle index, 8-byte hashed keys); one shuffle counts gram
    occurrences (reduced BEFORE the join back, so a boilerplate gram is
    one count row); the island merge is one window over each document's
    own interval list.  Documents shorter than ``gram_tokens`` produce
    no grams and no spans.  Returns (id, span_start, span_end) in
    1-based token positions, end inclusive.
    """
    from realtimechurnpredictiondataengineering_spark.functions.text import (
        token_count,
        word_kgrams,
    )

    # token_count (not size(tokens)) for the length guard: an empty
    # document tokenizes to [''] (size 1), which at gram_tokens=1 would
    # otherwise mint a phantom empty-string gram shared by every empty
    # doc and report a span over a token that does not exist.
    toks = df.select(
        F.col(id_col), tokens(text_col).alias("__t"), token_count(text_col).alias("__n")
    )
    hash_fn = portable_hash60 if portable_hash else F.xxhash64
    grams = (
        toks.filter(F.col("__n") >= gram_tokens)
        .select(
            F.col(id_col),
            F.posexplode(word_kgrams(F.col("__t"), gram_tokens, min_one=False)).alias(
                "__pos0", "__gram"
            ),
        )
        .select(
            F.col(id_col),
            (F.col("__pos0") + 1).alias("start"),
            hash_fn(F.col("__gram")).alias("gram_hash"),
        )
    )
    # grams feeds both the occurrence counts and the join probe side —
    # persist so the stride-1 gram fan-out scan runs once, not twice
    # (same query-private-cache pattern as minhash_near_duplicates).
    grams = grams.transform(_persist)
    counts = grams.groupBy("gram_hash").agg(F.count("*").alias("__occ"))
    dup = (
        grams.join(counts, "gram_hash")
        .filter(F.col("__occ") > 1)
        .select(F.col(id_col), "start", (F.col("start") + gram_tokens - 1).alias("end"))
    )
    w = Window.partitionBy(id_col).orderBy("start").rowsBetween(
        Window.unboundedPreceding, -1
    )
    islands = dup.withColumn(
        "__new_island",
        (F.col("start") > F.coalesce(F.max("end").over(w) + 1, F.col("start") - 1)).cast("int"),
    ).withColumn(
        "__island",
        F.sum("__new_island").over(
            Window.partitionBy(id_col).orderBy("start").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    return islands.groupBy(id_col, "__island").agg(
        F.min("start").alias("span_start"), F.max("end").alias("span_end")
    ).select(id_col, "span_start", "span_end")


# --------------------------------------------------------------------------
# Benchmark decontamination
# --------------------------------------------------------------------------


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_tokens: int = 8,
    min_hits: int = 1,
    portable_hash: bool = False,
) -> DataFrame:
    """Flag corpus documents that share word n-grams with an evaluation
    benchmark — the decontamination pass every serious pretraining
    pipeline runs before training (GPT-3's 13-gram dedup against its
    eval sets; FineWeb/Dolma ship the same n-gram-overlap check):
    training on text that also appears in a benchmark silently inflates
    eval scores, so contaminated documents must be found and dropped.

    A corpus document is contaminated when at least ``min_hits`` of its
    DISTINCT stride-1 ``gram_tokens``-grams appear anywhere in the
    benchmark.  Returns (id, hits) for contaminated documents only,
    ``hits`` = the distinct-gram overlap count — the evidence column an
    auditor reviews before tightening/loosening ``gram_tokens``.

    Scale shape: the asymmetry is the whole design.  The benchmark side
    is an eval suite — thousands of documents, bounded by construction,
    nothing like the corpus — so its distinct gram-hash set (8-byte
    hashes) broadcasts (~8 MB per million grams); the corpus side is
    one scan-local gram fan-out (same cardinality discipline as
    ``duplicate_spans``) feeding a BROADCAST inner join + per-document
    count-distinct, so the corpus is never shuffled at all — the only
    wide exchange is the per-document aggregate of the (tiny) matching
    subset.  ``array_distinct`` before the explode keeps a gram
    repeated inside one document from double-counting as multiple hits.
    Documents shorter than ``gram_tokens`` produce no grams and cannot
    be flagged.
    """
    hash_fn = portable_hash60 if portable_hash else F.xxhash64

    def gram_hashes(df: DataFrame, keep_id: bool) -> DataFrame:
        toks = df.select(
            *( [F.col(id_col)] if keep_id else [] ),
            tokens(text_col).alias("__t"),
            token_count(text_col).alias("__n"),
        )
        exploded = toks.filter(F.col("__n") >= gram_tokens).select(
            *( [F.col(id_col)] if keep_id else [] ),
            F.explode(
                F.array_distinct(word_kgrams(F.col("__t"), gram_tokens, min_one=False))
            ).alias("__gram"),
        )
        return exploded.select(
            *( [F.col(id_col)] if keep_id else [] ),
            hash_fn(F.col("__gram")).alias("gram_hash"),
        )

    bench_grams = F.broadcast(gram_hashes(benchmark, keep_id=False).distinct())
    return (
        gram_hashes(corpus, keep_id=True)
        .join(bench_grams, "gram_hash")
        .groupBy(id_col)
        .agg(F.count("*").alias("hits"))
        .filter(F.col("hits") >= min_hits)
        .select(F.col(id_col), F.col("hits").cast("int").alias("hits"))
    )


def benchmark_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_tokens: int = 8,
    min_hits: int = 1,
    portable_hash: bool = False,
) -> DataFrame:
    """The removal half of decontamination: the corpus minus every
    document ``contamination_report`` flags, via LEFT ANTI on the id —
    original columns preserved, so the result drops into the corpus'
    place in any downstream composition (ll01/ll06/ll08 run unchanged
    on the decontaminated frame).  Same plan as the report plus one
    anti-join keyed on the (small) flagged-id set."""
    flagged = contamination_report(
        corpus, benchmark, id_col, text_col, gram_tokens, min_hits, portable_hash
    )
    return corpus.join(flagged.select(id_col), id_col, "leftanti")


def ngram_novelty(
    target: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_tokens: int = 5,
    portable_hash: bool = False,
) -> DataFrame:
    """Per-document n-gram novelty of TARGET against CORPUS — the
    memorization/freshness metric an eval-set builder checks before
    trusting a benchmark (a "new" test set whose n-grams mostly exist
    in the training corpus measures recall, not generalization; the
    same score ranks candidate eval docs by contamination risk, the
    continuous view of ``contamination_report``'s binary flag):
    ``novelty = |target grams ∉ corpus| / |target grams|`` over each
    document's DISTINCT stride-1 ``gram_tokens``-grams.

    Scale shape: inverted from ``contamination_report``, because here
    the BIG side is the reference — the corpus gram set does NOT
    broadcast; instead the (bounded) target side's grams LEFT-join the
    corpus gram-hash set reduced to distinct keys, so the corpus pays
    one scan + one distinct and the join shuffles only gram hashes
    (8-byte keys), never documents.  Documents shorter than
    ``gram_tokens`` have no grams: they surface with ``n_grams = 0``
    and ``novelty = 1.0`` (nothing about them is attested in the
    corpus) rather than silently dropping.  Returns
    (id, n_grams, n_novel, novelty) with novelty rounded to 4.
    """
    hash_fn = portable_hash60 if portable_hash else F.xxhash64
    tgrams = (
        target.select(
            F.col(id_col),
            F.explode_outer(
                F.when(
                    token_count(text_col) >= gram_tokens,
                    F.array_distinct(
                        word_kgrams(tokens(text_col), gram_tokens, min_one=False)
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("__gram"),
        )
        .select(
            F.col(id_col),
            # explicit NULL guard: xxhash64(NULL) returns the SEED hash
            # (non-null), which would mint a phantom gram for every
            # short document — the md5 path returns NULL; both must.
            F.when(
                F.col("__gram").isNotNull(), hash_fn(F.col("__gram"))
            ).alias("gram_hash"),
        )
    )
    cgrams = (
        corpus.filter(token_count(text_col) >= gram_tokens)
        .select(
            F.explode(
                F.array_distinct(
                    word_kgrams(tokens(text_col), gram_tokens, min_one=False)
                )
            ).alias("__gram")
        )
        .select(hash_fn(F.col("__gram")).alias("gram_hash"), F.lit(1).alias("__seen"))
        .distinct()
    )
    joined = tgrams.join(cgrams, "gram_hash", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("gram_hash").cast("int").alias("n_grams"),
            F.sum(
                F.when(F.col("gram_hash").isNotNull() & F.col("__seen").isNull(), 1)
                .otherwise(0)
            ).cast("int").alias("n_novel"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            "n_novel",
            F.round(
                F.when(F.col("n_grams") > 0, F.col("n_novel") / F.col("n_grams"))
                .otherwise(F.lit(1.0)),
                4,
            ).alias("novelty"),
        )
    )
