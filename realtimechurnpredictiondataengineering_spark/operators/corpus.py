"""Corpus-level text statistics (north star §2.10 text analysis).

Per-document expressions live in ``functions.text`` (pure columns);
this module holds operators whose semantics span the corpus — today
TF-IDF term ranking, which needs global document frequencies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from realtimechurnpredictiondataengineering_spark.cache import eager_persist, persist_tracked as _persist

from realtimechurnpredictiondataengineering_spark.functions.text import shingles, tokens


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (``tf * (ln((N+1)/(df+1)) + 1)``, sklearn's smooth-idf form).

    One tokenize-explode scan feeds everything: term frequencies
    aggregate on (doc, term); document frequencies re-aggregate THOSE
    partials on term (no second raw scan, same trick as the
    hierarchical rollup); the corpus size N is a one-row aggregate
    cross-joined as a broadcast.  Scores are rounded BEFORE ranking so
    the top-k cut is reproducible across engines, with the term as the
    tie-break.  Empty/NULL documents carry no terms (without the guard,
    ``split('')`` would mint a phantom empty-string term shared by every
    empty doc); N still counts them — IDF is over the corpus, not the
    non-empty subset.  Returns (id, rank, term, tfidf).
    """
    from realtimechurnpredictiondataengineering_spark.functions.text import token_count

    tf = (
        df.filter(token_count(text_col) > 0)
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("dfreq"))
    n_docs = df.agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("dfreq") + 1.0)) + 1.0),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col(id_col), F.col("rank").cast("int").alias("rank"), "term", "tfidf")
    )


def contamination_pairs(
    corpus: DataFrame,
    benchmarks: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    min_overlap: int = 3,
) -> DataFrame:
    """Benchmark-contamination detection: corpus documents sharing at
    least ``min_overlap`` distinct word ``shingle_k``-grams with any
    benchmark document (the eval-leakage check every pretraining corpus
    runs before release).

    The benchmark side is small by definition (eval suites are KBs, the
    corpus is TBs), so its exploded shingle index BROADCASTS: the corpus
    side is one explode + map-side hash join + pair aggregate — no
    shuffle of corpus shingles, no candidate blowup beyond truly
    overlapping grams.  Returns (doc_id, bench_id, n_shared).
    """
    c_inv = corpus.select(
        F.col(id_col), F.explode(shingles(text_col, shingle_k)).alias("shingle")
    )
    b_inv = benchmarks.select(
        F.col(id_col).alias("bench_id"),
        F.explode(shingles(text_col, shingle_k)).alias("shingle"),
    )
    return (
        c_inv.join(F.broadcast(b_inv), "shingle")
        .groupBy(id_col, "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
        .select(F.col(id_col), "bench_id", F.col("n_shared").cast("long").alias("n_shared"))
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 16,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Sliding-window document chunking: split each document into
    ``chunk_tokens``-word windows advancing by ``chunk_tokens -
    overlap`` words — the context-window preparation step between a
    cleaned corpus and sequence packing.

    Chunk boundaries are WORD positions of the whitespace-split trimmed
    text, so the cut is deterministic on any engine and never lands
    mid-word.  The start positions come from ``sequence()`` +
    ``explode`` — a pure codegen'd fan-out, one scan, no shuffle, no
    UDF; a document shorter than one window yields exactly one chunk.
    ``chunk_id`` is derived arithmetically from the start offset
    (``(start-1)/stride``) rather than from ``posexplode`` ordinals so
    an oracle without WITH ORDINALITY can reproduce it.

    Returns (id, keep_cols..., chunk_id, n_chunk_tokens, chunk_text).
    At 100 TB this is embarrassingly parallel: output size ~= input *
    (1 + overlap/stride), and the explode keeps each document's chunks
    inside its input partition — downstream packing re-shuffles anyway.
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("chunk_tokens must exceed overlap")
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(
        F.col(id_col), *[F.col(c) for c in keep_cols], words.alias("__words")
    ).withColumn("__n", F.size("__words"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.col("__n") - overlap, F.lit(1)), F.lit(stride)
    )
    exploded = base.select(
        F.col(id_col), *[F.col(c) for c in keep_cols], F.col("__words"), F.col("__n"),
        F.explode(starts).alias("__start"),
    )
    return exploded.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.floor((F.col("__start") - 1) / stride).cast("long").alias("chunk_id"),
        F.least(F.lit(chunk_tokens), F.col("__n") - F.col("__start") + 1)
        .cast("long")
        .alias("n_chunk_tokens"),
        F.array_join(F.slice(F.col("__words"), F.col("__start"), chunk_tokens), " ").alias(
            "chunk_text"
        ),
    )


def _hashed_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    segment_tokens: int,
    portable_hash: bool,
    keep_text: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Shared front half of the segment-dedup family: non-overlapping
    ``segment_tokens``-word windows, hashed (xxhash64, or the oracle-
    replayable md5-60 key), plus the corpus-wide distinct-doc count per
    hash.  Counts are aggregated BEFORE any join back — a boilerplate
    segment in 10⁶ docs is one count row, not 10⁶ join partners.
    The hashed frame feeds BOTH the counts aggregate and the join probe
    side, so it is persisted (same query-private-cache pattern as
    ``minhash_near_duplicates``) — without it the chunk fan-out scan
    would execute twice per query.  ``keep_text=False`` (for callers
    that never read the segment text back, e.g. ``segment_dup_stats``)
    caches only (id, chunk_id, seg_hash) — ~16 bytes/segment instead of
    the full text, so the cache stays cheap at any corpus size.
    Returns (hashed(id, chunk_id[, chunk_text], seg_hash),
    counts(seg_hash, n_docs_with_seg))."""
    from realtimechurnpredictiondataengineering_spark.operators.dedup import portable_hash60

    segs = chunk_documents(
        df, id_col=id_col, text_col=text_col,
        chunk_tokens=segment_tokens, overlap=0,
    )
    hash_fn = portable_hash60 if portable_hash else F.xxhash64
    cols = [F.col(id_col), F.col("chunk_id")]
    if keep_text:
        cols.append(F.col("chunk_text"))
    cols.append(hash_fn(F.col("chunk_text")).alias("seg_hash"))
    hashed = segs.select(*cols).transform(_persist)
    counts = hashed.groupBy("seg_hash").agg(
        F.count_distinct(id_col).alias("n_docs_with_seg")
    )
    return hashed, counts


def segment_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    segment_tokens: int = 20,
    portable_hash: bool = False,
) -> DataFrame:
    """Corpus-wide duplicated-segment statistics — the C4/RefinedWeb
    "remove repeated spans" signal generalized to flat text: cut each
    document into fixed ``segment_tokens``-word segments (non-overlapping
    ``chunk_documents`` windows), hash each segment, count how many
    DISTINCT documents contain each hash corpus-wide, and report per
    document how much of it is made of segments that also appear
    elsewhere.

    Plan: chunk fan-out (scan-local) → segment-hash aggregate counting
    distinct docs (one shuffle on an 8-byte key) → join counts back →
    per-doc aggregate (second shuffle on doc id).  No text ever
    shuffles: only (hash, id) pairs move, so at 100 TB the exchanges
    carry a few bytes per segment.  Degenerate universal segments (the
    boilerplate skew bomb) are naturally bounded because counts are
    aggregated BEFORE the join back — a segment in 10⁶ docs is one
    count row, not 10⁶ join partners.

    ``portable_hash`` uses the md5-derived 60-bit key (oracle-
    replayable); default is xxhash64.  Returns
    (id, n_segments, n_dup_segments, dup_segment_frac).
    """
    hashed, counts = _hashed_segments(
        df, id_col, text_col, segment_tokens, portable_hash, keep_text=False
    )
    segs = hashed.select(F.col(id_col), "seg_hash")
    return (
        segs.join(counts, "seg_hash")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_segments"),
            F.sum((F.col("n_docs_with_seg") > 1).cast("long")).alias("n_dup_segments"),
        )
        .withColumn(
            "dup_segment_frac",
            F.round(F.col("n_dup_segments") / F.col("n_segments"), 4),
        )
    )


def remove_common_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    segment_tokens: int = 20,
    max_docs: int = 1,
    portable_hash: bool = False,
) -> DataFrame:
    """The C4 "remove repeated spans" cleaning pass itself: drop every
    fixed-size segment that appears in more than ``max_docs`` documents
    corpus-wide and REBUILD each document from its surviving segments
    (in original order) — the destructive sibling of
    ``segment_dup_stats``.

    Plan: chunk fan-out → hash aggregate of distinct-doc counts (counts
    are reduced BEFORE joining back, so a boilerplate segment in 10⁶
    docs is one count row) → filter → per-doc rebuild via
    ``collect_list(struct(chunk_id, text))`` + ``array_sort`` (the
    struct sorts by its leading chunk_id field, so reassembly order is
    deterministic with no window/sort stage) → left join back so fully
    boilerplate documents survive as empty rows rather than vanishing.
    The only shuffles carry (hash, id) pairs and the kept segments.
    Returns (id, n_kept_segments, clean_text).
    """
    hashed, counts = _hashed_segments(df, id_col, text_col, segment_tokens, portable_hash)
    kept = hashed.join(counts, "seg_hash").filter(F.col("n_docs_with_seg") <= max_docs)
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept_segments"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text"))),
                lambda x: x["chunk_text"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        df.select(F.col(id_col))
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_kept_segments", F.lit(0)).alias("n_kept_segments"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def remove_duplicated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_docs: int = 1,
    max_removed_frac: float = 0.5,
    portable_hash: bool = False,
) -> DataFrame:
    """CCNet/RefinedWeb line-level dedup — the STRUCTURAL sibling of
    ``remove_common_segments``: the unit is the physical line ('\\n'
    split, whitespace-trimmed, blanks dropped), not a fixed token
    window, so boilerplate of any length ("subscribe to our
    newsletter") is one unit however many tokens it has.  A line kept
    in a document iff at most ``max_docs`` DISTINCT documents contain
    it corpus-wide; documents losing more than ``max_removed_frac`` of
    their lines get ``doc_kept = false`` (the RefinedWeb drop-the-husk
    gate — a page that was mostly chrome is not worth keeping even
    after cleaning).

    Plan: line fan-out (scan-local posexplode) → distinct-doc count
    per line hash (one shuffle on an 8-byte key, aggregated BEFORE any
    join back so a line in 10⁶ docs is one count row, not 10⁶ join
    partners) → equi-join counts onto the lines → ONE per-doc
    aggregate producing totals, kept counts, and the rebuilt text in
    the same pass (``collect_list`` skips the NULLs the ``when``
    leaves on removed lines, so no second aggregate) → left join back
    so blank/empty documents survive.  Only (hash, id, kept line)
    tuples shuffle — removed boilerplate text never moves.

    Within-doc repeats are NOT removed (distinct-doc count is 1);
    matching is exact after trim — case variants are different lines.
    Returns (id, n_lines, n_kept_lines, clean_text, removed_line_frac,
    doc_kept).
    """
    from realtimechurnpredictiondataengineering_spark.operators.dedup import portable_hash60

    hash_fn = portable_hash60 if portable_hash else F.xxhash64
    lines = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "raw"),
        )
        .select(F.col(id_col), "pos", F.trim("raw").alias("line"))
        .filter(F.length("line") > 0)
    )
    hashed = lines.withColumn("line_hash", hash_fn(F.col("line"))).transform(_persist)
    counts = hashed.groupBy("line_hash").agg(
        F.count_distinct(id_col).alias("n_docs_with_line")
    )
    keep = F.col("n_docs_with_line") <= max_docs
    per_doc = (
        hashed.join(counts, "line_hash")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(keep.cast("long")).alias("n_kept_lines"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.when(keep, F.struct("pos", "line")))),
                    lambda x: x["line"],
                ),
                "\n",
            ).alias("clean_text"),
        )
    )
    frac = F.when(
        F.col("n_lines") > 0,
        F.round(1.0 - F.col("n_kept_lines") / F.col("n_lines"), 4),
    ).otherwise(F.lit(0.0))
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("n_kept_lines", F.lit(0)).alias("n_kept_lines"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
        .withColumn("removed_line_frac", frac)
        .withColumn("doc_kept", F.col("removed_line_frac") <= max_removed_frac)
    )


def exact_contamination(
    corpus: DataFrame,
    benchmarks: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_tokens: int = 10,
) -> DataFrame:
    """Exact-substring eval-leakage check, complementing the n-gram
    overlap of ``contamination_pairs``: a corpus document is contaminated
    when it CONTAINS a benchmark document's probe string (its first
    ``probe_tokens`` normalized words) verbatim — the canary-string test
    eval suites publish.

    The probe table is eval-suite-sized (KBs), so it broadcasts and the
    corpus side is one normalized scan with a codegen'd ``contains``
    per probe — the Spark-expressible stand-in for the Aho-Corasick
    multi-pattern scan a specialized engine would run; no corpus bytes
    shuffle.  Both sides are wrapped in sentinel spaces so the match is
    token-aligned: without them a probe starting ``rust is ...`` would
    flag a document containing ``trust is ...`` (and a trailing token
    would match any longer word's prefix).  Empty benchmark docs are
    dropped (an empty probe matches everything).
    Returns (doc_id, bench_id).
    """
    from realtimechurnpredictiondataengineering_spark.functions.text import normalized, tokens

    probes = (
        benchmarks.filter(F.length(normalized(text_col)) > 0)
        .select(
            F.col(id_col).alias("bench_id"),
            F.concat(
                F.lit(" "),
                F.array_join(F.slice(tokens(text_col), 1, probe_tokens), " "),
                F.lit(" "),
            ).alias("__probe"),
        )
    )
    c = corpus.select(
        F.col(id_col),
        F.concat(F.lit(" "), normalized(text_col), F.lit(" ")).alias("__t"),
    )
    return (
        c.crossJoin(F.broadcast(probes))
        .filter(F.col("__t").contains(F.col("__probe")))
        .select(id_col, "bench_id")
    )


def quality_percentile_gate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    percentile: float = 0.5,
) -> DataFrame:
    """Data-driven quality gating: keep documents whose quality score is
    at or above the corpus' exact ``percentile`` — "keep the best half"
    instead of a hand-tuned absolute threshold, so the gate adapts to
    each crawl's quality distribution.

    Two-phase: one scan computes scores, a single-row exact-percentile
    aggregate becomes the threshold, broadcast back onto the scored rows
    (1-row nested-loop, the same shape as z01's layout-stats broadcast).
    Exact ``percentile`` matches DuckDB's ``quantile_cont`` bit-for-bit
    (established by the a09 oracle); at 100 TB swap in
    ``approx_percentile`` with a documented error bound if the exact
    sort-based percentile's single-pass shuffle is too heavy.
    Returns (id, quality).
    """
    from realtimechurnpredictiondataengineering_spark.functions.text import quality_score

    scored = df.select(F.col(id_col), quality_score(text_col).alias("quality"))
    thr = scored.agg(
        F.expr(f"percentile(quality, {percentile})").alias("__thr")
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col("quality") >= F.col("__thr"))
        .select(id_col, "quality")
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_top_v: int | None = None,
) -> DataFrame:
    """Per-document mean unigram negative log2-probability under the
    corpus' own empirical unigram model — the cheap stand-in for the
    CCNet/RedPajama LM-perplexity quality signal (common boilerplate
    scores low, rare-token gibberish scores high), with no external
    model artifact.

    Two passes: (1) vocab counts — one shuffle on the token; (2) the
    scoring join of exploded tokens against the counts.  Both join keys
    are tokens (not documents), so Catalyst plans the count side
    broadcast whenever the vocabulary fits (it is Zipf-bounded, millions
    of entries at web scale, far below the corpus itself).

    ``vocab_top_v`` is the web-scale valve: keep only the top-V tokens
    by count (count desc, token asc tie-break — deterministic) and
    smooth the entire tail mass into a single OOV probability
    ``p_oov = tail_count / total``, so the broadcast side is bounded by
    V rows no matter how the raw vocabulary grows.  The top-V cut uses
    ``orderBy().limit()``, which Spark plans as TakeOrderedAndProject —
    per-partition partial top-V, never a full vocab sort.  When the true
    vocabulary has at most V tokens the tail is empty and the capped
    model is IDENTICAL to the exact one (unit-tested).  The default
    ``None`` keeps the exact join — that IS the oracle semantics for
    ``t16``.  Empty documents score 0.0.
    Returns (id, n_tokens, mean_neg_log2p) rounded to 4.
    """
    from realtimechurnpredictiondataengineering_spark.functions.text import token_count, tokens

    toks = df.select(
        F.col(id_col), token_count(text_col).alias("n_tokens"), tokens(text_col).alias("__t")
    )
    # ex feeds both the vocab-count aggregate and the scoring join —
    # persist so the tokenize-explode scan runs once, not twice.
    ex = toks.filter(F.col("n_tokens") > 0).select(
        F.col(id_col), F.explode("__t").alias("__tok")
    ).transform(_persist)
    counts = ex.groupBy("__tok").agg(F.count("*").alias("__n"))
    total = counts.agg(F.sum("__n").alias("__total"))
    if vocab_top_v is None:
        scored = (
            ex.join(counts, "__tok")
            .crossJoin(F.broadcast(total))
            .groupBy(id_col)
            .agg(
                F.round(F.avg(-F.log2(F.col("__n") / F.col("__total"))), 4).alias(
                    "mean_neg_log2p"
                )
            )
        )
    else:
        # V-row frame feeding both the scoring join and the tail-mass
        # constant — persisted so the counts aggregate + top-V cut run
        # once, not twice (the cache is bounded by V at any scale)
        top = counts.orderBy(F.desc("__n"), F.asc("__tok")).limit(vocab_top_v).transform(_persist)
        # One broadcast row holding both totals; the OOV symbol absorbs
        # the whole tail mass.  With an empty tail p_oov is 0/total = 0,
        # but the left join then always matches so the branch is dead.
        consts = F.broadcast(
            total.crossJoin(top.agg(F.sum("__n").alias("__top_n")))
        )
        p = F.when(
            F.col("__n").isNotNull(), F.col("__n") / F.col("__total")
        ).otherwise(
            (F.col("__total") - F.coalesce(F.col("__top_n"), F.lit(0))) / F.col("__total")
        )
        scored = (
            ex.join(F.broadcast(top), "__tok", "left")
            .crossJoin(consts)
            .groupBy(id_col)
            .agg(F.round(F.avg(-F.log2(p)), 4).alias("mean_neg_log2p"))
        )
    return (
        toks.select(F.col(id_col), "n_tokens")
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.coalesce("mean_neg_log2p", F.lit(0.0)).alias("mean_neg_log2p"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.8,
    top_v: int | None = None,
) -> DataFrame:
    """Per-document mean negative log2-probability under an interpolated
    bigram model trained on the corpus itself — one rung up the CCNet
    quality-model ladder from ``unigram_logprob``:
    ``P(w_i | w_{i-1}) = lam * c(w_{i-1} w_i)/c(w_{i-1} ·)
    + (1-lam) * c(w_i)/total`` averaged over positions 2..n.  The
    unigram interpolation term means no probability is ever zero, so no
    discounting machinery is needed.

    Plan: one tokenize scan persisted as arrays; two scan-local explodes
    (tokens, adjacent pairs); ONE shuffle each for the unigram and
    bigram count tables; context totals ``c(w_{i-1} ·)`` re-aggregate
    the bigram PARTIALS (no third raw scan — they are NOT the unigram
    counts, because a document's last token heads no bigram).  The
    scoring joins key on tokens/pairs, Zipf-bounded exactly like t16 —
    Catalyst broadcasts them when they fit.

    ``top_v`` is the web-scale valve, applied PER ORDER exactly as
    ``unigram_logprob``'s ``vocab_top_v``: keep the top-V pairs (count
    desc, then pair asc — total order, deterministic) and the top-V
    tokens; each order's tail collapses into a single OOV event whose
    probability is the order's aggregate tail mass
    (``(total_pairs - top_pair_mass) / total_pairs`` for the bigram
    term, ``(total - top_token_mass) / total`` for the unigram floor).
    The context table ``c(w_{{i-1}} ·)`` keeps its EXACT values but is
    semi-join-restricted to the ≤V prev-tokens the top pairs reference,
    so every broadcast side is bounded by V rows no matter how the raw
    pair vocabulary grows; the top-V cuts plan as
    TakeOrderedAndProject (per-partition partial top-V, no full sort).
    When V covers both true vocabularies the capped model is IDENTICAL
    to the exact one (unit-tested); the default ``None`` keeps the
    exact joins — that IS the oracle semantics for ``t18``.
    Documents with fewer than 2 tokens have no bigrams and score
    0.0.  Returns (id, n_tokens, mean_neg_log2p) rounded to 4.
    """
    from realtimechurnpredictiondataengineering_spark.functions.text import token_count, tokens

    toks = df.select(
        F.col(id_col), token_count(text_col).alias("n_tokens"), tokens(text_col).alias("__t")
    ).transform(_persist)
    ex = toks.filter(F.col("n_tokens") > 0).select(
        F.col(id_col), F.explode("__t").alias("__tok")
    )
    uni = ex.groupBy("__tok").agg(F.count("*").alias("__nu"))
    total = uni.agg(F.sum("__nu").alias("__total"))
    # adjacent pairs: struct(prev, tok) per position 2..n — pure codegen
    # fan-out, no shuffle (t[] subscripts are 0-based, positions 1-based)
    pair_expr = F.expr(
        "transform(sequence(2, size(__t)), i -> struct(__t[i-2] AS prev, __t[i-1] AS tok))"
    )
    pairs = (
        toks.filter(F.col("n_tokens") >= 2)
        .select(F.col(id_col), F.explode(pair_expr).alias("__p"))
        .select(F.col(id_col), F.col("__p.prev").alias("__prev"), F.col("__p.tok").alias("__tok"))
    )
    big = pairs.groupBy("__prev", "__tok").agg(F.count("*").alias("__nb"))
    ctx = big.groupBy("__prev").agg(F.sum("__nb").alias("__nc"))
    if top_v is None:
        p = (
            F.lit(lam) * F.col("__nb") / F.col("__nc")
            + F.lit(1.0 - lam) * F.col("__nu") / F.col("__total")
        )
        scored = (
            pairs.join(big, ["__prev", "__tok"])
            .join(ctx, "__prev")
            .join(uni, "__tok")
            .crossJoin(F.broadcast(total))
            .groupBy(id_col)
            .agg(F.round(F.avg(-F.log2(p)), 4).alias("mean_neg_log2p"))
        )
    else:
        # V-row frames per order, persisted (each feeds its scoring join
        # AND its tail-mass constant; bounded by V at any scale)
        top_uni = uni.orderBy(F.desc("__nu"), F.asc("__tok")).limit(top_v).transform(_persist)
        top_big = (
            big.orderBy(F.desc("__nb"), F.asc("__prev"), F.asc("__tok"))
            .limit(top_v)
            .transform(_persist)
        )
        # exact context totals, restricted to the ≤V prev-tokens the top
        # pairs can reference — values stay exact, the broadcast stays bounded
        ctx_top = ctx.join(
            F.broadcast(top_big.select("__prev").distinct()), "__prev", "leftsemi"
        )
        consts = F.broadcast(
            total.crossJoin(top_uni.agg(F.sum("__nu").alias("__top_nu")))
            .crossJoin(big.agg(F.sum("__nb").alias("__tp")))
            .crossJoin(top_big.agg(F.sum("__nb").alias("__top_nb")))
        )
        p_uni = F.when(
            F.col("__nu").isNotNull(), F.col("__nu") / F.col("__total")
        ).otherwise(
            (F.col("__total") - F.coalesce(F.col("__top_nu"), F.lit(0)))
            / F.col("__total")
        )
        p_big = F.when(
            F.col("__nb").isNotNull(), F.col("__nb") / F.col("__nc")
        ).otherwise(
            (F.col("__tp") - F.coalesce(F.col("__top_nb"), F.lit(0))) / F.col("__tp")
        )
        p = F.lit(lam) * p_big + F.lit(1.0 - lam) * p_uni
        scored = (
            pairs.join(F.broadcast(top_big), ["__prev", "__tok"], "left")
            .join(F.broadcast(ctx_top), "__prev", "left")
            .join(F.broadcast(top_uni), "__tok", "left")
            .crossJoin(consts)
            .groupBy(id_col)
            .agg(F.round(F.avg(-F.log2(p)), 4).alias("mean_neg_log2p"))
        )
    return (
        toks.select(F.col(id_col), "n_tokens")
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.coalesce("mean_neg_log2p", F.lit(0.0)).alias("mean_neg_log2p"),
        )
    )


def trigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam3: float = 0.6,
    lam2: float = 0.3,
    top_v: int | None = None,
) -> DataFrame:
    """Per-document mean negative log2-probability under a
    trigram-interpolated model — the top of the n-gram quality ladder
    (t16 unigram → t18 bigram → this):
    ``P(w3 | w1 w2) = lam3·c(w1w2w3)/c(w1w2·) + lam2·c(w2w3)/c(w2·)
    + (1−lam3−lam2)·c(w3)/total``, averaged over positions 3..n.  The
    unigram floor keeps every probability positive; interpolation (not
    backoff) keeps the expression a pure join — no discounting state.

    Plan: one tokenize scan persisted; three scan-local explodes
    (tokens, pairs, triples); one count shuffle per order, with both
    context tables re-aggregated from the next-higher order's PARTIALS
    (``c(w1w2·)`` from trigram counts, ``c(w2·)`` from bigram counts —
    no extra raw scans).  All scoring joins key on token tuples,
    Zipf-bounded.

    ``top_v`` is the web-scale valve, applied PER ORDER exactly as in
    ``bigram_logprob``: top-V triples / pairs / tokens kept (count
    desc, then key asc — total order, deterministic), each order's tail
    collapsed into a single OOV event carrying the order's aggregate
    tail mass; the two context tables keep EXACT values semi-restricted
    to the contexts the top tables reference (≤V rows each).  All
    broadcast sides are then bounded by V at any corpus size; capped is
    IDENTICAL to exact when V covers the true vocabularies
    (unit-tested).  Default ``None`` = exact — the ``t19`` oracle
    semantics.  Documents with fewer than 3 tokens have no trigrams and
    score 0.0.  Returns (id, n_tokens, mean_neg_log2p) rounded to 4.
    """
    from realtimechurnpredictiondataengineering_spark.functions.text import token_count, tokens

    toks = df.select(
        F.col(id_col), token_count(text_col).alias("n_tokens"), tokens(text_col).alias("__t")
    ).transform(_persist)
    ex = toks.filter(F.col("n_tokens") > 0).select(
        F.col(id_col), F.explode("__t").alias("__w3")
    )
    uni = ex.groupBy("__w3").agg(F.count("*").alias("__nu"))
    total = uni.agg(F.sum("__nu").alias("__total"))
    pair_expr = F.expr(
        "transform(sequence(2, size(__t)), i -> struct(__t[i-2] AS w2, __t[i-1] AS w3))"
    )
    pairs = (
        toks.filter(F.col("n_tokens") >= 2)
        .select(F.explode(pair_expr).alias("__p"))
        .select(F.col("__p.w2").alias("__w2"), F.col("__p.w3").alias("__w3"))
    )
    big = pairs.groupBy("__w2", "__w3").agg(F.count("*").alias("__nb"))
    ctx2 = big.groupBy("__w2").agg(F.sum("__nb").alias("__nc2"))
    tri_expr = F.expr(
        "transform(sequence(3, size(__t)), i -> "
        "struct(__t[i-3] AS w1, __t[i-2] AS w2, __t[i-1] AS w3))"
    )
    triples = (
        toks.filter(F.col("n_tokens") >= 3)
        .select(F.col(id_col), F.explode(tri_expr).alias("__p"))
        .select(
            F.col(id_col),
            F.col("__p.w1").alias("__w1"),
            F.col("__p.w2").alias("__w2"),
            F.col("__p.w3").alias("__w3"),
        )
    )
    tri = triples.groupBy("__w1", "__w2", "__w3").agg(F.count("*").alias("__nt"))
    ctx3 = tri.groupBy("__w1", "__w2").agg(F.sum("__nt").alias("__nc3"))
    lam1 = F.lit(1.0) - F.lit(lam3) - F.lit(lam2)
    if top_v is None:
        p = (
            F.lit(lam3) * F.col("__nt") / F.col("__nc3")
            + F.lit(lam2) * F.col("__nb") / F.col("__nc2")
            + lam1 * F.col("__nu") / F.col("__total")
        )
        scored = (
            triples.join(tri, ["__w1", "__w2", "__w3"])
            .join(ctx3, ["__w1", "__w2"])
            .join(big, ["__w2", "__w3"])
            .join(ctx2, "__w2")
            .join(uni, "__w3")
            .crossJoin(F.broadcast(total))
            .groupBy(id_col)
            .agg(F.round(F.avg(-F.log2(p)), 4).alias("mean_neg_log2p"))
        )
    else:
        top_uni = uni.orderBy(F.desc("__nu"), F.asc("__w3")).limit(top_v).transform(_persist)
        top_big = (
            big.orderBy(F.desc("__nb"), F.asc("__w2"), F.asc("__w3"))
            .limit(top_v)
            .transform(_persist)
        )
        top_tri = (
            tri.orderBy(F.desc("__nt"), F.asc("__w1"), F.asc("__w2"), F.asc("__w3"))
            .limit(top_v)
            .transform(_persist)
        )
        # exact context totals, semi-restricted to the ≤V contexts the
        # top tables can reference — exact values, bounded broadcasts
        ctx3_top = ctx3.join(
            F.broadcast(top_tri.select("__w1", "__w2").distinct()),
            ["__w1", "__w2"],
            "leftsemi",
        )
        ctx2_top = ctx2.join(
            F.broadcast(top_big.select("__w2").distinct()), "__w2", "leftsemi"
        )
        consts = F.broadcast(
            total.crossJoin(top_uni.agg(F.sum("__nu").alias("__top_nu")))
            .crossJoin(big.agg(F.sum("__nb").alias("__tp")))
            .crossJoin(top_big.agg(F.sum("__nb").alias("__top_nb")))
            .crossJoin(tri.agg(F.sum("__nt").alias("__tt")))
            .crossJoin(top_tri.agg(F.sum("__nt").alias("__top_nt")))
        )
        p_uni = F.when(
            F.col("__nu").isNotNull(), F.col("__nu") / F.col("__total")
        ).otherwise(
            (F.col("__total") - F.coalesce(F.col("__top_nu"), F.lit(0)))
            / F.col("__total")
        )
        p_big = F.when(
            F.col("__nb").isNotNull(), F.col("__nb") / F.col("__nc2")
        ).otherwise(
            (F.col("__tp") - F.coalesce(F.col("__top_nb"), F.lit(0))) / F.col("__tp")
        )
        p_tri = F.when(
            F.col("__nt").isNotNull(), F.col("__nt") / F.col("__nc3")
        ).otherwise(
            (F.col("__tt") - F.coalesce(F.col("__top_nt"), F.lit(0))) / F.col("__tt")
        )
        p = F.lit(lam3) * p_tri + F.lit(lam2) * p_big + lam1 * p_uni
        scored = (
            triples.join(F.broadcast(top_tri), ["__w1", "__w2", "__w3"], "left")
            .join(F.broadcast(ctx3_top), ["__w1", "__w2"], "left")
            .join(F.broadcast(top_big), ["__w2", "__w3"], "left")
            .join(F.broadcast(ctx2_top), "__w2", "left")
            .join(F.broadcast(top_uni), "__w3", "left")
            .crossJoin(consts)
            .groupBy(id_col)
            .agg(F.round(F.avg(-F.log2(p)), 4).alias("mean_neg_log2p"))
        )
    return (
        toks.select(F.col(id_col), "n_tokens")
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.coalesce("mean_neg_log2p", F.lit(0.0)).alias("mean_neg_log2p"),
        )
    )


def stupid_backoff_logprob(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
    top_v: int | None = None,
) -> DataFrame:
    """Score TARGET documents under a stupid-backoff trigram model
    (Brants et al. 2007, "Large Language Models in Machine
    Translation") trained on CORPUS — the backoff rung of the n-gram
    quality ladder (t16/t18/t19 interpolate; this backs off):
    ``S(w3|w1 w2) = c(w1w2w3)/c(w1w2·)`` when the trigram is attested,
    else ``alpha · c(w2w3)/c(w2·)`` when the bigram is, else
    ``alpha² · (c(w3)+1)/(N+V)`` — a Laplace floor on the unigram rung
    so a token the corpus has never seen still scores finite (the
    original recipe leaves the OOV case undefined; Laplace over the
    training vocabulary is the standard closure and matches t21's
    smoothing).  Scoring a HELD-OUT split is what makes backoff
    meaningful — on the training corpus itself every observed trigram
    is attested and the fallback rungs would be dead code.

    Plan: count tables come from the corpus side exactly as in
    t18/t19 — one tokenize scan, one count shuffle per order, context
    tables re-aggregated from the next order's PARTIALS; the (N, V)
    normalizers ride a single 1-row broadcast (the scalar-subquery
    shape the plan gate admits structurally).  The target side explodes
    once into triples and LEFT-joins the Zipf-bounded count tables —
    ``S`` is pure ``when``/``coalesce`` over the joined counts, no
    state, no UDF.  Averaged over positions 3..n as −log2 S; target
    documents with fewer than 3 tokens score 0.0.

    ``top_v`` is the web-scale valve, simpler here than in the
    interpolated rungs because backoff already HAS an "unseen" path:
    keep the top-V n-grams per order (count desc, key asc) and an
    out-of-top n-gram simply scores as unseen — it falls through to the
    next rung, ending at the exact Laplace floor (whose (N, V)
    normalizers stay exact 1-row aggregates).  Context tables keep
    exact values semi-restricted to the top keys' contexts; every
    broadcast side is then ≤V rows at any corpus size, and capped ==
    exact when V covers the vocabularies (unit-tested).
    Returns (id, n_tokens, mean_neg_log2p) rounded to 4.
    """
    from realtimechurnpredictiondataengineering_spark.functions.text import token_count, tokens

    # token_count, not size(tokens(...)): split('') yields [''] (size 1),
    # so an empty document would otherwise mint a phantom '' token.
    # Both token frames persist (the t18/t19 query-private cache
    # pattern): the corpus side feeds all three count tables, the
    # target side both the triples explode and the n_tokens join —
    # unpersisted, each branch re-runs the tokenize regexes.
    ctoks = (
        corpus.filter(token_count(text_col) > 0)
        .select(tokens(text_col).alias("__t"))
        .transform(_persist)
    )
    cuni = (
        ctoks.select(F.explode("__t").alias("__w3"))
        .groupBy("__w3")
        .agg(F.count("*").alias("__nu"))
    )
    consts = F.broadcast(
        cuni.agg(F.sum("__nu").alias("__n"), F.count("*").alias("__v"))
    )
    pair_expr = F.expr(
        "transform(sequence(2, size(__t)), i -> struct(__t[i-2] AS w2, __t[i-1] AS w3))"
    )
    cbig = (
        ctoks.filter(F.size("__t") >= 2)
        .select(F.explode(pair_expr).alias("__p"))
        .select(F.col("__p.w2").alias("__w2"), F.col("__p.w3").alias("__w3"))
        .groupBy("__w2", "__w3")
        .agg(F.count("*").alias("__nb"))
    )
    ctx2 = cbig.groupBy("__w2").agg(F.sum("__nb").alias("__nc2"))
    tri_expr = F.expr(
        "transform(sequence(3, size(__t)), i -> "
        "struct(__t[i-3] AS w1, __t[i-2] AS w2, __t[i-1] AS w3))"
    )
    ctri = (
        ctoks.filter(F.size("__t") >= 3)
        .select(F.explode(tri_expr).alias("__p"))
        .select(
            F.col("__p.w1").alias("__w1"),
            F.col("__p.w2").alias("__w2"),
            F.col("__p.w3").alias("__w3"),
        )
        .groupBy("__w1", "__w2", "__w3")
        .agg(F.count("*").alias("__nt"))
    )
    ctx3 = ctri.groupBy("__w1", "__w2").agg(F.sum("__nt").alias("__nc3"))
    ttoks = target.select(
        F.col(id_col), token_count(text_col).alias("n_tokens"), tokens(text_col).alias("__t")
    ).transform(_persist)
    triples = (
        ttoks.filter(F.col("n_tokens") >= 3)
        .select(F.col(id_col), F.explode(tri_expr).alias("__p"))
        .select(
            F.col(id_col),
            F.col("__p.w1").alias("__w1"),
            F.col("__p.w2").alias("__w2"),
            F.col("__p.w3").alias("__w3"),
        )
    )
    s = (
        F.when(F.col("__nt").isNotNull(), F.col("__nt") / F.col("__nc3"))
        .otherwise(
            F.lit(alpha)
            * F.when(F.col("__nb").isNotNull(), F.col("__nb") / F.col("__nc2")).otherwise(
                F.lit(alpha)
                * (F.coalesce(F.col("__nu"), F.lit(0)) + F.lit(1.0))
                / (F.col("__n") + F.col("__v"))
            )
        )
    )
    if top_v is not None:
        tri_j = F.broadcast(
            ctri.orderBy(
                F.desc("__nt"), F.asc("__w1"), F.asc("__w2"), F.asc("__w3")
            ).limit(top_v).transform(_persist)
        )
        big_j = F.broadcast(
            cbig.orderBy(F.desc("__nb"), F.asc("__w2"), F.asc("__w3"))
            .limit(top_v).transform(_persist)
        )
        uni_j = F.broadcast(
            cuni.orderBy(F.desc("__nu"), F.asc("__w3")).limit(top_v)
        )
        ctx3_j = F.broadcast(
            ctx3.join(tri_j.select("__w1", "__w2").distinct(), ["__w1", "__w2"], "leftsemi")
        )
        ctx2_j = F.broadcast(
            ctx2.join(big_j.select("__w2").distinct(), "__w2", "leftsemi")
        )
    else:
        tri_j, big_j, uni_j, ctx3_j, ctx2_j = ctri, cbig, cuni, ctx3, ctx2
    scored = (
        triples.join(tri_j, ["__w1", "__w2", "__w3"], "left")
        .join(ctx3_j, ["__w1", "__w2"], "left")
        .join(big_j, ["__w2", "__w3"], "left")
        .join(ctx2_j, "__w2", "left")
        .join(uni_j, "__w3", "left")
        .crossJoin(consts)
        .groupBy(id_col)
        .agg(F.round(F.avg(-F.log2(s)), 4).alias("mean_neg_log2p"))
    )
    return (
        ttoks.select(F.col(id_col), "n_tokens")
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.coalesce("mean_neg_log2p", F.lit(0.0)).alias("mean_neg_log2p"),
        )
    )


def kneser_ney_logprob(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
    top_v: int | None = None,
) -> DataFrame:
    """Score TARGET documents under an interpolated Kneser-Ney bigram
    model (Kneser & Ney 1995; Chen & Goodman 1999 empirically crown the
    interpolated variant) trained on CORPUS — the principled-smoothing
    rung of the n-gram ladder whose web-scale stand-in is t24's stupid
    backoff (Brants et al. 2007 position SB as the KN approximation that
    scales):
    ``P(w|u) = max(c(u,w) − D, 0)/c(u·) + (D·N1+(u·)/c(u·)) · Pcont(w)``
    with fixed discount ``D = 0.75`` and the continuation probability
    ``Pcont(w) = (N1+(·w) + 1)/(N1+(··) + V + 1)`` — KN's defining idea
    is that the backoff mass goes to tokens by how many distinct
    CONTEXTS they follow, not how often they occur ("Francisco" is
    frequent but only ever follows "San").  The +1/(V+1) Laplace closure
    over continuation types keeps unseen continuations finite (same
    doctrine as t24's unigram floor); an unseen context ``u`` backs off
    to ``Pcont(w)`` alone.  Scoring a held-out split is what makes
    every rung live.

    Plan: count tables come from the corpus side exactly as t18/t24 —
    one persisted tokenize scan, ONE count shuffle for the bigram
    table; every KN statistic then derives from that table's PARTIALS
    with no further raw scans: ``c(u·)`` and ``N1+(u·)`` are one
    grouped aggregate over it (each bigram row is a distinct pair, so
    ``count(*)`` IS the continuation-type count), ``N1+(·w)`` one more,
    and (``N1+(··)``, ``V``) ride a single 1-row broadcast.  The target
    side explodes once into adjacent pairs and LEFT-joins the
    Zipf-bounded tables — pure ``when``/``greatest`` arithmetic, no UDF.

    ``top_v`` is the web-scale valve, t25's doctrine: keep the top-V
    bigrams (count desc, key asc) and top-V continuation rows; an
    out-of-top pair scores as unseen (its probability mass falls to the
    discount-funded continuation term), an out-of-top continuation
    falls to the exact ``1/(N1+(··)+V+1)`` floor, and the context table
    keeps exact values semi-restricted to the top pairs' contexts — so
    every broadcast side is ≤V rows at any corpus size, and capped ==
    exact when V covers the vocabularies (unit-tested).  Documents with
    fewer than 2 tokens score 0.0.  Returns (id, n_tokens,
    mean_neg_log2p) rounded to 4.
    """
    from realtimechurnpredictiondataengineering_spark.functions.text import token_count, tokens

    ctoks = (
        corpus.filter(token_count(text_col) > 0)
        .select(tokens(text_col).alias("__t"))
        .transform(_persist)
    )
    pair_expr = F.expr(
        "transform(sequence(2, size(__t)), i -> struct(__t[i-2] AS prev, __t[i-1] AS tok))"
    )
    cbig = (
        ctoks.filter(F.size("__t") >= 2)
        .select(F.explode(pair_expr).alias("__p"))
        .select(F.col("__p.prev").alias("__prev"), F.col("__p.tok").alias("__tok"))
        .groupBy("__prev", "__tok")
        .agg(F.count("*").alias("__nb"))
        .transform(_persist)
    )
    # one aggregate yields BOTH c(u·) and N1+(u·): bigram rows are
    # distinct pairs, so count(*) per context is its continuation count
    ctx = cbig.groupBy("__prev").agg(
        F.sum("__nb").alias("__nc"), F.count("*").alias("__n1f")
    )
    bwd = cbig.groupBy("__tok").agg(F.count("*").alias("__n1b"))
    consts = F.broadcast(
        cbig.agg(F.count("*").alias("__tt")).crossJoin(
            ctoks.select(F.explode("__t").alias("__w"))
            .agg(F.count_distinct("__w").alias("__v"))
        )
    )
    ttoks = target.select(
        F.col(id_col), token_count(text_col).alias("n_tokens"), tokens(text_col).alias("__t")
    ).transform(_persist)
    pairs = (
        ttoks.filter(F.col("n_tokens") >= 2)
        .select(F.col(id_col), F.explode(pair_expr).alias("__p"))
        .select(F.col(id_col), F.col("__p.prev").alias("__prev"), F.col("__p.tok").alias("__tok"))
    )
    if top_v is not None:
        big_j = F.broadcast(
            cbig.orderBy(F.desc("__nb"), F.asc("__prev"), F.asc("__tok"))
            .limit(top_v)
            .transform(_persist)
        )
        ctx_j = F.broadcast(
            ctx.join(big_j.select("__prev").distinct(), "__prev", "leftsemi")
        )
        bwd_j = F.broadcast(bwd.orderBy(F.desc("__n1b"), F.asc("__tok")).limit(top_v))
    else:
        big_j, ctx_j, bwd_j = cbig, ctx, bwd
    # spelled identically to the DuckDB twin, term for term
    pcont = (F.coalesce(F.col("__n1b"), F.lit(0)) + F.lit(1.0)) / (
        F.col("__tt") + F.col("__v") + F.lit(1.0)
    )
    p = F.when(
        F.col("__nc").isNotNull(),
        F.greatest(
            F.coalesce(F.col("__nb"), F.lit(0)) - F.lit(discount), F.lit(0.0)
        )
        / F.col("__nc")
        + (F.lit(discount) * F.col("__n1f") / F.col("__nc")) * pcont,
    ).otherwise(pcont)
    scored = (
        pairs.join(big_j, ["__prev", "__tok"], "left")
        .join(ctx_j, "__prev", "left")
        .join(bwd_j, "__tok", "left")
        .crossJoin(consts)
        .groupBy(id_col)
        .agg(F.round(F.avg(-F.log2(p)), 4).alias("mean_neg_log2p"))
    )
    return (
        ttoks.select(F.col(id_col), "n_tokens")
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.coalesce("mean_neg_log2p", F.lit(0.0)).alias("mean_neg_log2p"),
        )
    )


def kneser_ney_trigram_logprob(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
    top_v: int | None = None,
) -> DataFrame:
    """Score TARGET documents under an interpolated TRIGRAM Kneser-Ney
    model (Chen & Goodman 1999's recursive recipe — the form SRILM-style
    stacks actually ship) trained on CORPUS, completing the KN ladder
    the way stupid backoff was completed (t24→t25: t26 is the bigram
    rung, this is the trigram rung):

    ``P(w3|w1w2) = max(c(w1w2w3) − D, 0)/c(w1w2·)
                   + (D·N1+(w1w2·)/c(w1w2·)) · P2(w3|w2)``

    where the MIDDLE order uses continuation counts, KN's defining move
    (how many distinct contexts, not how many occurrences):

    ``P2(w3|w2) = max(N1+(·w2w3) − D, 0)/N1+(·w2·)
                  + (D·N1+(w2·)/N1+(·w2·)) · Pcont(w3)``

    with ``N1+(·w2w3)`` = distinct w1 preceding the bigram (trigram
    TYPES), ``N1+(·w2·)`` their per-w2 total, ``N1+(w2·)`` the distinct
    continuations of w2 at the trigram level, and the SAME
    Laplace-closed unigram floor as t26 (``Pcont(w) =
    (N1+(·w)+1)/(N1+(··)+V+1)``, both from the bigram type table) so
    the two KN rungs share one closure doctrine.  An unseen (w1,w2)
    context backs off to P2; an unseen w2 context to Pcont.

    Plan: one persisted tokenize scan; ONE trigram count shuffle — every
    higher-order KN statistic then derives from that table's partials
    (ctx3 = c(w1w2·) + N1+(w1w2·) in one grouped aggregate; the
    continuation-bigram table N1+(·w2w3) is one more; its per-w2 roll-up
    one more) — plus the bigram type table the unigram floor needs
    (exactly t26's).  The target side explodes once into triples and
    LEFT-joins the Zipf-bounded tables; pure ``when``/``greatest``
    arithmetic, no UDF.

    ``top_v`` is the t25/t26 valve verbatim: top-V trigram rows and
    top-V continuation-bigram rows (count desc, key asc); out-of-top
    keys fall to the next rung whose context tables stay exact but
    semi-restricted to the kept keys' contexts, so every broadcast side
    is ≤V rows at any corpus size, and capped == exact when V covers
    the vocabularies (unit-tested).  Documents with fewer than 3 tokens
    score 0.0.  Returns (id, n_tokens, mean_neg_log2p) rounded to 4.
    """
    from realtimechurnpredictiondataengineering_spark.functions.text import token_count, tokens

    ctoks = (
        corpus.filter(token_count(text_col) > 0)
        .select(tokens(text_col).alias("__t"))
        .transform(_persist)
    )
    pair_expr = F.expr(
        "transform(sequence(2, size(__t)), i -> struct(__t[i-2] AS w2, __t[i-1] AS w3))"
    )
    cbig = (
        ctoks.filter(F.size("__t") >= 2)
        .select(F.explode(pair_expr).alias("__p"))
        .select(F.col("__p.w2").alias("__w2"), F.col("__p.w3").alias("__w3"))
        .groupBy("__w2", "__w3")
        .agg(F.count("*").alias("__nb"))
        .transform(_persist)
    )
    bwd = cbig.groupBy("__w3").agg(F.count("*").alias("__n1b"))
    consts = F.broadcast(
        cbig.agg(F.count("*").alias("__tt")).crossJoin(
            ctoks.select(F.explode("__t").alias("__w"))
            .agg(F.count_distinct("__w").alias("__v"))
        )
    )
    tri_expr = F.expr(
        "transform(sequence(3, size(__t)), i -> "
        "struct(__t[i-3] AS w1, __t[i-2] AS w2, __t[i-1] AS w3))"
    )
    ctri = (
        ctoks.filter(F.size("__t") >= 3)
        .select(F.explode(tri_expr).alias("__p"))
        .select(
            F.col("__p.w1").alias("__w1"),
            F.col("__p.w2").alias("__w2"),
            F.col("__p.w3").alias("__w3"),
        )
        .groupBy("__w1", "__w2", "__w3")
        .agg(F.count("*").alias("__nt"))
        .transform(_persist)
    )
    # one aggregate each: trigram rows are distinct types, so count(*)
    # per (w1,w2) IS N1+(w1w2·), per (w2,w3) IS N1+(·w2w3), and the
    # mid table's per-w2 count(*) IS N1+(w2·) at the trigram level
    ctx3 = ctri.groupBy("__w1", "__w2").agg(
        F.sum("__nt").alias("__nc3"), F.count("*").alias("__n1f3")
    )
    mid = ctri.groupBy("__w2", "__w3").agg(F.count("*").alias("__cm"))
    ctxm = mid.groupBy("__w2").agg(
        F.sum("__cm").alias("__ncm"), F.count("*").alias("__n1fm")
    )
    ttoks = target.select(
        F.col(id_col), token_count(text_col).alias("n_tokens"), tokens(text_col).alias("__t")
    ).transform(_persist)
    triples = (
        ttoks.filter(F.col("n_tokens") >= 3)
        .select(F.col(id_col), F.explode(tri_expr).alias("__p"))
        .select(
            F.col(id_col),
            F.col("__p.w1").alias("__w1"),
            F.col("__p.w2").alias("__w2"),
            F.col("__p.w3").alias("__w3"),
        )
    )
    if top_v is not None:
        tri_j = F.broadcast(
            ctri.orderBy(
                F.desc("__nt"), F.asc("__w1"), F.asc("__w2"), F.asc("__w3")
            ).limit(top_v).transform(_persist)
        )
        mid_j = F.broadcast(
            mid.orderBy(F.desc("__cm"), F.asc("__w2"), F.asc("__w3"))
            .limit(top_v).transform(_persist)
        )
        ctx3_j = F.broadcast(
            ctx3.join(tri_j.select("__w1", "__w2").distinct(), ["__w1", "__w2"], "leftsemi")
        )
        ctxm_j = F.broadcast(
            ctxm.join(mid_j.select("__w2").distinct(), "__w2", "leftsemi")
        )
        bwd_j = F.broadcast(bwd.orderBy(F.desc("__n1b"), F.asc("__w3")).limit(top_v))
    else:
        tri_j, mid_j, ctx3_j, ctxm_j, bwd_j = ctri, mid, ctx3, ctxm, bwd
    # spelled identically to the DuckDB twin, term for term
    pcont = (F.coalesce(F.col("__n1b"), F.lit(0)) + F.lit(1.0)) / (
        F.col("__tt") + F.col("__v") + F.lit(1.0)
    )
    p2 = F.when(
        F.col("__ncm").isNotNull(),
        F.greatest(
            F.coalesce(F.col("__cm"), F.lit(0)) - F.lit(discount), F.lit(0.0)
        )
        / F.col("__ncm")
        + (F.lit(discount) * F.col("__n1fm") / F.col("__ncm")) * pcont,
    ).otherwise(pcont)
    p = F.when(
        F.col("__nc3").isNotNull(),
        F.greatest(
            F.coalesce(F.col("__nt"), F.lit(0)) - F.lit(discount), F.lit(0.0)
        )
        / F.col("__nc3")
        + (F.lit(discount) * F.col("__n1f3") / F.col("__nc3")) * p2,
    ).otherwise(p2)
    scored = (
        triples.join(tri_j, ["__w1", "__w2", "__w3"], "left")
        .join(ctx3_j, ["__w1", "__w2"], "left")
        .join(mid_j, ["__w2", "__w3"], "left")
        .join(ctxm_j, "__w2", "left")
        .join(bwd_j, "__w3", "left")
        .crossJoin(consts)
        .groupBy(id_col)
        .agg(F.round(F.avg(-F.log2(p)), 4).alias("mean_neg_log2p"))
    )
    return (
        ttoks.select(F.col(id_col), "n_tokens")
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.coalesce("mean_neg_log2p", F.lit(0.0)).alias("mean_neg_log2p"),
        )
    )


def ccnet_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet's head/middle/tail sharding: score every document with the
    corpus' own unigram LM (``unigram_logprob``), then split at the
    exact score terciles — 'head' is the lowest-perplexity (most
    fluent) third, the slice CCNet feeds to training first.  Documents
    with no tokens cannot be scored and get the explicit 'empty' label
    rather than polluting 'head' (their 0.0 sentinel score would sort
    below every real document).

    Plan: the t16 scoring pass, materialized once
    (``cache.eager_persist``, freed by ``release_caches``), then ONE
    single-row aggregate computes both tercile thresholds over the
    non-empty scores and broadcasts back onto the scored rows (the t14
    percentile-gate shape — at 100 TB swap ``approx_percentile`` in
    with a documented error bound).  ``mean_neg_log2p`` is a rounded
    average whose summation order follows the shuffle, so the
    thresholds and the rows they bucket must read the same scores, not
    two recomputations.  Returns (id, n_tokens, mean_neg_log2p, bucket).
    """
    scored = eager_persist(unigram_logprob(df, id_col=id_col, text_col=text_col))
    third = repr(1.0 / 3.0)
    two_thirds = repr(2.0 / 3.0)
    thr = scored.filter(F.col("n_tokens") > 0).agg(
        F.expr(f"percentile(mean_neg_log2p, {third})").alias("__t1"),
        F.expr(f"percentile(mean_neg_log2p, {two_thirds})").alias("__t2"),
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .withColumn(
            "bucket",
            F.when(F.col("n_tokens") == 0, F.lit("empty"))
            .when(F.col("mean_neg_log2p") <= F.col("__t1"), F.lit("head"))
            .when(F.col("mean_neg_log2p") <= F.col("__t2"), F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
        .select(id_col, "n_tokens", "mean_neg_log2p", "bucket")
    )


def dsir_importance(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score each corpus
    document by the mean per-token log-likelihood ratio between a
    TARGET-domain unigram LM and the raw-corpus unigram LM —
    ``avg(log2 p_target(tok) − log2 p_raw(tok))``.  High scores mark
    documents that look like the target domain; resampling by these
    weights is the principled replacement for hand-tuned quality
    filters when a target corpus exists.

    Both models are Laplace-smoothed over the SAME vocabulary size (the
    raw corpus vocabulary — the larger of the two by construction), so
    an unseen token is defined on both sides and the ratio never
    divides by zero: ``p(tok) = (c + 1) / (N + V)``.

    Plan: one count shuffle per model (the target side is
    eval-corpus-sized and broadcasts; the raw side is Zipf-bounded like
    t16); the scoring pass left-joins the exploded corpus tokens
    against both count tables with the two (N, V) normalizers riding a
    single 1-row broadcast.  Documents with no tokens score 0.0.
    Returns (id, n_tokens, importance) rounded to 4 — positive means
    target-like.
    """
    from realtimechurnpredictiondataengineering_spark.functions.text import token_count, tokens

    toks = corpus.select(
        F.col(id_col), token_count(text_col).alias("n_tokens"), tokens(text_col).alias("__t")
    ).transform(_persist)
    ex = toks.filter(F.col("n_tokens") > 0).select(
        F.col(id_col), F.explode("__t").alias("__tok")
    )
    raw = ex.groupBy("__tok").agg(F.count("*").alias("__nr"))
    tgt = (
        target.filter(token_count(text_col) > 0)
        .select(F.explode(tokens(text_col)).alias("__tok"))
        .groupBy("__tok")
        .agg(F.count("*").alias("__ntg"))
    )
    consts = F.broadcast(
        raw.agg(
            F.sum("__nr").alias("__rn"), F.count("*").alias("__v")
        ).crossJoin(tgt.agg(F.sum("__ntg").alias("__tn")))
    )
    p_t = (F.coalesce(F.col("__ntg"), F.lit(0)) + 1.0) / (F.col("__tn") + F.col("__v"))
    p_r = (F.coalesce(F.col("__nr"), F.lit(0)) + 1.0) / (F.col("__rn") + F.col("__v"))
    scored = (
        ex.join(raw, "__tok", "left")
        .join(F.broadcast(tgt), "__tok", "left")
        .crossJoin(consts)
        .groupBy(id_col)
        .agg((F.round(F.avg(F.log2(p_t) - F.log2(p_r)), 4) + F.lit(0.0)).alias("importance"))
    )
    return (
        toks.select(F.col(id_col), "n_tokens")
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.coalesce("importance", F.lit(0.0)).alias("importance"),
        )
    )
