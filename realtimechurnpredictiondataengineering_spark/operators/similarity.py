"""Similarity search (ANN) over embedding columns (north star §2.10).

Three paths:

- ``brute_force_topk`` — exact cosine top-k.  The (small) query set is
  broadcast, so the plan is a single scan of the embedding table with a
  per-row loop over queries (BroadcastNestedLoopJoin): linear in corpus
  size, no shuffle of the corpus, embarrassingly parallel.  The only
  shuffle is the final top-k reduction keyed by query id.
- ``lsh_topk`` — random-hyperplane buckets prune the corpus to
  same-bucket candidates before scoring (multi-probe over N plane sets
  for recall).  Model-free: no training pass needed.
- ``ivf_topk`` — FAISS-style inverted-file index: a spherical-k-means
  coarse quantizer (trained once on a bounded sample) bins the corpus by
  nearest centroid; queries probe their ``nprobe`` nearest lists.  At
  100 TB this turns "score everything" into "score nprobe/nlist of the
  corpus", with recall tunable by nprobe.

Top-k reduction note: a window ``row_number() <= k`` partitioned by
query id would sort each query's full candidate set.  We instead reduce
with two-phase ``min_by``-style aggregation: per-partition partial top-k
(map-side), then final top-k — expressed as groupBy + slice(sort_array)
over (score, id) structs, which Spark executes with partial aggregation
before the shuffle, so the full candidate set never lands on one reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from realtimechurnpredictiondataengineering_spark.functions.vectors import (
    cosine,
    dot,
    hyperplane_table_buckets,
    lit_matrix,
)
from realtimechurnpredictiondataengineering_spark.operators.partitioning import fan_out


def topk_reduce(scored: DataFrame, query_col: str, id_col: str, score_col: str, k: int) -> DataFrame:
    """Two-phase top-k per query over (query, id, score) rows.

    collect_list of (score, id) structs benefits from map-side partial
    aggregation; sort_array + slice keeps only k entries per query after
    the single shuffle on the query key.  Returns exploded
    (query, rank, id, score) rows, ties broken by id (deterministic).
    """
    pairs = F.collect_list(F.struct(F.col(score_col).alias("s"), F.col(id_col).alias("i")))
    top = F.slice(F.sort_array(pairs, asc=False), 1, k)
    exploded = (
        scored.groupBy(query_col)
        .agg(top.alias("top"))
        .select(query_col, F.posexplode("top").alias("pos", "hit"))
    )
    return exploded.select(
        query_col,
        (F.col("pos") + 1).alias("rank"),
        F.col("hit.i").alias(id_col),
        F.round(F.col("hit.s"), 6).alias(score_col),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set over one corpus scan.
    Returns (query_id, rank, vec_id, cos_sim)."""
    scored = (
        fan_out(corpus).crossJoin(F.broadcast(queries))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            cosine(F.col(vec_col), F.col(query_vec_col)).alias("cos_sim"),
        )
    )
    return topk_reduce(scored, query_id_col, id_col, "cos_sim", k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    plane_sets: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate cosine top-k with random-hyperplane LSH pruning.

    Each plane set is an independent hash table (multi-probe).  All table
    buckets are computed in ONE corpus scan (array of packed sign-buckets,
    ``posexplode`` to (table_id, bucket) rows), then a single equi-join on
    (table_id, bucket) against the broadcast bucketed queries yields
    candidates, deduped and verified with exact cosine + top-k.  Recall
    rises with more/narrower tables; cost stays ~|corpus| × tables /
    2^bits, with one scan and one join regardless of table count.
    Returns (query_id, rank, vec_id, cos_sim).
    """
    c = fan_out(corpus).select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(hyperplane_table_buckets(F.col(vec_col), plane_sets)).alias(
            "table_id", "bucket"
        ),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        F.posexplode(hyperplane_table_buckets(F.col(query_vec_col), plane_sets)).alias(
            "table_id", "bucket"
        ),
    )
    candidates = c.join(F.broadcast(q), ["table_id", "bucket"]).dropDuplicates(
        [query_id_col, id_col]
    )
    scored = candidates.select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(query_vec_col)).alias("cos_sim"),
    )
    return topk_reduce(scored, query_id_col, id_col, "cos_sim", k)


def train_ivf_centroids(
    vectors: list[list[float]],
    nlist: int = 16,
    iters: int = 8,
    seed: int = 42,
) -> list[list[float]]:
    """Spherical k-means coarse quantizer (driver-side, deterministic).

    IVF training runs on a bounded SAMPLE (caller collects it — at 100 TB
    you train on ~100k sampled vectors, never the corpus), the model is a
    tiny nlist x dim matrix shipped to executors as a literal.  Seeded
    init + fixed iteration count -> reproducible centroids, which is what
    lets the oracle inline them.
    """
    import numpy as np

    x = np.asarray(vectors, dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(nlist, len(x)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents.tolist()


def _nearest_centroid(vec, cents_lit):
    """Index (0-based) of the max-dot centroid; first index wins ties.

    Single-tree argmax: ``array_max`` over (dot, −index) structs —
    lexicographic struct ordering picks the largest dot and, on ties,
    the largest −index = the SMALLEST index, exactly the former
    ``array_position(dots, array_max(dots))`` semantics (NaN included:
    Spark orders NaN above every double in both forms, and ties among
    NaNs again break to the first index).  The former two-reference
    shape evaluated the k×d dot fold TWICE per row: higher-order
    functions are CodegenFallback, and the interpreted projection does
    no common-subexpression elimination (guide §1.2 per-task work)."""
    best = F.array_max(
        F.transform(
            cents_lit,
            lambda c, i: F.struct(dot(vec, c).alias("d"), (-i).alias("ni")),
        )
    )
    return (-best["ni"]).cast("int")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus rows are binned by
    nearest centroid in one scan; each query probes its ``nprobe`` nearest
    centroid lists via an equi-join on centroid id; exact cosine + top-k
    verify.  Cost ~ |corpus| * nprobe / nlist per query versus brute
    force's |corpus| — the FAISS IVF-flat shape on DataFrame ops.
    Returns (query_id, rank, vec_id, cos_sim).
    """
    cents = lit_matrix(centroids)
    assigned = fan_out(corpus).select(
        F.col(id_col), F.col(vec_col), _nearest_centroid(F.col(vec_col), cents).alias("cid")
    )
    # nprobe nearest centroids per query: score all, keep top indices
    # (ties: higher dot first, then higher cid — mirrored by the oracle).
    scored_cents = F.transform(
        cents, lambda c, i: F.struct(dot(F.col(query_vec_col), c).alias("s"), i.alias("i"))
    )
    probe_ids = F.transform(
        F.slice(F.sort_array(scored_cents, asc=False), 1, nprobe), lambda st: st["i"]
    )
    probes = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        F.explode(probe_ids).alias("cid"),
    )
    candidates = assigned.join(F.broadcast(probes), "cid").dropDuplicates(
        [query_id_col, id_col]
    )
    scored = candidates.select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(query_vec_col)).alias("cos_sim"),
    )
    return topk_reduce(scored, query_id_col, id_col, "cos_sim", k)


def ivf_topk_frame(
    corpus: DataFrame,
    queries: DataFrame,
    centroids_df: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """``ivf_topk`` with the coarse quantizer as a TRAINED centroid
    FRAME (the ``kmeans_centroids`` output) instead of frozen literals —
    the serve half of the closed training loop: v19 trains at cluster
    scale, v21 judges the partition, this SEARCHES under it, and no
    centroid ever round-trips through the driver.

    Identical binning/probing/verify semantics to the literal variant
    (max-dot assignment, first index wins ties; per-query nprobe probe
    list sorted dot desc then centroid id desc; exact cosine + top-k
    verify on the probed lists).  Plan shape: the k-row centroid frame
    collapses onto ONE 1-row broadcast as a cluster-ordered array (a
    keyless aggregate — bounded by shape), the corpus bins in one
    scan-local pass against it, and candidates form by the same
    centroid-id equi-join; cost stays ~|corpus|·nprobe/nlist per query.
    Returns (query_id, rank, vec_id, cos_sim).
    """
    cframe = centroids_df.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("cluster"), F.col("centroid").alias("c"))
            )
        ).alias("__cs")
    )
    cents = F.transform(F.col("__cs"), lambda s: s["c"])
    assigned = (
        fan_out(corpus)
        .crossJoin(F.broadcast(cframe))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.element_at(
                F.col("__cs"),
                (_nearest_centroid(F.col(vec_col), cents) + 1).cast("int"),
            )["cluster"].alias("cid"),
        )
    )
    scored_cents = F.transform(
        F.col("__cs"),
        lambda s: F.struct(
            dot(F.col(query_vec_col), s["c"]).alias("s"), s["cluster"].alias("i")
        ),
    )
    probe_ids = F.transform(
        F.slice(F.sort_array(scored_cents, asc=False), 1, nprobe), lambda st: st["i"]
    )
    probes = (
        queries.crossJoin(F.broadcast(cframe))
        .select(
            F.col(query_id_col),
            F.col(query_vec_col),
            F.explode(probe_ids).alias("cid"),
        )
    )
    candidates = assigned.join(F.broadcast(probes), "cid").dropDuplicates(
        [query_id_col, id_col]
    )
    scored = candidates.select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(query_vec_col)).alias("cos_sim"),
    )
    return topk_reduce(scored, query_id_col, id_col, "cos_sim", k)


def semantic_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.9,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "bench_id",
    bench_vec_col: str = "bench_vec",
) -> DataFrame:
    """Embedding-level benchmark contamination — the semantic axis of
    the decontamination family (d15/ll09 catch verbatim/near-verbatim
    n-gram overlap; this catches PARAPHRASED leakage, where an eval
    item was reworded into the training corpus and shares no 8-gram but
    sits at high cosine).

    Scale shape is the IVF serve plan, not all-pairs: the corpus binned
    by nearest coarse centroid in one scan-local pass, the (KB-sized,
    eval-suite) bench side probing its ``nprobe`` nearest lists, and
    candidates formed by the centroid-id EQUI-join — per bench item the
    scan is pruned to ~nprobe/nlist of the corpus before any cosine is
    computed, exactly v05's pruning.  Cosines snap to the 1e-6 grid
    BEFORE the threshold compare, so the cut cannot fall on a
    last-ulp boundary that two engines resolve differently.  Returns
    the evidence pairs (vec_id, bench_id, cos), one row per
    (corpus item, bench item) at or above ``threshold``; an anti-join
    on ``vec_id`` is the removal pass (the d15 → ll09 composition
    shape).
    """
    cents = lit_matrix(centroids)
    vec = F.col(vec_col)
    assigned = fan_out(corpus).select(
        F.col(id_col), vec, _nearest_centroid(vec, cents).alias("cid")
    )
    qvec = F.col(bench_vec_col)
    scored_cents = F.transform(
        cents, lambda c, i: F.struct(dot(qvec, c).alias("s"), i.alias("i"))
    )
    probe_ids = F.transform(
        F.slice(F.sort_array(scored_cents, asc=False), 1, nprobe), lambda st: st["i"]
    )
    probes = bench.select(
        F.col(bench_id_col),
        qvec.alias("__bv"),
        F.explode(probe_ids).alias("cid"),
    )
    return (
        assigned.join(F.broadcast(probes), "cid")
        .select(
            F.col(id_col),
            F.col(bench_id_col),
            F.round(cosine(vec, F.col("__bv")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def train_pq_codebooks(
    vectors: list[list[float]],
    m: int = 8,
    ksub: int = 16,
    iters: int = 8,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (driver-side, deterministic): the
    vector space splits into ``m`` contiguous subspaces; each gets its
    own ``ksub``-centroid L2 k-means codebook.  Like the IVF quantizer,
    training runs on a bounded SAMPLE and the model is a tiny
    m × ksub × (dim/m) constant shipped to executors as a literal —
    seeded init + fixed iterations make it reproducible, which is what
    lets the oracle inline it.  Returns ``codebooks[j][c]`` =
    subspace-j centroid c.
    """
    import numpy as np

    x = np.asarray(vectors, dtype=np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        cents = sub[rng.choice(len(sub), size=min(ksub, len(sub)), replace=False)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cents)):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(cents.tolist())
    return books


def _pq_lit_books(codebooks):
    return F.array(
        *[
            F.array(*[F.array(*[F.lit(float(x)) for x in cent]) for cent in book])
            for book in codebooks
        ]
    )


def _pq_codes_expr(vec, codebooks):
    """Codes Column for an arbitrary vector expression: per subspace,
    the 0-based index of the L2-nearest codebook centroid (first index
    wins ties — mirrored by the oracle's ``ORDER BY dist, c``)."""
    return _pq_codes_from_books(vec, _pq_lit_books(codebooks), len(codebooks[0][0]))


def _pq_codes_from_books(vec, books, dsub: int):
    """The codes expression over an arbitrary ``books`` Column (nested
    m × ksub × dsub arrays — literal or collapsed from a trained
    codebook frame); shared by the literal and frame serve paths so
    their encode semantics cannot drift."""

    def code_for(j_col, book):
        sub = F.slice(vec, j_col * dsub + 1, dsub)
        # single-tree argmin: array_min over (distance, index) structs —
        # smallest distance, ties to the smallest index, identical to
        # the former array_position(d2, array_min(d2)) but evaluating
        # the per-codeword distance folds ONCE (interpreted HOFs get no
        # common-subexpression elimination; the two-reference shape
        # paid the ksub×dsub fold twice per row)
        best = F.array_min(
            F.transform(
                book,
                lambda c, i: F.struct(
                    F.aggregate(
                        F.zip_with(sub, c, lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    ).alias("d"),
                    i.alias("i"),
                ),
            )
        )
        return best["i"].cast("int")

    return F.transform(books, lambda book, j: code_for(j, book))


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
) -> DataFrame:
    """Assign each vector its PQ code array: per subspace, the 0-based
    index of the L2-nearest codebook centroid (first index wins ties).
    One scan-local projection — the indexing pass a vector store runs
    once at ingest; downstream search touches only the m-byte codes.
    """
    return df.withColumn(code_col, _pq_codes_expr(F.col(vec_col), codebooks))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Product-quantization ADC top-k (the FAISS PQ shape): corpus
    vectors are replaced by m-entry code arrays; each query precomputes
    a per-subspace lookup table of dots against every codebook centroid
    (m × ksub dots, once per QUERY, not per row); scoring a corpus row
    is then just m table lookups summed — asymmetric distance
    computation, approximating ``dot(q, x)`` by
    ``Σ_j dot(q_j, centroid[j][code_j])``.

    At scale this is the memory-bound win beyond int8 (v06/v07): codes
    are m bytes against 4·dim for floats (32× smaller at dim=64, m=8),
    so the scan stage reads codes only; the float vectors are touched
    by nothing (add an exact rescore of the top pool, as in
    ``quantized_topk``, when recall demands it).  The approximate score
    is rounded to 6 BEFORE the top-k reduction so candidate ranking is
    reproducible across engines (the m-term sum is order-deterministic
    in the fold here, but an oracle's GROUP BY sum is not).
    Returns (query_id, rank, vec_id, adc_dot).
    """
    encoded = pq_encode(fan_out(corpus), codebooks, vec_col=vec_col).select(
        F.col(id_col), F.col("pq_codes")
    )
    books = _pq_lit_books(codebooks)
    dsub = len(codebooks[0][0])
    qvec = F.col(query_vec_col)
    lut = F.transform(
        books,
        lambda book, j: F.transform(
            # each LUT entry snaps to the 1e-6 grid BEFORE the m-term sum:
            # the ideal sum is then itself a grid point, so the final
            # round(.., 6) cannot land on a rounding boundary that a
            # different engine's summation order resolves the other way
            book, lambda c: F.round(dot(F.slice(qvec, j * dsub + 1, dsub), c), 6)
        ),
    )
    q = queries.select(F.col(query_id_col), lut.alias("__lut"))
    scored = encoded.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("pq_codes"),
                    F.col("__lut"),
                    lambda code, row: F.element_at(row, code + 1),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("adc_dot"),
    )
    return topk_reduce(scored, query_id_col, id_col, "adc_dot", k)


def train_ivf_pq(
    vectors: list[list[float]],
    nlist: int = 16,
    m: int = 8,
    ksub: int = 16,
    iters: int = 8,
    seed: int = 42,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train the full IVF-PQ index model (driver-side, deterministic):
    the IVF coarse quantizer first, then PQ codebooks on the RESIDUALS
    of the sample w.r.t. each vector's nearest coarse centroid —
    residual encoding is what makes IVF-PQ beat flat PQ (residuals are
    smaller and more isotropic than raw vectors, so the same code
    budget spends its precision where the coarse quantizer left error).
    Assignment uses max-dot with first-index tie-break, exactly what
    ``_nearest_centroid`` computes executor-side.
    Returns (centroids, codebooks)."""
    import numpy as np

    cents = train_ivf_centroids(vectors, nlist=nlist, iters=iters, seed=seed)
    x = np.asarray(vectors, dtype=np.float64)
    c = np.asarray(cents, dtype=np.float64)
    assign = np.argmax(x @ c.T, axis=1)
    resid = x - c[assign]
    books = train_pq_codebooks(resid.tolist(), m=m, ksub=ksub, iters=iters, seed=seed)
    return cents, books


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-PQ approximate top-k — the complete FAISS index shape on
    DataFrame ops, composing the coarse inverted file (v05) with
    residual product quantization (v12):

    - one corpus scan assigns each vector its nearest coarse centroid
      AND its PQ codes over the RESIDUAL ``x − centroid[cid]``;
    - each query probes its ``nprobe`` nearest lists (ties toward the
      higher cid, as in ``ivf_topk``), carrying the centroid dot and
      its global residual LUT;
    - candidates come from an EQUI-JOIN on cid — the scan is pruned to
      nprobe/nlist of the corpus before any scoring happens — and score
      as ``dot(q, c_cid) + Σ_j lut[j][code_j]``, the ADC decomposition
      of ``dot(q, x)`` under residual coding.

    Cost per query ~ |corpus|·nprobe/nlist lookups of m entries, over
    m-byte codes instead of 4·dim-byte floats — the two multiplicative
    wins (pruning × compression) that make billion-scale ANN serve from
    RAM.  The approximate score rounds to 6 before the top-k cut for
    cross-engine rank reproducibility.
    Returns (query_id, rank, vec_id, adc_dot).
    """
    cents = lit_matrix(centroids)
    dsub = len(codebooks[0][0])
    vec = F.col(vec_col)
    resid = F.zip_with(vec, F.element_at(cents, F.col("cid") + 1), lambda a, b: a - b)
    assigned = (
        fan_out(corpus)
        .select(F.col(id_col), vec, _nearest_centroid(vec, cents).alias("cid"))
        .select(F.col(id_col), F.col("cid"), _pq_codes_expr(resid, codebooks).alias("pq_codes"))
    )
    qvec = F.col(query_vec_col)
    books = _pq_lit_books(codebooks)
    lut = F.transform(
        books,
        lambda book, j: F.transform(
            # each LUT entry snaps to the 1e-6 grid BEFORE the m-term sum:
            # the ideal sum is then itself a grid point, so the final
            # round(.., 6) cannot land on a rounding boundary that a
            # different engine's summation order resolves the other way
            book, lambda c: F.round(dot(F.slice(qvec, j * dsub + 1, dsub), c), 6)
        ),
    )
    scored_cents = F.transform(
        cents, lambda c, i: F.struct(dot(qvec, c).alias("s"), i.alias("i"))
    )
    probes = (
        queries.select(
            F.col(query_id_col),
            lut.alias("__lut"),
            F.explode(F.slice(F.sort_array(scored_cents, asc=False), 1, nprobe)).alias("__p"),
        )
        .select(
            F.col(query_id_col),
            F.col("__lut"),
            F.col("__p.i").alias("cid"),
            F.col("__p.s").alias("__centdot"),
        )
    )
    scored = assigned.join(F.broadcast(probes), "cid").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            F.round(F.col("__centdot"), 6)
            + F.aggregate(
                F.zip_with(
                    F.col("pq_codes"),
                    F.col("__lut"),
                    lambda code, row: F.element_at(row, code + 1),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("adc_dot"),
    )
    return topk_reduce(scored, query_id_col, id_col, "adc_dot", k)


def ivf_pq_topk_frame(
    corpus: DataFrame,
    queries: DataFrame,
    centroids_df: DataFrame,
    codebooks,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dsub: int | None = None,
) -> DataFrame:
    """``ivf_pq_topk`` with the coarse quantizer as a TRAINED centroid
    FRAME (the ``kmeans_centroids`` output) instead of frozen literals —
    the closed training loop extended over the COMPRESSED index family:
    v19 trains the coarse quantizer at cluster scale, v22 searches flat
    under it, and this searches the residual-PQ index under it.
    ``codebooks`` is either the tiny driver-trained literal (a
    sample-trained m × ksub × dsub constant, the v12/v13 model — the
    production FAISS split) or a TRAINED codebook FRAME from
    ``pq_codebooks_frame`` (pass ``dsub`` explicitly then): the frame
    collapses onto one 1-row broadcast of nested m × ksub × dsub
    arrays exactly like the coarse frame, so with both frames supplied
    NO part of the quantization stack round-trips through the driver.
    The two paths share one encode/LUT expression
    (``_pq_codes_from_books``), so their semantics cannot drift —
    frame-vs-literal parity is pinned on identical codebook content.

    Identical binning/probing/ADC semantics to the literal variant
    (max-dot assignment with first-position tie-break; per-query probe
    list sorted dot desc then cluster id desc; residual ``x − c_cid``
    PQ-encoded in the same corpus scan; score =
    ``round(round(centdot,6) + Σ_j lut[j][code_j], 6)``) — parity-pinned
    row-for-row against ``ivf_pq_topk`` on shared centroids.  Plan
    shape: the k-row centroid frame collapses onto ONE 1-row broadcast
    as a cluster-ordered array (keyless aggregate, shape-bounded), the
    corpus bins AND residual-encodes in one scan-local pass against it,
    candidates form by the centroid-id equi-join, and per-query cost
    stays ~|corpus|·nprobe/nlist lookups of m entries over m-byte
    codes.  Returns (query_id, rank, vec_id, adc_dot).
    """
    cframe = centroids_df.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("cluster"), F.col("centroid").alias("c"))
            )
        ).alias("__cs")
    )
    cents = F.transform(F.col("__cs"), lambda s: s["c"])
    frame_books = isinstance(codebooks, DataFrame)
    if frame_books:
        if dsub is None:
            raise ValueError("dsub is required when codebooks is a frame")
        bframe = (
            codebooks.groupBy("j")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("c"), F.col("codebook")))
                ).alias("bk")
            )
            .agg(
                F.array_sort(F.collect_list(F.struct(F.col("j"), F.col("bk")))).alias(
                    "__bj"
                )
            )
        )
        books = F.transform(
            F.col("__bj"), lambda s: F.transform(s["bk"], lambda t: t["codebook"])
        )
    else:
        dsub = len(codebooks[0][0])
        books = _pq_lit_books(codebooks)
    vec = F.col(vec_col)
    corpus_side = fan_out(corpus).crossJoin(F.broadcast(cframe))
    if frame_books:
        corpus_side = corpus_side.crossJoin(F.broadcast(bframe))
    # two-layer projection: the nearest-centroid fold lands in ONE
    # aliased column, and the consumer layer references it twice (cid +
    # residual encode).  CollapseProject keeps the layers apart (the
    # producer is non-cheap and multiply-referenced), so the fold runs
    # once per row where the single-projection shape ran it per
    # referencing column (interpreted HOFs get no CSE — guide §1.2).
    pre_cols = [F.col(id_col), vec, F.col("__cs")]
    if frame_books:
        pre_cols.append(F.col("__bj"))
    pre = corpus_side.select(
        *pre_cols, _nearest_centroid(vec, cents).alias("__idx")
    )
    idx = F.col("__idx")
    resid = F.zip_with(
        vec, F.element_at(F.col("__cs"), idx + 1)["c"], lambda a, b: a - b
    )
    assigned = pre.select(
        F.col(id_col),
        F.element_at(F.col("__cs"), (idx + 1).cast("int"))["cluster"].alias("cid"),
        _pq_codes_from_books(resid, books, dsub).alias("pq_codes"),
    )
    qvec = F.col(query_vec_col)
    lut = F.transform(
        books,
        lambda book, j: F.transform(
            # grid-snap each LUT entry BEFORE the m-term sum (the
            # pq_topk rationale: the ideal sum is then itself a grid
            # point, immune to cross-engine summation order)
            book, lambda c: F.round(dot(F.slice(qvec, j * dsub + 1, dsub), c), 6)
        ),
    )
    scored_cents = F.transform(
        F.col("__cs"),
        lambda s: F.struct(dot(qvec, s["c"]).alias("s"), s["cluster"].alias("i")),
    )
    query_side = queries.crossJoin(F.broadcast(cframe))
    if frame_books:
        query_side = query_side.crossJoin(F.broadcast(bframe))
    probes = (
        query_side
        .select(
            F.col(query_id_col),
            lut.alias("__lut"),
            F.explode(
                F.slice(F.sort_array(scored_cents, asc=False), 1, nprobe)
            ).alias("__p"),
        )
        .select(
            F.col(query_id_col),
            F.col("__lut"),
            F.col("__p.i").alias("cid"),
            F.col("__p.s").alias("__centdot"),
        )
    )
    scored = assigned.join(F.broadcast(probes), "cid").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            F.round(F.col("__centdot"), 6)
            + F.aggregate(
                F.zip_with(
                    F.col("pq_codes"),
                    F.col("__lut"),
                    lambda code, row: F.element_at(row, code + 1),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("adc_dot"),
    )
    return topk_reduce(scored, query_id_col, id_col, "adc_dot", k)


def ivf_pq_rescore_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 4,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-PQ with exact refinement — the complete production retrieval
    stack (FAISS index + refine): the compressed index selects
    ``k·rescore_factor`` candidates per query (coarse pruning ×
    residual ADC), then the float vectors exact-rescore only that pool
    — the same repair stage as ``quantized_topk``, now on top of the
    full IVF-PQ candidate generator.  The candidate set is tiny
    (queries × k·factor), so the rescore joins broadcast it onto one
    corpus scan; floats are read for candidates only.
    Returns (query_id, rank, vec_id, dot) — exact inner products.
    """
    cand = ivf_pq_topk(
        corpus, queries, centroids, codebooks,
        k=k * rescore_factor, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    ).select(query_id_col, id_col)
    rescored = (
        corpus.join(F.broadcast(cand), id_col)
        .join(F.broadcast(queries.select(query_id_col, query_vec_col)), query_id_col)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            dot(F.col(vec_col), F.col(query_vec_col)).alias("dot"),
        )
    )
    return topk_reduce(rescored, query_id_col, id_col, "dot", k)


def ivf_pq_rescore_topk_frame(
    corpus: DataFrame,
    queries: DataFrame,
    centroids_df: DataFrame,
    codebooks,
    k: int = 10,
    nprobe: int = 4,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dsub: int | None = None,
) -> DataFrame:
    """``ivf_pq_rescore_topk`` with the coarse quantizer as a TRAINED
    centroid frame — the complete production retrieval stack (index +
    refine) under the quantizer the cluster just trained: the
    frame-based IVF-PQ generator selects ``k·rescore_factor``
    candidates, then the float vectors exact-rescore only that tiny
    pool via the same broadcast joins as the literal variant.  Floats
    are read for candidates only; everything scale-relevant (coarse
    pruning, m-byte codes, keyless-aggregate centroid broadcast) is
    inherited from ``ivf_pq_topk_frame`` — including the codebook
    FRAME mode (pass ``dsub`` with it).
    Returns (query_id, rank, vec_id, dot) — exact inner products."""
    cand = ivf_pq_topk_frame(
        corpus, queries, centroids_df, codebooks,
        k=k * rescore_factor, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
        dsub=dsub,
    ).select(query_id_col, id_col)
    rescored = (
        corpus.join(F.broadcast(cand), id_col)
        .join(F.broadcast(queries.select(query_id_col, query_vec_col)), query_id_col)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            dot(F.col(vec_col), F.col(query_vec_col)).alias("dot"),
        )
    )
    return topk_reduce(rescored, query_id_col, id_col, "dot", k)


def _int8_cosine(a, b, norm_a, norm_b):
    """Cosine over two int8 arrays with precomputed norms: one zip_with
    fold in long arithmetic (dim·127² ≪ 2⁶³), zero-norm guarded."""
    dot_q = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    denom = norm_a * norm_b
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot_q / denom)


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Two-stage quantized search: int8 approximate cosine selects
    ``k·rescore_factor`` candidates per query, then the float vectors
    exact-rescore the final top-k — the memory-bound shape of a
    production vector index (int8 vectors are 4× smaller, so the scan
    stage reads a quarter of the bytes; only candidates touch floats).

    Cosine is scale-invariant, so symmetric per-vector quantization
    preserves ranking up to rounding — which is exactly what the rescore
    stage repairs.  The candidate set is tiny (queries × k·factor), so
    the rescore joins broadcast it onto one corpus scan: no shuffle of
    the corpus at any stage.  Returns (query_id, rank, vec_id, cos_sim).
    """
    from realtimechurnpredictiondataengineering_spark.functions.vectors import quantize_int8

    qc = quantize_int8(fan_out(corpus), id_col=id_col, vec_col=vec_col).withColumn(
        "nq", F.sqrt(F.aggregate(
            F.transform("qvec", lambda x: x.cast("long") * x),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ))
    )
    qq = quantize_int8(queries, id_col=query_id_col, vec_col=query_vec_col).select(
        F.col(query_id_col),
        F.col("qvec").alias("qq"),
        F.sqrt(F.aggregate(
            F.transform("qvec", lambda x: x.cast("long") * x),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )).alias("nqq"),
    )
    approx = qc.crossJoin(F.broadcast(qq)).select(
        F.col(query_id_col),
        F.col(id_col),
        _int8_cosine(F.col("qvec"), F.col("qq"), F.col("nq"), F.col("nqq")).alias("qcos"),
    )
    cand = topk_reduce(approx, query_id_col, id_col, "qcos", k * rescore_factor).select(
        query_id_col, id_col
    )
    rescored = (
        corpus.join(F.broadcast(cand), id_col)
        .join(
            F.broadcast(queries.select(query_id_col, query_vec_col)), query_id_col
        )
        .select(
            F.col(query_id_col),
            F.col(id_col),
            cosine(F.col(vec_col), F.col(query_vec_col)).alias("cos_sim"),
        )
    )
    return topk_reduce(rescored, query_id_col, id_col, "cos_sim", k)


def mips_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact maximum-inner-product top-k (MIPS): the retrieval scoring
    used when magnitudes carry signal (recommendation/two-tower models)
    — unlike cosine, NOT scale-invariant, so no normalization happens.
    Same plan as ``brute_force_topk``: broadcast query set over one
    corpus scan, two-phase top-k reduction.  Returns
    (query_id, rank, vec_id, dot).
    """
    scored = (
        fan_out(corpus).crossJoin(F.broadcast(queries))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            dot(F.col(vec_col), F.col(query_vec_col)).alias("dot"),
        )
    )
    return topk_reduce(scored, query_id_col, id_col, "dot", k)


def ann_recall(
    approx_topk: DataFrame,
    exact_topk: DataFrame,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one —
    the evaluation loop that tunes LSH table counts / IVF probe counts
    before a corpus-scale run.

    Both inputs are (query_id, rank, vec_id, ...) frames as produced by
    the ``*_topk`` operators.  Recall@k = |approx ∩ exact| / |exact| per
    query.  One left-semi-shaped join on (query, id) and a per-query
    aggregate; result cardinality = number of queries, so everything
    after the (tiny) topk inputs is negligible at any scale.
    Returns (query_id, k, n_hit, recall).
    """
    exact = exact_topk.select(F.col(query_id_col), F.col(id_col))
    approx = approx_topk.select(
        F.col(query_id_col), F.col(id_col).alias("__approx_id")
    )
    hits = exact.join(
        approx,
        (exact[query_id_col] == approx[query_id_col])
        & (exact[id_col] == approx["__approx_id"]),
        "left",
    ).select(
        exact[query_id_col].alias(query_id_col),
        F.col("__approx_id").isNotNull().cast("long").alias("__hit"),
    )
    return hits.groupBy(query_id_col).agg(
        F.count("*").cast("int").alias("k"),
        F.sum("__hit").alias("n_hit"),
        F.round(F.sum("__hit") / F.count("*"), 4).alias("recall"),
    )


def knn_label_accuracy(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Leave-one-out k-NN label accuracy — the standard intrinsic
    embedding-quality eval: each vector's label is predicted by majority
    vote of its k nearest neighbors (cosine, self excluded) and compared
    to its own label, reported per label class.

    Neighbors come from the exact brute-force cross join: eval slices
    are sample-sized by definition, and exact neighbors ARE the oracle
    semantics for v11.  Vote ties
    break toward the smaller label, neighbor ties toward the larger id
    (``topk_reduce``'s order), both deterministic and oracle-replayable.
    Returns (label, n, n_correct, accuracy).
    """
    e = df.select(F.col(id_col), F.col(vec_col), F.col(label_col))
    qs = e.select(
        F.col(id_col).alias("__qid"),
        F.col(vec_col).alias("__qvec"),
        F.col(label_col).alias("__qlabel"),
    )
    scored = (
        fan_out(e).crossJoin(F.broadcast(qs))
        .select(
            F.col("__qid"),
            F.col(id_col),
            cosine(F.col(vec_col), F.col("__qvec")).alias("cos_sim"),
        )
        .filter(F.col(id_col) != F.col("__qid"))
    )
    nn = topk_reduce(scored, "__qid", id_col, "cos_sim", k)
    votes = (
        nn.join(e.select(F.col(id_col), F.col(label_col).alias("__nlabel")), id_col)
        .groupBy("__qid", "__nlabel")
        .agg(F.count("*").alias("__votes"))
    )
    w = Window.partitionBy("__qid").orderBy(F.desc("__votes"), F.asc("__nlabel"))
    predicted = (
        votes.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(F.col("__qid"), F.col("__nlabel").alias("__pred"))
    )
    return (
        predicted.join(
            qs.select("__qid", "__qlabel"), "__qid"
        )
        .groupBy(F.col("__qlabel").alias(label_col))
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("__pred") == F.col("__qlabel")).cast("long")).alias("n_correct"),
        )
        .withColumn("accuracy", F.round(F.col("n_correct") / F.col("n"), 4))
    )


def truncate_vectors(
    df: DataFrame,
    dims: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style dimension truncation: keep the first ``dims``
    coordinates and L2-renormalize (Kusupati et al. 2022 — MRL-trained
    encoders pack coarse-to-fine structure into prefixes, so the prefix
    IS a valid lower-cost embedding).  The standard storage/speed trade in
    retrieval systems: shorter vectors mean proportionally less scan
    bytes, broadcast size, and dot-product work at a recall cost that
    ``truncation_recall`` measures before anyone commits to it.

    Pure scan-local expression (slice + one aggregate for the norm +
    transform to divide), no shuffle; all-zero prefixes keep NULL-free
    zeros (cosine downstream treats them as orthogonal-to-everything).
    """
    pre = F.slice(F.col(vec_col), 1, dims)
    n = F.sqrt(F.aggregate(pre, F.lit(0.0), lambda a, x: a + x * x))
    renorm = F.when(n > 0, F.transform(pre, lambda x: x / n)).otherwise(pre)
    return df.withColumn(vec_col, renorm)


def truncation_recall(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Recall@k of truncated-then-renormalized (MRL prefix) search
    against full-dimension exact search — the evaluation that prices a
    dimension cut BEFORE re-encoding a corpus: run top-k at ``dims``
    and at full width over the same queries, compare with
    ``ann_recall``.  Composition of existing pieces (two broadcast
    brute-force passes + the recall join), so the plan inherits their
    shapes; at sweep time the truncated pass costs ``dims/full`` of the
    exact one.  Returns (query_id, k, n_hit, recall)."""
    exact = brute_force_topk(
        corpus, queries, k, id_col, vec_col, query_id_col, query_vec_col
    )
    approx = brute_force_topk(
        truncate_vectors(corpus, dims, vec_col),
        truncate_vectors(queries, dims, query_vec_col),
        k,
        id_col,
        vec_col,
        query_id_col,
        query_vec_col,
    )
    return ann_recall(approx, exact, query_id_col, id_col)


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    rounds: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd's k-means over the FULL vector table — the
    cluster-scale twin of ``train_ivf_centroids`` (which trains on a
    driver-side sample): when nlist grows to the point that the
    training sample itself is corpus-scale (FAISS doctrine wants ~100s
    of training vectors per centroid, so a 1M-list index trains on
    ~100M vectors), assignment and re-estimation must run as Spark
    jobs.  Deterministic end to end, so a SQL oracle can replay every
    round: init = the ``k`` vectors with the smallest ids (cluster j =
    rank j), squared-L2 assignment with distances snapped to the 1e-9
    grid and ties broken by cluster index, per-dimension means snapped
    to the 1e-6 grid, an empty cluster keeps its previous centroid.

    Per round: ONE scan-local corpus assignment (vectors × ONE
    broadcast row carrying the cluster-ascending centroid array,
    fold-computed distance argmin — no window, no shuffle of the
    vector table at all) and ONE re-estimation shuffle (posexplode to
    (cluster, dim, value) partial means, broadcast-joined back onto
    the k-row frame).  The k-row centroid frame is rebuilt each round
    and ``stats_free_checkpoint``-ed: checkpointing keeps round plans
    flat, and resetting ``originStats`` keeps Catalyst's size estimate
    from compounding across rounds (the connected_components lesson —
    see cache.py).  Rounds are a FIXED budget, not a convergence loop:
    training is offline, the artifact ships frozen (the v05/v16
    posture), and a fixed budget is what makes the result reproducible
    and oracle-checkable.  Returns the final assignment
    (id, cluster: int).
    """
    vecs, centroids = _lloyd_train(df, k, rounds, id_col, vec_col)
    return _lloyd_assign(vecs, centroids, id_col).select(
        F.col(id_col), F.col("cluster").cast("int").alias("cluster")
    )


def _lloyd_best(vec: F.Column, cents_arr: F.Column) -> F.Column:
    """Argmin over a (cluster-ascending) array of (cluster, c) structs:
    per element, squared L2 on the 1e-9 grid (the exact ``_lloyd_dist``
    expression), then ``array_min`` over (distance, cluster) structs —
    struct ordering is lexicographic, so equal distances break toward
    the smaller cluster index, bit-identical to the former
    ``min_by(cluster, struct(__d, cluster))``."""
    return F.array_min(
        F.transform(
            cents_arr,
            lambda s: F.struct(
                F.round(
                    F.aggregate(
                        F.zip_with(vec, s["c"], lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    9,
                ).alias("__d"),
                s["cluster"].alias("cluster"),
            ),
        )
    )


def _lloyd_assign(vecs: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """One assignment pass, scan-local: the k-row centroid frame
    collapses onto ONE broadcast row (cluster-ascending array) and the
    argmin is a fold over it — no shuffle of the vector table at all.

    The former shape (vectors × broadcast k-row frame → ``min_by``
    argmin under ``groupBy(id)``) re-shuffled every vector once per
    round and planned as Sort+Exchange+SortAggregate (min_by over a
    struct is not hash-aggregable); at corpus scale that is a full
    vector-table shuffle per training round for a decision that only
    needs the broadcast centroids (guide §2.4: remove shuffles
    outright).  Distances, tie-breaks, and grids are expression-
    identical to the former shape (see ``_lloyd_best``), so the
    assignment — and therefore every trained artifact — is unchanged.

    PRECONDITION: ``id_col`` values must be unique in ``vecs``.  The
    former ``groupBy(id)`` shape silently collapsed duplicate ids to
    one assignment row; this scan-local shape preserves row
    multiplicity, so a duplicated id would double-weight its vector in
    the re-estimation means.  Every caller feeds a primary-key id
    (vec_id); pinned by tests/test_similarity.py."""
    cframe = cents.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cluster"), F.col("__c").alias("c")))
        ).alias("__cs")
    )
    return vecs.crossJoin(F.broadcast(cframe)).select(
        F.col(id_col),
        _lloyd_best(F.col("__v"), F.col("__cs"))["cluster"].alias("cluster"),
        F.col("__v"),
    )


def _lloyd_train(
    df: DataFrame, k: int, rounds: int, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """The shared Lloyd's training loop behind ``kmeans_lloyd`` (which
    returns the final assignment) and ``kmeans_centroids`` (which
    returns the trained centroids themselves).  Returns the persisted
    vector frame and the final checkpointed k-row centroid frame
    (cluster, __c)."""
    from realtimechurnpredictiondataengineering_spark.cache import (
        persist_tracked as _persist,
        stats_free_checkpoint,
    )

    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).transform(_persist)
    w_init = Window.orderBy(id_col)
    centroids = stats_free_checkpoint(
        vecs.orderBy(id_col)
        .limit(k)
        .select(
            (F.row_number().over(w_init) - 1).cast("int").alias("cluster"),
            F.col("__v").alias("__c"),
        )
    )
    for _ in range(rounds):
        assigned = _lloyd_assign(vecs, centroids, id_col)
        means = (
            assigned.select("cluster", F.posexplode("__v").alias("dim", "__x"))
            .groupBy("cluster", "dim")
            .agg(F.round(F.avg("__x"), 6).alias("__m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "__m"))),
                    lambda s: s["__m"],
                ).alias("__new")
            )
        )
        # means is k rows post-aggregation but checkpoint-reset stats
        # hide that from the planner — hint it so the k-row refresh is
        # a broadcast join, not a two-exchange sort-merge (guide §3.1)
        centroids = stats_free_checkpoint(
            centroids.join(F.broadcast(means), "cluster", "left").select(
                "cluster", F.coalesce("__new", "__c").alias("__c")
            )
        )
    return vecs, centroids


def kmeans_centroids(
    df: DataFrame,
    k: int = 8,
    rounds: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train ``kmeans_lloyd``'s quantizer and return the CENTROIDS
    rather than the assignment — the artifact every downstream consumer
    of a trained quantizer actually wants (IVF coarse lists, the
    cluster-quality evaluation, semantic-dedup bucketing).  Identical
    training loop, determinism contract, and per-round plan shape as
    ``kmeans_lloyd`` (one broadcast-assignment scan + one re-estimation
    shuffle per round; see its docstring); the k-row result is already
    checkpointed, so consumers compose it without replanning the
    rounds.  Returns (cluster: int, centroid: array<double>)."""
    _, centroids = _lloyd_train(df, k, rounds, id_col, vec_col)
    return centroids.select(
        F.col("cluster").cast("int").alias("cluster"),
        F.col("__c").alias("centroid"),
    )


def residuals_frame(
    corpus: DataFrame,
    centroids_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    resid_col: str = "resid",
) -> DataFrame:
    """Residuals ``x − c_assigned`` under a TRAINED coarse quantizer
    frame — the training INPUT for residual-PQ codebooks, computed with
    the exact assignment semantics the serve path uses (max-dot argmin,
    first-position tie-break — ``_nearest_centroid``), so what the
    codebooks train on is what the index later encodes.  One scan-local
    pass against the keyless-aggregate centroid broadcast; centroid
    means are 1e-6-snapped by the Lloyd loop, so the subtraction is
    bit-reproducible cross-engine.  Returns (id, resid)."""
    cframe = centroids_df.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cluster"), F.col("centroid").alias("c")))
        ).alias("__cs")
    )
    cents = F.transform(F.col("__cs"), lambda s: s["c"])
    vec = F.col(vec_col)
    idx = _nearest_centroid(vec, cents)
    return (
        corpus.crossJoin(F.broadcast(cframe))
        .select(
            F.col(id_col),
            F.zip_with(vec, F.element_at(cents, idx + 1), lambda a, b: a - b).alias(
                resid_col
            ),
        )
    )


def _pq_init_books(sub, ksub: int, id_col: str):
    """Deterministic per-subspace codebook init: the first ``ksub``
    subvectors by id within each subspace ``j``.  The rank filter
    relies on Spark's WindowGroupLimit pushdown (Spark 3.5+) so the
    ``row_number() <= ksub`` prunes MAP-SIDE instead of sorting the
    full subvector table inside each of the m partitions — at corpus
    scale that pushdown is the difference between reading ksub rows
    per subspace and a full per-partition sort, so its presence in
    the physical plan is pinned by
    ``tests/test_plan_invariants.py::test_pq_init_rank_filter_plans_as_window_group_limit``.
    """
    w_init = Window.partitionBy("j").orderBy(id_col)
    return (
        sub.withColumn("__rn", F.row_number().over(w_init))
        .filter(F.col("__rn") <= ksub)
        .select(
            "j",
            (F.col("__rn") - 1).cast("int").alias("c"),
            F.col("__v").alias("__c"),
        )
    )


def pq_codebooks_frame(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "resid",
    dims: int = 64,
) -> DataFrame:
    """Residual-PQ codebooks trained IN-CLUSTER — the last literal in
    the quantization stack closed: where ``train_pq_codebooks`` runs m
    independent k-means loops on a driver-side sample, this trains ALL
    m codebooks as ONE partitioned Lloyd loop over the full residual
    table, with the subspace index as just another grouping key.  Per
    round the job count is the same as ``kmeans_lloyd``'s — one
    assignment scan (subvectors equi-joined to the broadcast m·ksub
    codebook frame on the subspace key, ``min_by`` argmin) and one
    re-estimation shuffle (posexplode to (j, c, dim) partial means) —
    so an m of 8 or 64 costs the same number of stages; only row width
    changes.  Determinism mirrors ``kmeans_lloyd`` exactly so a SQL
    oracle replays every round: init = each subspace's slices of the
    ``ksub`` smallest ids, distances snapped to the 1e-9 grid with the
    code-index tie-break, per-dim means snapped to 1e-6, empty codes
    keep their previous centroid.  Returns (j, c, codebook) —
    ``ivf_pq_topk_frame(codebooks=<this>, dsub=dims//m)`` serves it.
    """
    from realtimechurnpredictiondataengineering_spark.cache import (
        persist_tracked as _persist,
        stats_free_checkpoint,
    )

    if dims % m:
        raise ValueError(f"dims {dims} not divisible by m={m}")
    dsub = dims // m
    sub = (
        df.select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda j: F.slice(F.col(vec_col).cast("array<double>"), j * dsub + 1, dsub),
                )
            ).alias("j", "__v"),
        )
    ).transform(_persist)
    books = stats_free_checkpoint(_pq_init_books(sub, ksub, id_col))
    for _ in range(rounds):
        # one broadcast row per subspace carrying its ksub codewords
        # (code-ascending), so the argmin is a scan-local fold after a
        # 1:1 broadcast join on j — the former per-(id, j) ``min_by``
        # groupBy re-shuffled the whole subvector table every round
        # (guide §2.4); the fold is expression-identical (_lloyd_best
        # with c as the index field), so the codes are unchanged.
        books_arr = books.groupBy("j").agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("c").alias("cluster"), F.col("__c").alias("c")))
            ).alias("__bs")
        )
        assigned = sub.join(F.broadcast(books_arr), "j").select(
            F.col(id_col),
            "j",
            _lloyd_best(F.col("__v"), F.col("__bs"))["cluster"].alias("c"),
            "__v",
        )
        means = (
            assigned.select("j", "c", F.posexplode("__v").alias("dim", "__x"))
            .groupBy("j", "c", "dim")
            .agg(F.round(F.avg("__x"), 6).alias("__m"))
            .groupBy("j", "c")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "__m"))),
                    lambda s: s["__m"],
                ).alias("__new")
            )
        )
        # m·ksub rows — broadcast for the same reason as the centroid
        # refresh in _lloyd_train
        books = stats_free_checkpoint(
            books.join(F.broadcast(means), ["j", "c"], "left").select(
                "j", "c", F.coalesce("__new", "__c").alias("__c")
            )
        )
    return books.select(
        F.col("j").cast("int").alias("j"),
        F.col("c").cast("int").alias("c"),
        F.col("__c").alias("codebook"),
    )


def cluster_quality_report(
    vecs: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster assignment-quality report for a trained quantizer
    (the eval that closes the clustering leg: v19 trains, v05/v13 probe,
    this says whether the partition is any good): for every vector the
    scan-local centroid scoring (the v16 machinery) yields its best dot
    (cohesion — how close the cluster center sits) and its margin over
    the second-best centroid (assignment confidence — a near-zero
    margin means the vector is on a cluster boundary and IVF ``nprobe``
    must cover the neighbor).  Needs >= 2 centroids.

    Scale shape: everything per-vector is a scan-local expression over
    the literal centroid array (no join, no shuffle to assign); the
    only shuffle is the final groupBy onto k rows.  Means round to the
    1e-6 grid with the signed-zero snap (cohesion CAN be negative for
    a cluster of far-flung vectors).  Returns
    (cluster_id, n, mean_cohesion, mean_margin), one row per non-empty
    cluster.
    """
    from realtimechurnpredictiondataengineering_spark.functions.scalar import snap

    if len(centroids) < 2:
        raise ValueError("cluster_quality_report needs >= 2 centroids")
    cents = lit_matrix(centroids)
    # one desc-sorted (dot, −index) struct array per row, computed in
    # its own projection layer: the former shape referenced the k×d dot
    # fold from all three output columns (best, margin, argmax) and
    # interpreted HOFs get no common-subexpression elimination, so the
    # fold ran ~4× per row.  Struct ordering reproduces the exact old
    # semantics: max dot first, ties toward the smaller index
    # (−index desc ≡ index asc ≡ array_position's first-match rule);
    # the d-sequence of the sorted structs is the same sorted multiset
    # sort_array(dots, desc) produced, so `second` is unchanged too.
    sd = F.sort_array(
        F.transform(
            cents,
            lambda c, i: F.struct(
                dot(F.col(vec_col), c).alias("d"), (-i).alias("ni")
            ),
        ),
        asc=False,
    )
    pre = fan_out(vecs).select(sd.alias("__sd"))
    assigned = pre.select(
        (-F.element_at("__sd", 1)["ni"]).cast("int").alias("cluster_id"),
        F.element_at("__sd", 1)["d"].alias("__b"),
        (F.element_at("__sd", 1)["d"] - F.element_at("__sd", 2)["d"]).alias("__m"),
    )
    return assigned.groupBy("cluster_id").agg(
        F.count("*").cast("int").alias("n"),
        snap(F.avg("__b"), 6).alias("mean_cohesion"),
        snap(F.avg("__m"), 6).alias("mean_margin"),
    )


def cluster_quality_frame(
    vecs: DataFrame,
    centroids_df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """``cluster_quality_report`` over a TRAINED centroid FRAME (the
    ``kmeans_centroids`` output) instead of frozen literals — the
    composition that closes the clustering leg end to end: train →
    assign → evaluate, with no driver round-trip between training and
    evaluation (the k-row frame never leaves the cluster).

    Same scoring and report semantics as the literal variant: per
    vector the best dot (cohesion) and its margin over the second-best
    centroid, ties broken toward the smaller cluster id, means snapped
    to the 1e-6 grid.  Plan shape: the centroid frame collapses onto
    ONE 1-row broadcast as a cluster-ordered array (a keyless
    aggregate, provably bounded — the bpe-serve discipline), scoring is
    a scan-local fold over that array, and the only shuffle is the
    final groupBy onto k rows.  The >=2-centroid requirement is a
    runtime ``assert_true`` on the 1-row frame (k lives in data here,
    not in the caller's config).  Returns
    (cluster_id, n, mean_cohesion, mean_margin) for non-empty clusters.
    """
    from realtimechurnpredictiondataengineering_spark.functions.scalar import snap

    cents = centroids_df.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("cluster"), F.col("centroid").alias("c"))
            )
        ).alias("__cs")
    )
    cents = cents.filter(
        F.assert_true(
            F.size("__cs") >= 2,
            F.lit("cluster_quality_frame needs >= 2 centroids"),
        ).isNull()
    )
    # same single-evaluation restructure as cluster_quality_report: one
    # desc-sorted (dot, −cluster) struct array in its own projection
    # layer; ties break to the smaller cluster id exactly as the former
    # first-position rule did (__cs is cluster-ascending)
    sd = F.sort_array(
        F.transform(
            "__cs",
            lambda s: F.struct(
                dot(F.col(vec_col), s["c"]).alias("d"),
                (-s["cluster"]).alias("nc"),
            ),
        ),
        asc=False,
    )
    pre = fan_out(vecs).crossJoin(F.broadcast(cents)).select(sd.alias("__sd"))
    assigned = pre.select(
        (-F.element_at("__sd", 1)["nc"]).alias("cluster_id"),
        F.element_at("__sd", 1)["d"].alias("__b"),
        (F.element_at("__sd", 1)["d"] - F.element_at("__sd", 2)["d"]).alias("__m"),
    )
    return assigned.groupBy("cluster_id").agg(
        F.count("*").cast("int").alias("n"),
        snap(F.avg("__b"), 6).alias("mean_cohesion"),
        snap(F.avg("__m"), 6).alias("mean_margin"),
    )
