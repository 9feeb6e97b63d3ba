"""Vector operators over embedding columns (array<float>): exact and
LSH cosine top-k, int8 and sign-bit quantized tiers, bulk k-NN, cosine
duplicate pairs, k-means / IVF, SemDeDup, and a product-quantization
(PQ / IVF-PQ) train, encode and serve stack.

Every operator builds on one small core, so each piece of arithmetic
that must stay bit-identical across tiers (and to the DuckDB oracles)
is written once:

* ``_const_vec`` / ``_const_vec_sql`` — a Python vector as a constant
  ``array<double>``, parsed from ONE ``array(<_dbl>...)`` SQL string
  instead of one py4j literal per element.
* ``_nearest_sql`` / ``_nearest_cell`` — the nearest-centroid argmin
  ``array_min(array(named_struct('d2', |v|^2 - 2 v.c + |c|^2, <label>,
  id)...))``: sequential-fold distances, lowest-id tiebreak.  k-means
  assignment, PQ encode and the k-means registry rows all use it.
* ``_micro`` / ``_micro_mean`` — boundary-safe 6-decimal rounding, and
  the exact-decimal mean rounded that way: the centroid / codebook
  update step.
* ``_gemm_tables`` / ``_gemm_map`` — the Arrow/numpy tier: code-sorted
  per-subspace centroid tables and one per-batch argmin over
  ``_fold_d2_matrix``, which replays the fold tier's accumulation order,
  so both tiers pick the same codes at every config.
* ``_codebook_frame`` / ``_lut_dist`` / ``_query_lut`` / ``_adc_scored``
  — asymmetric distance (ADC): the codebook as rows, the query-to-code
  distance, one query's lookup table and the fixed-subspace-order sum
  of a vector's m lookups.
* ``_query_vec`` / ``_ivfpq_prelude`` / ``_write_cell_codes`` — the query
  fetch, the shared start of the IVF-PQ serving paths and the
  cell-partitioned code writer of the IVF-PQ store.
* ``_unit_rows`` — unit-normalizing GEMM operand with the zero-norm
  clamp (a zero vector scores cosine 0, not NaN).

Pair and top-k scoring are pure JVM array expressions (``zip_with`` +
``aggregate``) except where a dense block GEMM in ``applyInPandas`` /
``mapInPandas`` is the scale form.  Parameters (centroids, codebooks,
query vectors) are collected to the driver and broadcast as literals;
data is never shuffled to them.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "dot",
    "l2_norm",
    "cosine_to_query",
    "brute_force_topk",
    "hyperplane_bucket",
    "lsh_topk",
    "int8_quantize",
    "int8_topk",
    "signbit_pack",
    "signbit_topk",
    "knn_join",
    "centroids",
    "assign_cells",
    "kmeans_train",
    "semantic_dedup_pairs",
    "incremental_semantic_dedup",
    "pq_codebook",
    "pq_codebook_train",
    "pq_encode",
    "pq_adc_topk",
    "pq_adc_knn_join",
    "pq_adc_topk_gemm",
    "pq_encode_gemm",
    "ivf_pq_topk",
    "build_ivfpq_store",
    "ivf_pq_topk_stored",
    "ivfpq_store_upsert",
    "ivf_pq_topk_upsert",
]


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _as_double_sql(emb_col: str) -> str:
    """SQL text of :func:`_as_double` over column ``emb_col``."""
    return f"transform(`{emb_col}`, x -> cast(x as double))"


def _dbl(x: float) -> str:
    """SQL double literal with exact round-trip value: repr() is the
    shortest digits that reparse to the same IEEE double, and the 'D'
    suffix keeps the parser from typing plain decimals as DECIMAL.
    Non-finite values (a centroid averaged over NaN input) have no
    literal form, so they become the string casts Spark parses."""
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    name = "NaN" if math.isnan(x) else ("Infinity" if x > 0 else "-Infinity")
    return f"CAST('{name}' AS DOUBLE)"


def _const_vec_sql(vec) -> str:
    """SQL text of a constant ``array<double>``."""
    return f"array({', '.join(_dbl(x) for x in vec)})"


def _const_vec(vec) -> Column:
    """A Python vector as a constant ``array<double>`` Column: one
    F.expr parse instead of one py4j literal call per element.  The
    optimized plan is the same literal array either way."""
    return F.expr(_const_vec_sql(vec))


def _dot_sql(a: str, b: str) -> str:
    """SQL text of :func:`dot`."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def _nearest_sql(v: str, cents, label: str) -> str:
    """SQL text of the nearest-centroid argmin of the double array ``v``
    over ``cents`` ((id, vector) pairs, in the caller's order):
    ``array_min`` over ``named_struct('d2', ..., '<label>', id)``.
    Squared L2 is ``(|v|^2 - 2 v.c) + |c|^2`` with sequential-fold dots
    and |c|^2 a driver-side left fold, the arithmetic the DuckDB oracles
    and :func:`_fold_d2_matrix` replay; lexicographic struct order gives
    the lowest-id tiebreak.  ``.d2`` and ``.<label>`` read the winner."""
    vnorm = _dot_sql(v, v)
    entries = []
    for ident, c in cents:
        d2 = (
            f"{vnorm} - 2.0D * {_dot_sql(v, _const_vec_sql(c))} "
            f"+ {_dbl(float(sum(x * x for x in c)))}"
        )
        entries.append(f"named_struct('d2', {d2}, '{label}', {ident})")
    return f"array_min(array({', '.join(entries)}))"


def _nearest_cell(emb_col: str, cents: dict[int, list[float]]) -> Column:
    """The (d2, cell) struct of each row's nearest centroid in ``cents``
    ({cell: vector}), as one parsed :func:`_nearest_sql` expression."""
    return F.expr(_nearest_sql(_as_double_sql(emb_col), sorted(cents.items()), "cell"))


def _micro(x: Column) -> Column:
    """Round to 6 decimals as scale-to-micro-units + 0-decimal round:
    boundary-safe, because an integer-round .5 boundary IS a
    representable double, while ROUND(x, 6)'s 5e-7 grid is not."""
    return F.round(x * F.lit(1000000.0), 0).cast("bigint") / F.lit(1000000.0)


def _micro_mean(col: str) -> Column:
    """The centroid / codebook update: mean of ``col`` through an exact
    DECIMAL(28,14) sum, cast to double BEFORE the divide, then
    :func:`_micro`-rounded (see :func:`centroids`)."""
    return _micro(
        F.sum(F.col(col).cast("decimal(28,14)")).cast("double") / F.count(F.lit(1))
    )


def _unit_rows(vectors):
    """Stack a pandas Series of vectors into float64 unit rows.  Norms
    clamp at 1e-12, so a zero-norm row stays zero and scores cosine 0
    (below any positive threshold) instead of NaN."""
    import numpy as np

    M = np.stack(vectors.to_numpy()).astype(np.float64)
    M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    return M


def dot(a: Column, b: Column) -> Column:
    """Elementwise product + sequential fold — deterministic summation
    order (matters for cross-engine value comparison)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_to_query(emb: Column, query: list[float]) -> Column:
    """Cosine similarity of an array<float> column against a constant query
    vector, computed in double precision."""
    q = _const_vec(query)
    e = _as_double(emb)
    return dot(e, q) / (l2_norm(e) * l2_norm(q))


def brute_force_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: scan -> score -> global top-k.

    Spark's ``orderBy(...).limit(k)`` plans a TakeOrderedAndProject —
    each partition keeps a k-row heap and the driver merges P*k rows, so
    no global sort materializes even over billions of vectors.
    Deterministic tiebreak on id."""
    scored = embeddings.select(
        F.col(id_col),
        F.round(cosine_to_query(F.col(emb_col), query), 6).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def hyperplane_bucket(emb: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: sign bit per plane packed into a
    long.  Cosine-similar vectors collide with probability 1 - theta/pi per
    bit."""
    bits = [
        F.when(dot(_as_double(emb), _const_vec(p)) >= 0, 1 << i).otherwise(0)
        for i, p in enumerate(planes)
    ]
    out = F.lit(0).cast("long")
    for b in bits:
        out = out.bitwiseXOR(b.cast("long"))
    return out


def lsh_topk(
    embeddings: DataFrame,
    query: list[float],
    planes: list[list[float]],
    k: int = 10,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    bucket_col: str | None = None,
) -> DataFrame:
    """Approximate top-k: score only vectors whose hyperplane bucket is
    within `probe_hamming` bits of the query's bucket (multi-probe LSH).

    At scale the bucket column is PRECOMPUTED at ingest and used as a
    partition / Z-ORDER key, so the probe filter prunes file scans —
    pass its name as ``bucket_col``.  When omitted (ad-hoc exploration),
    the bucket is derived inline, which costs an extra
    len(planes) x dim multiply-adds per row on top of the scoring scan.
    """
    # The query's bucket is parameter math, not data: compute it driver-
    # side in pure Python instead of a 1-row Spark job (round 5 — saves a
    # whole job submission per serving query).  Python's sum() is the
    # same left fold over the same doubles as the F.aggregate expression
    # the stored bucket column used, so the bits match bit-for-bit.
    qbucket = 0
    for i, p in enumerate(planes):
        if len(p) != len(query):
            # zip() would silently truncate, making the query bucket
            # diverge from the null-padded row-bucket expression
            raise ValueError(
                f"plane {i} has dim {len(p)} but query has dim {len(query)}"
            )
        if sum(float(a) * float(b) for a, b in zip(query, p)) >= 0:
            qbucket |= 1 << i
    if bucket_col is None:
        with_bucket = embeddings.withColumn(
            "_bucket", hyperplane_bucket(F.col(emb_col), planes)
        )
        bucket_col = "_bucket"
    else:
        with_bucket = embeddings
    ham = F.bit_count(F.col(bucket_col).bitwiseXOR(F.lit(int(qbucket))))
    probed = with_bucket.filter(ham <= probe_hamming)
    return brute_force_topk(probed, query, k, id_col, emb_col)


def ivf_topk(
    embeddings: DataFrame,
    query: list[float],
    nprobe: int = 3,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    cell_col: str = "label",
    cents: dict | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: score only vectors whose
    coarse cell is among the ``nprobe`` cells nearest the query.

    The coarse quantizer here is the per-``cell_col`` centroid table from
    :func:`centroids` (at scale: k-means centroids trained the same way —
    `centroids` IS the Lloyd update step).  The centroid table is tiny
    (cells x dim) so ranking cells is a driver-side parameter lookup, like
    fetching the query vector; the probe filter prunes the scan — at rest,
    partition or Z-ORDER by the cell id so probing skips whole files.

    Pass ``cents`` ({cell: centroid vector}, from an offline training
    run) to skip the in-query centroid aggregation — the production
    shape: the quantizer is trained once at ingest, and each query costs
    only the probe-cell scan.
    """
    import math as _math

    if cents is None:
        rows = centroids(embeddings, cell_col, emb_col).collect()
        by_cell: dict = {}
        for r in rows:
            by_cell.setdefault(r[cell_col], [0.0] * len(query))[r["pos"]] = r["centroid_v"]
    else:
        by_cell = cents
    qn = _math.sqrt(sum(x * x for x in query))

    def cell_cos(v: list[float]) -> float:
        dotp = sum(a * b for a, b in zip(v, query))
        n = _math.sqrt(sum(a * a for a in v))
        return dotp / (n * qn) if n else -1.0

    # deterministic tiebreak on the cell id: by_cell is dict-ordered by an
    # arbitrary collect order, so a cosine tie must not fall back to it
    probe = sorted(by_cell, key=lambda c: (-cell_cos(by_cell[c]), c))[:nprobe]
    probed = embeddings.filter(F.col(cell_col).isin([int(c) for c in probe]))
    return brute_force_topk(probed, query, k, id_col, emb_col)


def int8_quantize(emb: Column) -> Column:
    """Symmetric per-vector int8 scalar quantization (the FAISS-SQ8 /
    vector-database storage form): scale = max|v| / 127, q_i =
    round(v_i / scale) in [-127, 127].

    Returned as INTEGER-VALUED DOUBLES rather than tinyint: the values
    are what an int8 store would hold (exact small integers), while
    staying directly usable by the sequential-fold :func:`dot` and
    bit-reproducible by a DuckDB oracle (``ROUND(x/s, 0)`` — a
    boundary-safe 0-decimal round, see mad_anomalies).  At rest the
    array would be cast to ``array<tinyint>`` for the 4x scan/memory
    cut; the arithmetic here is what matters for parity.

    Per-vector scales cancel in cosine (both sides normalized), so
    quantized cosine needs no dequantization — one integer dot and two
    integer norms per pair.  Zero vectors quantize to all-zeros.
    """
    e = _as_double(emb)
    s = F.array_max(F.transform(e, F.abs)) / F.lit(127.0)
    return F.transform(
        e, lambda x: F.when(s == F.lit(0.0), F.lit(0.0)).otherwise(F.round(x / s, 0))
    )


def int8_topk(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine over int8-quantized vectors — the memory-bound scale
    path: at 10^9+ vectors the working set is usually IO/RAM-limited,
    and SQ8 cuts it 4x while int dot products vectorize better than
    float on real hardware.  Shape matches :func:`brute_force_topk`
    (scan -> score -> TakeOrderedAndProject); the query vector is
    quantized INSIDE the plan (broadcast 1-row cross join) so both
    engines execute the identical rounding arithmetic — no driver-side
    Python rounding, whose half-even ties differ from SQL ROUND.
    Exactly reproducible in SQL, so unlike LSH/IVF this approximate
    variant is value-hash-checkable end to end."""
    # norms are computed ONCE per stored row / once for the query slab,
    # not re-folded per scored pair (review finding r5: at 10^9 vectors
    # the redundant d-element folds dominate)
    qz = embeddings.select(
        F.col(id_col), int8_quantize(F.col(emb_col)).alias("qv")
    ).withColumn("qn", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    qrow = qz.filter(F.col(id_col) == query_id).select(
        F.col("qv").alias("query_qv"), F.col("qn").alias("query_n")
    )
    cos = dot(F.col("qv"), F.col("query_qv")) / (F.col("qn") * F.col("query_n"))
    scored = qz.crossJoin(F.broadcast(qrow)).select(
        F.col(id_col),
        _micro(cos).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def signbit_pack(emb: Column, offset: int, width: int) -> Column:
    """Pack the sign bits of ``emb[offset : offset+width]`` into one
    BIGINT, MSB-first (bit set when the component is >= 0).  ``width``
    must be <= 32 so the packed value never reaches the long's sign
    bit — the fold is plain ``acc*2 + bit`` with no overflow hazard
    even under ANSI arithmetic.  Pure JVM ``aggregate`` over a
    ``slice`` — stays inside whole-stage codegen."""
    if not 0 < width <= 32:
        raise ValueError(f"width must be in (0, 32], got {width}")
    return F.aggregate(
        F.slice(emb, offset + 1, width),
        F.lit(0).cast("long"),
        lambda acc, x: acc * 2 + F.when(x >= 0, F.lit(1)).otherwise(F.lit(0)),
    )


def signbit_topk(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Binary-quantized retrieval: Hamming shortlist over sign-bit
    signatures, then exact-cosine re-rank of the survivors — the
    32x-compression tier between SQ8 (:func:`int8_topk`, 4x) and the
    bucketed ANN tiers (:func:`lsh_topk` / :func:`ivf_topk`).

    Scale shape: a d-dim float32 vector collapses to ceil(d/32) longs
    (64-dim -> 16 bytes vs 256), so at 10^9+ vectors the Hamming scan
    reads ~2 columns of longs and stays entirely inside whole-stage
    codegen (``bit_count(xor)`` per word); in production the packed
    words are materialized once at ingest so the scan never touches the
    float column — only the ``shortlist`` survivors (a driver-bounded
    constant) fetch their full vectors for the exact re-rank.  Both
    stages break ties deterministically ((hamming, id) then
    (cosine desc, id)), so unlike LSH/IVF this approximate tier is
    exactly SQL-reproducible and value-hash-checkable end to end.
    Sign convention: 0.0 counts as positive in both engines."""
    dim_row = embeddings.select(F.size(emb_col).alias("d")).head()
    if dim_row is None:
        raise ValueError("embeddings table is empty")
    dim = dim_row["d"]
    layout = [(off, min(32, dim - off)) for off in range(0, dim, 32)]
    sig = embeddings.select(F.col(id_col), F.col(emb_col))
    for i, (off, width) in enumerate(layout):
        sig = sig.withColumn(f"_w{i}", signbit_pack(F.col(emb_col), off, width))
    qrow = sig.filter(F.col(id_col) == query_id).select(
        F.col(emb_col).alias("_q_emb"),
        *[F.col(f"_w{i}").alias(f"_qw{i}") for i in range(len(layout))],
    )
    hamming = None
    for i in range(len(layout)):
        term = F.bit_count(F.col(f"_w{i}").bitwiseXOR(F.col(f"_qw{i}")))
        hamming = term if hamming is None else hamming + term
    short = (
        sig.crossJoin(F.broadcast(qrow))
        .filter(F.col(id_col) != query_id)
        .withColumn("hamming", hamming.cast("long"))
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(shortlist)
    )
    e = _as_double(F.col(emb_col))
    q = _as_double(F.col("_q_emb"))
    cos = dot(e, q) / (l2_norm(e) * l2_norm(q))
    return (
        short.select(
            F.col(id_col),
            F.col("hamming"),
            _micro(cos).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id_col: str = "vec_id",
    corpus_id_col: str = "vec_id",
    emb_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Bulk k-NN join — for EVERY query vector, its k nearest corpus
    vectors by cosine: the batch retrieval shape (RAG candidate
    generation, MMR pre-fetch, cross-corpus linking), where
    :func:`brute_force_topk` is the single-query special case.

    Scale shape: the query side is broadcast against the corpus scan
    (the corpus — the 100 TB side — never shuffles for scoring; scoring
    is a map-side nested-loop over the broadcast slab, pure JVM
    column math).  The per-query top-k is a row_number window keyed by
    query id, so Q x N scored rows shuffle on query_id — fine while
    Q x N fits the shuffle tier (Q <= ~10^3 queries per pass).  Beyond
    that, page the query set (outer loop over broadcast-sized slabs) or
    route through the ANN tiers first (:func:`lsh_topk` buckets /
    :func:`ivf_topk` cells shrink N per query by 10-100x) and apply
    this join to the surviving candidates.  exclude_self drops the
    trivial self-match when the query set is a subset of the corpus.
    """
    # norms computed once per slab/corpus row, not per scored pair
    # (review finding r5): q carries its norm into the broadcast, the
    # corpus side computes its own norm once in the scan projection
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(F.col(emb_col)).alias("qv")
    ).withColumn("qn", l2_norm(F.col("qv")))
    c = corpus.select(
        F.col(corpus_id_col).alias("neighbor_id"), _as_double(F.col(emb_col)).alias("cv")
    ).withColumn("cn", l2_norm(F.col("cv")))
    j = c.crossJoin(F.broadcast(q))
    if exclude_self:
        j = j.filter(F.col("neighbor_id") != F.col("query_id"))
    cos = dot(F.col("cv"), F.col("qv")) / (F.col("cn") * F.col("qn"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("c"), F.asc("neighbor_id"))
    return (
        j.select("query_id", "neighbor_id", cos.alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            _micro(F.col("c")).alias("cosine"),
        )
    )


def cosine_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    id_a < id_b and cosine >= threshold — the last tier of the dedup
    cascade (semantic dups that survive text-level dedup).

    Exact form (planes=None): normalized self-join — each side carries a
    unit vector, the join computes one dot product per pair.  O(N^2/P)
    compute but only 2N shuffled rows; right for N up to ~10^5 per block.

    Blocked form (planes given): candidates restricted to pairs agreeing
    on a hyperplane-LSH bucket, then exactly verified — at corpus scale
    the bucket column becomes the repartition key so each task only
    crosses its own bucket.  High thresholds (0.9 => angle < 26 deg) are
    exactly where sign-LSH collision probability is high, so recall is
    strong in the regime that matters for dedup.
    """
    sides = embeddings.select(
        F.col(id_col),
        _as_double(F.col(emb_col)).alias("_v"),
        l2_norm(_as_double(F.col(emb_col))).alias("_n"),
    )
    if planes is not None:
        sides = sides.withColumn("_bucket", hyperplane_bucket(F.col("_v"), planes))
    a = sides.alias("a")
    b = sides.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if planes is not None:
        cond = cond & (F.col("a._bucket") == F.col("b._bucket"))
    # dot / (na * nb), same expression shape as the SQL oracle so the
    # float operation order matches bit-for-bit
    cos = F.round(
        dot(F.col("a._v"), F.col("b._v")) / (F.col("a._n") * F.col("b._n")), 6
    )
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cosine_dup_pairs_blocked(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine >= threshold via block-partitioned GEMM — the scale
    form of ``cosine_dup_pairs``.

    The pure-JVM pair join evaluates an interpreted higher-order fold per
    pair (~35 s for 2k vectors / 2M pairs); linear algebra at that density
    belongs in vectorized numpy.  Layout: hash vectors into ``n_blocks``
    groups; each unordered block pair (i <= j) becomes one applyInPandas
    group that receives both blocks' unit vectors and computes the block's
    similarity matrix with one matrix multiply, emitting only pairs over
    threshold.  Replication factor is ~n_blocks/2 per row (vectors are
    small); compute per task is an (N/b x d) @ (d x N/b) GEMM — dense,
    cache-friendly, ~100x the HOF fold's throughput.  At 10^8+ vectors,
    raise n_blocks so each block's slab fits executor memory.
    Measured at sf0.1 (2k vecs): 35.4 s exact-JVM vs 1.1 s blocked.
    """
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    unit = embeddings.select(
        F.col(id_col).alias("vid"),
        F.transform(
            _as_double(F.col(emb_col)), lambda x: x  # cast only; normalize in numpy
        ).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    )
    # replicate each row to every unordered block pair it participates in
    pairs = F.array(
        *[
            F.struct(
                F.least(F.col("blk"), F.lit(j)).alias("bi"),
                F.greatest(F.col("blk"), F.lit(j)).alias("bj"),
            )
            for j in range(n_blocks)
        ]
    )
    tagged = (
        unit.select("vid", "v", "blk", F.explode(F.array_distinct(pairs)).alias("p"))
        .select("vid", "v", "blk", F.col("p.bi").alias("bi"), F.col("p.bj").alias("bj"))
    )
    out_schema = StructType(
        [
            StructField("id_a", LongType(), False),
            StructField("id_b", LongType(), False),
            StructField("cosine", DoubleType(), False),
        ]
    )

    def gemm(key, pdf):
        import numpy as np

        bi, bj = key
        A = pdf[pdf["blk"] == bi]
        B = pdf[pdf["blk"] == bj]
        if len(A) == 0 or len(B) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        M = _unit_rows(A["v"]) @ _unit_rows(B["v"]).T
        ia, ib = np.where(M >= threshold)
        id_a = A["vid"].to_numpy()[ia]
        id_b = B["vid"].to_numpy()[ib]
        if bi == bj:
            # diagonal block: M contains each pair twice ((a,b),(b,a)) plus
            # the self-diagonal — the < filter dedupes both
            keep = id_a < id_b
            lo, hi = id_a[keep], id_b[keep]
            cos = M[ia, ib][keep]
        else:
            # cross block: each pair appears once but in arbitrary id
            # order — normalize by swapping, never drop
            lo = np.minimum(id_a, id_b)
            hi = np.maximum(id_a, id_b)
            cos = M[ia, ib]
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": np.round(cos, 6)})

    return tagged.groupBy("bi", "bj").applyInPandas(gemm, out_schema)


def centroids(
    embeddings: DataFrame, label_col: str = "label", emb_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid, long form: (label, pos, centroid value).

    posexplode -> groupBy(label, pos) -> sum/count: the shuffle carries
    scalar (label, pos, partial-sum) triples — the standard distributed
    layout for elementwise vector means (also the k-means update step /
    the IVF coarse-quantizer trainer).

    The mean goes through an exact DECIMAL(28,14) sum, not a float avg:
    float partial sums depend on partition order, and a centroid value
    sitting on a rounding boundary could flip a borderline vector's cell
    assignment between runs (round-3 advice).  Decimal addition is
    associative, so the centroid — and everything derived from it
    (assignments, semantic-dedup pair sets) — is partition-order
    independent.

    Round-5 (round-4 advice): the exact sum is cast to DOUBLE *before*
    the divide (decimal-division scale rules differ between engines;
    double division of identical operands is IEEE-identical), and the
    6-decimal output is produced by scale-to-micro-units + 0-decimal
    round (boundary-safe: an integer-round .5 boundary IS a
    representable double) instead of ROUND(x, 6), whose 5e-7 grid
    boundaries are not.  The DuckDB oracle in the registry mirrors this
    formula term for term."""
    exploded = embeddings.select(
        F.col(label_col), F.posexplode(_as_double(F.col(emb_col))).alias("pos", "v")
    )
    return exploded.groupBy(label_col, "pos").agg(_micro_mean("v").alias("centroid_v"))


def assign_cells(
    embeddings: DataFrame,
    cents: dict[int, list[float]],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment as a pure JVM expression: squared L2 to
    each centroid is |v|^2 - 2 v.c + |c|^2 with the centroid as a literal
    array (k x d doubles — the parameter-server pattern: broadcast
    parameters, never shuffle data to them).  argmin via array_min over
    (dist, cell) structs — lexicographic struct ordering gives the
    deterministic lowest-cell tiebreak (:func:`_nearest_sql`)."""
    return embeddings.select(
        F.col(id_col),
        F.col(emb_col),
        _nearest_cell(emb_col, cents)["cell"].alias("cell"),
    )


def kmeans_train(
    embeddings: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    tol: float = 1e-6,
):
    """Distributed Lloyd's k-means — the IVF coarse-quantizer trainer
    (:func:`centroids` IS the update step; this adds the loop).

    Per iteration: ONE scan computing nearest-centroid assignment
    (assign_cells, centroids as broadcast literals) + one scalar-row
    shuffle for the update aggregate ((cell, pos, partial-sum) triples).
    The k x d centroid table collects to the driver between iterations —
    that is parameters, not data (same scale posture as ivf_topk's
    centroid lookup).

    Init is deterministic farthest-first over a hash-sampled candidate
    pool (4k rows by xxhash64(id) order — pseudo-random spread computed
    as a distributed TakeOrdered, never a full sort): k-lowest-id init
    collapses when ids correlate with cluster layout (they do in any
    partition-ordered ingest), and farthest-first guarantees one seed
    per well-separated blob.  Converges when max centroid movement < tol.

    Returns (assignments DataFrame (id, cell), centroid dict, n_iter).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    pool = [
        [float(x) for x in r[emb_col]]
        for r in embeddings.orderBy(
            F.xxhash64(F.col(id_col)), F.col(id_col)
        ).limit(4 * k).collect()
    ]
    if not pool:
        raise ValueError("cannot train k-means on an empty embeddings table")
    distinct_pool = {tuple(v) for v in pool}
    if len(distinct_pool) < k:
        raise ValueError(
            f"sampled candidate pool has only {len(distinct_pool)} distinct "
            f"vectors for k={k}; duplicate seed centroids would collapse cells"
        )
    chosen = [pool[0]]
    while len(chosen) < k:
        best, best_d = None, -1.0
        for v in pool:
            d = min(
                sum((a - b) * (a - b) for a, b in zip(v, c)) for c in chosen
            )
            if d > best_d:
                best, best_d = v, d
        chosen.append(best)
    cents = {i: c for i, c in enumerate(chosen)}
    assigned = None
    for it in range(1, max_iter + 1):
        assigned = assign_cells(embeddings, cents, id_col, emb_col)
        rows = centroids(assigned, "cell", emb_col).collect()
        new: dict[int, list[float]] = {
            c: list(v) for c, v in ((cell, cents[cell]) for cell in cents)
        }
        for r in rows:
            new[r["cell"]][r["pos"]] = r["centroid_v"]
        moved = max(
            max(abs(a - b) for a, b in zip(cents[c], new[c])) for c in cents
        )
        cents = new
        if moved < tol:
            break
    return assign_cells(embeddings, cents, id_col, emb_col), cents, it


def semantic_dedup_pairs(
    embeddings: DataFrame,
    k: int = 8,
    threshold: float = 0.95,
    max_iter: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Semantic near-duplicate pairs, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then compare
    pairs ONLY within each cluster — (id_a, id_b, cell, cosine) with
    id_a < id_b and cosine >= threshold.

    This is the embedding-space member of the dedup cascade: exact /
    MinHash / SimHash catch textual duplication, this tier catches
    paraphrases and re-encodings whose surface forms share no shingles.

    Scale shape: the cluster id is the blocking key.  Candidate
    generation is the k-means assignment scan (centroids broadcast as
    literals, no shuffle of vectors to parameters); the pair computation
    is one ``applyInPandas`` group per cell doing a dense unit-normalized
    GEMM over that cell's slab — replication factor 1 (each vector lands
    in exactly one cell, vs ~n_blocks/2 in ``cosine_dup_pairs_blocked``),
    at the documented SemDeDup cost of missing the rare pair that
    straddles a cluster boundary.  At 10^9 vectors raise k so each cell's
    slab (n/k x d doubles) fits an executor's memory; cells are
    independent tasks, so k also sets the parallelism.
    """
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    assigned, _cents, _ = kmeans_train(
        embeddings, k=k, max_iter=max_iter, id_col=id_col, emb_col=emb_col
    )
    out_schema = StructType(
        [
            StructField("id_a", LongType(), False),
            StructField("id_b", LongType(), False),
            StructField("cell", IntegerType(), False),
            StructField("cosine", DoubleType(), False),
        ]
    )

    def cell_gemm(key, pdf):
        import numpy as np

        (cell,) = key
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cell": [], "cosine": []})
        M = _unit_rows(pdf[emb_col])
        S = M @ M.T
        ia, ib = np.where(S >= threshold)
        ids = pdf[id_col].to_numpy()
        keep = ids[ia] < ids[ib]  # upper triangle once, no self-pairs
        return pd.DataFrame(
            {
                "id_a": ids[ia][keep],
                "id_b": ids[ib][keep],
                "cell": np.full(int(keep.sum()), cell, dtype=np.int32),
                "cosine": np.round(S[ia, ib][keep], 6),
            }
        )

    return assigned.groupBy("cell").applyInPandas(cell_gemm, out_schema)


def incremental_semantic_dedup(
    history: DataFrame,
    increment: DataFrame,
    cents: dict[int, list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    history_assigned: DataFrame | None = None,
) -> DataFrame:
    """Embedding-space increment-vs-history dedup — the SemDeDup analogue
    of :func:`operators.dedup.incremental_dedup`, completing the
    incremental story across both tiers: a daily embedding increment is
    compared against accumulated history WITHOUT ever re-pairing history
    with itself.

    ``cents`` is the FIXED coarse quantizer (production: trained once on
    history with :func:`kmeans_train` and stored; re-trained only on
    drift).  Both sides assign to cells in a scan (centroids broadcast
    as literals), then each cell runs one Arrow-batched cross-GEMM of
    the increment slab against the history slab via cogrouped
    applyInPandas — cost O(|inc_cell| x |hist_cell| x d) per cell,
    never |hist|^2; a cell with an empty increment slab does no work, so
    the daily cost is O(increment) as history grows.  In production pass
    ``history_assigned`` — the history side's (id, embedding, cell)
    table precomputed once and stored partitioned by cell (each daily
    run then assigns only the increment, and the cogroup's history leg
    reads pre-bucketed files with no assignment scan); when omitted,
    history is assigned inline against the same ``cents``.

    Returns (id_new, id_hist, cell, cosine) for cosine >= threshold.
    """
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    h = (
        history_assigned
        if history_assigned is not None
        else assign_cells(history, cents, id_col, emb_col)
    )
    i = assign_cells(increment, cents, id_col, emb_col)
    out_schema = StructType(
        [
            StructField("id_new", LongType(), False),
            StructField("id_hist", LongType(), False),
            StructField("cell", IntegerType(), False),
            StructField("cosine", DoubleType(), False),
        ]
    )
    empty = pd.DataFrame({"id_new": [], "id_hist": [], "cell": [], "cosine": []})

    def cell_cross(key, ipdf: pd.DataFrame, hpdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        (cell,) = key
        if len(ipdf) == 0 or len(hpdf) == 0:
            return empty
        S = _unit_rows(ipdf[emb_col]) @ _unit_rows(hpdf[emb_col]).T
        ia, ih = np.where(S >= threshold)
        return pd.DataFrame(
            {
                "id_new": ipdf[id_col].to_numpy()[ia],
                "id_hist": hpdf[id_col].to_numpy()[ih],
                "cell": np.full(len(ia), cell, dtype=np.int32),
                "cosine": np.round(S[ia, ih], 6),
            }
        )

    return (
        i.groupBy("cell")
        .cogroup(h.groupBy("cell"))
        .applyInPandas(cell_cross, out_schema)
    )


def pq_codebook(
    embeddings: DataFrame,
    n_codes: int = 8,
    m: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    seeds: dict[int, list[float]] | None = None,
) -> dict[int, list[tuple[int, list[float]]]]:
    """Fixed product-quantization codebook: the d-dim space splits into
    ``m`` contiguous subspaces and each subspace's code vectors are the
    corresponding SLICES of the ``n_codes`` lowest-id stored vectors —
    the same pin-the-seeds convention as ``kmeans_assignments_fixed``
    (data-derived, deterministic, and reproducible by a SQL oracle via
    list slicing; a production trainer would Lloyd-iterate each subspace
    with :func:`kmeans_train`, which changes the codebook, not the
    encode/ADC plumbing below).

    Returns {sub_idx: [(code, subvector), ...]} — a k x d parameter
    object (collects n_codes rows, never data; pass ``seeds`` — the
    :func:`_pinned_seeds` dict — to reuse an already-collected set and
    skip the collect, the IVF-PQ paths' case where cells and codes pin
    the same vectors)."""
    if seeds is not None:
        pairs = sorted((i, v) for i, v in seeds.items() if i < n_codes)
    else:
        rows = sorted(
            embeddings.filter(F.col(id_col) < n_codes)
            .select(id_col, emb_col)
            .collect(),
            key=lambda r: r[id_col],
        )
        pairs = [(int(r[id_col]), [float(x) for x in r[emb_col]]) for r in rows]
    if len(pairs) < n_codes:
        raise ValueError(
            f"codebook needs vectors with {id_col} < {n_codes}; found {len(pairs)}"
        )
    d = len(pairs[0][1])
    if d % m:
        raise ValueError(f"dim {d} not divisible into {m} subspaces")
    dsub = d // m
    return {
        s: [(code, vec[s * dsub : (s + 1) * dsub]) for code, vec in pairs]
        for s in range(m)
    }


def _fold_cnorm(cents_ordered: list[tuple[int, list[float]]]):
    """|c|^2 per code, computed EXACTLY as the fold tier's Python-side
    literal: ``float(sum(x * x for x in c))`` — sequential left fold
    starting at 0, so the double is bit-identical to the |c|^2 literal
    :func:`_nearest_sql` writes."""
    import numpy as np

    return np.array(
        [float(sum(x * x for x in c)) for _, c in cents_ordered],
        dtype=np.float64,
    )


def _fold_d2_matrix(Xs, C, cnorm):
    """(n x k) squared-distance matrix with the SEQUENTIAL-FOLD
    accumulation order of the JVM tier (r12 ADVICE: BLAS GEMM
    accumulates in a different order, so on near-equidistant code
    vectors a last-ulp difference could flip an argmin between tiers).

    Replays :func:`dot`'s left fold per term: |v|^2 and v.c both
    accumulate dimension-by-dimension as ``acc + x*y`` from 0.0, and
    the combination is ``(vnorm - 2.0*dot) + cnorm`` — each step one
    IEEE-754 double op in the same order as the Catalyst expression, so
    every entry (not just the argmin) is bit-identical to the fold
    tier's d2 and the two tiers CANNOT diverge, at any config.  Still
    vectorized: dsub passes of (n x k) elementwise multiply-add — the
    plan-size win over the literal-struct tree is unchanged; only
    BLAS's reordered accumulation is given up."""
    import numpy as np

    n, dsub = Xs.shape
    k = C.shape[0]
    vnorm = np.zeros(n, dtype=np.float64)
    dotvc = np.zeros((n, k), dtype=np.float64)
    for j in range(dsub):
        xj = Xs[:, j]
        vnorm = vnorm + xj * xj
        dotvc = dotvc + Xs[:, j : j + 1] * C[:, j]
    return (vnorm[:, None] - 2.0 * dotvc) + cnorm


def _gemm_tables(codebook: dict[int, list[tuple[int, list[float]]]]):
    """Per-subspace tables of the GEMM tier, ``(sub_idx, start, C,
    cnorm, codes)``, with the code vectors in CODE-SORTED order: argmin's
    first-index tie rule is then the fold tier's lowest-code tiebreak,
    and each subspace's own labels map its own argmin indexes, so a
    per-subspace reordering or a non-dense relabelling of the codebook
    picks the same codes as the fold tier."""
    import numpy as np

    tables = []
    start = 0
    for s, cents in sorted(codebook.items()):
        ordered = sorted(cents)
        C = np.array([c for _, c in ordered], dtype=np.float64)
        codes = np.array([code for code, _ in ordered], dtype=np.int32)
        tables.append((s, start, C, _fold_cnorm(ordered), codes))
        start += C.shape[1]
    return tables


def _gemm_map(frame: DataFrame, emb_col: str, tables, emit, schema) -> DataFrame:
    """``frame.mapInPandas`` over the GEMM tier: per non-empty Arrow
    batch, each subspace's nearest code is one vectorized (n x dsub) x
    (dsub x k) pass of :func:`_fold_d2_matrix` over the
    :func:`_gemm_tables` entry, so the argmin equals the fold tier's at
    every config.  ``emit(pdf, argmins)`` turns the batch and its
    per-subspace ``(sub_idx, Xs, codes, best)`` list into the output
    frame (``codes[best]`` are the chosen labels)."""

    def _gemm_batches(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array([list(v) for v in pdf[emb_col]], dtype=np.float64)
            argmins = []
            for s, start, C, cnorm, codes in tables:
                Xs = X[:, start : start + C.shape[1]]
                best = _fold_d2_matrix(Xs, C, cnorm).argmin(axis=1)
                argmins.append((s, Xs, codes, best))
            yield emit(pdf, argmins)

    return frame.mapInPandas(_gemm_batches, schema)


def _gemm_assign_values(
    embeddings: DataFrame,
    book: dict[int, list[tuple[int, list[float]]]],
    emb_col: str,
) -> DataFrame:
    """GEMM tier of the trainer's assignment scan, emitted LONG FORM
    (sub_idx, code, pos, val) so the caller's exact-decimal update
    aggregate is the same one the expression path feeds.  Needed because
    the literal-struct argmin tree grows as m*k*dsub expressions: at 8
    subspaces x 64 codes Catalyst chokes on the ~512-entry struct array
    (the 64x8 config hangs in analysis), while this tier's plan size is
    constant in the code budget.  Both tiers train the same codebook
    (see :func:`_gemm_map`)."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    def emit(pdf, argmins):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        return pd.concat(
            [
                pd.DataFrame(
                    {
                        "sub_idx": np.full(n * Xs.shape[1], s, dtype=np.int32),
                        "code": np.repeat(codes[best], Xs.shape[1]),
                        "pos": np.tile(np.arange(Xs.shape[1], dtype=np.int32), n),
                        "val": Xs.ravel(),
                    }
                )
                for s, Xs, codes, best in argmins
            ],
            ignore_index=True,
        )

    out_schema = StructType(
        [
            StructField("sub_idx", IntegerType(), False),
            StructField("code", IntegerType(), False),
            StructField("pos", IntegerType(), False),
            StructField("val", DoubleType(), False),
        ]
    )
    return _gemm_map(
        embeddings.select(emb_col), emb_col, _gemm_tables(book), emit, out_schema
    )


def pq_codebook_train(
    embeddings: DataFrame,
    n_codes: int = 8,
    m: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    gemm: bool = False,
) -> dict[int, list[tuple[int, list[float]]]]:
    """Trained product-quantization codebook: per-subspace Lloyd with the
    pinned-seed fixed-iteration convention of ``_kmeans2_cents`` (seeds =
    the :func:`pq_codebook` slices of the ``n_codes`` lowest-id vectors,
    exactly ``iters`` update steps, an emptied code keeps its previous
    centroid) — so the trainer is deterministic arithmetic a SQL oracle
    reproduces, while the plan shape is the production one: ALL m
    subspaces train in each pass (one corpus scan computing every
    subspace's argmin + carrying its subvector, then one scalar
    (sub_idx, code, pos) shuffle for the exact-decimal update — m*k*dsub
    = 512 aggregate rows, parameters not data).  Distances are the same
    sequential-fold |v|^2 - 2 v.c + |c|^2 with the (d2, code) tiebreak as
    :func:`pq_encode`; the update is :func:`_micro_mean`, the
    exact-decimal micro-unit-rounded mean of :func:`centroids`, so
    iteration-2 assignments see the identical rounded doubles in both
    engines.  Returns the codebook in :func:`pq_codebook`'s
    {sub_idx: [(code, subvector), ...]} shape, so encode / ADC / IVF-PQ
    store plumbing is unchanged — training refines the parameters, not
    the serving plan.

    ``gemm=True`` swaps the assignment scan for the Arrow/GEMM tier
    (:func:`_gemm_assign_values`) — REQUIRED beyond small code budgets:
    the literal-struct argmin tree grows as m*k expressions and
    Catalyst chokes near m*k ~ 512 (the 64-code x 8-subspace config
    hangs in analysis), while the GEMM plan is constant-size in the
    code budget.  Both tiers feed the same update and pick the same
    codes, so they train the SAME codebook at every config —
    pytest-pinned equal at 8x4 and oracle-checked at 64x8
    (``pq_codebook_trained_gemm``, a config the fold tier cannot even
    plan)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    book = pq_codebook(embeddings, n_codes, m, id_col, emb_col)
    for _ in range(iters):
        if gemm:
            assigned = _gemm_assign_values(embeddings, book, emb_col)
        else:
            assigned = embeddings.select(
                F.expr(_pq_assign_sql(book, emb_col, with_subvector=True)).alias("a")
            ).select(
                F.col("a.sub_idx").alias("sub_idx"),
                F.col("a.code").alias("code"),
                F.posexplode(F.col("a.v")).alias("pos", "val"),
            )
        upd = assigned.groupBy("sub_idx", "code", "pos").agg(
            _micro_mean("val").alias("cv")
        )
        new = {
            s: {code: list(vec) for code, vec in cents}
            for s, cents in book.items()
        }
        for r in upd.collect():
            new[r["sub_idx"]][r["code"]][r["pos"]] = float(r["cv"])
        book = {s: sorted(d.items()) for s, d in new.items()}
    return book


def _pq_assign_sql(
    codebook: dict[int, list[tuple[int, list[float]]]],
    emb_col: str,
    with_subvector: bool = False,
) -> str:
    """The per-subspace nearest-code assignment as ONE SQL expression
    string: the Column-API form of this m x k literal tree cost ~1-2 s
    of py4j round trips per DataFrame construction, one F.expr parse is
    a single JVM call.  Each subspace is a :func:`_nearest_sql` argmin
    over its slice.  Returns `explode(array(<m named_structs>))`; each
    struct carries (sub_idx, code[, v] when ``with_subvector``)."""
    subs = []
    for s, cents in sorted(codebook.items()):
        dsub = len(cents[0][1])
        v = f"slice({_as_double_sql(emb_col)}, {s * dsub + 1}, {dsub})"
        fields = f"'sub_idx', {s}, 'code', {_nearest_sql(v, cents, 'code')}.code"
        if with_subvector:
            fields += f", 'v', {v}"
        subs.append(f"named_struct({fields})")
    return f"explode(array({', '.join(subs)}))"


def pq_encode(
    embeddings: DataFrame,
    codebook: dict[int, list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encode (Jegou et al. 2011, the IVF-PQ storage
    tier): each vector's m subvectors are independently assigned to
    their nearest subspace code vector, compressing d floats to m small
    codes — the 10^9-vector memory plan (64 float32 dims -> 4 bytes at
    m=4).  One scan, codebook broadcast as literals (the parameter-
    server pattern shared with :func:`assign_cells`); argmin per
    subspace via array_min over (d2, code) structs with the
    deterministic lowest-code tiebreak.  Output is the long form
    (id, sub_idx, code) so a SQL oracle can value-check every code.
    """
    return embeddings.select(
        F.col(id_col), F.expr(_pq_assign_sql(codebook, emb_col)).alias("sc")
    ).select(
        id_col,
        F.col("sc.sub_idx").cast("int").alias("sub_idx"),
        F.col("sc.code").cast("int").alias("code"),
    )


def _codebook_frame(spark, codebook: dict[int, list[tuple[int, list[float]]]]):
    """The codebook as (sub_idx, code, cv) rows — parameters, not data."""
    rows = [
        (int(s), int(code), [float(x) for x in cv])
        for s, cents in sorted(codebook.items())
        for code, cv in cents
    ]
    return spark.createDataFrame(rows, "sub_idx int, code int, cv array<double>")


def _lut_dist(qv: Column) -> Column:
    """ADC lookup-table entry: squared L2 from the query subvector ``qv``
    to the code vector ``cv``, qq - 2 qc + cc with sequential-fold dots."""
    cv = F.col("cv")
    return dot(qv, qv) - F.lit(2.0) * dot(qv, cv) + dot(cv, cv)


def _query_lut(
    spark, q: list[float], codebook: dict[int, list[tuple[int, list[float]]]]
) -> DataFrame:
    """The m x n_codes lookup table (code, sub_idx, dist) of subspace
    distances from the query ``q`` to each code vector of the PASSED
    codebook (trained or pinned)."""
    dsub = len(q) // len(codebook)
    qs = F.slice(_const_vec(q), F.col("sub_idx") * dsub + 1, dsub)
    return _codebook_frame(spark, codebook).select(
        "code", "sub_idx", _lut_dist(qs).alias("dist")
    )


def _adc_scored(codes: DataFrame, lut: DataFrame, m: int, keys: list[str]) -> DataFrame:
    """Asymmetric distance per ``keys`` group: join the codes to the
    broadcast LUT and sum the m lookups in FIXED subspace order
    (conditional sums, not a shuffle-order SUM), so the single-query,
    bulk and GEMM paths all emit the same doubles.  Column ``adc_raw``."""
    part = [F.sum(F.when(F.col("sub_idx") == s, F.col("dist"))) for s in range(m)]
    adc_raw = part[0]
    for p in part[1:]:
        adc_raw = adc_raw + p
    return (
        codes.join(F.broadcast(lut), ["sub_idx", "code"])
        .groupBy(*keys)
        .agg(adc_raw.alias("adc_raw"))
    )


def pq_adc_topk(
    embeddings: DataFrame,
    codebook: dict[int, list[tuple[int, list[float]]]],
    query_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Asymmetric distance computation over PQ codes — the FAISS serving
    path: the (uncompressed) query precomputes one m x n_codes distance
    lookup table, and every stored vector's approximate distance is m
    table lookups + adds, never a d-element fold per pair, broadcast
    into the codes join.  Ascending (distance, id) top-k."""
    codes = pq_encode(embeddings, codebook, id_col, emb_col)
    q = _query_vec(embeddings, query_id, id_col, emb_col)
    lut = _query_lut(embeddings.sparkSession, q, codebook)
    scored = _adc_scored(codes, lut, len(codebook), [id_col])
    return (
        scored.orderBy(F.asc("adc_raw"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("adc_raw", 6).alias("adc"))
    )


def pq_adc_knn_join(
    probes: DataFrame,
    embeddings: DataFrame,
    codebook: dict[int, list[tuple[int, list[float]]]],
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    gemm: bool = False,
) -> DataFrame:
    """Bulk ADC k-NN join — the BATCH serving shape of :func:`pq_adc_topk`
    (one query per call re-scans the codes table per query; re-ranking a
    feed or evaluating recall needs thousands of probes per pass): every
    probe's m x n_codes lookup table is built in ONE tiny plan (probes x
    codebook rows — q*m*k rows, parameters not data), broadcast into a
    single pass over the corpus codes, and per-(query, vector) distances
    sum in FIXED subspace order (:func:`_adc_scored`), so each emitted
    double is bit-identical to the single-query path's.  Per-query
    ascending (distance, id) top-k via one window — the only
    corpus-sized shuffle is the (query_id, vec_id) aggregate, corpus
    codes never re-fold per probe.  Returns (query_id, neighbor id, adc).
    """
    from pyspark.sql import Window

    m = len(codebook)
    dsub = len(codebook[0][0][1])
    e = _as_double(F.col(emb_col))
    probe_sub = probes.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub_idx"),
                        F.slice(e, s * dsub + 1, dsub).alias("qv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("p"),
    ).select("query_id", F.col("p.sub_idx").alias("sub_idx"), F.col("p.qv").alias("qv"))
    lut = probe_sub.join(
        _codebook_frame(embeddings.sparkSession, codebook), "sub_idx"
    ).select("query_id", "sub_idx", "code", _lut_dist(F.col("qv")).alias("dist"))
    # fold encode for small code budgets (bit-parity with pq_adc_topk);
    # GEMM tier for large ones, where the literal argmin tree chokes
    codes = (
        pq_encode_gemm(embeddings, codebook, id_col, emb_col)
        if gemm
        else pq_encode(embeddings, codebook, id_col, emb_col)
    )
    scored = _adc_scored(codes, lut, m, ["query_id", id_col])
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_raw"), F.asc(id_col)
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", id_col, F.round("adc_raw", 6).alias("adc"))
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 10,
    nprobe: int = 3,
    shortlist: int = 50,
    n_cells: int = 8,
    m: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """The full FAISS IVF-PQ serving stack in one plan: coarse-quantizer
    cell pruning (IVF) -> PQ asymmetric-distance shortlist (ADC) ->
    exact re-rank of the survivors — the architecture that serves
    10^9-vector corpora, composed from :func:`assign_cells`,
    :func:`pq_encode` and the ADC lookup.

    Deterministic/oracle-reproducible variant: the coarse centroids are
    the full vectors of ``id < n_cells`` and the PQ codebook their
    slices (the pinned-seed convention).  The query probes its
    ``nprobe`` nearest cells (a k-row driver-side parameter
    computation, same left-fold arithmetic as the SQL), only vectors in
    those cells are ADC-scored (at real cell counts this prunes
    ~(1 - nprobe/k) of the corpus BEFORE any distance math — the scan
    analog of partition pruning), the best ``shortlist`` by
    (adc, id) are re-ranked by exact squared L2, and the (d2, id)
    top-k emits.  Only the codes table (m bytes/vector) is touched at
    corpus scale until the final shortlist-sized exact pass."""
    cents, q, probe_cells, book = _ivfpq_prelude(
        embeddings, query_id, nprobe, n_cells, m, id_col, emb_col
    )
    assigned = assign_cells(embeddings, cents, id_col, emb_col).select(
        id_col, "cell"
    )
    cand = assigned.filter(F.col("cell").isin(probe_cells)).select(id_col)
    # semi-filter to the probed cells BEFORE encoding: a join on the
    # encoded output cannot be pushed below the per-row encode by
    # Catalyst, so only ~nprobe/n_cells of vectors pay the m*k argmin
    codes = pq_encode(
        embeddings.join(cand, id_col, "left_semi"), book, id_col, emb_col
    )
    return _adc_shortlist_rerank(
        embeddings, codes, q, book, shortlist, k, id_col, emb_col
    )


def _d2_fold(a: list[float], b: list[float]) -> float:
    """Driver-side squared L2 as qq - 2*qc + cc with left-fold sums —
    the exact accumulation order of :func:`dot` / list_dot_product, so
    parameter math (probe selection) matches the data-path arithmetic."""
    aa = 0.0
    for x in a:
        aa = aa + x * x
    ab = 0.0
    for x, y in zip(a, b):
        ab = ab + x * y
    bb = 0.0
    for y in b:
        bb = bb + y * y
    return aa - 2.0 * ab + bb


def _pinned_seeds(
    embeddings: DataFrame, n_cells: int, id_col: str, emb_col: str
) -> dict[int, list[float]]:
    """The pinned-seed coarse centroids (``id < n_cells``) as one k-row
    parameter collect, shared by the IVF-PQ build and serving paths."""
    rows = sorted(
        embeddings.filter(F.col(id_col) < n_cells)
        .select(id_col, emb_col)
        .collect(),
        key=lambda r: r[id_col],
    )
    if len(rows) < n_cells:
        raise ValueError(f"need {n_cells} seed vectors with {id_col} < {n_cells}")
    return {int(r[id_col]): [float(x) for x in r[emb_col]] for r in rows}


def _query_vec(
    embeddings: DataFrame, query_id: int, id_col: str, emb_col: str
) -> list[float]:
    qrow = embeddings.filter(F.col(id_col) == query_id).select(emb_col).head()
    if qrow is None:
        raise ValueError(f"query vector {id_col}={query_id} not found")
    return [float(x) for x in qrow[emb_col]]


def _probe_cells(
    q: list[float], cents: dict[int, list[float]], nprobe: int
) -> list[int]:
    """The query's nprobe nearest coarse cells — k-row driver-side
    parameter math in the data path's exact fold order."""
    return [
        cell
        for _, cell in sorted(((_d2_fold(q, c), cell) for cell, c in cents.items()))[
            :nprobe
        ]
    ]


def _ivfpq_prelude(
    embeddings: DataFrame,
    query_id: int,
    nprobe: int,
    n_cells: int,
    m: int,
    id_col: str,
    emb_col: str,
):
    """Shared start of every IVF-PQ serving path: pinned coarse
    centroids, the query vector, its ``nprobe`` nearest cells and the
    pinned PQ codebook (slices of the same seeds, no second collect).
    Returns ``(cents, q, probe_cells, book)``."""
    cents = _pinned_seeds(embeddings, n_cells, id_col, emb_col)
    q = _query_vec(embeddings, query_id, id_col, emb_col)
    book = pq_codebook(
        embeddings, n_codes=n_cells, m=m, id_col=id_col, emb_col=emb_col, seeds=cents
    )
    return cents, q, _probe_cells(q, cents, nprobe), book


def _adc_shortlist_rerank(
    embeddings: DataFrame,
    codes: DataFrame,
    q: list[float],
    book: dict[int, list[tuple[int, list[float]]]],
    shortlist: int,
    k: int,
    id_col: str,
    emb_col: str,
) -> DataFrame:
    """Shared serving tail of the inline and stored IVF-PQ paths: ADC
    shortlist over the candidate codes (broadcast m x n_codes LUT), then
    exact squared-L2 re-rank of the survivors, (d2, id) top-k."""
    lut = _query_lut(embeddings.sparkSession, q, book)
    short = (
        _adc_scored(codes, lut, len(book), [id_col])
        .orderBy(F.asc("adc_raw"), F.asc(id_col))
        .limit(shortlist)
    )
    e = _as_double(F.col(emb_col))
    qarr = _const_vec(q)
    exact = short.join(embeddings.select(id_col, emb_col), id_col).select(
        id_col,
        (dot(e, e) - F.lit(2.0) * dot(e, qarr) + dot(qarr, qarr)).alias("d2_raw"),
    )
    return (
        exact.orderBy(F.asc("d2_raw"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("d2_raw", 6).alias("d2"))
    )


def _write_cell_codes(
    vectors: DataFrame,
    cents: dict[int, list[float]],
    book: dict[int, list[tuple[int, list[float]]]],
    path: str,
    id_col: str,
    emb_col: str,
) -> None:
    """Coarse-assign and PQ-encode ``vectors`` against a fixed quantizer
    and overwrite ``path`` with the long-form codes (id, sub_idx, code)
    as parquet partitioned by cell — the store layout of the IVF-PQ
    build and of every upsert batch."""
    assigned = assign_cells(vectors, cents, id_col, emb_col).select(
        id_col, F.col("cell").cast("int").alias("cell")
    )
    codes = pq_encode(vectors, book, id_col, emb_col)
    (
        codes.join(assigned, id_col)
        .repartition("cell")  # one writer task per cell dir, no tiny files
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def build_ivfpq_store(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 8,
    m: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> None:
    """Materialize the IVF-PQ serving index: the full corpus is coarse-
    assigned to its nearest cell and PQ-encoded ONCE, and the long-form
    codes (id, sub_idx, code) land as parquet PARTITIONED BY cell — the
    build-time half of the FAISS serving split.  At 10^9 vectors this
    is the one corpus-scale pass; every subsequent query touches only
    ``nprobe`` cell directories (partition pruning at the file listing,
    before any IO) and reads m bytes/vector of codes, never the
    embeddings.  Centroids/codebook are the pinned ``id < n_cells``
    convention shared with :func:`ivf_pq_topk`, so the stored codes are
    deterministic and a serving query over the store is value-identical
    to the inline plan (probe measured 0.84 s/query stored vs 34.1 s
    inline at 1M vectors, SCALE.md)."""
    cents = _pinned_seeds(embeddings, n_cells, id_col, emb_col)
    book = pq_codebook(
        embeddings, n_codes=n_cells, m=m, id_col=id_col, emb_col=emb_col, seeds=cents
    )
    _write_cell_codes(embeddings, cents, book, path, id_col, emb_col)


def ivf_pq_topk_stored(
    embeddings: DataFrame,
    store_path: str,
    query_id: int = 0,
    k: int = 10,
    nprobe: int = 3,
    shortlist: int = 50,
    n_cells: int = 8,
    m: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """The SERVING half of the IVF-PQ split: query against a
    :func:`build_ivfpq_store` index instead of re-assigning and
    re-encoding the corpus per call (the inline :func:`ivf_pq_topk`
    registers the oracle-demo shape; this is the operational one).

    Plan: probe selection is k-row driver-side parameter math (same
    left-fold arithmetic as list_dot_product); the codes scan carries
    ``cell IN (probed)`` on the PARTITION column, so pruning happens at
    file listing — a 1000-executor cluster lists nprobe/n_cells of the
    directories and reads 4 bytes/vector from those alone; the ADC
    shortlist then joins the broadcast m x n_codes LUT and only the
    ``shortlist`` survivors touch full embedding vectors for the exact
    re-rank.  Value-identical to the inline plan (same pinned
    centroids/codebook, same fixed-subspace-order ADC sums), so it
    shares its value-hash oracle."""
    _, q, probe_cells, book = _ivfpq_prelude(
        embeddings, query_id, nprobe, n_cells, m, id_col, emb_col
    )
    codes = embeddings.sparkSession.read.parquet(store_path).filter(
        F.col("cell").isin(probe_cells)
    )
    return _adc_shortlist_rerank(
        embeddings, codes, q, book, shortlist, k, id_col, emb_col
    )


def ivfpq_store_upsert(
    new_vectors: DataFrame,
    store_path: str,
    cents: dict[int, list[float]],
    book: dict[int, list[tuple[int, list[float]]]],
    batch_id: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    delta_root: str | None = None,
) -> None:
    """UPSERT one batch of new vectors into a :func:`build_ivfpq_store`
    index (the index-maintenance path the offline build lacks): the
    batch is coarse-assigned and PQ-encoded against the FIXED quantizer
    captured at build time (``cents``/``book`` are parameters, never
    re-derived from data — re-deriving would silently re-key every
    existing cell), and lands under ``<store>_delta/batch_id=N``
    partitioned by cell.

    Exactly-once under retry: the write is mode=overwrite into the
    batch's OWN ``batch_id=N`` directory (the
    ``incremental_dedup_stream_writer`` / ``run_stream_kmv_store``
    discipline), so a crashed-and-replayed micro-batch replaces its
    partial rather than appending twice; encoding is per-vector
    deterministic arithmetic, so the rerun is bit-identical.  Because
    every vector's (cell, codes) depend only on the vector and the
    fixed quantizer, base + delta together are CONTENT-IDENTICAL to a
    full offline rebuild over the grown corpus — serving recall cannot
    drift from the rebuild (pytest-pinned); with a TRAINED quantizer
    the same layout applies and drift is bounded by re-training
    cadence instead.

    At 10^9 vectors this is the nightly shape: per batch one
    O(batch x k_cells) assignment scan and an m-bytes/vector append;
    the base cells are never rewritten."""
    root = delta_root or f"{store_path}_delta"
    _write_cell_codes(
        new_vectors, cents, book, f"{root}/batch_id={batch_id}", id_col, emb_col
    )


def ivf_pq_topk_upsert(
    embeddings: DataFrame,
    store_path: str,
    query_id: int = 0,
    k: int = 10,
    nprobe: int = 3,
    shortlist: int = 50,
    n_cells: int = 8,
    m: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    delta_root: str | None = None,
) -> DataFrame:
    """Serve IVF-PQ top-k over BASE + DELTA cells: the offline
    :func:`build_ivfpq_store` index under ``store_path`` plus every
    :func:`ivfpq_store_upsert` batch under ``store_path_delta``.  Both
    scans carry ``cell IN (probed)`` on their partition column, so
    pruning happens at file listing for the base directories AND each
    delta batch's cell directories (plan-asserted in
    tests/test_scale_plans.py); the union feeds the shared ADC
    shortlist + exact re-rank tail, value-identical to serving a full
    rebuild (same fixed quantizer, same fixed-subspace-order sums)."""
    spark = embeddings.sparkSession
    _, q, probe_cells, book = _ivfpq_prelude(
        embeddings, query_id, nprobe, n_cells, m, id_col, emb_col
    )
    codes = spark.read.parquet(store_path).filter(
        F.col("cell").isin(probe_cells)
    ).select(id_col, "sub_idx", "code")
    delta_root = delta_root or f"{store_path}_delta"
    # existence through the root's own Hadoop FileSystem, so file:,
    # hdfs:// and s3a:// store paths find their deltas like plain paths
    root = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(delta_root)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(root):
        delta = (
            spark.read.parquet(delta_root)
            .filter(F.col("cell").isin(probe_cells))
            .select(id_col, "sub_idx", "code")
        )
        codes = codes.unionByName(delta)
    return _adc_shortlist_rerank(
        embeddings, codes, q, book, shortlist, k, id_col, emb_col
    )


def pq_encode_gemm(
    embeddings: DataFrame,
    codebook: dict[int, list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched GEMM tier of :func:`pq_encode` — the production
    encoder at 10^9 vectors: per batch, each subspace's distances are
    ONE (n x dsub) @ (dsub x k) matrix product instead of m*k
    interpreted fold expressions per row (the probe-measured ~10x
    lever; SCALE.md).

    The CODES are identical to the fold form: argmin of
    |v|^2 - 2 v.c + |c|^2 with the lowest-code tiebreak over
    :func:`_gemm_tables`, and the distances come from
    :func:`_fold_d2_matrix` — the sequential-fold accumulation order of
    the JVM tier replayed in numpy — so tier equality holds BY
    CONSTRUCTION at every config.  This registers against the SAME
    value-hash oracle as ``pq_codes_fixed`` (exact integer outputs)."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    def emit(pdf, argmins):
        import numpy as np
        import pandas as pd

        ids = pdf[id_col].to_numpy()
        return pd.concat(
            [
                pd.DataFrame(
                    {
                        id_col: ids,
                        "sub_idx": np.full(len(ids), s, dtype=np.int32),
                        "code": codes[best],
                    }
                )
                for s, _, codes, best in argmins
            ],
            ignore_index=True,
        )

    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("sub_idx", IntegerType(), False),
            StructField("code", IntegerType(), False),
        ]
    )
    return _gemm_map(
        embeddings.select(id_col, emb_col),
        emb_col,
        _gemm_tables(codebook),
        emit,
        out_schema,
    )


def pq_adc_topk_gemm(
    embeddings: DataFrame,
    codebook: dict[int, list[tuple[int, list[float]]]],
    query_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched GEMM tier of :func:`pq_adc_topk`: per batch, each
    subspace scores as ONE (n x dsub) @ (dsub x n_codes) matrix product
    + argmin, the m lookups gather as numpy fancy-indexing, and only the
    batch's k best (adc, id) rows leave Python — the corpus never
    crosses Arrow as scored rows, so the global TakeOrdered merges P*k
    candidates.

    Bit parity with the fold form, term by term: (1) codes — the
    :func:`_gemm_map` argmin equals the fold argmin by construction at
    every config; (2) the LUT — COLLECTED from the same
    :func:`_query_lut` Spark plan, so its doubles are the fold form's
    doubles verbatim, aligned to each subspace's code-sorted table by
    label; (3) the per-vector total — numpy elementwise adds in FIXED
    subspace order ((l0+l1)+l2)+l3, the exact add tree of
    :func:`_adc_scored`.  IEEE doubles make each step deterministic, so
    the top-k is value-identical and shares pq_adc_topk's oracle."""
    import numpy as np
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    q = _query_vec(embeddings, query_id, id_col, emb_col)
    lut = {  # m x n_codes parameter rows, never data
        (r["sub_idx"], r["code"]): r["dist"]
        for r in _query_lut(embeddings.sparkSession, q, codebook).collect()
    }
    tables = _gemm_tables(codebook)
    termvecs = {
        s: np.array([lut[(s, int(code))] for code in codes], dtype=np.float64)
        for s, _, _, _, codes in tables
    }

    def emit(pdf, argmins):
        import pandas as pd

        adc = None
        for s, _, _, best in argmins:
            term = termvecs[s][best]
            adc = term if adc is None else adc + term
        out = pd.DataFrame({id_col: pdf[id_col].to_numpy(), "adc_raw": adc})
        return out.sort_values(["adc_raw", id_col]).head(k)

    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("adc_raw", DoubleType(), False),
        ]
    )
    scored = _gemm_map(
        embeddings.select(id_col, emb_col), emb_col, tables, emit, out_schema
    )
    return (
        scored.orderBy(F.asc("adc_raw"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("adc_raw", 6).alias("adc"))
    )
