"""K-means clustering-family registrations: the adaptive k-means
envelope row, the fixed-seed assignment twin, the pinned-Lloyd centroid
matrix, and the exact-integer inertia quality row.

Queries register on import through ``registry_core.register``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry_core import register
from .sources.readers import load_table


@register(
    "kmeans_assignments",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
           TRUE AS assigned_once,
           TRUE AS cells_in_range,
           TRUE AS inertia_le_variance
    FROM embeddings
    """,
)
def kmeans_assignments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embeddings table (k=8, <=5
    iterations): per-iteration cost is one scan + one scalar-row shuffle;
    centroids move driver-side as parameters (k x d).

    r9 upgrade rows-only -> envelope oracle (r8 verdict ask #7, the
    HLL/approx_top_k pattern): the adaptive iteration path stays adaptive
    (assignment VALUES are engine-internal, hence not hashed — the
    hash-checked assignment surface is ``kmeans_assignments_fixed``), and
    the oracle-checked claim is the Lloyd CONTRACT itself, asserted as
    booleans the oracle emits as TRUE: every vector assigned exactly once
    (n_vecs is the exact embeddings count), every cell id in [0, k), and
    final inertia <= total variance around the global mean — a theorem
    for any Lloyd output (each cluster's mean minimizes its within-SSE
    and the final re-assignment only shrinks it), so a broken trainer
    (empty assignment, runaway cells, diverging objective) flips the
    hash while a legitimate seeding change cannot.  Cluster-recovery
    quality on planted clusters stays pinned in
    tests/test_dedup_similarity.py."""
    from .operators.similarity import _as_double, _nearest_cell, dot, kmeans_train

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cents, _ = kmeans_train(emb, k=8, max_iter=5)
    e = _as_double(F.col("embedding"))
    vnorm = dot(e, e)
    best = _nearest_cell("embedding", cents)
    # r11 (r10 verdict ask #7): the global-mean term no longer needs its
    # own posexplode full-corpus scan + collect — with S_i the per-dim
    # sums, sum||v - m||^2 = sum|v|^2 - (S.S)/n, so the d per-dim sums
    # ride along as columns of the SAME single-pass aggregate (d comes
    # from the already-collected k x d centroid matrix, not a scan)
    d_dim = len(next(iter(cents.values())))
    n_emb = emb.count()  # parquet metadata count, not a data scan
    scored = assigned.select(
        "vec_id",
        "cell",
        F.greatest(best["d2"], F.lit(0.0)).alias("d2"),
        vnorm.alias("vnorm"),
        _as_double(F.col("embedding")).alias("ev"),
    )
    stats = scored.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.count_distinct(F.col("vec_id")).alias("n_ids"),
        F.bool_and((F.col("cell") >= 0) & (F.col("cell") < 8)).alias(
            "cells_in_range"
        ),
        F.sum("d2").alias("inertia"),
        F.sum("vnorm").alias("svn"),
        *[
            F.sum(F.element_at("ev", i + 1)).alias(f"s{i}")
            for i in range(d_dim)
        ],
    )
    ss = F.lit(0.0)
    for i in range(d_dim):
        ss = ss + F.col(f"s{i}") * F.col(f"s{i}")
    stats = stats.withColumn(
        "total_var", F.col("svn") - ss / F.col("n_vecs")
    )
    return stats.select(
        F.col("n_vecs").cast("long").alias("n_vecs"),
        ((F.col("n_ids") == F.col("n_vecs")) & (F.col("n_vecs") == n_emb)).alias(
            "assigned_once"
        ),
        "cells_in_range",
        (F.col("inertia") <= F.col("total_var")).alias("inertia_le_variance"),
    )


# the pinned 2-iteration Lloyd trainer as shared CTEs (seeds = embeddings
# of vec_id 0..7, two exact-decimal centroid updates with previous-centroid
# fallback for emptied cells) — the prefix of both the assignment twin
# (kmeans_assignments_fixed) and the centroid-matrix twin
# (kmeans_centroids_fixed), so the two oracles cannot drift
_KMEANS2_CTES = """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
    ), cents0 AS (
      SELECT vec_id AS cell, ev AS cv FROM e WHERE vec_id < 8
    ), a1 AS (
      SELECT vec_id, ev, cell FROM (
        SELECT e.vec_id, e.ev, c.cell,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.ev, e.ev)
                 - 2.0 * list_dot_product(e.ev, c.cv)
                 + list_dot_product(c.cv, c.cv), c.cell) AS rn
        FROM e CROSS JOIN cents0 c)
      WHERE rn = 1
    ), u1 AS (
      SELECT cell, i - 1 AS pos,
             CAST(ROUND((CAST(SUM(CAST(v AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*))
                        * 1000000.0, 0) AS BIGINT) / 1000000.0 AS cv
      FROM (SELECT cell, unnest(ev) AS v, generate_subscripts(ev, 1) AS i FROM a1)
      GROUP BY cell, i
    ), c1 AS (
      SELECT s.cell, COALESCE(u.cv, s.cv) AS cv
      FROM cents0 s
      LEFT JOIN (SELECT cell, list(cv ORDER BY pos) AS cv FROM u1 GROUP BY cell) u
        USING (cell)
    ), a2 AS (
      SELECT vec_id, ev, cell FROM (
        SELECT e.vec_id, e.ev, c.cell,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.ev, e.ev)
                 - 2.0 * list_dot_product(e.ev, c.cv)
                 + list_dot_product(c.cv, c.cv), c.cell) AS rn
        FROM e CROSS JOIN c1 c)
      WHERE rn = 1
    ), u2 AS (
      SELECT cell, i - 1 AS pos,
             CAST(ROUND((CAST(SUM(CAST(v AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*))
                        * 1000000.0, 0) AS BIGINT) / 1000000.0 AS cv
      FROM (SELECT cell, unnest(ev) AS v, generate_subscripts(ev, 1) AS i FROM a2)
      GROUP BY cell, i
    ), c2 AS (
      -- empty-cell fallback is the PREVIOUS iteration's centroid (c1),
      -- not the seed: the engine dict-carries iteration-1 state
      SELECT s.cell, COALESCE(u.cv, s.cv) AS cv
      FROM c1 s
      LEFT JOIN (SELECT cell, list(cv ORDER BY pos) AS cv FROM u2 GROUP BY cell) u
        USING (cell)
    )
"""


@register(
    "kmeans_assignments_fixed",
    _KMEANS2_CTES
    + """
    SELECT vec_id, CAST(cell AS INTEGER) AS cell FROM (
      SELECT e.vec_id, c.cell,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               list_dot_product(e.ev, e.ev)
               - 2.0 * list_dot_product(e.ev, c.cv)
               + list_dot_product(c.cv, c.cv), c.cell) AS rn
      FROM e CROSS JOIN c2 c)
    WHERE rn = 1
    """,
)
def kmeans_assignments_fixed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r7: hash-checkable twin of ``kmeans_assignments`` (r6 verdict
    ask #4) — the same pattern that landed semantic_dedup_pairs_fixed.
    The adaptive loop's two non-SQL ingredients are pinned: the
    farthest-first/xxhash64 seeding becomes the embeddings of vec_id
    0..7, and the iteration count is FIXED at two Lloyd updates.  Every
    remaining stage is deterministic arithmetic both engines reproduce:
    assignment is argmin of |v|^2 - 2 v.c + |c|^2 with a (d2, cell)
    tiebreak (sequential-fold dot products == list_dot_product); the
    update is the oracle-backed exact-decimal centroid aggregate
    (DECIMAL(28,14) sum -> double -> micro-unit round, order-independent
    so partitioning cannot flip a borderline assignment); a cell that
    loses all members retains its previous centroid (COALESCE in the
    oracle, dict-carry in the engine).  Scale shape identical to the
    production trainer: per iteration one assignment scan (centroids
    broadcast as literals) + one scalar (cell, pos) shuffle; only the
    k x d parameter table ever collects."""
    from .operators.similarity import assign_cells

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _kmeans2_cents(emb, k=8, iters=2)
    return assign_cells(emb, cents).select(
        "vec_id", F.col("cell").cast("int").alias("cell")
    )


def _kmeans2_cents(
    emb: DataFrame, k: int = 8, iters: int = 2
) -> dict[int, list[float]]:
    """The pinned-seed fixed-iteration Lloyd trainer shared by the two
    hash-checked k-means twins: seeds = embeddings of vec_id < k, each
    iteration one distributed assignment scan (centroids broadcast as
    literals) + one exact-decimal centroid aggregate; an emptied cell
    keeps its previous centroid.  Returns the k x d parameter dict."""
    from .operators.similarity import assign_cells, centroids

    cents = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < k).collect()
    }
    for _ in range(iters):
        assigned = assign_cells(emb, cents)
        new = {c: list(v) for c, v in cents.items()}
        for r in centroids(assigned, "cell").collect():
            new[r["cell"]][r["pos"]] = r["centroid_v"]
        cents = new
    return cents


@register(
    "kmeans_centroids_fixed",
    _KMEANS2_CTES
    + """
    SELECT cell, i - 1 AS pos,
           ROUND(v, 6) AS centroid
    FROM (SELECT CAST(cell AS INTEGER) AS cell, unnest(cv) AS v,
                 generate_subscripts(cv, 1) AS i
          FROM c2)
    """,
)
def kmeans_centroids_fixed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r12 (r11 verdict ask #7): value-hash coverage for the Lloyd
    TRAINER's output itself — ``kmeans_assignments_fixed`` hashes the
    final ASSIGNMENTS, which could mask a centroid error that doesn't
    flip any argmin; this twin emits the trained k x d centroid MATRIX
    (cell, pos, centroid) after the same pinned two iterations, so the
    update arithmetic (exact-decimal per-dimension means, previous-
    centroid fallback for emptied cells) is hashed directly.  The
    matrix is the trainer's parameter object (k x d = 512 values), so
    emitting it from the driver-side dict is the parameter-server
    convention, not a data collect; both engines round to 6 dp (the
    engine's update values are already micro-unit rounded by the
    shared centroid aggregate; seed-fallback float32 values are dyadic,
    so the rounding boundary is unreachable and HALF_UP vs
    away-from-zero cannot diverge)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _kmeans2_cents(emb, k=8, iters=2)
    rows = [
        (int(cell), int(pos), float(v))
        for cell, vec in sorted(cents.items())
        for pos, v in enumerate(vec)
    ]
    out = spark.createDataFrame(rows, "cell int, pos int, centroid double")
    return out.select("cell", "pos", F.round("centroid", 6).alias("centroid"))


@register(
    "kmeans_inertia_fixed",
    _KMEANS2_CTES
    + """
    , af AS (
      SELECT vec_id, cell, d2 FROM (
        SELECT e.vec_id, c.cell,
               list_dot_product(e.ev, e.ev)
               - 2.0 * list_dot_product(e.ev, c.cv)
               + list_dot_product(c.cv, c.cv) AS d2,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.ev, e.ev)
                 - 2.0 * list_dot_product(e.ev, c.cv)
                 + list_dot_product(c.cv, c.cv), c.cell) AS rn
        FROM e CROSS JOIN c2 c)
      WHERE rn = 1
    )
    SELECT CAST(cell AS INTEGER) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CAST(ROUND(d2 * 1000000.0, 0) AS BIGINT)) AS BIGINT)
             AS inertia_micro
    FROM af GROUP BY cell
    """,
)
def kmeans_inertia_fixed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r13: k-means cluster QUALITY as a value-hashed fact — the
    ``pq_recall_trained_vs_exact`` / ``lpa_planted_quality`` pattern
    applied to the k-means family: per cell of the pinned 2-iteration
    trained quantizer, the member count and the exact-integer INERTIA
    (sum of micro-unit-rounded squared distances to the assigned
    centroid).  ``kmeans_assignments_fixed`` hashes WHO lands where and
    ``kmeans_centroids_fixed`` hashes the parameter matrix, but neither
    states how TIGHT the clusters are — a trainer bug that degrades
    every assignment proportionally (wrong scale factor, stale
    centroids served) could keep both green while inertia explodes;
    this row pins it per round.  Per-vector d2 micro-rounds BEFORE the
    sum so the cell totals are exact integer arithmetic in both engines
    (each d2 is the shared sequential-fold |v|^2 - 2 v.c + |c|^2).  One
    scan with the k x d centroid matrix broadcast as literals + one
    cell aggregate — the assign_cells plan plus a map-side-combinable
    sum."""
    from .operators.similarity import _nearest_cell

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _kmeans2_cents(emb, k=8, iters=2)
    best = _nearest_cell("embedding", cents)
    return (
        emb.select(
            best["cell"].cast("int").alias("cell"),
            F.round(best["d2"] * F.lit(1000000.0), 0)
            .cast("long")
            .alias("d2_micro"),
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("d2_micro").cast("long").alias("inertia_micro"),
        )
    )
