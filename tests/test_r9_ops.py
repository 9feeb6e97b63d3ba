"""Round-9 operators: product quantization (encode + ADC serving),
Count-Min sketch, per-key alert debouncing, and the scale-safe rewrites
of rolling_distinct_users / autocorr_lag1_per_type (result-equivalence
against the naive single-window forms they replaced)."""

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from iiot_data_engineering_lab_assignment_spark.operators.similarity import (
    dot,
    pq_adc_topk,
    pq_codebook,
    pq_codebook_train,
    pq_encode,
)
from iiot_data_engineering_lab_assignment_spark.sources.readers import load_table

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_01 = "/root/testdata/sf0.01"

# Codebook variants the GEMM tier must score exactly like the fold tier:
# the pinned book, translated centroids, per-subspace ORDER shuffled (odd
# subspaces reversed) and labels relabelled non-densely (code*3).  The
# fold tier accepts all four; the GEMM ADC tier once applied subspace 0's
# ordering to every subspace and indexed its LUT by raw label.
PQ_BOOK_VARIANTS = [
    pytest.param(lambda book: book, id="pinned"),
    pytest.param(
        lambda book: {
            s: [(c, [x + 1.5 for x in v]) for c, v in cents] for s, cents in book.items()
        },
        id="translated",
    ),
    pytest.param(
        lambda book: {
            s: (list(reversed(cents)) if s % 2 else list(cents))
            for s, cents in book.items()
        },
        id="reordered",
    ),
    pytest.param(
        lambda book: {s: [(c * 3, v) for c, v in cents] for s, cents in book.items()},
        id="relabelled",
    ),
]


# ---------------------------------------------------------------------------
# product quantization


def test_pq_codebook_shape(embeddings):
    book = pq_codebook(embeddings, n_codes=8, m=4)
    assert sorted(book) == [0, 1, 2, 3]
    for s, cents in book.items():
        assert [c for c, _ in cents] == list(range(8))
        assert all(len(v) == 16 for _, v in cents)


def test_pq_codebook_rejects_bad_split(embeddings):
    with pytest.raises(ValueError, match="not divisible"):
        pq_codebook(embeddings, n_codes=8, m=7)


def test_pq_encode_codes_in_range_and_complete(embeddings):
    book = pq_codebook(embeddings, n_codes=8, m=4)
    codes = pq_encode(embeddings, book)
    n_vecs = embeddings.count()
    rows = codes.collect()
    assert len(rows) == 4 * n_vecs
    assert all(0 <= r["code"] < 8 for r in rows)
    assert all(0 <= r["sub_idx"] < 4 for r in rows)


def test_pq_encode_codebook_rows_self_code(embeddings):
    """A codebook vector's subvectors are distance-0 to themselves, so
    vec_id v < 8 must encode to code v in every subspace (unless another
    code vector ties at 0, impossible for distinct seeds)."""
    book = pq_codebook(embeddings, n_codes=8, m=4)
    codes = pq_encode(embeddings, book).filter(F.col("vec_id") < 8)
    assert all(r["code"] == r["vec_id"] for r in codes.collect())


def test_pq_adc_approximates_exact_distance(embeddings):
    """ADC(query, v) must approximate the true squared L2: for the top-10
    by ADC, |adc - exact| is bounded by the quantization error scale —
    sanity-check against brute-force exact squared distances."""
    book = pq_codebook(embeddings, n_codes=8, m=4)
    top = pq_adc_topk(embeddings, book, query_id=0, k=10)
    q = [
        float(x)
        for x in embeddings.filter(F.col("vec_id") == 0).head()["embedding"]
    ]
    qarr = F.array(*[F.lit(x) for x in q])
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    diff = F.zip_with(e, qarr, lambda a, b: a - b)
    exact = embeddings.select(
        "vec_id", dot(diff, diff).alias("d2")
    )
    joined = {r["vec_id"]: r for r in top.join(exact, "vec_id").collect()}
    assert len(joined) == 10
    # query itself: exact 0, ADC = its own quantization residual
    assert joined[0]["d2"] == pytest.approx(0.0, abs=1e-12)
    for r in joined.values():
        assert abs(r["adc"] - r["d2"]) < 2.0  # fixture vectors have |v| ~ 1


def test_pq_adc_missing_query_raises(embeddings):
    book = pq_codebook(embeddings, n_codes=8, m=4)
    with pytest.raises(ValueError, match="not found"):
        pq_adc_topk(embeddings, book, query_id=10**9)


def test_pq_adc_follows_passed_codebook(embeddings):
    """r11 regression (r9 ADVICE low): the ADC lookup table must be
    derived from the codebook ARGUMENT.  The pre-fix ADC lookup
    rebuilt it from the pinned `id < n_codes` slices, so (a) a
    code-relabeled book broke relabel invariance (codes permuted, LUT
    didn't) and (b) a trained/shifted book was silently ignored."""
    book = pq_codebook(embeddings, n_codes=8, m=4)
    base = [(r["vec_id"], r["adc"]) for r in pq_adc_topk(embeddings, book, query_id=0, k=10).collect()]

    # (a) relabel invariance: swap code ids 0 <-> 1 in every subspace —
    # the code->centroid MAP is unchanged, so ADC output must be too
    swap = {0: 1, 1: 0}
    relabeled = {
        s: sorted(((swap.get(c, c), v) for c, v in cents))
        for s, cents in book.items()
    }
    got = [(r["vec_id"], r["adc"]) for r in pq_adc_topk(embeddings, relabeled, query_id=0, k=10).collect()]
    assert got == base

    # (b) a genuinely different book: translate every centroid by +3.0
    # per element and recompute the expected ADC top-k in pure Python
    # with the engine's exact fold order
    shifted = {
        s: [(c, [x + 3.0 for x in v]) for c, v in cents]
        for s, cents in book.items()
    }
    vecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in embeddings.select("vec_id", "embedding").collect()
    }
    q = vecs[0]
    m = len(shifted)
    dsub = len(q) // m

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def enc(v):  # pq_encode: argmin of |v|^2 - 2 v.c + |c|^2, (d2, code) tiebreak
        out = []
        for s in sorted(shifted):
            vs = v[s * dsub : (s + 1) * dsub]
            vnorm = fold_dot(vs, vs)
            cands = []
            for code, c in shifted[s]:
                cnorm = 0.0
                for x in c:
                    cnorm += x * x
                cands.append((vnorm - 2.0 * fold_dot(vs, c) + cnorm, code))
            out.append(min(cands)[1])
        return out

    lut = {}
    for s in sorted(shifted):
        qs = q[s * dsub : (s + 1) * dsub]
        for code, c in shifted[s]:
            lut[(s, code)] = (
                fold_dot(qs, qs) - 2.0 * fold_dot(qs, c) + fold_dot(c, c)
            )
    scored = []
    for vid, v in vecs.items():
        codes = enc(v)
        adc = lut[(0, codes[0])]
        for s in range(1, m):
            adc = adc + lut[(s, codes[s])]
        scored.append((adc, vid))
    scored.sort()
    expect = [(vid, round(adc, 6)) for adc, vid in scored[:10]]
    got2 = [(r["vec_id"], r["adc"]) for r in pq_adc_topk(embeddings, shifted, query_id=0, k=10).collect()]
    assert [v for v, _ in got2] == [v for v, _ in expect]
    for (_, a), (_, b) in zip(got2, expect):
        assert a == pytest.approx(b, abs=1e-9)
    assert got2 != base  # the shifted book really changed the scores


# ---------------------------------------------------------------------------
# Count-Min sketch


def test_countmin_never_underestimates_and_tracks_heavy_key(spark, tmp_path):
    """Planted distribution: one heavy user (1000 events) among 50 light
    ones (1 each).  CMS point estimates must (a) never underestimate —
    the sketch theorem — and (b) put the heavy key within the published
    eps*N additive envelope (w=64 -> eps ~ e/64, N=1050)."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    rows = [(i, 7) for i in range(1000)] + [
        (1000 + i, 100 + i) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long")
    df = df.select(
        "event_id",
        F.timestamp_micros(F.lit(0)).alias("ts"),
        "user_id",
        F.lit("error").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    out = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(out)
    # the registered query reads <dir>/events.parquet
    res = {
        r["user_id"]: r
        for r in QUERIES["countmin_heavy_users"].fn(spark, str(tmp_path)).collect()
    }
    assert res[7]["exact_count"] == 1000
    assert all(r["never_underestimates"] for r in res.values())
    n_total = 1050
    eps = math.e / 64
    assert res[7]["cms_est"] - res[7]["exact_count"] <= eps * n_total


# ---------------------------------------------------------------------------
# debounce


def test_debounce_keeps_first_and_respects_cooldown(spark, tmp_path):
    """Hand-built timeline, cooldown 6h: events at t=0h, 2h, 5h, 7h, 14h
    for one user -> kept: 0h (first), 7h (>= 0h+6h), 14h (>= 7h+6h+1h).
    Note 7h is kept relative to the last KEPT (0h), not the previous row
    (5h) — the recursive property a session/gap window gets wrong."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    hours = [0, 2, 5, 7, 14]
    rows = [
        (i, h * 3_600_000_000, 1, "error", 1.0, "{}")
        for i, h in enumerate(hours)
    ]
    # a second user whose lone event must always be kept
    rows.append((99, 3_600_000_000, 2, "error", 1.0, "{}"))
    # a non-error event inside a suppressed gap: must be ignored entirely
    rows.append((50, 3 * 3_600_000_000, 1, "click", 1.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, us long, user_id long, event_type string, value double, props string"
    ).select(
        "event_id",
        F.timestamp_micros("us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = sorted(
        (r["user_id"], r["event_id"])
        for r in QUERIES["debounce_alerts"].fn(spark, str(tmp_path)).collect()
    )
    assert got == [(1, 0), (1, 3), (1, 4), (2, 99)]


# ---------------------------------------------------------------------------
# scale-safe rewrites: result equivalence vs the naive window forms


def test_rolling_distinct_users_matches_naive_window(spark, events):
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    got = {
        r["event_id"]: r["distinct_users_24h"]
        for r in QUERIES["rolling_distinct_users"].fn(spark, SF_DIR).collect()
    }
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(us)
        .rangeBetween(-86_400_000_000, 0)
    )
    naive = {
        r["event_id"]: r["n"]
        for r in events.select(
            "event_id", F.size(F.collect_set("user_id").over(w)).alias("n")
        ).collect()
    }
    assert got == naive


def test_autocorr_matches_naive_global_lag(spark, events):
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    got = {
        r["event_type"]: (r["n_pairs"], r["autocorr_lag1"])
        for r in QUERIES["autocorr_lag1_per_type"].fn(spark, SF_DIR).collect()
    }
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    naive = {
        r["event_type"]: (r["n_pairs"], r["autocorr_lag1"])
        for r in events.select(
            "event_type", "value", F.lag("value").over(w).alias("prev")
        )
        .groupBy("event_type")
        .agg(
            F.count("prev").alias("n_pairs"),
            F.round(F.corr("value", "prev"), 6).alias("autocorr_lag1"),
        )
        .collect()
    }
    assert set(got) == set(naive)
    for t in got:
        assert got[t][0] == naive[t][0]
        assert got[t][1] == pytest.approx(naive[t][1], abs=2e-6)


def test_autocorr_bit_stable_across_repartitionings(spark):
    """r11 hardening (r9 ADVICE low): corr now comes from exact integer
    sufficient statistics, so the emitted doubles must be BIT-identical
    no matter how the input is partitioned — the one-pass F.corr form
    this replaces drifted 2e-6 with accumulation order."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    fn = QUERIES["autocorr_lag1_per_type"].fn
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    try:
        for parts in ("1", "7", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            results.append(
                sorted(
                    (r["event_type"], r["n_pairs"], r["autocorr_lag1"])
                    for r in fn(spark, SF_DIR).collect()
                )
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert results[0] == results[1] == results[2]  # exact ==, no approx


# ---------------------------------------------------------------------------
# IVF-PQ stack


def test_ivf_pq_topk_recall_vs_exact(spark, embeddings):
    """The IVF-PQ top-10 must largely agree with the exact brute-force
    squared-L2 top-10 (fixture embeddings are near-uniform so recall
    won't be perfect — require the query itself ranked first and >= 4
    of the exact top-10 recovered, and every returned d2 to be the TRUE
    distance since the final stage re-ranks exactly)."""
    from iiot_data_engineering_lab_assignment_spark.operators.similarity import (
        ivf_pq_topk,
    )

    got = ivf_pq_topk(embeddings, query_id=0, k=10).collect()
    assert got[0]["vec_id"] == 0 and got[0]["d2"] == pytest.approx(0.0)
    q = [
        float(x)
        for x in embeddings.filter(F.col("vec_id") == 0).head()["embedding"]
    ]
    qarr = F.array(*[F.lit(x) for x in q])
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    diff = F.zip_with(e, qarr, lambda a, b: a - b)
    exact = {
        r["vec_id"]: r["d2"]
        for r in embeddings.select("vec_id", dot(diff, diff).alias("d2"))
        .orderBy("d2", "vec_id")
        .limit(10)
        .collect()
    }
    overlap = sum(1 for r in got if r["vec_id"] in exact)
    assert overlap >= 4
    for r in got:
        if r["vec_id"] in exact:
            assert r["d2"] == pytest.approx(exact[r["vec_id"]], abs=1e-6)


# ---------------------------------------------------------------------------
# streaming debounce twin


def test_streaming_debounce_matches_batch_on_ordered_replay(spark):
    """Single availableNow-style replay of the sf0.001 error events must
    reproduce the batch recursive-CTE debounce row-for-row."""
    import tempfile
    import uuid

    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES
    from iiot_data_engineering_lab_assignment_spark.streaming.stateful import (
        streaming_debounce,
    )

    ev = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("event_type") == "error")
        .select("event_id", "user_id", "ts")
    )
    schema = "event_id long, user_id long, ts timestamp"
    src = tempfile.mkdtemp(prefix="sdb_src_")
    ev.coalesce(1).write.mode("append").parquet(src)
    name = f"sdb_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_debounce(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sdb_ckpt_"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r["user_id"], r["event_id"]) for r in spark.table(name).collect()
    )
    batch = sorted(
        (r["user_id"], r["event_id"])
        for r in QUERIES["debounce_alerts"].fn(spark, SF_DIR).collect()
    )
    assert got == batch


def test_streaming_debounce_state_carries_across_batches(spark):
    """An alert kept in batch 1 suppresses a within-cooldown event that
    arrives in batch 2 — the state-carry property itself."""
    import tempfile
    import uuid
    from datetime import datetime

    from iiot_data_engineering_lab_assignment_spark.streaming.stateful import (
        streaming_debounce,
    )

    T = lambda h: datetime(2024, 3, 1, h, 0, 0)  # noqa: E731
    schema = "event_id long, user_id long, ts timestamp"
    b1 = [(1, 7, T(0))]           # kept (first)
    b2 = [(2, 7, T(3)), (3, 7, T(9))]  # 3h suppressed, 9h kept (>= 0h+6h)
    src = tempfile.mkdtemp(prefix="sdbc_src_")
    name = f"sdbc_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_debounce(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sdbc_ckpt_"))
        .start()
    )
    try:
        for batch in (b1, b2):
            spark.createDataFrame(batch, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r["event_id"] for r in spark.table(name).collect())
    assert got == [1, 3]


# ---------------------------------------------------------------------------
# prefix-filtered jaccard (AllPairs/PPJoin)


def test_prefix_jaccard_is_lossless_vs_full_join(spark, documents):
    """The prefix-filter theorem: prefix-posting candidates must yield
    EXACTLY the full posting-join >= theta result — no missed pairs, no
    extras."""
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_prefix,
    )

    full = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in jaccard_pairs(documents, n=3, threshold=0.4).collect()
    )
    pref = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in jaccard_pairs_prefix(
            documents, n=3, theta_num=2, theta_den=5
        ).collect()
    )
    assert pref == full and len(full) > 0


def test_prefix_jaccard_prunes_candidates(spark, documents):
    """The point of the prefix filter: candidate pairs from prefix
    postings must be a strict subset of the full posting-join candidate
    pairs (the hot high-df shingles fall outside every prefix)."""
    from pyspark.sql import Window
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import shingles

    post = shingles(documents, 3)
    full_cand = (
        post.alias("a")
        .join(post.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    dfreq = post.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sizes = post.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    prefix = (
        post.join(dfreq, "shingle")
        .join(sizes, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(
            F.col("rk")
            <= F.col("n_sh")
            - F.floor((2 * F.col("n_sh") + 4) / F.lit(5)).cast("long")
            + 1
        )
        .select("doc_id", "shingle")
    )
    pref_cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    assert pref_cand < full_cand


def test_prefix_length_integer_ceil():
    """The prefix length must use exact integer ceil: binary-float
    ceil(theta * n) overshoots for some rational thetas (e.g.
    theta=9/11, n=77 -> float 64 vs exact 63), which would shorten the
    prefix below the theorem's bound and silently drop pairs.  The
    integer form (num*n + den - 1) // den is exact for every theta."""
    import math

    # a real divergence the float form exhibits
    assert math.ceil((9 / 11) * 77) == 64
    assert (9 * 77 + 11 - 1) // 11 == 63
    # and the integer form agrees with true rational ceil everywhere
    for num, den in [(2, 5), (9, 11), (7, 12), (3, 17)]:
        for n in range(1, 300):
            assert (num * n + den - 1) // den == -((-num * n) // den)


# ---------------------------------------------------------------------------
# vocab OOV + dup-aware weights


def test_vocab_oov_rates_in_range(spark):
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    rows = QUERIES["vocab_oov_rate_by_source"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["oov_tokens"] <= r["n_tokens"]
        assert 0.0 <= r["oov_rate"] <= 1.0


def test_dup_aware_weights_mass_conservation(spark, documents):
    """Every doc appears exactly once; each near-dup cluster's total
    weight is ~1 (cluster_size * 1/cluster_size, up to the 1e-6 emit
    rounding); singletons weigh exactly 1."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    rows = QUERIES["dup_aware_sample_weights"].fn(spark, SF_DIR).collect()
    assert len(rows) == documents.count()
    by_size: dict = {}
    for r in rows:
        assert r["cluster_size"] >= 1
        if r["cluster_size"] == 1:
            assert r["sample_weight"] == 1.0
        else:
            assert abs(r["sample_weight"] * r["cluster_size"] - 1.0) < 1e-4
        by_size.setdefault(r["cluster_size"], 0)
        by_size[r["cluster_size"]] += 1
    # the fixture has at least one real near-dup cluster
    assert any(s > 1 for s in by_size)


# ---------------------------------------------------------------------------
# MMR diversified re-rank


def test_mmr_prefers_diverse_over_duplicate(spark, tmp_path):
    """Planted geometry: v1 and v2 are the SAME direction (a near-dup
    pair, both most similar to q), v3 equally relevant but diverse.
    Plain top-2 returns the duplicate pair; MMR's second pick must be
    the diverse v3 (0.7*0.95 - 0.3*1.0 = 0.365 for the dup vs
    0.7*0.95 - 0.3*0.805 = 0.4235 for v3)."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    def vec(*xs):
        v = list(xs) + [0.0] * (8 - len(xs))
        return [float(x) for x in v]

    rows = [
        (0, vec(1.0, 0.0, 0.0), 0),          # query
        (1, vec(0.95, 0.312, 0.0), 0),       # relevant
        (2, vec(0.95, 0.312, 0.0), 0),       # exact duplicate of 1
        (3, vec(0.95, -0.312, 0.0), 0),      # equally relevant, diverse
        (4, vec(0.0, 0.1, 0.9), 0),          # filler
        (5, vec(0.0, -0.1, 0.9), 0),         # filler
        (6, vec(0.1, 0.0, -0.9), 0),         # filler
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        r["mmr_rank"]: r["vec_id"]
        for r in QUERIES["mmr_diversified_topk"].fn(spark, str(tmp_path)).collect()
    }
    assert got[1] == 1          # highest sim, lowest id on the tie
    assert got[2] == 3          # diversity beats the duplicate
    assert len(got) == 5        # five picks exist among six candidates


def test_mmr_short_candidate_list_stops_early(spark, tmp_path):
    """Fewer candidates than picks: the greedy stops when the shortlist
    is exhausted instead of erroring (mirrors the oracle's recursion)."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),
        (2, [0.5, 0.5], 0),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    got = QUERIES["mmr_diversified_topk"].fn(spark, str(tmp_path)).collect()
    assert len(got) == 2


# ---------------------------------------------------------------------------
# Bloom semi-join + decayed popularity


def test_bloom_semijoin_theorem_and_counts(spark):
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    rows = QUERIES["bloom_semijoin_vip_events"].fn(spark, SF_DIR).collect()
    assert {r["event_type"] for r in rows} == {
        "click", "view", "purchase", "signup", "error",
    }
    for r in rows:
        # Bloom theorem: no false negatives, so pass >= true
        assert r["no_false_negatives"]
        assert r["n_bloom_pass"] >= r["n_true_vip"]
        assert r["n_false_positives"] == r["n_bloom_pass"] - r["n_true_vip"]
        assert r["n_bloom_pass"] <= r["n_events"]


def test_bloom_fp_rate_within_sizing(spark):
    """m=4096 bits, k=4, |VIP| small: expected fp rate (fill^4) is well
    under 5% on the fixture — a broken hash (all probes colliding)
    would blow this bound immediately."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    rows = QUERIES["bloom_semijoin_vip_events"].fn(spark, SF_DIR).collect()
    n_events = sum(r["n_events"] for r in rows)
    n_fp = sum(r["n_false_positives"] for r in rows)
    assert n_fp <= 0.05 * n_events


def test_decayed_popularity_dyadic_exactness(spark, tmp_path):
    """Planted ages: 3 events today (w=1), 2 yesterday (w=0.5), 1 at age
    21 (underflows to 0) -> decayed = 4.0 exactly, as a bit-exact
    double."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    D = 86_400_000_000
    base = 1_700_000_000_000_000  # anchor µs
    rows = (
        [(i, base, 1, "view", 1.0, "{}") for i in range(3)]
        + [(10 + i, base - D, 1, "view", 1.0, "{}") for i in range(2)]
        + [(20, base - 21 * D, 1, "view", 1.0, "{}")]
    )
    df = spark.createDataFrame(
        rows,
        "event_id long, us long, user_id long, event_type string, value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros("us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    rows = QUERIES["decayed_popularity_by_type"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0]["n_events"] == 6
    assert rows[0]["decayed_count"] == 4.0  # 3*1 + 2*0.5 + 0, bit-exact


# ---------------------------------------------------------------------------
# SAX words


def test_sax_words_shape_and_alphabet(spark):
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    rows = QUERIES["sax_words_daily"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 1 <= len(r["sax"]) <= 4
        assert set(r["sax"]) <= set("abcd")
    # empirical quartiles -> all four symbols occur somewhere per type
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], set()).update(r["sax"])
    for t, syms in by_type.items():
        assert syms == set("abcd"), t


def test_sax_symbols_order_by_level(spark, tmp_path):
    """Planted levels: day 1 lowest mean, day 4 highest -> with one bin
    per day and four days, the words must be 'a','b','c','d' in level
    order."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    D = 86_400_000_000
    base = 1_700_000_000_000_000
    rows = []
    for day, level in enumerate([10.0, 20.0, 30.0, 40.0]):
        for i in range(3):
            rows.append(
                (day * 10 + i, base + day * D, 1, "view", level, "{}")
            )
    df = spark.createDataFrame(
        rows,
        "event_id long, us long, user_id long, event_type string, value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros("us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        str(r["day"]): r["sax"]
        for r in QUERIES["sax_words_daily"].fn(spark, str(tmp_path)).collect()
    }
    assert sorted(got.values()) == ["a", "b", "c", "d"]


# ---------------------------------------------------------------------------
# k-core peeling + quantile normalization


def test_kcore_trajectory_monotone_and_consistent(spark):
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    rows = sorted(
        (r["round"], r["n_nodes"], r["n_edges"])
        for r in QUERIES["kcore_peeling_rounds"].fn(spark, SF_DIR).collect()
    )
    assert [r[0] for r in rows] == [0, 1, 2, 3]
    # peeling only shrinks
    for (_, n0, e0), (_, n1, e1) in zip(rows, rows[1:]):
        assert n1 <= n0 and e1 <= e0
    # every surviving round-3 node has degree >= 10 in the round-3 graph
    # is implied by fixpoint: if round 2 == round 3 the peel found
    # nothing left to remove
    if rows[2][1:] == rows[3][1:]:
        assert rows[3][2] <= rows[2][2]


def test_kcore_planted_tendril_is_peeled(spark, tmp_path):
    """A 12x12 complete bipartite core survives k=10 peeling; a pendant
    supplier attached to one customer is peeled in round 1 (and its
    removal drops exactly one edge)."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    rows = []
    ok = 0
    for s in range(12):
        for c in range(12):
            rows.append((ok, s, c))
            ok += 1
    # build lineitem/orders: orderkey i joins supplier s and customer c
    lineitem = spark.createDataFrame(
        [(i, s) for (i, s, c) in rows] + [(9999, 99)],
        "l_orderkey long, l_suppkey long",
    )
    orders = spark.createDataFrame(
        [(i, c) for (i, s, c) in rows] + [(9999, 0)],
        "o_orderkey long, o_custkey long",
    )
    lineitem.coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))
    orders.coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    got = {
        r["round"]: (r["n_nodes"], r["n_edges"])
        for r in QUERIES["kcore_peeling_rounds"].fn(spark, str(tmp_path)).collect()
    }
    assert got[0] == (25, 145)  # 12+12 core + pendant supplier, 144+1 edges
    assert got[1] == (24, 144)  # pendant peeled, core intact
    assert got[3] == (24, 144)  # fixpoint


def test_quantile_normalize_properties(spark, documents):
    """Per source: ranks preserved (monotone map), min source value maps
    to the global min, max to the global max; output covers every doc."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    rows = QUERIES["quantile_normalize_by_source"].fn(spark, SF_DIR).collect()
    docs = {r["doc_id"]: r for r in rows}
    assert len(docs) == documents.count()
    gmin = min(r["norm_chars"] for r in rows)
    gmax = max(r["norm_chars"] for r in rows)
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: (r["n_chars"], r["doc_id"]))
        norm = [r["norm_chars"] for r in rs]
        assert norm == sorted(norm), src  # monotone
        if len(rs) > 1:
            assert norm[0] == gmin and norm[-1] == gmax, src


def test_mase_planted_perfect_seasonality(spark, tmp_path):
    """A perfectly daily-periodic hourly series: the seasonal-naive error
    is 0 (same hour yesterday is exact), the naive error is not ->
    mase == 0.0; and a constant series yields NULL mase (0/0 guard)."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    H = 3_600_000_000
    rows = []
    eid = 0
    for day in range(3):
        for hr in range(24):
            # periodic: value depends only on hour-of-day
            rows.append((eid, (day * 24 + hr) * H, 1, "view", 100.0 + hr, "{}"))
            eid += 1
            # constant series on a second type
            rows.append((eid, (day * 24 + hr) * H, 1, "error", 42.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, us long, user_id long, event_type string, value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros("us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["event_type"]: r
        for r in QUERIES["seasonal_naive_mase_by_type"].fn(spark, str(tmp_path)).collect()
    }
    assert got["view"]["mase"] == 0.0
    assert got["view"]["mae_seasonal"] == 0.0
    assert got["view"]["mae_naive"] > 0.0
    assert got["error"]["mase"] is None  # constant series: 0/0 guarded


@pytest.mark.parametrize("variant", PQ_BOOK_VARIANTS)
def test_pq_gemm_codes_equal_fold_codes(spark, embeddings, variant):
    """The GEMM tier must produce bit-identical codes to the fold form
    (argmin invariant to accumulation order) on every codebook variant."""
    from iiot_data_engineering_lab_assignment_spark.operators.similarity import (
        pq_encode_gemm,
    )

    book = variant(pq_codebook(embeddings, n_codes=8, m=4))
    fold = {
        (r["vec_id"], r["sub_idx"]): r["code"]
        for r in pq_encode(embeddings, book).collect()
    }
    gemm = {
        (r["vec_id"], r["sub_idx"]): r["code"]
        for r in pq_encode_gemm(embeddings, book).collect()
    }
    assert fold == gemm and len(fold) > 0


# ---------------------------------------------------------------------------
# streaming Count-Min store


def test_stream_countmin_store_equals_batch_sketch_exactly(spark, tmp_path):
    """CMS counters are additive, so the stream-maintained store merged
    at read time must equal the batch-built sketch BIT-EXACTLY — every
    probe estimate identical (an identity, not an envelope)."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES
    from iiot_data_engineering_lab_assignment_spark.streaming.jobs import (
        read_countmin_estimates,
        run_stream_countmin,
    )

    store = str(tmp_path / "cms_store")
    run_stream_countmin(spark, SF_DIR, store)
    keys = (
        load_table(spark, SF_DIR, "events")
        .select("user_id")
        .distinct()
        .filter(F.col("user_id") < 20)
    )
    got = {
        r["user_id"]: r["cms_est"]
        for r in read_countmin_estimates(spark, store, keys).collect()
    }
    batch = {
        r["user_id"]: r["cms_est"]
        for r in QUERIES["countmin_heavy_users"].fn(spark, SF_DIR).collect()
    }
    assert got == batch and len(got) > 0


def test_bigram_lm_flags_scrambled_text(spark, tmp_path):
    """Word-order destruction: many docs share a natural word ORDER; one
    doc has the same unigram profile but scrambled order.  The bigram
    NLL must rank the scrambled doc strictly worse than a natural twin
    (a unigram LM cannot tell them apart)."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    natural = "the quick brown fox jumps over the lazy dog"
    scrambled = "dog the jumps quick lazy brown the over fox"  # same bag
    rows = [(i, natural, "en", "src0", len(natural)) for i in range(20)]
    rows.append((100, scrambled, "en", "src0", len(scrambled)))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: r["avg_nll2"]
        for r in QUERIES["bigram_logprob_score"].fn(spark, str(tmp_path)).collect()
    }
    assert got[100] > got[0]


def test_bigram_lm_survives_single_token_docs(spark, tmp_path):
    """Docs with <2 tokens carry no bigrams: they must be OMITTED (like
    the oracle's empty range), not crash the transform with an
    out-of-range element_at (review catch: sequence(1,0) descends)."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    rows = [
        (0, "only", "en", "src0", 4),
        (1, "two tokens", "en", "src0", 10),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: r["n_bigrams"]
        for r in QUERIES["bigram_logprob_score"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {1: 1}


def test_countmin_unseen_key_estimates_zero(spark, tmp_path):
    """A key the stream never saw must estimate 0 whenever any of its
    buckets is empty — the LEFT-join contract (review catch: an inner
    join silently returned colliding-bucket counts or dropped the key)."""
    from iiot_data_engineering_lab_assignment_spark.streaming.jobs import (
        read_countmin_estimates,
        run_stream_countmin,
    )

    # tiny stream: ONE user -> at most 4 of the 256 buckets non-empty,
    # so any other key is guaranteed an empty bucket -> est 0
    import glob
    import shutil

    spark.createDataFrame(
        [(0, 0, 1, "error", 1.0, "{}")],
        "event_id long, us long, user_id long, event_type string, value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros("us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).coalesce(1).write.parquet(str(tmp_path / "ev_dir"))
    # the fixture layout is a single parquet FILE (events_file_stream
    # symlinks it into its staging dir and does not recurse into a
    # symlinked directory)
    part = glob.glob(str(tmp_path / "ev_dir" / "part-*.parquet"))[0]
    shutil.copy(part, str(tmp_path / "events.parquet"))
    store = str(tmp_path / "cms_store")
    run_stream_countmin(spark, str(tmp_path), store)
    keys = spark.createDataFrame([(1,), (999_999,)], "user_id long")
    got = {
        r["user_id"]: r["cms_est"]
        for r in read_countmin_estimates(spark, store, keys).collect()
    }
    assert got[1] == 1
    assert got[999_999] == 0  # present in output, estimated 0


def test_rolling_slope_recovers_planted_rate(spark, tmp_path):
    """A user whose value rises exactly 2.5 units/hour: every window with
    n >= 2 must report slope 60.0/day; a single-reading window and an
    all-ties-at-one-timestamp window must both emit NULL."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    H = 3_600_000_000
    base = 1_704_067_200_000_000  # the query's x-epoch, exact seconds
    rows = [
        (i, base + i * H, 1, "view", 100.0 + 2.5 * i, "{}") for i in range(30)
    ]
    rows.append((100, base, 2, "view", 7.0, "{}"))  # lone reading: NULL
    # user 3: two readings at the SAME microsecond -> zero x-variance
    rows.append((200, base, 3, "view", 1.0, "{}"))
    rows.append((201, base, 3, "view", 2.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, us long, user_id long, event_type string, value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros("us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["event_id"]: r
        for r in QUERIES["rolling_slope_24h_per_user"].fn(spark, str(tmp_path)).collect()
    }
    assert got[0]["slope_per_day"] is None  # first reading: n=1
    for i in range(1, 30):
        assert got[i]["slope_per_day"] == pytest.approx(60.0, abs=1e-6), i
        assert got[i]["n_window"] == min(i + 1, 25)  # 24h window holds 25 pts
    assert got[100]["slope_per_day"] is None
    assert got[200]["slope_per_day"] is None and got[201]["slope_per_day"] is None


def test_rolling_slope_minute_cadence_no_overflow(spark, tmp_path):
    """r11 regression (r9 ADVICE medium): at minute cadence a 24 h frame
    holds 1441 points and x ~ 8e7 (mid-2026 seconds since 2024-01-01),
    so the pre-fix BIGINT sufficient statistics overflowed 2^63 inside
    n*sxx / sx*sx (and even inside SUM(x*x) itself) — Spark 4 ANSI
    raised ARITHMETIC_OVERFLOW.  The DECIMAL(38,0) form must run the
    full 48 h series and recover the planted 1 unit/minute = 1440/day
    slope exactly in every full window."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    M = 60_000_000  # one minute in microseconds
    base = 1_704_067_200_000_000 + 81_648_000_000_000  # 2026-08-04-ish
    rows = [
        (i, base + i * M, 1, "view", 1000.0 + 1.0 * i, "{}")
        for i in range(2880)  # 48 h of minute readings
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, us long, user_id long, event_type string, value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros("us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["event_id"]: r
        for r in QUERIES["rolling_slope_24h_per_user"].fn(spark, str(tmp_path)).collect()
    }
    assert len(got) == 2880
    for i in (1441, 2000, 2879):  # windows at full 24 h depth
        assert got[i]["n_window"] == 1441
        assert got[i]["slope_per_day"] == pytest.approx(1440.0, abs=1e-6), i
    assert got[0]["slope_per_day"] is None  # n=1 guard intact


@pytest.mark.parametrize("variant", PQ_BOOK_VARIANTS)
def test_pq_adc_gemm_matches_fold_topk(spark, embeddings, variant):
    """The GEMM ADC tier must produce a BIT-identical shortlist to the
    fold form — same ids, same rounded distances — on every codebook
    variant."""
    from iiot_data_engineering_lab_assignment_spark.operators.similarity import (
        pq_adc_topk_gemm,
    )

    b = variant(pq_codebook(embeddings, n_codes=8, m=4))
    fold = [tuple(r) for r in pq_adc_topk(embeddings, b, query_id=0, k=10).collect()]
    gemm = [tuple(r) for r in pq_adc_topk_gemm(embeddings, b, query_id=0, k=10).collect()]
    assert gemm == fold


def test_source_epoch_allocation_caps_and_shares(spark, documents):
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    rows = QUERIES["source_epoch_allocation"].fn(spark, SF_DIR).collect()
    assert rows
    assert abs(sum(r["target_share"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert 0 < r["epochs"] <= 4.0
        assert r["tokens_allocated"] <= 4 * r["n_tokens"]
    # sqrt-temperature up-weights tails: the smallest source gets MORE
    # epochs than the largest
    by_tokens = sorted(rows, key=lambda r: r["n_tokens"])
    if by_tokens[0]["n_tokens"] < by_tokens[-1]["n_tokens"]:
        assert by_tokens[0]["epochs"] >= by_tokens[-1]["epochs"]


def test_kmv_merge_identity_any_slicing(spark, tmp_path):
    """Bottom-k over distinct hashes is a semilattice: merging per-slice
    bottom-k partials (any slicing) then re-taking the bottom-k must
    equal the sketch built from the whole table in one pass — BIT-exact,
    estimates included (an identity, not an approximation).  This is the
    property that makes the streaming KMV store's read-time merge equal
    the batch sketch regardless of micro-batch boundaries."""
    from iiot_data_engineering_lab_assignment_spark.streaming.jobs import (
        kmv_batch_bottomk,
        read_kmv_estimates,
    )

    ev = load_table(spark, SF_DIR, "events")
    store = str(tmp_path / "kmv_store")
    # three arbitrary, overlapping slices (overlap exercises idempotence)
    slices = [
        ev.filter(F.col("event_id") % 3 == 0),
        ev.filter(F.col("event_id") % 3 == 1),
        ev.filter((F.col("event_id") % 3 == 2) | (F.col("event_id") % 7 == 0)),
    ]
    for i, sl in enumerate(slices):
        kmv_batch_bottomk(sl, k=64).write.mode("overwrite").parquet(
            f"{store}/batch_id={i}"
        )
    merged = {
        r["event_type"]: r["est_distinct"]
        for r in read_kmv_estimates(spark, store, k=64).collect()
    }
    single = str(tmp_path / "kmv_single")
    kmv_batch_bottomk(ev, k=64).write.mode("overwrite").parquet(
        f"{single}/batch_id=0"
    )
    direct = {
        r["event_type"]: r["est_distinct"]
        for r in read_kmv_estimates(spark, single, k=64).collect()
    }
    assert merged == direct and len(merged) > 0


def test_kmv_estimate_within_expected_error(spark):
    """KMV distinct estimate accuracy: with k=256 the relative standard
    error is ~1/sqrt(k) = 6.3%; assert the per-type estimate lands
    within 4 sigma of the exact distinct count on the fixture."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    ev = load_table(spark, SF_DIR_01, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    rows = QUERIES["kmv_user_overlap_event_types"].fn(spark, SF_DIR_01).collect()
    for r in rows:
        for side in ("a", "b"):
            t = r[f"type_{side}"]
            est = r[f"est_distinct_{side}"]
            n = exact[t]
            assert abs(est - n) <= max(4 * n / 16.0, 2.0), (t, est, n)


def test_collapse_repeated_runs_planted(spark, tmp_path):
    """Run collapse on planted repetition: consecutive duplicates fold to
    one occurrence, non-adjacent repeats survive, singleton and
    repeat-free docs pass through unchanged."""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    rows = [
        (0, "a a a b c c b", "en", "s", 13),
        (1, "only", "en", "s", 4),
        (2, "no repeats here", "en", "s", 15),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in QUERIES["collapse_repeated_runs"].fn(spark, str(tmp_path)).collect()
    }
    assert got[0] == ("a b c b", 3)
    assert got[1] == ("only", 0)
    assert got[2] == ("no repeats here", 0)


def test_histogram_quantile_sketch_bounded_error(spark):
    """The histogram estimate's guarantee is BIN containment: the chosen
    bin is the one holding the value at rank ceil(q*n) (cumulative mass
    reaches q*total there), and interpolation stays inside the bin — so
    |est - v*| <= one bin width (0.5) where v* is that discrete
    order statistic.  (Comparing against the INTERPOLATED q*(n-1)
    percentile has no such bound in a sparse tail, where one rank step
    can jump several units — the exact_value column is context, not the
    theorem.)"""
    from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

    rows = QUERIES["histogram_quantile_sketch"].fn(spark, SF_DIR).collect()
    assert len(rows) == 15
    ev = load_table(spark, SF_DIR, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    vstar = {}
    for q in (0.5, 0.95, 0.99):
        for r in ranked.filter(
            F.col("rn") == F.ceil(F.lit(q) * F.col("n"))
        ).collect():
            vstar[(r["event_type"], q)] = r["value"]
    for r in rows:
        v = vstar[(r["event_type"], r["q"])]
        assert abs(r["est_value"] - v) <= 0.5 + 1e-9, (tuple(r), v)


# ---------------------------------------------------------------------------
# r12: IVF-PQ incremental index maintenance (upsert path)
# ---------------------------------------------------------------------------


def _upsert_quantizer(embeddings):
    from iiot_data_engineering_lab_assignment_spark.operators.similarity import (
        _pinned_seeds,
        pq_codebook,
    )

    cents = _pinned_seeds(embeddings, 8, "vec_id", "embedding")
    book = pq_codebook(embeddings, n_codes=8, m=4, seeds=cents)
    return cents, book


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["path", "file_uri"])
def test_ivfpq_upsert_serving_equals_full_rebuild(spark, embeddings, tmp_path, scheme):
    """Base (first half) + streamed delta (second half, multiple
    micro-batches) must serve a top-k VALUE-IDENTICAL to a full offline
    rebuild and to the inline plan — zero recall drift under the fixed
    quantizer — whether the store is a plain path or a ``file:`` URI
    (the delta root's existence is checked through Hadoop, not os.path)."""
    from iiot_data_engineering_lab_assignment_spark.operators.similarity import (
        build_ivfpq_store,
        ivf_pq_topk,
        ivf_pq_topk_stored,
        ivf_pq_topk_upsert,
    )
    from iiot_data_engineering_lab_assignment_spark.streaming.jobs import (
        run_stream_ivfpq_upsert,
    )

    n = embeddings.count()
    cut = n // 2
    base = scheme + str(tmp_path / "base")
    build_ivfpq_store(
        embeddings.filter(F.col("vec_id") < cut), base, n_cells=8, m=4
    )
    run_stream_ivfpq_upsert(spark, SF_DIR, base, cut, n_cells=8, m=4, n_files=3)

    served = [
        tuple(r)
        for r in ivf_pq_topk_upsert(
            embeddings, base, query_id=0, k=10, nprobe=3, shortlist=50
        ).collect()
    ]
    full = str(tmp_path / "full")
    build_ivfpq_store(embeddings, full, n_cells=8, m=4)
    rebuilt = [
        tuple(r)
        for r in ivf_pq_topk_stored(
            embeddings, full, query_id=0, k=10, nprobe=3, shortlist=50
        ).collect()
    ]
    inline = [
        tuple(r)
        for r in ivf_pq_topk(
            embeddings, query_id=0, k=10, nprobe=3, shortlist=50
        ).collect()
    ]
    assert served == rebuilt == inline


def test_ivfpq_upsert_retry_is_idempotent(spark, embeddings, tmp_path):
    """A replayed batch (same batch_id) overwrites its own partition:
    the delta content and the served top-k are identical after the
    retry — the exactly-once contract without a transactional store."""
    from iiot_data_engineering_lab_assignment_spark.operators.similarity import (
        build_ivfpq_store,
        ivf_pq_topk_upsert,
        ivfpq_store_upsert,
    )

    n = embeddings.count()
    cut = n // 2
    base = str(tmp_path / "base")
    build_ivfpq_store(
        embeddings.filter(F.col("vec_id") < cut), base, n_cells=8, m=4
    )
    cents, book = _upsert_quantizer(embeddings)
    delta = embeddings.filter(F.col("vec_id") >= cut)
    droot = str(tmp_path / "delta")
    ivfpq_store_upsert(delta, base, cents, book, 0, delta_root=droot)
    first = sorted(
        tuple(r)
        for r in spark.read.parquet(droot)
        .select("vec_id", "sub_idx", "code", "cell")
        .collect()
    )
    topk_first = [
        tuple(r)
        for r in ivf_pq_topk_upsert(
            embeddings, base, query_id=0, k=10, delta_root=droot
        ).collect()
    ]
    # the "crash between write and checkpoint commit" replay
    ivfpq_store_upsert(delta, base, cents, book, 0, delta_root=droot)
    second = sorted(
        tuple(r)
        for r in spark.read.parquet(droot)
        .select("vec_id", "sub_idx", "code", "cell")
        .collect()
    )
    topk_second = [
        tuple(r)
        for r in ivf_pq_topk_upsert(
            embeddings, base, query_id=0, k=10, delta_root=droot
        ).collect()
    ]
    assert first == second
    assert topk_first == topk_second


def test_ivfpq_upsert_probe_prunes_both_scans(spark, embeddings, tmp_path):
    """The cell IN (probed) predicate must land in PartitionFilters of
    BOTH the base scan and the delta scan — pruning at file listing on
    each side of the union."""
    import contextlib
    import io

    from iiot_data_engineering_lab_assignment_spark.operators.similarity import (
        build_ivfpq_store,
        ivf_pq_topk_upsert,
        ivfpq_store_upsert,
    )

    n = embeddings.count()
    cut = n // 2
    base = str(tmp_path / "base")
    build_ivfpq_store(
        embeddings.filter(F.col("vec_id") < cut), base, n_cells=8, m=4
    )
    cents, book = _upsert_quantizer(embeddings)
    droot = str(tmp_path / "delta")
    ivfpq_store_upsert(
        embeddings.filter(F.col("vec_id") >= cut), base, cents, book, 0,
        delta_root=droot,
    )
    served = ivf_pq_topk_upsert(
        embeddings, base, query_id=0, k=10, delta_root=droot
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        served.explain("formatted")
    plan = buf.getvalue()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    pruned = [ln for ln in pf if "cell" in ln and " IN " in ln]
    assert len(pruned) >= 2, pf


# ---------------------------------------------------------------------------
# trained PQ codebook (r12): per-subspace pinned-seed Lloyd


def _pq_inertia(embeddings, book):
    """Total quantization error under a codebook: per subspace the min
    squared distance to any code vector, summed over the corpus — the
    objective Lloyd iterations must not increase."""
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    total = None
    for s, cents in sorted(book.items()):
        dsub = len(cents[0][1])
        v = F.slice(e, s * dsub + 1, dsub)
        vnorm = dot(v, v)
        dists = []
        for _, c in cents:
            carr = F.array(*[F.lit(float(x)) for x in c])
            cnorm = float(sum(x * x for x in c))
            dists.append(vnorm - F.lit(2.0) * dot(v, carr) + F.lit(cnorm))
        best = F.array_min(F.array(*dists))
        total = best if total is None else total + best
    return embeddings.select(F.sum(total).alias("i")).head()["i"]


def test_pq_codebook_train_shape_matches_fixed(embeddings):
    book = pq_codebook_train(embeddings, n_codes=8, m=4, iters=2)
    assert sorted(book) == [0, 1, 2, 3]
    for s, cents in book.items():
        assert [c for c, _ in cents] == list(range(8))
        assert all(len(v) == 16 for _, v in cents)
    # consumable by the unchanged encode plumbing
    codes = pq_encode(embeddings, book)
    assert codes.count() == 4 * embeddings.count()


def test_pq_codebook_train_reduces_inertia(embeddings):
    """Lloyd never increases the quantization objective: the trained
    codebook's corpus inertia must be <= the fixed seed codebook's
    (micro-unit centroid rounding can cost at most ~1e-6-scale slack,
    far below the expected improvement on random fixture vectors)."""
    fixed = pq_codebook(embeddings, n_codes=8, m=4)
    trained = pq_codebook_train(embeddings, n_codes=8, m=4, iters=2)
    i_fixed = _pq_inertia(embeddings, fixed)
    i_trained = _pq_inertia(embeddings, trained)
    assert i_trained <= i_fixed + 1e-3
    # and it genuinely moved: at least one centroid differs from its seed
    assert trained != fixed


def test_pq_codebook_train_deterministic(embeddings):
    a = pq_codebook_train(embeddings, n_codes=8, m=4, iters=2)
    b = pq_codebook_train(embeddings, n_codes=8, m=4, iters=2)
    assert a == b


def test_pq_codebook_train_more_iters_monotone(embeddings):
    """Each additional Lloyd iteration keeps the objective non-increasing
    (up to rounding slack) — pins the dict-carry between iterations."""
    t1 = pq_codebook_train(embeddings, n_codes=8, m=4, iters=1)
    t3 = pq_codebook_train(embeddings, n_codes=8, m=4, iters=3)
    assert _pq_inertia(embeddings, t3) <= _pq_inertia(embeddings, t1) + 1e-3


def test_pq_codebook_train_rejects_bad_iters(embeddings):
    with pytest.raises(ValueError, match="iters"):
        pq_codebook_train(embeddings, iters=0)


def test_pq_adc_knn_join_matches_single_query_bitwise(embeddings):
    """The bulk form's docstring claims bit-identical doubles to the
    single-query path — hold it to that: for each of 5 probes the
    (neighbor, adc) top-10 must match pq_adc_topk exactly, including
    the rounded distance values."""
    from iiot_data_engineering_lab_assignment_spark.operators.similarity import (
        pq_adc_knn_join,
        pq_codebook_train,
    )

    book = pq_codebook_train(embeddings, n_codes=8, m=4, iters=2)
    probes = embeddings.filter(F.col("vec_id") < 5)
    bulk = pq_adc_knn_join(probes, embeddings, book, k=10).collect()
    by_q: dict[int, list[tuple[int, float]]] = {}
    for r in bulk:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["adc"]))
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q in range(5):
        single = [
            (r["vec_id"], r["adc"])
            for r in pq_adc_topk(embeddings, book, query_id=q, k=10).collect()
        ]
        assert sorted(by_q[q]) == sorted(single), q
        assert len(by_q[q]) == 10


def test_pq_codebook_train_gemm_tier_equal(embeddings):
    """The GEMM trainer tier must produce the IDENTICAL codebook: argmin
    is invariant to GEMM-vs-fold accumulation (pq_encode_gemm's
    argument) and the update aggregate is the same order-independent
    exact-decimal form."""
    from iiot_data_engineering_lab_assignment_spark.operators.similarity import (
        pq_codebook_train,
    )

    fold = pq_codebook_train(embeddings, n_codes=8, m=4, iters=2)
    gemm = pq_codebook_train(embeddings, n_codes=8, m=4, iters=2, gemm=True)
    assert fold == gemm


def test_pq_adc_knn_join_gemm_tier_equal(embeddings):
    from iiot_data_engineering_lab_assignment_spark.operators.similarity import (
        pq_adc_knn_join,
        pq_codebook_train,
    )

    book = pq_codebook_train(embeddings, n_codes=8, m=4, iters=2)
    probes = embeddings.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, pq_adc_knn_join(probes, embeddings, book, k=10).collect()))
    b = sorted(
        map(
            tuple,
            pq_adc_knn_join(probes, embeddings, book, k=10, gemm=True).collect(),
        )
    )
    assert a == b and len(a) == 50
