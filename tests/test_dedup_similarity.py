"""Dedup cascade + similarity search consistency properties."""

import math

import pytest
from pyspark.sql import functions as F

from iiot_data_engineering_lab_assignment_spark.operators.dedup import (
    build_history_signature_store,
    containment_pairs,
    exact_dedup_keep_first,
    incremental_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_lsh_pairs_md5,
    minhash_signatures,
    simhash_pairs,
)
from iiot_data_engineering_lab_assignment_spark.operators.similarity import (
    brute_force_topk,
    centroids,
    lsh_topk,
)


def test_minhash_lsh_consistent_with_exact(spark, documents):
    """LSH pairs are verified with exact Jaccard => subset of the exact
    pair set; recall must be high (S-curve at 32 hashes / 8 bands)."""
    exact = {
        (r["doc_a"], r["doc_b"]) for r in jaccard_pairs(documents, threshold=0.4).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(documents, threshold=0.4).collect()
    }
    assert lsh <= exact  # no false positives (verified)
    assert len(lsh) >= 0.8 * len(exact)  # high recall
    assert len(exact) > 0  # fixture has near-dups by construction


def test_minhash_estimates_jaccard(spark, documents):
    """Signature agreement rate approximates true Jaccard for a known
    near-dup pair."""
    pair = jaccard_pairs(documents, threshold=0.5).orderBy(F.desc("jaccard")).head()
    sigs = minhash_signatures(documents, num_hashes=64)
    a = sigs.filter(F.col("doc_id") == pair["doc_a"]).head()["signature"]
    b = sigs.filter(F.col("doc_id") == pair["doc_b"]).head()["signature"]
    est = sum(1 for x, y in zip(a, b) if x == y) / len(a)
    assert abs(est - pair["jaccard"]) < 0.25


def test_simhash_pairs_are_near_dups(spark, documents):
    """SimHash candidates overlap the exact near-dup set (hamming<=3 at 64
    bits is a tighter bar than jaccard 0.4, so expect an intersection but
    not equality)."""
    sim = {(r["doc_a"], r["doc_b"]) for r in simhash_pairs(documents).collect()}
    exact = {
        (r["doc_a"], r["doc_b"]) for r in jaccard_pairs(documents, threshold=0.3).collect()
    }
    assert len(sim) > 0
    assert len(sim & exact) / len(sim) > 0.5


def test_simhash_md5_signature_locality(spark):
    """The md5 signature twin behaves like a SimHash: identical texts get
    identical 64-bit signatures, a one-token edit moves few bits, and an
    unrelated text moves ~half of them."""
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import simhash_signature_md5

    base = "the quick brown fox jumps over the lazy dog " * 5
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base),
            (2, base.replace("lazy", "sleepy", 1)),
            (3, "entirely different words about spark shuffles and parquet files " * 5),
        ],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["sig"] for r in simhash_signature_md5(docs).collect()}
    assert all(len(s) == 64 and set(s) <= {"0", "1"} for s in sigs.values())
    ham = lambda a, b: sum(x != y for x, y in zip(sigs[a], sigs[b]))
    assert ham(0, 1) == 0
    assert ham(0, 2) <= 12  # one-token edit: small drift
    assert ham(0, 3) >= 16  # unrelated: near-half expected


def test_dedup_keep_best_prefers_quality_over_id(spark):
    """Selection tier: within a near-dup cluster the HIGHEST-quality doc
    wins even when it has the higher id (keep-lowest-id would discard
    it); singletons keep themselves."""
    from pyspark.sql import Window

    from iiot_data_engineering_lab_assignment_spark.operators.dedup import (
        connected_components,
        jaccard_pairs,
    )
    from iiot_data_engineering_lab_assignment_spark.operators.text import quality_score

    base = " ".join(f"w{i}" for i in range(50))        # 50 distinct tokens -> quality 1.0
    degenerate = "dup " * 20 + base                     # near-dup, repetition tanks diversity
    docs = spark.createDataFrame(
        [(1, degenerate), (2, base), (3, "another totally separate document here")],
        "doc_id long, text string",
    )
    pairs = jaccard_pairs(docs, n=3, threshold=0.4)
    assert {(r["doc_a"], r["doc_b"]) for r in pairs.collect()} == {(1, 2)}
    cc = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )
    comp = (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .withColumn("component", F.coalesce(F.col("component"), F.col("doc_id")))
    )
    q = quality_score(docs).select("doc_id", "quality_score")
    w = Window.partitionBy("component").orderBy(F.desc("quality_score"), F.asc("doc_id"))
    kept = {
        r["doc_id"]
        for r in comp.join(q, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert kept == {2, 3}  # doc 2 beats its lower-id near-dup on quality


def test_fuzzy_block_join_matches_small_edits(spark):
    """The record-linkage tier catches in-place edits the shingle tiers
    under-score; blocking means a changed PREFIX is a (documented) block
    miss, and distant strings in one block are rejected by the verify."""
    from iiot_data_engineering_lab_assignment_spark.operators.joins import fuzzy_block_join

    docs = spark.createDataFrame(
        [
            (1, "acme corporation delivers sprockets"),
            (2, "acme corporatien delivers sprockets"),   # 1 edit, same prefix
            (3, "acme corp XXXXXXXXXXXXXXXXXXXXXXXXXX"),  # same block, far text
            (4, "emca corporation delivers sprockets"),   # prefix changed: block miss
        ],
        "doc_id long, text string",
    )
    rows = fuzzy_block_join(
        docs,
        block_on=F.substring("text", 1, 8),
        compare=F.col("text"),
        max_distance=3,
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["distance"] for r in rows}
    assert pairs == {(1, 2): 1}


def test_exact_dedup_keeps_lowest_id(spark, documents):
    kept = exact_dedup_keep_first(documents)
    assert kept.count() == documents.select("text").distinct().count()
    # every kept id is the min id of its text group
    mins = documents.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    assert kept.join(mins, ["text", "doc_id"]).count() == kept.count()


def test_brute_force_topk_matches_numpy(spark, embeddings):
    import numpy as np

    rows = embeddings.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    q = vecs[0]
    scores = {
        vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for vid, v in vecs.items()
    }
    expected = sorted(scores, key=lambda v: (-round(scores[v], 6), v))[:10]
    got = [r["vec_id"] for r in brute_force_topk(embeddings, list(map(float, q)), k=10).collect()]
    assert got == expected


def test_lsh_topk_recall(spark, embeddings):
    """Recall bound is data-limited: the fixture embeddings are near-
    uniform (top-10 cosine ~0.3), the worst case for any sublinear ANN.
    Assert the structural contract instead: candidates are a bounded
    fraction of the corpus AND recall beats the random-sampling baseline
    (17% candidates -> E[recall] ~ 1.7/10 at random)."""
    import numpy as np

    from iiot_data_engineering_lab_assignment_spark.operators.similarity import hyperplane_bucket

    qvec = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).head()["embedding"]]
    planes = np.random.RandomState(7).randn(8, 64).tolist()
    exact = {r["vec_id"] for r in brute_force_topk(embeddings, qvec, k=10).collect()}
    approx = {r["vec_id"] for r in lsh_topk(embeddings, qvec, planes, k=10, probe_hamming=2).collect()}
    assert len(approx & exact) >= 3  # > random-sampling expectation
    # candidate set must be a strict subset of the corpus (the pruning claim)
    qbucket = (
        spark.createDataFrame([(qvec,)], "q array<double>")
        .select(hyperplane_bucket(F.col("q"), planes).alias("b"))
        .head()["b"]
    )
    cands = embeddings.withColumn(
        "_b", hyperplane_bucket(F.col("embedding"), planes)
    ).filter(F.bit_count(F.col("_b").bitwiseXOR(F.lit(int(qbucket)))) <= 2)
    assert cands.count() < 0.5 * embeddings.count()


def test_int8_topk_recall_and_fidelity(spark, embeddings):
    """SQ8 at d=64 keeps ~7 bits per component: quantized cosine should
    sit within a few hundredths of exact, and the top-10 should be
    nearly identical to brute force (far tighter than LSH/IVF)."""
    from iiot_data_engineering_lab_assignment_spark.operators.similarity import int8_quantize, int8_topk

    qvec = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact = brute_force_topk(embeddings, qvec, k=10).collect()
    got = int8_topk(embeddings, query_id=0, k=10).collect()
    overlap = {r["vec_id"] for r in exact} & {r["vec_id"] for r in got}
    assert len(overlap) >= 8
    exact_by_id = {r["vec_id"]: r["cosine"] for r in exact}
    for r in got:
        if r["vec_id"] in exact_by_id:
            assert abs(r["cosine"] - exact_by_id[r["vec_id"]]) < 0.03
    # quantized components are integer-valued and within [-127, 127]
    qrow = embeddings.select(int8_quantize(F.col("embedding")).alias("qv")).head()
    assert all(v == int(v) and -127 <= v <= 127 for v in qrow["qv"])


def test_knn_join_matches_numpy(spark, embeddings):
    """Bulk k-NN join against a per-query numpy reference (rounded
    cosine ordering with id tiebreak, self-matches excluded)."""
    import numpy as np

    from iiot_data_engineering_lab_assignment_spark.operators.similarity import knn_join

    rows = embeddings.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    got = knn_join(embeddings.filter(F.col("vec_id") < 5), embeddings, k=3).collect()
    by_query: dict = {}
    for r in got:
        by_query.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert set(by_query) == {0, 1, 2, 3, 4}
    for qid, neigh in by_query.items():
        q = vecs[qid]
        scores = {
            vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
            for vid, v in vecs.items()
            if vid != qid
        }
        expected = sorted(scores, key=lambda v: (-scores[v], v))[:3]
        assert neigh == expected, qid


def test_centroids_match_numpy(spark, embeddings):
    import numpy as np

    rows = embeddings.collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(np.array(r["embedding"], dtype=np.float64))
    got = {
        (r["label"], r["pos"]): r["centroid_v"] for r in centroids(embeddings).collect()
    }
    for label, vs in by_label.items():
        mean = np.mean(vs, axis=0)
        for pos in (0, 17, 63):
            assert math.isclose(got[(label, pos)], round(float(mean[pos]), 6), abs_tol=2e-6)


@pytest.mark.parametrize(
    "build",
    [minhash_lsh_pairs, minhash_lsh_pairs_md5, build_history_signature_store],
    ids=lambda f: f.__name__,
)
def test_minhash_bands_divisibility_raises(spark, documents, build):
    """ADVICE r1: K % B != 0 must fail loudly, not silently truncate the
    signature (which would shift the S-curve) — on the xxhash64 and the
    md5 band paths alike."""
    with pytest.raises(ValueError, match="divisible"):
        build(documents, num_hashes=32, bands=5)


def _pair_at(spark, texts, case, threshold):
    """Pairs (or near-dup matches) the named operator reports on a
    two-document corpus at ``threshold``."""
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    if case == "incremental_dedup":
        history = docs.filter("doc_id = 0")
        increment = docs.filter("doc_id = 1")
        rows = incremental_dedup(history, increment, threshold=threshold).collect()
        return {(r["matched_doc"], r["doc_id"]) for r in rows}
    fn = {
        "jaccard_pairs": jaccard_pairs,
        "jaccard_pairs_capped": lambda d, threshold: jaccard_pairs(
            d, threshold=threshold, max_shingle_df=10
        ),
        "containment_pairs": containment_pairs,
        # one hash per band, so the 2/3 pair surely shares a bucket
        "minhash_lsh_pairs": lambda d, threshold: minhash_lsh_pairs(
            d, bands=32, threshold=threshold
        ),
        "minhash_lsh_pairs_md5": minhash_lsh_pairs_md5,
    }[case]
    return {(r["doc_a"], r["doc_b"]) for r in fn(docs, threshold=threshold).collect()}


@pytest.mark.parametrize(
    "case",
    [
        "jaccard_pairs",
        "jaccard_pairs_capped",
        "minhash_lsh_pairs",
        "minhash_lsh_pairs_md5",
        "incremental_dedup",
        "containment_pairs",
    ],
)
def test_pair_threshold_is_exact_not_rounded(spark, case):
    """The threshold applies to the exact ratio, not the reported
    round(ratio, 6): a pair at exactly 2/3 (3-gram Jaccard of "a b c d e"
    vs "a b c d"; containment of "a b c d e" in "a b c d f") is kept at
    threshold 2/3 but dropped at 0.6666668, although it reports 0.666667."""
    second = "a b c d f" if case == "containment_pairs" else "a b c d"
    texts = ["a b c d e", second]
    assert _pair_at(spark, texts, case, 2 / 3) == {(0, 1)}
    assert _pair_at(spark, texts, case, 0.6666668) == set()


def _adversarial_stopword_docs(spark):
    """60 spam docs sharing a 15-token stopword prefix (every prefix shingle
    has df=60) + 5 genuine duplicate pairs over unique cold shingles."""
    stop = "the of and a in to is was for on it as at by be"
    rows = []
    for i in range(60):
        rows.append((i, f"{stop} uniq{i}x uniq{i}y uniq{i}z uniq{i}w"))
    for j in range(5):
        t = (
            f"genuine{j} payload{j} alpha{j} beta{j} gamma{j} delta{j} "
            f"epsilon{j} zeta{j} eta{j} theta{j}"
        )
        rows.append((100 + 2 * j, t))
        rows.append((101 + 2 * j, t))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hot_shingle_cap_bounds_candidates(spark):
    """The document-frequency cap kills the quadratic blow-up from
    ubiquitous shingles while leaving the above-threshold pair output
    identical: spam docs share ONLY stopword shingles (pairwise jaccard
    ~0.62 < 0.7), genuine dups share cold shingles (jaccard 1.0)."""
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import (
        _cap_postings,
        shingles,
    )

    docs = _adversarial_stopword_docs(spark)
    true_pairs = {(100 + 2 * j, 101 + 2 * j) for j in range(5)}

    def n_candidates(post):
        a, b = post.alias("a"), post.alias("b")
        return (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select("a.doc_id", "b.doc_id")
            .distinct()
            .count()
        )

    raw = shingles(docs)
    assert n_candidates(raw) >= 60 * 59 / 2  # quadratic without the cap
    assert n_candidates(_cap_postings(raw, 10)) == len(true_pairs)  # bounded

    uncapped = {
        (r["doc_a"], r["doc_b"]) for r in jaccard_pairs(docs, threshold=0.7).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(docs, threshold=0.7, max_shingle_df=10).collect()
    }
    assert uncapped == capped == true_pairs

    lsh_capped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.7, max_shingle_df=10).collect()
    }
    assert lsh_capped == true_pairs  # identical docs always collide


def test_keep_best_candidate_stage_bounded_by_cap(spark, tmp_path):
    """r5 verdict's only scale flag: the registered near_dup_clusters /
    dedup_keep_best pipelines must run their Jaccard candidate stage
    CAPPED.  Planted-stopword corpus: 60 spam docs sharing only hot
    shingles must produce ZERO candidate pairs (not 60*59/2), genuine
    dup pairs must still cluster, and keep-best must keep exactly one
    winner per cluster plus every spam doc as its own singleton."""
    from iiot_data_engineering_lab_assignment_spark import registry
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import (
        _cap_postings,
        shingles,
    )

    docs = _adversarial_stopword_docs(spark)
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    sf_dir = str(tmp_path)

    # the capped posting list the registered queries now use (df<=50;
    # every stopword-prefix shingle has df=60 > 50) is bounded: only the
    # 5 genuine dup pairs survive as candidates
    capped_post = _cap_postings(shingles(docs), 50)
    a, b = capped_post.alias("a"), capped_post.alias("b")
    n_cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert n_cand == 5

    clusters = {
        (r["doc_id"], r["component"])
        for r in registry.QUERIES["near_dup_clusters"].fn(spark, sf_dir).collect()
    }
    assert clusters == {(100 + 2 * j, 100 + 2 * j) for j in range(5)} | {
        (101 + 2 * j, 100 + 2 * j) for j in range(5)
    }

    kept = registry.QUERIES["dedup_keep_best"].fn(spark, sf_dir).collect()
    by_comp = {}
    for r in kept:
        by_comp.setdefault(r["component"], []).append(r["doc_id"])
    # one winner per genuine-dup cluster (equal quality -> doc_id tiebreak)
    for j in range(5):
        assert by_comp[100 + 2 * j] == [100 + 2 * j]
    # all 60 spam docs survive as their own singleton components
    assert sum(1 for r in kept if r["component"] < 100) == 60
    assert len(kept) == 65


def _clustered_embeddings(spark, n_clusters=8, per=40, d=16, seed=3):
    """Planted-cluster embeddings: tight gaussian blobs around well-
    separated centers — the regime where sublinear ANN must deliver."""
    import numpy as np

    rng = np.random.RandomState(seed)
    centers = rng.randn(n_clusters, d) * 3.0
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per):
            v = centers[c] + rng.randn(d) * 0.05
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")


def test_lsh_topk_recall_floor_on_clustered_data(spark):
    """recall@10 >= 0.9 vs brute-force ground truth on planted clusters
    (VERDICT r1 item 5: the measured substitute for an oracle on an
    approximate operator)."""
    import numpy as np

    emb = _clustered_embeddings(spark).cache()
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    planes = np.random.RandomState(11).randn(8, 16).tolist()
    exact = [r["vec_id"] for r in brute_force_topk(emb, qvec, k=10).collect()]
    approx = {
        r["vec_id"]
        for r in lsh_topk(emb, qvec, planes, k=10, probe_hamming=2).collect()
    }
    recall = len(approx & set(exact)) / len(exact)
    assert recall >= 0.9


def test_ivf_topk_recall_floor_on_clustered_data(spark):
    """recall@10 >= 0.9 for IVF probing the 2 nearest cells."""
    from iiot_data_engineering_lab_assignment_spark.operators.similarity import ivf_topk

    emb = _clustered_embeddings(spark).cache()
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact = [r["vec_id"] for r in brute_force_topk(emb, qvec, k=10).collect()]
    approx = {r["vec_id"] for r in ivf_topk(emb, qvec, nprobe=2, k=10).collect()}
    recall = len(approx & set(exact)) / len(exact)
    assert recall >= 0.9


def test_kmeans_recovers_planted_clusters(spark):
    """Lloyd k-means (k = number of planted blobs) recovers the planted
    partition: every learned cell is >=95% one true label, and learned
    centroids land within noise distance of true centers."""
    import numpy as np

    from iiot_data_engineering_lab_assignment_spark.operators.similarity import kmeans_train

    emb = _clustered_embeddings(spark, n_clusters=6, per=40, d=16, seed=5).cache()
    assigned, cents, n_iter = kmeans_train(emb, k=6, max_iter=15, tol=1e-9)
    rows = assigned.join(emb.select("vec_id", "label"), "vec_id").collect()
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r["label"])
    # purity: each cell dominated by one true label
    purity = sum(max(labels.count(l) for l in set(labels)) for labels in by_cell.values()) / len(rows)
    assert purity >= 0.95
    assert len(by_cell) == 6  # no collapsed cells on well-separated blobs
    assert n_iter <= 15


def test_kmeans_train_validates_edge_inputs(spark):
    """Advice fix: degenerate inputs raise immediately instead of
    NameError/IndexError deep in the loop."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from iiot_data_engineering_lab_assignment_spark.operators.similarity import kmeans_train

    emb = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("float"), F.lit(0.0)).alias("embedding"),
    )
    empty = emb.filter(F.lit(False))
    with _pytest.raises(ValueError, match="max_iter"):
        kmeans_train(emb, k=2, max_iter=0)
    with _pytest.raises(ValueError, match="k must be"):
        kmeans_train(emb, k=0)
    with _pytest.raises(ValueError, match="empty"):
        kmeans_train(empty, k=2, max_iter=1)
    # all-identical vectors: pool has 1 distinct vector < k
    dup = spark.range(10).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0), F.lit(1.0)).alias("embedding")
    )
    with _pytest.raises(ValueError, match="distinct"):
        kmeans_train(dup, k=3, max_iter=1)


def test_semantic_dedup_pairs_recall_on_planted_blobs(spark):
    """SemDeDup-style within-cluster pairing vs the exact all-pairs
    operator: every reported pair is exactly verified (subset of the
    exact pair set), and cluster blocking loses at most the rare
    boundary-straddling pair (recall >= 0.95 on well-separated blobs)."""
    from iiot_data_engineering_lab_assignment_spark.operators.similarity import (
        cosine_dup_pairs,
        semantic_dedup_pairs,
    )

    emb = _clustered_embeddings(spark, n_clusters=6, per=30, d=16, seed=5).cache()
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_dup_pairs(emb, threshold=0.99).collect()
    }
    sem_rows = semantic_dedup_pairs(emb, k=6, threshold=0.99, max_iter=10).collect()
    sem = {(r["id_a"], r["id_b"]) for r in sem_rows}
    assert exact, "planted blobs must contain high-cosine pairs"
    assert sem <= exact  # exact in-cell verification: no false positives
    assert len(sem & exact) / len(exact) >= 0.95
    assert all(r["cosine"] >= 0.99 for r in sem_rows)


def test_containment_catches_inclusion_jaccard_misses(spark):
    """A short document quoted whole inside a much larger one:
    containment 1.0, Jaccard far below any useful threshold — the case
    this operator exists for."""
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import containment_pairs

    quote = " ".join(f"q{i}" for i in range(30))
    big = quote + " " + " ".join(f"b{i}" for i in range(600))
    other = " ".join(f"z{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(1, quote), (2, big), (3, other)], "doc_id long, text string"
    )
    cont = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in containment_pairs(docs, threshold=0.8).collect()
    }
    assert cont == {(1, 2): 1.0}
    jac = jaccard_pairs(docs, threshold=0.2).collect()
    assert jac == []  # symmetric dedup would keep both copies


def test_dup_span_coverage_interval_union(spark):
    """Cross-doc duplicated-span coverage: a span copied between two
    otherwise-distinct docs is counted via interval UNION (overlapping
    5-gram windows cover each token once), docs with no shared 5-gram
    get coverage 0, and a whole-doc copy reaches coverage 1.0."""
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import (
        duplicated_span_coverage,
    )

    shared = " ".join(f"s{i}" for i in range(8))  # 8-token copied passage
    a = shared + " " + " ".join(f"a{i}" for i in range(12))  # 20 tokens
    b = " ".join(f"b{i}" for i in range(12)) + " " + shared  # 20 tokens
    c = " ".join(f"c{i}" for i in range(10))  # unique, 10 tokens
    d = " ".join(f"d{i}" for i in range(6))  # 6 tokens, copied whole
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, d), (5, d)], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in duplicated_span_coverage(docs, n=5, drop_threshold=0.5).collect()
    }
    # The 8-token passage yields 4 overlapping 5-gram spans; union = 8.
    assert rows[1]["covered_tokens"] == 8 and rows[1]["n_tokens"] == 20
    assert rows[2]["covered_tokens"] == 8
    assert rows[1]["dup_coverage"] == 0.4 and rows[1]["keep"]
    assert rows[3]["covered_tokens"] == 0 and rows[3]["keep"]
    # Whole-doc copies: every token covered, flagged for drop.
    for i in (4, 5):
        assert rows[i]["covered_tokens"] == 6
        assert rows[i]["dup_coverage"] == 1.0 and not rows[i]["keep"]


def test_incremental_dedup_tiers_and_scope(spark):
    """Increment-vs-history dedup: the exact tier catches verbatim
    copies of history (lowest-id holder wins), the near tier catches
    high-Jaccard rewrites with an argmax match, unique new docs pass
    through, and increment-internal duplicates are out of scope by
    contract (never reported)."""
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import (
        incremental_dedup,
    )

    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(38)) + " x0 x1"  # ~0.9 jaccard
    history = spark.createDataFrame(
        [(1, base), (2, base), (3, " ".join(f"h{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    increment = spark.createDataFrame(
        [
            (10, base),  # exact copy of history 1 and 2 -> min id 1
            (11, near),  # near-dup of history 1/2; 1 wins the id tiebreak
            (12, " ".join(f"u{i}" for i in range(40))),  # unique
            (13, " ".join(f"v{i}" for i in range(40))),  # duplicated only
            (14, " ".join(f"v{i}" for i in range(40))),  # within increment
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in incremental_dedup(history, increment, threshold=0.4).collect()
    }
    assert set(rows) == {10, 11}
    assert rows[10]["tier"] == "exact" and rows[10]["matched_doc"] == 1
    assert rows[10]["jaccard"] == 1.0
    assert rows[11]["tier"] == "near" and rows[11]["matched_doc"] == 1
    assert 0.8 <= rows[11]["jaccard"] < 1.0


def test_incremental_semantic_dedup_gemm_matches_jvm_twin(spark, embeddings):
    """NEW r7: the production cogrouped-GEMM form of embedding-space
    increment-vs-history dedup must agree with the JVM sequential-fold
    form the registry's hash oracle pins — same pair set, cosines within
    GEMM summation-order noise; and no history x history or increment x
    increment pair may appear."""
    from iiot_data_engineering_lab_assignment_spark.operators.similarity import (
        _as_double,
        assign_cells,
        dot,
        incremental_semantic_dedup,
        l2_norm,
    )

    k, threshold, split = 8, 0.4, 250
    cents = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in embeddings.filter(F.col("vec_id") < k).collect()
    }
    history = embeddings.filter(F.col("vec_id") < split)
    increment = embeddings.filter(F.col("vec_id") >= split)
    gemm = incremental_semantic_dedup(history, increment, cents, threshold=threshold)
    rows = gemm.collect()
    assert all(r["id_new"] >= split and r["id_hist"] < split for r in rows)

    assigned = assign_cells(embeddings, cents)
    h = assigned.filter(F.col("vec_id") < split).select(
        F.col("vec_id").alias("id_hist"), "cell",
        _as_double(F.col("embedding")).alias("eh"),
    )
    i = assigned.filter(F.col("vec_id") >= split).select(
        F.col("vec_id").alias("id_new"), "cell",
        _as_double(F.col("embedding")).alias("ei"),
    )
    cos = dot(F.col("ei"), F.col("eh")) / (l2_norm(F.col("ei")) * l2_norm(F.col("eh")))
    jvm = {
        (r["id_new"], r["id_hist"]): r["c"]
        for r in i.join(h, ["cell"]).filter(cos >= threshold)
        .select("id_new", "id_hist", cos.alias("c")).collect()
    }
    got = {(r["id_new"], r["id_hist"]): r["cosine"] for r in rows}
    assert set(got) == set(jvm)
    assert all(abs(got[p] - jvm[p]) < 1e-6 for p in got)

    # stored-assignments production path: passing the precomputed history
    # (id, embedding, cell) table yields the identical pair set
    stored = assign_cells(history, cents)
    rows2 = incremental_semantic_dedup(
        history, increment, cents, threshold=threshold, history_assigned=stored
    ).collect()
    assert {(r["id_new"], r["id_hist"]) for r in rows2} == set(got)


def test_incremental_dedup_signature_store_path(spark):
    """Passing a precomputed history signature store (the production
    form: fingerprints + postings + buckets persisted once, appended
    daily) yields the identical flagged set as inline computation."""
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import (
        build_history_signature_store,
        incremental_dedup,
    )

    schema = "doc_id long, text string"
    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(38)) + " x0 x1"
    hist = spark.createDataFrame(
        [(1, base), (2, " ".join(f"u{i}" for i in range(40)))], schema
    )
    inc = spark.createDataFrame(
        [(10, base), (11, near), (12, " ".join(f"v{i}" for i in range(40)))],
        schema,
    )
    inline = {
        (r["doc_id"], r["matched_doc"], r["tier"])
        for r in incremental_dedup(hist, inc, threshold=0.4).collect()
    }
    store = build_history_signature_store(hist)
    stored = {
        (r["doc_id"], r["matched_doc"], r["tier"])
        for r in incremental_dedup(
            hist, inc, threshold=0.4, history_store=store
        ).collect()
    }
    assert inline == stored == {(10, 1, "exact"), (11, 1, "near")}


def test_zero_norm_embeddings_yield_no_nan_pairs(spark):
    """ADVICE r7: a zero-norm embedding must produce cosine 0 (below any
    positive threshold, so simply absent) rather than NaN rows or numpy
    divide warnings — in semantic_dedup_pairs, incremental_semantic_dedup,
    and cosine_dup_pairs_blocked alike."""
    import math

    from iiot_data_engineering_lab_assignment_spark.operators.similarity import (
        cosine_dup_pairs_blocked,
        incremental_semantic_dedup,
        semantic_dedup_pairs,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),   # exact dup of 0
        (2, [0.0, 0.0, 0.0]),   # zero-norm: must never pair, never NaN
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    pairs = semantic_dedup_pairs(df, k=1, threshold=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}
    assert all(not math.isnan(r["cosine"]) for r in pairs)

    cents = {0: [1.0, 0.0, 0.0]}
    inc = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]), (11, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    ipairs = incremental_semantic_dedup(df, inc, cents, threshold=0.9).collect()
    assert {(r["id_new"], r["id_hist"]) for r in ipairs} == {(10, 0), (10, 1)}
    assert all(not math.isnan(r["cosine"]) for r in ipairs)

    bpairs = cosine_dup_pairs_blocked(df, threshold=0.9, n_blocks=2).collect()
    assert {(r["id_a"], r["id_b"]) for r in bpairs} == {(0, 1)}
    assert all(not math.isnan(r["cosine"]) for r in bpairs)


def test_semantic_dedup_envelope_recalls_planted_bit_dups(spark, tmp_path):
    """The registry envelope for ``semantic_dedup_pairs`` (r11 rows-only
    -> envelope upgrade) on a fixture with PLANTED bit-identical
    duplicates: n_exact_dup_pairs counts every identical-embedding pair
    (a 3-clone group contributes C(3,2)=3), the recall theorem holds
    (every such pair is emitted by the engine for ANY k-means outcome),
    and zero-norm vectors are excluded from the dup accounting."""
    import numpy as np

    from iiot_data_engineering_lab_assignment_spark import registry

    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        rows.append((i, [float(x) for x in rng.normal(size=8).astype(np.float32)]))
    # plant a 3-clone group (ids 40-42) and a 2-clone group (ids 43-44)
    clone_a = [float(x) for x in rng.normal(size=8).astype(np.float32)]
    clone_b = [float(x) for x in rng.normal(size=8).astype(np.float32)]
    rows += [(40, clone_a), (41, clone_a), (42, clone_a), (43, clone_b), (44, clone_b)]
    # two zero-norm vectors: identical but must NOT count as a dup pair
    rows += [(45, [0.0] * 8), (46, [0.0] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    out = registry.QUERIES["semantic_dedup_pairs"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_vecs"] == 47
    assert r["n_exact_dup_pairs"] == 3 + 1
    assert r["exact_dups_recalled"] is True
    assert r["pairs_canonical"] is True
    assert r["pairs_cos_ge_threshold"] is True


def test_iiot_backfill_envelope_matches_volume_contract(spark):
    """The registry envelope for ``iiot_backfill_rollup`` (r11 rows-only
    -> envelope upgrade): exactly the 4x4 (machine, sensor) grid, each
    with count_readings = 168 and min <= avg <= max."""
    from iiot_data_engineering_lab_assignment_spark import registry
    from iiot_data_engineering_lab_assignment_spark.sources.generator import (
        MACHINE_ROWS,
        SENSOR_ROWS,
    )

    out = registry.QUERIES["iiot_backfill_rollup"].fn(spark, "unused").collect()
    assert len(out) == 16
    grid = {(r["machine_id"], r["sensor_type"]) for r in out}
    assert grid == {(m[0], s[0]) for m in MACHINE_ROWS for s in SENSOR_ROWS}
    for r in out:
        assert r["count_readings"] == 168
        assert r["min_le_avg"] is True and r["avg_le_max"] is True


# ---------------------------------------------------------------------------
# r12: exact substring span dedup (Lee et al. tier)
# ---------------------------------------------------------------------------


def _mkdocs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_duplicate_spans_planted_exact_copy(spark):
    """A >=50-token span duplicated verbatim across two docs: the later
    doc carries exactly one merged span covering the copy; the first
    occurrence is NOT flagged (keep-one)."""
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import duplicate_spans

    span = " ".join(f"w{i}" for i in range(60))
    a = "alpha unique tokens here " + span + " tail0 tail1"
    b = "totally different prefix words " + span + " other end"
    docs = _mkdocs(spark, [a, b])
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(docs, k=8, min_span=50, gap=8).collect()
    }
    # doc 1's copy starts after its 4 prefix tokens and runs 60 tokens
    assert got == {(1, 4, 64)}


def test_duplicate_spans_stitches_across_internal_edit(spark):
    """A 70-token duplicated span whose COPY has a 3-token internal edit:
    the k-gram chain breaks around the edit, but gap stitching (<= 8
    tokens) merges the two halves into ONE span — the capability the
    fixed-n-gram coverage form lacks."""
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import duplicate_spans

    words = [f"w{i}" for i in range(70)]
    orig = "lead in tokens " + " ".join(words) + " done"
    edited = list(words)
    edited[35:38] = ["EDIT1", "EDIT2", "EDIT3"]  # 3-token edit mid-span
    copy = "completely other starter " + " ".join(edited) + " finale"
    docs = _mkdocs(spark, [orig, copy])
    spans = duplicate_spans(docs, k=8, min_span=50, gap=8).collect()
    assert len(spans) == 1
    r = spans[0]
    # one stitched span in the copy (doc 1, 3 prefix tokens), covering
    # both halves of the edited duplicate
    assert r["doc_id"] == 1
    assert r["span_start"] == 3
    assert r["span_end"] == 3 + 70
    assert r["span_len"] == 70


def test_duplicate_spans_respects_min_span_and_break(spark):
    """A 20-token duplicated run stays below min_span=50 and emits
    nothing; two duplicated runs separated by MORE than gap tokens do
    not stitch."""
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import duplicate_spans

    run1 = " ".join(f"a{i}" for i in range(30))
    run2 = " ".join(f"b{i}" for i in range(30))
    fill0 = " ".join(f"p{i}" for i in range(25))  # per-doc unique prefixes
    fill1 = " ".join(f"q{i}" for i in range(25))
    sep = " ".join(f"x{i}" for i in range(20))  # 20 > k + gap = 16
    sep2 = " ".join(f"y{i}" for i in range(20))
    docs = _mkdocs(
        spark,
        [
            fill0 + " " + run1 + " " + sep + " " + run2,
            fill1 + " " + run1 + " " + sep2 + " " + run2,
        ],
    )
    # run1/run2 (30 each) separated by 20 unshared tokens -> two
    # 30-token islands in doc 1, both < 50 -> nothing qualifies
    assert duplicate_spans(docs, k=8, min_span=50, gap=8).count() == 0
    # with min_span=25 the two runs emit as SEPARATE spans (no stitch)
    spans = duplicate_spans(docs, k=8, min_span=25, gap=8).collect()
    lens = sorted(r["span_len"] for r in spans)
    assert lens == [30, 30]


def test_remove_duplicate_spans_drops_planted_copy(spark):
    """Removal: the copy's span tokens vanish, the original doc is
    untouched, counts reconcile."""
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    span = " ".join(f"w{i}" for i in range(55))
    a = "keep these four tokens " + span
    b = "other doc starts differently " + span + " trailing bits"
    docs = _mkdocs(spark, [a, b])
    out = {r["doc_id"]: r for r in remove_duplicate_spans(docs, k=8, min_span=50, gap=8).collect()}
    assert out[0]["n_removed"] == 0 and out[0]["clean_text"] == a
    assert out[1]["n_removed"] == 55
    assert "w0" not in out[1]["clean_text"].split()
    assert out[1]["clean_text"].split() == (
        "other doc starts differently".split() + "trailing bits".split()
    )


def test_remove_duplicate_spans_full_duplicate_doc_empties(spark):
    """A doc that is one whole duplicated span comes back as the empty
    string with every token counted removed."""
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    span = " ".join(f"w{i}" for i in range(52))
    docs = _mkdocs(spark, ["intro words here " + span + " outro", span])
    out = {r["doc_id"]: r for r in remove_duplicate_spans(docs, k=8, min_span=50, gap=8).collect()}
    assert out[1]["clean_text"] == ""
    assert out[1]["n_removed"] == 52


def test_keep_best_null_quality_sorts_last(spark):
    """A NULL text scores a NULL quality; keep_best must rank it below
    every scored member of its component (the row_number form's
    ``desc(quality)`` NULLS LAST), and keep it only when it is alone."""
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import keep_best

    base = " ".join(f"w{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(1, None), (2, base), (3, None), (4, None), (5, "short doc")],
        "doc_id long, text string",
    )
    # components {1, 2} and {3, 4}; 5 is a singleton
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "doc_a long, doc_b long")
    kept = {r["doc_id"]: r["quality_score"] for r in keep_best(docs, pairs).collect()}
    assert set(kept) == {2, 3, 5}
    assert kept[2] == 1.0
    assert kept[3] is None  # no scored member: the lowest id is kept


def test_non_finite_centroids_and_codebook_assign(spark):
    """A centroid table or PQ codebook holding NaN and +-inf (a centroid
    averaged over NaN input) still builds and evaluates: its literals
    render as casts Spark parses, not ``nanD``/``infD``, and a NaN
    distance sorts after every number in the (d2, cell) argmin."""
    from iiot_data_engineering_lab_assignment_spark.operators.similarity import (
        _dbl,
        assign_cells,
        pq_encode,
    )

    nan, inf = float("nan"), float("inf")
    lits = ", ".join(_dbl(x) for x in (nan, inf, -inf, 0.1))
    row = spark.sql(f"SELECT {lits}").first()
    assert math.isnan(row[0]) and list(row)[1:] == [inf, -inf, 0.1]
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 2.0])], "vec_id long, embedding array<double>"
    )
    cents = {0: [nan, 1.0], 1: [inf, 0.0], 2: [-inf, 0.0], 3: [0.0, 0.0]}
    cells = {r["vec_id"]: r["cell"] for r in assign_cells(emb, cents).collect()}
    assert cells == {0: 3, 1: 3}
    book = {0: [(0, [nan]), (1, [inf]), (2, [0.5])], 1: [(0, [-inf]), (1, [1.0])]}
    codes = {
        (r["vec_id"], r["sub_idx"]): r["code"] for r in pq_encode(emb, book).collect()
    }
    assert codes == {(0, 0): 2, (0, 1): 1, (1, 0): 2, (1, 1): 1}


def test_dedup_core_lives_in_one_place():
    """operators/dedup.py bands signatures, intersects candidate postings
    and divides by the Jaccard denominator in exactly one function each,
    so a hand copy of the pair-verification core fails here."""
    import ast
    import inspect

    from iiot_data_engineering_lab_assignment_spark.operators import dedup

    found = {"band array": set(), "posting intersection": set(), "jaccard denominator": set()}
    for top in ast.parse(inspect.getsource(dedup)).body:
        where = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if isinstance(node, ast.Constant) and "named_struct('band'" in str(node.value):
                found["band array"].add(where)
            # .join(<postings>, [<doc key>, "shingle"])
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "join"
                and len(node.args) == 2
                and isinstance(node.args[1], ast.List)
                and any(
                    isinstance(e, ast.Constant) and e.value == "shingle"
                    for e in node.args[1].elts
                )
            ):
                found["posting intersection"].add(where)
            # n_a + n_b - common
            if (
                isinstance(node, ast.BinOp)
                and isinstance(node.op, ast.Sub)
                and isinstance(node.left, ast.BinOp)
                and isinstance(node.left.op, ast.Add)
            ):
                found["jaccard denominator"].add(where)
    assert found == {
        "band array": {"_band_buckets"},
        "posting intersection": {"_candidate_common"},
        "jaccard denominator": {"_score_pairs"},
    }


def test_similarity_core_lives_in_one_place():
    """The vector-quantization steps are built in exactly one function
    each across operators/similarity.py and the registry rows that score
    vectors: the nearest-centroid argmin and its (d2, id) struct, the
    exact-decimal mean, the sequential-fold GEMM distance call and the
    zero-norm clamp; and no constant vector is built one F.lit per
    element.  A hand copy of any of them fails here."""
    import ast
    import inspect

    from iiot_data_engineering_lab_assignment_spark import registry, registry_clustering
    from iiot_data_engineering_lab_assignment_spark.operators import similarity

    def attr_call(node, name):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == name
        )

    found = {
        "argmin": set(),
        "d2 struct": set(),
        "decimal mean": set(),
        "fold d2 call": set(),
        "norm clamp": set(),
        "per-element literal vector": set(),
    }
    for mod in (similarity, registry_clustering, registry):
        tree = ast.parse(inspect.getsource(mod))
        docstrings = {
            id(n.value)
            for n in ast.walk(tree)
            if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
        }
        for top in tree.body:
            where = f"{mod.__name__.rsplit('.', 1)[-1]}.{getattr(top, 'name', '<module>')}"
            for node in ast.walk(top):
                if isinstance(node, ast.Constant) and id(node) not in docstrings:
                    text = str(node.value)
                    if "array_min(array(" in text:
                        found["argmin"].add(where)
                    if "named_struct('d2'" in text:
                        found["d2 struct"].add(where)
                    if "decimal(28,14)" in text:
                        found["decimal mean"].add(where)
                # Column-API forms: F.array_min(F.array(...)) and
                # F.struct(<d2>.alias("d2"), ...)
                if attr_call(node, "array_min") and node.args and attr_call(node.args[0], "array"):
                    found["argmin"].add(where)
                if attr_call(node, "struct") and any(
                    attr_call(a, "alias") and a.args and getattr(a.args[0], "value", None) == "d2"
                    for a in node.args
                ):
                    found["d2 struct"].add(where)
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id == "_fold_d2_matrix"
                ):
                    found["fold d2 call"].add(where)
                if attr_call(node, "maximum") and node.args and attr_call(node.args[0], "norm"):
                    found["norm clamp"].add(where)
                # F.array(*[F.lit(x) for x in vec])
                if attr_call(node, "array") and any(
                    isinstance(a, ast.Starred)
                    and isinstance(a.value, ast.ListComp)
                    and attr_call(a.value.elt, "lit")
                    for a in node.args
                ):
                    found["per-element literal vector"].add(where)
    assert found == {
        "argmin": {"similarity._nearest_sql"},
        "d2 struct": {"similarity._nearest_sql"},
        "decimal mean": {"similarity._micro_mean"},
        "fold d2 call": {"similarity._gemm_map"},
        "norm clamp": {"similarity._unit_rows"},
        "per-element literal vector": set(),
    }
