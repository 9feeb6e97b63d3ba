"""Deduplication operators for training-data pipelines.

Four tiers, cheapest-first — the standard cascade for 100 TB corpora:

1. exact        — hash-groupBy on a 16-byte fingerprint (md5).  One shuffle
                  of (fp, doc_id); the winning doc per group is min(doc_id).
2. ngram-jaccard— shingle posting lists self-joined on the shingle: only
                  documents SHARING a shingle ever meet, so the candidate
                  set is sparse (vs. the O(n^2) cross join).
3. minhash-LSH  — constant-size signatures (K hashes) banded into B buckets;
                  candidate pairs are generated per bucket and verified with
                  real Jaccard.  The scale path: shuffle carries K*4 bytes
                  per doc per band, independent of document length.
4. simhash      — 64-bit weighted fingerprint; near-dups collide on bands of
                  bits (Hamming-distance blocking).

All candidate generation and verification is DataFrame ops (explode,
groupBy, join) — distributed end-to-end, no driver-side pair loops.

Every shingle-based pair operator (jaccard_pairs, containment_pairs,
minhash_lsh_pairs and its md5 twin, jaccard_pairs_prefix,
incremental_dedup) runs one core: postings (``shingles`` +
``_cap_postings``) -> candidates (``_pair_common_counts``'s co-shingle
counts, or ``_band_buckets`` + ``_bucket_candidates`` for LSH, or a
prefix / increment-vs-history join) -> verify (``_candidate_common``)
-> score (``_score_pairs``: threshold on the exact ratio, reported
rounded to 6 places).  Each operator keeps its own hash family,
candidate tier and output columns.  simhash_pairs verifies on the
signature (Hamming), not on postings, and stays separate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokenize

__all__ = [
    "exact_dedup_groups",
    "exact_dedup_keep_first",
    "exact_dedup_groups_fp",
    "exact_dedup_keep_first_fp",
    "shingles",
    "jaccard_pairs",
    "jaccard_pairs_prefix",
    "containment_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_md5",
    "simhash",
    "simhash_pairs",
    "connected_components",
    "label_propagation",
    "triangle_counts",
    "assign_canonical",
    "keep_best",
    "duplicated_span_coverage",
    "kgram_fingerprints",
    "duplicate_spans",
    "remove_duplicate_spans",
    "incremental_dedup",
    "build_history_signature_store",
    "persist_history_signature_store",
    "load_history_signature_store",
    "curation_e2e",
]


# ---------------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts: (text, keep_doc_id=min(id), dup_count).
    The groupBy key is the raw text here for oracle-comparability; the
    at-scale variant groups on ``operators.text.fingerprint`` md5 so the
    shuffle key is 16 bytes."""
    return docs.groupBy(text_col).agg(
        F.min(id_col).alias("keep_doc_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def exact_dedup_keep_first(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic dropDuplicates: keep the lowest-id row per identical
    text.  Implemented as min-id semi-join rather than a row_number sort so
    the heavy side only shuffles its key columns."""
    keep = docs.groupBy(text_col).agg(F.min(id_col).alias(id_col))
    return docs.join(keep, [text_col, id_col], "left_semi")


def exact_dedup_groups_fp(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-dup groups keyed by the 16-byte md5 fingerprint of the
    whitespace-normalized text — the at-scale form of
    :func:`exact_dedup_groups`: the shuffle key is 32 hex chars per row
    regardless of document length, so a 100 TB corpus shuffles ~fingerprint
    bytes, not document bytes.  Normalization (lowercase, collapsed
    whitespace) also catches trivially-reformatted dups the raw-text
    groupBy misses."""
    from .text import fingerprint

    return fingerprint(docs, text_col).groupBy("fp").agg(
        F.min(id_col).alias("keep_doc_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def exact_dedup_keep_first_fp(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep-lowest-id dedup keyed by md5 fingerprint: both the groupBy and
    the semi-join back carry (fp, id) — never the full text (the raw-text
    variant re-shuffles documents twice)."""
    from .text import fingerprint

    fp = fingerprint(docs, text_col)
    keep = fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return fp.join(keep, ["fp", id_col], "left_semi").drop("fp")


# ---------------------------------------------------------------------------
# 2. N-gram Jaccard
# ---------------------------------------------------------------------------


def _gram_array(text_col: str, n: int):
    """Array of word n-grams in position order (element k-1 = the gram
    starting at 1-based token position k), built by zip_with-folding n
    shifted slices of the token array (JVM-side, no UDF) — measured 2.7x
    faster than the per-position sequence/slice form at sf0.1 (0.6 s vs
    1.6 s), identical output.  Single source of gram construction for
    every posting-list operator in this module."""
    toks = tokenize(text_col)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    acc = F.slice(toks, 1, m)
    for k in range(2, n + 1):
        acc = F.zip_with(acc, F.slice(toks, k, m), lambda a, b: F.concat_ws(" ", a, b))
    return acc


def shingles(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per document -> (id, shingle) posting
    list (see :func:`_gram_array` for the fold)."""
    acc = _gram_array(text_col, n)
    return docs.select(F.col(id_col), F.explode(F.array_distinct(acc)).alias("shingle"))


def _cap_postings(post: DataFrame, max_shingle_df: int | None) -> DataFrame:
    """Drop shingles appearing in more than `max_shingle_df` documents.

    The scale guard for posting-list self-joins: a stopword-only shingle
    shared by D documents contributes D^2/2 candidate rows — one ubiquitous
    gram ("of the and") can make the join quadratic in corpus size.  The
    hot set (df > cap) is tiny under any heavy-tailed shingle distribution,
    so it broadcasts and the postings stream through a broadcast anti-join
    — no extra shuffle of the posting list.
    """
    if max_shingle_df is None:
        return post
    hot = (
        post.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_shingle_df)
        .select("shingle")
    )
    return post.join(F.broadcast(hot), "shingle", "left_anti")


def _pair_common_counts(post: DataFrame, id_col: str, capped: bool) -> DataFrame:
    """Co-shingle candidate pairs with shared-shingle counts:
    (doc_a, doc_b, common), doc_a < doc_b.

    Two physical strategies with identical output (equality verified at
    sf0.1, 256/256 pairs):

    * ``capped=True`` (a ``max_shingle_df`` cap is in force, so every
      per-shingle posting group is bounded): group postings by shingle
      into a sorted id array and explode the in-group combinations —
      the posting list shuffles ONCE (groupBy shingle) instead of twice
      (both sides of a self-join; Spark plans no ReusedExchange there),
      and there is no join build side.  Measured 9% faster at sf0.1;
      at corpus scale the saved exchange is a full posting-list pass.
    * ``capped=False``: the posting-list self-join.  A hot shingle
      shared by D docs still contributes D^2/2 rows either way, but the
      join STREAMS them while the array form would materialize a D-id
      array per group — unbounded groups must not collect.
    """
    if capped:
        grouped = post.groupBy("shingle").agg(
            F.sort_array(F.collect_list(id_col)).alias("ids")
        )
        pairs = grouped.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x, i: F.transform(
                            F.slice("ids", i + 2, F.size("ids")),
                            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                        ),
                    )
                )
            ).alias("p")
        ).select("p.doc_a", "p.doc_b")
        return pairs.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("common"))
    a = post.alias("a")
    b = post.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )


def _candidate_common(
    cands: DataFrame, post_a: DataFrame, post_b: DataFrame, id_col: str
) -> DataFrame:
    """Verify candidate pairs (doc_a, doc_b) against posting lists:
    attach doc_a's shingles from ``post_a``, intersect with doc_b's in
    ``post_b``, count -> (doc_a, doc_b, common).  Work is O(candidates x
    shingles per doc), not O(all co-shingle pairs).  Self-pair callers
    pass one posting list twice; ``incremental_dedup`` passes increment
    and history.  The posting list is recomputed per subtree on purpose
    (see jaccard_pairs)."""
    pa = post_a.select(F.col(id_col).alias("doc_a"), "shingle")
    pb = post_b.select(F.col(id_col).alias("doc_b"), "shingle")
    return (
        cands.join(pa, "doc_a")
        .join(pb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )


def _score_pairs(
    common: DataFrame,
    post_a: DataFrame,
    post_b: DataFrame,
    id_col: str,
    threshold: float,
    metric: str = "jaccard",
) -> DataFrame:
    """Join both sides' shingle-set sizes (from ``post_a``/``post_b``)
    onto (doc_a, doc_b, common) and score: ``jaccard`` = common /
    (n_a + n_b - common), ``containment`` = common / min(n_a, n_b).
    The threshold applies to the EXACT ratio — the oracles' rule, and
    the bound the prefix filter is lossless for — while the output
    (doc_a, doc_b, <metric>) reports round(ratio, 6)."""

    def sizes(post, doc, n):
        return (
            post.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_sh"))
            .select(F.col(id_col).alias(doc), F.col("n_sh").alias(n))
        )

    n_a, n_b, c = F.col("n_a"), F.col("n_b"), F.col("common")
    ratio = c / (F.least(n_a, n_b) if metric == "containment" else n_a + n_b - c)
    return (
        common.join(sizes(post_a, "doc_a", "n_a"), "doc_a")
        .join(sizes(post_b, "doc_b", "n_b"), "doc_b")
        .withColumn(metric, F.round(ratio, 6))
        .filter(ratio >= threshold)
        .select("doc_a", "doc_b", metric)
    )


def jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity.

    posting-list self-join: docs only compared when they share a shingle.
    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold.

    ``max_shingle_df`` caps hot shingles (stopword-only grams): shingles in
    more than that many documents are excluded from the WHOLE computation
    (postings, sizes, intersection), so jaccard is the similarity over the
    informative-shingle universe — a pair sharing ONLY ubiquitous grams
    scores 0 rather than flooding the self-join with D^2 candidates.
    None (default) = exact Jaccard over all shingles.

    The posting list feeds three plan subtrees (sizes + both join sides).
    Measured: persisting it is a net LOSS here — InMemoryRelation
    materialization costs more than recomputing the cheap narrow shingle
    expansion in parallel subtrees (3.1s vs 3.6s at sf0.1).  Recompute
    deliberately; revisit only if the tokenizer becomes expensive.
    """
    post = _cap_postings(shingles(docs, n, text_col, id_col), max_shingle_df)
    common = _pair_common_counts(post, id_col, capped=max_shingle_df is not None)
    return _score_pairs(common, post, post, id_col, threshold)


# ---------------------------------------------------------------------------
# 3. MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """K-permutation MinHash signatures over word shingles.

    h_i(x) = xxhash64(shingle, seed=i); signature[i] = min over shingles.
    Computed as explode -> groupBy(id) -> array(min(h_0)..min(h_K-1)):
    one shuffle keyed by doc id, constant-size output per doc.
    ``max_shingle_df`` excludes ubiquitous shingles (see _cap_postings) so
    signatures reflect informative content only.
    """
    post = _cap_postings(shingles(docs, n, text_col, id_col), max_shingle_df)
    # F.expr per hash instead of nested Column calls (r16, guide
    # §7.3-class driver cost): the 32-agg signature tree cost hundreds
    # of py4j round trips per DataFrame construction; one parse call per
    # aggregate builds the identical expression (integer seed literal,
    # same min(xxhash64(shingle, i)) tree — A/B exceptAll-checked).
    aggs = [
        F.expr(f"min(xxhash64(shingle, {i})) AS h{i}")
        for i in range(num_hashes)
    ]
    sig = post.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col),
        F.expr(
            "array({})".format(
                ", ".join(f"h{i}" for i in range(num_hashes))
            )
        ).alias("signature"),
    )


def _band_buckets(
    sig: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    bucket_sql: Callable[[range], str],
) -> DataFrame:
    """Band a K-hash signature frame into per-doc (id, band, bucket)
    rows: band b covers hashes [b*r, (b+1)*r) with r = K / bands, and
    ``bucket_sql(ks)`` renders the SQL bucket expression over those
    0-based hash indices, so each hash family keeps its own bucket hash.
    Built as one single-parse band array (r16): the same named_struct
    tree as the Column form, one F.expr call instead of ~100 py4j ones."""
    if num_hashes % bands != 0:
        # Silent truncation (rows_per_band = K // B ignoring the remainder)
        # would quietly shift the S-curve; misconfiguration must fail loudly.
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    rows_per_band = num_hashes // bands
    band_cols = F.expr(
        "array({})".format(
            ", ".join(
                "named_struct('band', {b}, 'bucket', {bucket})".format(
                    b=b,
                    bucket=bucket_sql(
                        range(b * rows_per_band, (b + 1) * rows_per_band)
                    ),
                )
                for b in range(bands)
            )
        )
    )
    return sig.select(F.col(id_col), F.explode(band_cols).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _bucket_candidates(buckets: DataFrame, id_col: str) -> DataFrame:
    """LSH candidates: distinct (doc_a, doc_b), doc_a < doc_b, of docs
    sharing any (band, bucket) — an equi-join, never a cross join."""
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified with exact Jaccard.

    Band the K-hash signature into `bands` groups of K/bands rows; docs
    agreeing on any full band land in one bucket (hash of the band slice).
    Candidates = pairs within a bucket; each candidate is then verified
    against the exact n-gram Jaccard so the output has no false positives
    (false negatives bounded by the S-curve of (bands, rows)).
    ``max_shingle_df`` applies the hot-shingle cap consistently to the
    signatures AND the verification universe (see jaccard_pairs).
    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    sig = minhash_signatures(docs, num_hashes, n, text_col, id_col, max_shingle_df)
    buckets = _band_buckets(
        sig,
        id_col,
        num_hashes,
        bands,
        lambda ks: "xxhash64(concat_ws(',', {}))".format(
            ", ".join(f"element_at(signature, {k + 1})" for k in ks)
        ),
    )
    post = _cap_postings(shingles(docs, n, text_col, id_col), max_shingle_df)
    common = _candidate_common(_bucket_candidates(buckets, id_col), post, post, id_col)
    return _score_pairs(common, post, post, id_col, threshold)


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = 50,
) -> DataFrame:
    """Asymmetric near-duplicate detection: containment of the smaller
    document's shingle set in the larger's — |A ∩ B| / min(|A|, |B|).

    Catches what Jaccard structurally cannot: a 100-token document
    quoted whole inside a 10,000-token one has Jaccard ~0.01 but
    containment 1.0.  In pretraining corpora this is the common case
    (boilerplate inclusion, article + comment-thread concatenations,
    quoted posts), and symmetric dedup leaves both copies in.

    ``max_shingle_df`` defaults to 50 (the registry's setting) so the
    bare operator cannot silently go quadratic on stopword shingles;
    pass ``None`` explicitly to disable the cap on pre-filtered input.
    Output: (doc_a, doc_b, containment), doc_a < doc_b.
    """
    post = _cap_postings(shingles(docs, n, text_col, id_col), max_shingle_df)
    common = _pair_common_counts(post, id_col, capped=max_shingle_df is not None)
    return _score_pairs(common, post, post, id_col, threshold, "containment")


def _md5_band_buckets(
    docs: DataFrame,
    num_hashes: int,
    bands: int,
    n: int,
    text_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Signature stage of the DuckDB-reproducible LSH family: shingle
    postings plus per-doc (band, bucket) rows, where bucket = md5 over
    the band's lexicographic-min md5-substring minhashes.  Used by the
    self-join pair generator and the increment-vs-history join."""
    post = shingles(docs, n, text_col, id_col)
    # F.expr per hash (r16) — identical trees to the Column form, a
    # fraction of the py4j round trips; see minhash_signatures
    aggs = [
        F.expr(
            f"min(substring(md5(concat_ws(':', '{i}', shingle)), 1, 16)) AS h{i}"
        )
        for i in range(num_hashes)
    ]
    sig = post.groupBy(id_col).agg(*aggs)
    buckets = _band_buckets(
        sig,
        id_col,
        num_hashes,
        bands,
        lambda ks: "md5(concat_ws('|', {}))".format(", ".join(f"h{k}" for k in ks)),
    )
    return post, buckets


def minhash_lsh_pairs_md5(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-LSH near-dup pairs with a DuckDB-reproducible hash family.

    The K hash functions are ``substr(md5(seed || ':' || shingle), 1, 16)`` compared
    lexicographically — a valid min-wise family (md5 is uniform over hex
    strings) that an ANSI-SQL oracle can replicate bit-for-bit, unlike
    xxhash64.  This makes the LSH output itself hash-checkable by the
    external DuckDB gate: both engines derive the SAME candidate set, so
    the comparison is exact regardless of the S-curve's recall.  The
    xxhash64 variant remains the production path (integer min beats string
    min on CPU); this one is the verification twin.
    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold.
    """
    post, buckets = _md5_band_buckets(docs, num_hashes, bands, n, text_col, id_col)
    common = _candidate_common(_bucket_candidates(buckets, id_col), post, post, id_col)
    return _score_pairs(common, post, post, id_col, threshold)


# ---------------------------------------------------------------------------
# 4. SimHash
# ---------------------------------------------------------------------------


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document: per-bit +-1 votes over token hashes,
    sign of the vote sum becomes the bit.

    Layout: explode tokens -> one hash column -> 64 conditional-sum
    aggregates (fixed shift amounts, all map-side combinable) -> pack bits.
    One shuffle keyed by doc id carrying 64 partial sums per doc — scale
    behavior identical to any other hash aggregate.
    Output: (id, simhash long)."""
    toks = docs.select(
        F.col(id_col), F.explode(tokenize(text_col)).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(64)
        ]
    )
    packed = None
    for i in range(64):
        bit = F.when(F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        packed = bit if packed is None else packed.bitwiseXOR(bit)
    return votes.select(F.col(id_col), packed.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup candidates by SimHash Hamming distance <= max_hamming.

    Blocking: split the 64-bit hash into (max_hamming+1) 16-bit bands — by
    pigeonhole, any pair within the distance budget agrees on >= 1 band, so
    the join is band-equality (distributed, no cross join), then verified
    with popcount on the XOR.  Output: (doc_a, doc_b, hamming).
    """
    n_bands = max_hamming + 1
    width = 64 // n_bands
    sh = simhash(docs, text_col, id_col)
    bandarr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("simhash"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("key"),
            )
            for i in range(n_bands)
        ]
    )
    blocked = sh.select(id_col, "simhash", F.explode(bandarr).alias("bb")).select(
        id_col, "simhash", F.col("bb.band").alias("band"), F.col("bb.key").alias("key")
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    hamming = F.bit_count(xor)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_signature_md5(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Hash-checkable SimHash twin (same role as minhash_lsh_pairs_md5
    for the LSH family): per-document 64-bit SimHash signature computed
    from md5 hex digits instead of xxhash64, emitted as a 64-char
    '0'/'1' string so a DuckDB oracle reproduces every BIT of the
    signature (packing to a signed BIGINT would overflow on bit 63 and
    hide the per-bit comparison anyway).

    Bit i (0..63) comes from hex digit i//4 of md5(token) (bit i%4 of
    the digit's value): identical arithmetic in both engines — Spark
    ``conv(substr, 16, 10)`` == DuckDB ``strpos('0123456789abcdef', c)
    - 1``, then the same shift/mask.  Votes are +1/-1 sums over tokens
    with duplicates kept (frequency-weighted, classic SimHash); sign
    tie (vote 0) maps to '0' on both sides.  The xxhash64 variant stays
    the production tier (integer ops, no hex parsing); the banded
    pair-join above it is value-checked through the md5 LSH twin, so
    this closes the remaining unverified simhash stage: the signature
    computation itself.
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokenize(text_col)).alias("tok")
    ).select(F.col(id_col), F.md5(F.col("tok")).alias("hx"))
    aggs = []
    for i in range(64):
        digit = F.conv(F.substring(F.col("hx"), i // 4 + 1, 1), 16, 10).cast("int")
        bit = F.shiftright(digit, i % 4).bitwiseAND(F.lit(1))
        aggs.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"v{i}"))
    votes = toks.groupBy(id_col).agg(*aggs)
    sig = F.concat(
        *[
            F.when(F.col(f"v{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(64)
        ]
    )
    return votes.select(F.col(id_col), sig.alias("sig"))


# ---------------------------------------------------------------------------
# 5. Cluster collapse: connected components over candidate pairs
# ---------------------------------------------------------------------------


def label_propagation(
    adj: DataFrame,
    iters: int = 3,
    node_col: str = "node",
    nbr_col: str = "nbr",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007) over a directed ADJACENCY list (pass each undirected edge in
    both directions): labels start as the node's own id, and each round
    every node adopts the most frequent label among its neighbors with
    the deterministic (count DESC, label ASC) tiebreak.  A FIXED
    iteration count keeps the result oracle-expressible (unrolled CTEs)
    and partition-order independent — the run-to-convergence variant is
    neither.  Contrast :func:`connected_components`: LPA splits a
    connected graph into densely-linked groups; CC only finds
    reachability.

    Per round: one adjacency-sized join keyed on ``nbr_col`` (bucket or
    pre-partition the adjacency on that column and the join plans with
    zero edge-side exchange), one (node, label) count with map-side
    partial aggregation, then the argmax as a second AGGREGATE —
    ``min(struct(-cnt, lab))`` realizes the (count DESC, label ASC)
    tiebreak exactly, and unlike the node-keyed row_number window it
    partial-aggregates map-side and needs no per-partition sort (guide
    §2.3/§2.4; r16: 8.54 -> 7.31 s interleaved min-of-3 at sf0.1,
    outputs identical).  Only the node-sized label vector moves between
    rounds.  Returns (node, community).  Nodes absent from ``adj``
    don't appear (isolated nodes are their own community by definition;
    left-join back if needed)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    labels = (
        adj.select(node_col)
        .distinct()
        .select(node_col, F.col(node_col).alias("lab"))
    )
    for _ in range(iters):
        cnt = (
            adj.join(
                labels.select(F.col(node_col).alias(nbr_col), "lab"), nbr_col
            )
            .groupBy(node_col, "lab")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            cnt.groupBy(node_col)
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("negc"), F.col("lab"))
                ).alias("m")
            )
            .select(node_col, F.col("m.lab").alias("lab"))
        )
    return labels.select(node_col, F.col("lab").alias("community"))


def triangle_counts(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list (each edge
    once, any endpoint order) — degree-ordered compact-forward (Schank
    2007; Suri & Vassilvitskii 2011 for the distributed form): every
    edge orients from its lexicographically-smaller (degree, id)
    endpoint, so each triangle counts EXACTLY once at its lowest-degree
    corner, and every node's oriented out-degree is O(sqrt(E)) — the
    property that bounds the wedge join a naive enumeration lets a
    degree-D hub explode to D^2 rows.  Orientation compares (deg, id)
    edge-locally: no global rank window.  Returns (node, n_triangles)
    for nodes in >= 1 triangle (left-join back for zeros)."""
    e0 = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # explode, not unionAll (r16, guide §7.3): a union of N projections
    # of the same subtree plants N full COPIES of it in the plan — the
    # broadcast-join-heavy subtrees here carry no Exchange for runtime
    # reuse to deduplicate, so each leg re-executed the whole upstream
    # (and tripled analysis cost: the composed query's plan was 568 KB /
    # 360 scans before, 1/3 of that after).  One explode pass emits the
    # same multiset of rows from a single subtree execution.
    deg = (
        e0.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = e0.join(
        deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dst_deg"),
    )
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    o3 = oriented.alias("o3")
    wedge_lt = (F.col("o1.dst_deg") < F.col("o2.dst_deg")) | (
        (F.col("o1.dst_deg") == F.col("o2.dst_deg"))
        & (F.col("o1.dst") < F.col("o2.dst"))
    )
    tri = (
        o1.join(o2, (F.col("o1.src") == F.col("o2.src")) & wedge_lt)
        .join(
            o3,
            (F.col("o3.src") == F.col("o1.dst"))
            & (F.col("o3.dst") == F.col("o2.dst")),
        )
        .select(
            F.col("o1.src").alias("n1"),
            F.col("o1.dst").alias("n2"),
            F.col("o2.dst").alias("n3"),
        )
    )
    # one explode pass over tri instead of a 3-leg union — see deg above
    corners = tri.select(F.explode(F.array("n1", "n2", "n3")).alias("node"))
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list of long node ids
    -> (node, component) where component = min node id in the component.

    The cluster-collapse step after any pair generator (minhash_lsh_pairs,
    simhash_pairs, jaccard_pairs): near-dup PAIRS are not CLUSTERS until
    transitively closed, and keep-one-per-cluster needs the closure.

    Algorithm: min-label propagation with pointer jumping (hash-to-min
    family) — per round, (1) every node takes the min label over itself
    and its neighbors, (2) labels are path-compressed by one hop
    (label(v) <- label(label(v))), so convergence is O(log diameter)
    rounds, not O(diameter).  Each round is two shuffles keyed by node id;
    labels are localCheckpoint'ed per round to truncate lineage (iterative
    plans otherwise grow unboundedly).  Convergence is detected by the
    monotone-decreasing sum of labels going stationary — one cheap scalar
    agg per round, no expensive change-count join.  On a real cluster use
    a reliable checkpoint dir instead of localCheckpoint for
    fault-tolerance; semantics are identical.

    Nodes with no edges don't appear; see assign_canonical for the
    left-join-back convention.

    ``stats``: optional dict the call fills with {"rounds": r, "converged":
    bool} — lets scale probes record rounds-to-convergence without
    re-implementing the loop.
    """
    e = (
        # explode, not a 2-leg union (r16, guide §7.3): each union leg
        # embedded its own copy of the upstream pair generator — runtime
        # exchange reuse covers the pre-exchange stages, but the
        # verify-join tail after the last exchange executed once per
        # leg; one explode pass emits both edge directions from a
        # single execution (interleaved A/B at sf0.1: 5.62 -> 5.17 s
        # min-of-4 on the jaccard-pairs closure, outputs identical).
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src).cast("long").alias("a"),
                        F.col(dst).cast("long").alias("b"),
                    ),
                    F.struct(
                        F.col(dst).cast("long").alias("a"),
                        F.col(src).cast("long").alias("b"),
                    ),
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
        # Pin the edge list ONCE (r15 optimization): labels were already
        # lineage-truncated per round, but `e` was not — so every round's
        # neighbor join re-executed the ENTIRE upstream pair generator
        # (the full LSH/Jaccard candidate job) from the parquet scan up.
        # Measured at sf0.1: dedup_keep_best 8.5 s -> ~3 s class, every
        # CC caller wins (near_dup_clusters, leakage_safe_split,
        # dup_aware_sample_weights, curation_e2e).  Same reliable-
        # checkpoint-on-a-cluster note as the per-round labels below.
        .localCheckpoint(eager=False)
    )
    labels = (
        e.groupBy("a")
        .agg(F.min("b").alias("mb"))
        .select(F.col("a").alias("node"), F.least("a", "mb").alias("comp"))
        # eager=False (r16): the convergence sum below is the loop's
        # materializing action, so the checkpoint rides that job instead
        # of running one of its own — the r15 form paid 2 jobs per round
        # (eager checkpoint + sum); this form pays 1.
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("comp")).first()[0]
    if stats is not None:
        stats["rounds"] = 0
        stats["converged"] = False
    for _round in range(max_iter):
        nb = (
            e.join(labels.select(F.col("node").alias("b"), "comp"), "b")
            .groupBy("a")
            .agg(F.min("comp").alias("nb_comp"))
            .select(F.col("a").alias("node"), "nb_comp")
        )
        lab1 = labels.join(nb, "node", "left").select(
            "node", F.least("comp", F.coalesce("nb_comp", F.col("comp"))).alias("comp")
        )
        parent = lab1.select(F.col("node").alias("p_node"), F.col("comp").alias("p_comp"))
        labels = (
            lab1.join(parent, lab1["comp"] == parent["p_node"], "left")
            .select("node", F.coalesce("p_comp", F.col("comp")).alias("comp"))
            .localCheckpoint(eager=False)
        )
        if stats is not None:
            stats["rounds"] = _round + 1
        # The convergence sum doubles as the checkpoint's materializing
        # action (eager=False above): one job per round where the r15
        # form paid two.  Checking only every 2nd round was A/B'd and
        # REJECTED: this corpus's label vector converges in ONE round
        # (small clusters reach their min label immediately, and pointer
        # jumping keeps rounds ~log(diameter) at any scale), so a
        # skipped check buys nothing and costs one full wasted
        # join round — measured 23 jobs / 5.53 s vs 18 jobs / 4.72 s
        # interleaved min-of-4 at sf0.1.
        cur_sum = labels.agg(F.sum("comp")).first()[0]
        if cur_sum == prev_sum:
            if stats is not None:
                stats["converged"] = True
            break
        prev_sum = cur_sum
    return labels


def assign_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Attach a `canonical_id` to every document: the min doc id of its
    near-dup cluster (from the transitive closure of `pairs`), or its own
    id if it has no near-dups.  Downstream keep-one filter is then
    `filter(col(id_col) == col("canonical_id"))`."""
    cc = connected_components(pairs, src, dst)
    return (
        docs.join(cc.select(F.col("node").alias(id_col), "comp"), id_col, "left")
        .withColumn("canonical_id", F.coalesce("comp", F.col(id_col)))
        .drop("comp")
    )


def keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    cc_stats: dict | None = None,
) -> DataFrame:
    """The keep-best selection stage shared by every candidate tier
    (capped Jaccard, MinHash-LSH, ...): transitively close the near-dup
    ``pairs`` (connected components), give singletons their own
    component, score quality, and keep the HIGHEST-QUALITY member per
    component (``id_col`` tiebreak).  The per-component argmax is an
    AGGREGATE — ``min(struct(-quality, id, quality))`` realizes the
    (quality DESC NULLS LAST, id ASC) pick, and unlike a row_number
    window it partial-aggregates map-side with no per-partition sort
    (guide §2.3; r16 rewrite, outputs identical).  quality_score is
    NULL for a NULL text, and min() sorts a NULL struct field first, so
    the sort key reads a NULL quality as -inf: such a doc is kept only
    when no member of its component has a score.
    Output: (doc_id, component, quality_score) of the kept documents."""
    from .text import quality_score

    cc = connected_components(pairs, stats=cc_stats).select(
        F.col("node").alias(id_col), F.col("comp").alias("component")
    )
    comp = (
        docs.select(id_col)
        .join(cc, id_col, "left")
        .withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
    )
    q = quality_score(docs).select(id_col, "quality_score")
    return (
        comp.join(q, id_col)
        .groupBy("component")
        .agg(
            F.min(
                F.struct(
                    (-F.coalesce("quality_score", F.lit(float("-inf")))).alias("negq"),
                    F.col(id_col).alias("kid"),
                    F.col("quality_score").alias("q"),
                )
            ).alias("m")
        )
        .select(
            F.col("m.kid").alias(id_col),
            "component",
            F.col("m.q").alias("quality_score"),
        )
    )


# ---------------------------------------------------------------------------
# 6. Decontamination: corpus vs eval-set n-gram overlap
# ---------------------------------------------------------------------------


def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Test-set leak check: corpus documents sharing any word n-gram with
    the evaluation set -> (doc_id, n_overlap = distinct shared n-grams).

    The eval side collapses to a DISTINCT shingle set (benchmark suites
    are tiny relative to a 100 TB corpus), so Spark broadcasts it and the
    corpus side streams through a broadcast-hash semi-ish join — no big
    shuffle.  Downstream: anti-join the corpus against this output before
    training.  n=13 is the common published choice for real corpora;
    smaller n tightens recall on short fixture docs.
    """
    ce = shingles(corpus, n, text_col, id_col)
    ee = shingles(eval_docs, n, text_col, id_col).select("shingle").distinct()
    return (
        ce.join(F.broadcast(ee), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def duplicated_span_coverage(
    docs: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    drop_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document exact-substring-dedup signal (Lee et al.,
    arXiv:2107.06499, at word n-gram granularity): per document, the
    fraction of tokens covered by at least one word n-gram that also
    occurs in >= `min_docs` distinct documents.  Complements the
    intra-document Gopher repetition rules (`ngram_repetition`,
    `top_ngram_coverage`): those see boilerplate WITHIN a doc, this sees
    text copied BETWEEN docs even when the docs as wholes are not
    near-duplicates (so MinHash/Jaccard doc-pair dedup misses them).

    Scale shape (everything linear in corpus size — no pair generation):

    * positional postings (doc, start, md5(gram)) — gram text is hashed
      to 16 bytes BEFORE any shuffle, the raw text never moves;
    * doc-frequency per gram via hash aggregation (map-side partial);
    * postings semi-join the duplicated-gram set on the 16-byte key
      (sort-merge at worst; AQE broadcasts when the dup set is small);
    * covered-token counting via INTERVAL UNION under one doc-keyed
      window (running max of span end), NOT by exploding the n positions
      of every span — overlapping spans cost one row each, so the
      shuffle volume is O(#duplicated spans), independent of n.
    """
    post = docs.select(
        F.col(id_col), F.posexplode(_gram_array(text_col, n)).alias("pos0", "gram")
    ).select(
        F.col(id_col),
        (F.col("pos0") + 1).alias("s"),
        F.md5("gram").alias("gram_h"),
    )
    dup = (
        post.groupBy("gram_h")
        .agg(F.count_distinct(F.col(id_col)).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("gram_h")
    )
    iv = post.join(dup, "gram_h", "left_semi").select(
        F.col(id_col), F.col("s"), (F.col("s") + (n - 1)).alias("e")
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = (
        iv.withColumn("pme", F.max("e").over(w))
        .select(
            F.col(id_col),
            F.greatest(
                F.lit(0),
                F.col("e")
                - F.greatest(F.col("s"), F.coalesce(F.col("pme"), F.lit(0)) + 1)
                + 1,
            ).alias("contrib"),
        )
        .groupBy(id_col)
        .agg(F.sum("contrib").alias("covered_tokens"))
    )
    nt = docs.select(
        F.col(id_col), F.size(tokenize(text_col)).cast("long").alias("n_tokens")
    )
    cov = F.round(F.coalesce(F.col("covered_tokens"), F.lit(0)) / F.col("n_tokens"), 6)
    return nt.join(covered, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens"),
        F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("long").alias("covered_tokens"),
        cov.alias("dup_coverage"),
        (cov < F.lit(drop_threshold)).alias("keep"),
    )


def build_history_signature_store(
    history: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict[str, DataFrame]:
    """Precompute the history side of :func:`incremental_dedup` ONCE —
    the store a production pipeline persists so daily runs read
    signatures, never historical text.  Returns
    ``{"fingerprints", "postings", "buckets"}``; write fingerprints
    partitioned/bucketed by ``fp``, postings by ``shingle``, buckets by
    ``(band, bucket)`` so the daily joins are co-located reads.  The
    store is only valid for the same (num_hashes, bands, n) it was
    built with; append each day's clean docs to keep it current."""
    fingerprints = (
        history.select(F.md5(text_col).alias("fp"), F.col(id_col).alias("hid"))
        .groupBy("fp")
        .agg(F.min("hid").alias("matched_doc"))
    )
    postings, buckets = _md5_band_buckets(
        history, num_hashes, bands, n, text_col, id_col
    )
    return {"fingerprints": fingerprints, "postings": postings, "buckets": buckets}


def incremental_dedup(
    history: DataFrame | None,
    increment: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
    history_store: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Dedup a corpus INCREMENT against accumulated HISTORY without ever
    re-pairing history with itself — the operational form at 100 TB,
    where the historical corpus is re-processed never and the daily
    increment is small.

    Two tiers, cheap-first:

    * ``exact``  — md5(text) fingerprint equality against history
      (matched_doc = lowest-id history holder, jaccard = 1.0);
    * ``near``   — increment docs not caught above whose md5-family
      MinHash band bucket collides with a history doc, verified by exact
      shingle Jaccard >= threshold; matched_doc = argmax by
      (jaccard DESC, history id ASC).

    Scale shape: candidate generation is the CROSS join of increment
    buckets against history buckets — O(|history| + |increment| x
    collisions), never history x history; in production the history
    side's signatures/buckets are a precomputed store — pass
    ``history_store`` (from :func:`build_history_signature_store`,
    persisted and appended daily) and the history text is never
    re-read or re-hashed; built with the SAME (num_hashes, bands, n).
    Increment-internal duplicates are out of scope by design (run the
    batch pair operators on the increment).

    Output: (doc_id, matched_doc, tier, jaccard) — one row per
    duplicated increment doc.
    """
    if history_store is None:
        if history is None:
            raise ValueError("provide history or history_store")
        history_store = build_history_signature_store(
            history, num_hashes, bands, n, text_col, id_col
        )
    hfp = history_store["fingerprints"]
    exact = (
        increment.select(F.col(id_col), F.md5(text_col).alias("fp"))
        .join(hfp, "fp")
        .select(
            F.col(id_col),
            F.col("matched_doc"),
            F.lit("exact").alias("tier"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    rest = increment.join(exact.select(id_col), id_col, "left_anti")
    post_h, buckets_h = history_store["postings"], history_store["buckets"]
    post_i, buckets_i = _md5_band_buckets(rest, num_hashes, bands, n, text_col, id_col)
    cands = (
        buckets_i.withColumnRenamed(id_col, "doc_a")
        .join(buckets_h.withColumnRenamed(id_col, "doc_b"), ["band", "bucket"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    verified = _score_pairs(
        _candidate_common(cands, post_i, post_h, id_col), post_i, post_h, id_col, threshold
    )
    w = Window.partitionBy("doc_a").orderBy(F.col("jaccard").desc(), F.col("doc_b").asc())
    near = (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_a").alias(id_col),
            F.col("doc_b").alias("matched_doc"),
            F.lit("near").alias("tier"),
            F.col("jaccard"),
        )
    )
    return exact.unionByName(near)


def persist_history_signature_store(
    store: dict[str, DataFrame],
    table_prefix: str,
    num_buckets: int = 32,
) -> dict[str, str]:
    """Persist a :func:`build_history_signature_store` result as BUCKETED
    catalog tables — the IO lever for the store-backed incremental path:
    fingerprints hash-clustered on ``fp`` (the exact-tier join key),
    postings on ``shingle`` and buckets on ``bucket`` (each a subset of
    its join's keys, so the partitioning satisfies the join's clustering
    and the BIG history side joins without an exchange; only the small
    per-batch increment side shuffles).  The bucketing shuffle is paid
    once at store-build time and amortized over every daily run.

    Returns the table names; reload with
    :func:`load_history_signature_store`.  Requires a catalog (bucket
    metadata lives in the metastore) — same constraint as
    plans.lifecycle.write_bucketed.
    """
    from ..plans.lifecycle import write_bucketed

    names = {
        "fingerprints": (f"{table_prefix}_fp", "fp"),
        "postings": (f"{table_prefix}_post", "shingle"),
        "buckets": (f"{table_prefix}_buck", "bucket"),
    }
    for part, (table, key) in names.items():
        write_bucketed(store[part], table, key, num_buckets)
    return {part: table for part, (table, _) in names.items()}


def load_history_signature_store(spark, tables: dict[str, str]) -> dict[str, DataFrame]:
    """Reload a persisted bucketed signature store for
    :func:`incremental_dedup` (pass as ``history_store``)."""
    return {part: spark.table(name) for part, name in tables.items()}


def jaccard_pairs_prefix(
    docs: DataFrame,
    n: int = 3,
    theta_num: int = 2,
    theta_den: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Prefix-filtered exact-Jaccard near-duplicate pairs — the AllPairs /
    PPJoin candidate generation (Bayardo et al. 2007, Xiao et al. 2008)
    that the plain posting-list self-join (:func:`jaccard_pairs`) grows
    out of at corpus scale.

    The prefix-filter theorem: order every document's shingles by one
    GLOBAL canonical order (ascending document frequency, shingle
    tiebreak — rarest first); if Jaccard(a, b) >= theta, the two sets
    must share a shingle within each one's PREFIX of length
    ``n_sh - ceil(theta * n_sh) + 1``.  Joining on prefix postings only
    is therefore LOSSLESS for the >= theta result while shrinking the
    candidate join to the rarest ~(1 - theta) fraction of each posting
    list — the hot (high-df) shingles that make the naive join quadratic
    are exactly the ones prefixes exclude, so this replaces the blunt
    ``max_shingle_df`` cap with an exact filter.  Candidates are then
    verified by counting true intersections via two bounded joins
    against the full posting list (per-candidate work, not per-pair-of-
    corpus).

    ``theta`` is the RATIONAL theta_num/theta_den so the prefix length
    uses exact integer ceil — binary-float ``ceil(theta * n)``
    overshoots for some rational thetas (``ceil((9/11) * 77)`` is 64,
    exact is 63), and an overshot ceil shortens the prefix below the
    theorem's bound, silently dropping borderline pairs.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b and
    jaccard >= theta — identical to ``jaccard_pairs`` without a df cap
    (equality pinned in tests/test_r9_ops.py).
    """
    from pyspark.sql import Window

    if not (0 < theta_num <= theta_den):
        raise ValueError(f"theta must be in (0, 1]: {theta_num}/{theta_den}")
    theta = theta_num / theta_den
    post = shingles(docs, n, text_col, id_col)
    dfreq = post.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sizes = post.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    w = Window.partitionBy(id_col).orderBy("df", "shingle")
    ranked = (
        post.join(dfreq, "shingle")
        .join(sizes, id_col)
        .withColumn("rk", F.row_number().over(w))
    )
    # prefix_len = n_sh - ceil(theta*n_sh) + 1, exact integer ceil
    ceil_tn = (F.lit(theta_num) * F.col("n_sh") + F.lit(theta_den - 1)) / F.lit(
        theta_den
    )
    prefix = ranked.filter(
        F.col("rk")
        <= F.col("n_sh") - F.floor(ceil_tn).cast("long") + 1
    ).select(id_col, "shingle")
    a = prefix.select(F.col(id_col).alias("doc_a"), "shingle")
    b = prefix.select(F.col(id_col).alias("doc_b"), "shingle")
    cand = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    common = _candidate_common(cand, post, post, id_col)
    return _score_pairs(common, post, post, id_col, theta)


# ---------------------------------------------------------------------------
# 5. Exact substring span dedup (Lee et al. 2107.06499, span-removal tier)
# ---------------------------------------------------------------------------


def kgram_fingerprints(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional k-gram fingerprints (id, pos, fp): every word k-gram of
    every document, hashed to a 16-hex-char md5 prefix BEFORE any
    shuffle (the raw gram text never moves — the
    :func:`duplicated_span_coverage` posting discipline).  ``pos`` is
    the 0-based token index of the gram's first token.  Docs shorter
    than ``k`` tokens (or NULL) contribute nothing."""
    toks = tokenize(text_col)
    grams = _gram_array(text_col, k)
    return (
        docs.filter(F.col(text_col).isNotNull() & (F.size(toks) >= k))
        .select(F.col(id_col), F.posexplode(grams).alias("pos0", "gram"))
        .select(
            id_col,
            F.col("pos0").cast("long").alias("pos"),
            F.substring(F.md5("gram"), 1, 16).alias("fp"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    min_span: int = 50,
    gap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicated-substring SPANS via positional fingerprint chains
    — the practical distributed tier of Lee et al.'s suffix-array
    substring dedup (arXiv:2107.06499).  A k-gram occurrence is
    REDUNDANT when it is not the corpus-wide first occurrence of its
    fingerprint (first = min (doc, pos) order, so exactly one copy of
    any duplicated substring survives — the suffix array's keep-one
    semantic).  Per document, redundant positions chain into spans:
    consecutive redundant k-grams whose starts are within ``k + gap``
    tokens merge (CHAIN STITCHING — a long duplicated span with an
    internal edit of <= ``gap`` tokens breaks the k-gram chain locally
    but still merges into ONE span, which the plain 5-gram coverage
    form ``duplicated_span_coverage`` cannot do), and merged spans
    shorter than ``min_span`` tokens are dropped.

    Returns (id, span_start, span_end, span_len) in token units,
    span_end exclusive.

    Scale shape — everything linear in corpus size, no pair generation:
    fingerprint first-occurrence via one hash aggregate of
    min(doc * 2^20 + pos) (map-side partial, skew-immune: a
    boilerplate gram occurring millions of times still folds to one
    row — where a row_number-over-fp window would put every occurrence
    of the hottest gram in one task); the join back on the 16-byte fp
    is sort-merge at worst with AQE skew-splitting; the island merge is
    a doc-keyed window whose partitions are bounded by document length.
    Requires pos < 2^20 (documents of < ~1M tokens — chunk first above
    that, operators.text.chunk_documents)."""
    g = kgram_fingerprints(docs, k=k, text_col=text_col, id_col=id_col)
    occ = g.select(
        id_col,
        "pos",
        "fp",
        (F.col(id_col) * F.lit(1 << 20) + F.col("pos")).alias("ord"),
        # Pin the k-gram position table (r16, guide §5): occ feeds both
        # the firsts aggregate and the join below, and the two consumers
        # cannot share an exchange (the aggregate partial-aggregates
        # before its exchange), so the whole tokenize+explode+hash pass
        # ran TWICE per invocation.  r15 left this recompute-side on a
        # rebuild-vs-exec argument; the direct interleaved A/B says pin:
        # 4.08 -> 2.33 s at sf0.1 and 2.42 -> 2.01 s on a 3x corpus
        # (min-of-4 each, outputs identical).  At cluster scale the
        # materialization is local-disk-backed (the same bytes already
        # hit disk twice as shuffle output either way); use a reliable
        # checkpoint dir where fault-tolerance of the intermediate
        # matters.
    ).localCheckpoint(eager=False)
    # only fingerprints occurring MORE than once can mark an occurrence
    # redundant, so the firsts table keeps just those — the join's build
    # side shrinks from all-distinct-grams to the (typically few-%)
    # duplicated subset, and singleton occurrences drop at the inner
    # join instead of surviving to the ord filter; result identical
    firsts = (
        occ.groupBy("fp")
        .agg(F.min("ord").alias("min_ord"), F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .drop("c")
    )
    red = (
        occ.join(firsts, "fp")
        .filter(F.col("ord") > F.col("min_ord"))
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull()
        | (F.col("pos") - F.lag("pos").over(w) > k + gap),
        1,
    ).otherwise(0)
    grp = red.withColumn("brk", brk).withColumn(
        "island",
        F.sum("brk").over(
            Window.partitionBy(id_col)
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    spans = grp.groupBy(id_col, "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + k).alias("span_end"),
    )
    return spans.filter(
        F.col("span_end") - F.col("span_start") >= min_span
    ).select(
        id_col,
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        (F.col("span_end") - F.col("span_start")).cast("long").alias("span_len"),
    )


def remove_duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    min_span: int = 50,
    gap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span REMOVAL over :func:`duplicate_spans`: every token covered by
    a qualifying duplicated span is dropped from the document; the
    corpus-wide first occurrence of each duplicated substring survives
    (keep-one, not remove-all).  Returns (id, clean_text, n_removed)
    for every non-NULL-text document — untouched docs pass through with
    n_removed = 0, a doc that was a pure duplicate comes back as the
    empty string (downstream length filters prune it).

    The removal itself is a narrow projection: spans arrive as a
    per-doc array via one aggregate + left join, and token filtering is
    a nested higher-order ``filter(toks, (x, i) -> !exists(spans, ...))``
    — no explode of the token array, no Python."""
    spans = duplicate_spans(
        docs, k=k, min_span=min_span, gap=gap, text_col=text_col, id_col=id_col
    )
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    base = docs.filter(F.col(text_col).isNotNull()).join(sp, id_col, "left")
    toks = tokenize(text_col)
    kept = F.filter(
        toks,
        lambda x, i: ~F.coalesce(
            F.exists(
                F.col("spans"),
                lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
            ),
            F.lit(False),
        ),
    )
    return base.select(
        id_col,
        F.array_join(kept, " ").alias("clean_text"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# 9. The composed end-to-end curation job (r14 verdict ask #2)
# ---------------------------------------------------------------------------


def curation_e2e(
    docs: DataFrame,
    span_k: int = 8,
    min_span: int = 50,
    span_gap: int = 8,
    quality_min: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.4,
    max_shingle_df: int = 50,
    budget: int = 10_000,
    stage_hook=None,
) -> DataFrame:
    """The SIX-STAGE curation pipeline a 100 TB training-data run would
    actually submit, composed as ONE job (r14 verdict ask #2 — every
    stage is individually probed at scale, this is the composition
    where skew, spill, and lineage interact):

    1. exact-substring SPAN removal (Lee et al. 2107.06499 §5 ordering:
       span dedup FIRST, so downstream gates judge what remains);
    2. quality gate at ``quality_min`` over the CLEANED text;
    3. md5-fingerprint exact dedup, keep-lowest-id;
    4. MinHash-LSH near-dup keep-best (banded candidates, exact-Jaccard
       verify, transitive closure, quality argmax per cluster);
    5. leakage-safe train/val/test split — the split key is the
       df-capped-Jaccard CONNECTED COMPONENT of the survivor corpus, a
       DIFFERENT candidate tier than stage 4's LSH, so correlated docs
       the banded pass missed still land in one split;
    6. token-budget shard assignment WITHIN each split (three fixed
       calls of the two-pass distributed prefix sum — parameter-bounded
       fan-out, no global single-task window).

    Output: (doc_id, split, n_tokens, cum_tokens, shard_id), one row
    per surviving document.  Oracle-mirrored end to end by the
    ``curation_e2e_composed`` registry row; per-stage shuffle/wall
    accounting at probe scale lives in tools/curation_e2e_probe.py.

    ``stage_hook(name, df)``, when given, is called with each stage's
    OUTPUT DataFrame and must return a DataFrame to feed the next stage
    — the probe uses it to materialize + time stage boundaries without
    changing this plan's shape in production use (hook=None composes
    lazily; Catalyst fuses adjacent narrow stages).
    """
    from .sampling import train_val_test_split
    from .text import quality_score, token_budget_shards

    if stage_hook is None:
        # Checkpoint boundaries the composition itself needs (the r14
        # verdict predicted composition would force them): fpd feeds the
        # LSH signature build, the quality scorer, the component join
        # AND the survivor semi-join; surv feeds the Jaccard tier and
        # the split; split_df fans out into three per-split shard
        # branches.  Unpersisted, Catalyst re-executes the span-removal
        # + gate prefix at every reuse point — measured 80 s -> 11 s at
        # sf0.001 with three persist boundaries.  r15 optimization:
        # localCheckpoint(eager=False) instead of persist — same
        # recompute-avoidance, but it also TRUNCATES the logical plan,
        # so the dozens of downstream actions (two CC loops at ~2 jobs
        # per round, three shard branches) analyze/optimize a LogicalRDD
        # instead of the whole six-stage tree, and the materialized RDD
        # is GC-reclaimed instead of held by the cache manager across
        # invocations.  Interleaved A/B at sf0.1: 17.1 s -> 10.9 s
        # (min-of-3 each), outputs exceptAll-equal.
        reused = {"fingerprint_dedup", "lsh_keep_best", "leakage_safe_split"}
        hook = lambda name, df: (  # noqa: E731
            df.localCheckpoint(eager=False) if name in reused else df
        )
    else:
        hook = stage_hook

    clean = hook(
        "span_removal",
        remove_duplicate_spans(docs, k=span_k, min_span=min_span, gap=span_gap)
        .select("doc_id", F.col("clean_text").alias("text"))
        .filter(F.col("text") != ""),
    )
    gated = hook(
        "quality_gate",
        quality_score(clean)
        .filter(F.col("quality_score") >= quality_min)
        .select("doc_id", "text"),
    )
    fpd = hook("fingerprint_dedup", exact_dedup_keep_first_fp(gated))
    pairs = minhash_lsh_pairs_md5(
        fpd, num_hashes=num_hashes, bands=bands, n=shingle_n, threshold=threshold
    )
    kept = keep_best(fpd, pairs).select("doc_id")
    surv = hook("lsh_keep_best", fpd.join(kept, "doc_id", "left_semi"))
    jp = jaccard_pairs(
        surv, n=shingle_n, threshold=threshold, max_shingle_df=max_shingle_df
    )
    cc = connected_components(jp).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )
    allc = (
        surv.join(cc, "doc_id", "left")
        .withColumn("component", F.coalesce(F.col("component"), F.col("doc_id")))
    )
    split_df = hook(
        "leakage_safe_split",
        train_val_test_split(allc, key_col="component").select(
            "doc_id", "text", "split"
        ),
    )
    sharded = None
    for s in ("train", "val", "test"):
        part = token_budget_shards(
            split_df.filter(F.col("split") == s).select("doc_id", "text"),
            budget=budget,
        ).withColumn("split", F.lit(s))
        sharded = part if sharded is None else sharded.unionByName(part)
    return hook(
        "token_budget_shards",
        sharded.select("doc_id", "split", "n_tokens", "cum_tokens", "shard_id"),
    )
