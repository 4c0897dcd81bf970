"""Incremental (batch-vs-history) exact dedup + declarative Bloom
filter (ops/dedup.py): strategy equivalence, no-false-negative
guarantee, ground-truth parity, and the zero-history-shuffle plan
shape of the bloom strategy."""

import pytest
from pyspark.sql import functions as F

from whylogs_spark.core.plan import Plan, named
from whylogs_spark.ops import dedup


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "alpha beta gamma"),
        (1, "delta epsilon"),
        (2, "ALPHA   beta GAMMA"),   # dup of 0 after normalization
        (3, "unique text one"),
        (4, "delta epsilon"),        # dup of 1
        (5, "unique text two"),
        (6, "unique text two"),      # in-batch dup of 5
        (7, "fresh document"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bloom_filter_no_false_negatives(spark):
    keys = spark.range(0, 2000).select(
        F.xxhash64(F.col("id").cast("string")).alias("k"))
    bloom = dedup.build_bloom_filter(keys, "k", n_bits=1 << 14,
                                     n_hashes=4)
    probed = dedup.bloom_might_contain(keys, bloom, "k",
                                       n_bits=1 << 14, n_hashes=4)
    # every inserted key must test positive
    assert probed.filter(~F.col("might_contain")).count() == 0


def test_bloom_filter_rejects_most_absent_keys(spark):
    keys = spark.range(0, 500).select(
        F.xxhash64(F.col("id").cast("string")).alias("k"))
    bloom = dedup.build_bloom_filter(keys, "k", n_bits=1 << 14,
                                     n_hashes=5)
    absent = spark.range(10_000, 12_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("k"))
    probed = dedup.bloom_might_contain(absent, bloom, "k",
                                       n_bits=1 << 14, n_hashes=5)
    fp = probed.filter(F.col("might_contain")).count()
    # 500 keys in 16384 bits ~ 32 bits/key: fp rate well under 5%
    assert fp < 100


def test_incremental_dedup_ground_truth(spark, corpus):
    hist = corpus.filter(F.col("doc_id") <= 1)      # texts of 0 and 1
    batch = corpus.filter(F.col("doc_id") > 1)
    out = sorted(r.doc_id for r in dedup.incremental_dedup(
        batch, hist).select("doc_id").collect())
    # 2 dups hist(0), 4 dups hist(1), 6 dups in-batch(5)
    assert out == [3, 5, 7]


def test_incremental_dedup_strategies_agree(spark, corpus):
    hist = corpus.filter(F.col("doc_id") % 3 == 0)
    batch = corpus.filter(F.col("doc_id") % 3 != 0)
    a = sorted(r.doc_id for r in dedup.incremental_dedup(
        batch, hist, strategy="shuffle").select("doc_id").collect())
    # tiny filter (64 bits, heavy collisions) must still be exact
    b = sorted(r.doc_id for r in dedup.incremental_dedup(
        batch, hist, strategy="bloom", bloom_bits=64,
        bloom_hashes=2).select("doc_id").collect())
    assert a == b


def test_incremental_dedup_empty_history_is_exact_dedup(spark, corpus):
    empty = corpus.filter(F.lit(False))
    a = sorted(r.doc_id for r in dedup.incremental_dedup(
        corpus, empty).select("doc_id").collect())
    b = sorted(r.doc_id for r in dedup.exact_dedup(
        corpus).select("doc_id").collect())
    assert a == b


def test_incremental_dedup_unknown_strategy_raises(spark, corpus):
    with pytest.raises(ValueError):
        dedup.incremental_dedup(corpus, corpus, strategy="nope")


def test_bloom_strategy_plan_shape(spark, corpus):
    hist = corpus.filter(F.col("doc_id") <= 1)
    batch = corpus.filter(F.col("doc_id") > 1)
    out = dedup.incremental_dedup(batch, hist, strategy="bloom")
    plan = Plan.of(out)
    # probes + suspect resolution ride broadcast joins; the bloom
    # build partial-aggregates bit words before its bounded exchange
    assert plan.has("BroadcastHashJoin")
    assert not plan.has(named("Window"))


# ------------------------------------------- within-document self-dedup

def test_dedup_paragraphs_first_occurrence_order(spark):
    rows = [(1, "a\nb\na\nc\n\nb\nd"), (2, "x"), (3, ""),
            (4, "p\np\np"), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.dedup_paragraphs(df).collect()}
    # dups of a and b removed, first occurrences and blank kept in order
    assert out[1].text_clean == "a\nb\nc\n\nd"
    assert out[1].n_parts == 7 and out[1].n_parts_kept == 5
    assert out[2].text_clean == "x"
    assert out[3].text_clean == ""
    assert out[4].text_clean == "p" and out[4].n_parts_kept == 1
    assert out[5].text_clean is None


def test_dedup_paragraphs_zero_shuffle(spark):
    df = spark.createDataFrame([(1, "a\nb")], "doc_id long, text string")
    out = dedup.dedup_paragraphs(df)
    assert not Plan.of(out).has(named("Exchange"))  # pure projection


# ------------------------------------------------- semantic dedup

def test_semantic_dedup_removes_near_identical_vectors(spark):
    import math
    import random

    rng = random.Random(13)
    rows = []
    # 20 well-separated base directions, each with 3 tiny perturbations
    for g in range(20):
        base = [rng.gauss(0, 1) for _ in range(16)]
        n = math.sqrt(sum(x * x for x in base))
        base = [x / n for x in base]
        for r in range(3):
            v = [x + rng.gauss(0, 1e-4) for x in base]
            nn = math.sqrt(sum(x * x for x in v))
            rows.append((g * 10 + r, [x / nn for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.semantic_dedup(df, threshold=0.999, n_clusters=8,
                               seed=7)
    kept = sorted(r.vec_id for r in out.select("vec_id").collect())
    # survivors: no intra-cluster near-dup pair may remain; every group
    # of 3 collapses to >=1 member, and total shrinks
    assert len(kept) < 60
    assert len(kept) >= 20
    # each base group keeps exactly its minimum id unless a k-means
    # boundary split it (then one per side) — at minimum, min id stays
    for g in range(20):
        assert g * 10 in kept


def test_semantic_dedup_no_duplicates_no_loss(spark):
    import math
    import random

    rng = random.Random(29)
    rows = []
    for i in range(30):
        v = [rng.gauss(0, 1) for _ in range(8)]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / n for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.semantic_dedup(df, threshold=0.9999, n_clusters=4)
    assert out.count() == 30  # random gaussians are never 0.9999-close


def test_dedup_paragraphs_literal_metachar_separator(spark):
    df = spark.createDataFrame(
        [(1, "x||y||x"), (2, "a.b.a")], "doc_id long, text string")
    out = {r.doc_id: r for r in
           dedup.dedup_paragraphs(df, sep="||").collect()}
    assert out[1].text_clean == "x||y"
    assert out[1].n_parts == 3 and out[1].n_parts_kept == 2
    dot = {r.doc_id: r for r in
           dedup.dedup_paragraphs(df, sep=".").collect()}
    assert dot[2].text_clean == "a.b"


def test_minhash_recall_estimate_bands(spark):
    """Recall estimator: planted exact-duplicate groups land in the
    top band with recall 1.0 at default banding; ground-truth pair
    counts match a brute-force python computation on the same sample;
    empty bands report 0 pairs and null recall."""
    from whylogs_spark.ops import dedup as dedup_ops

    base = ("alpha beta gamma delta epsilon zeta eta theta iota "
            "kappa lambda mu nu xi omicron pi rho sigma tau")
    rows = []
    for i in range(300):
        if i % 10 == 0:
            # planted near-identical pair partner for i-1... make
            # explicit pairs: (i, i+1) share text with tiny suffix
            rows.append((i, base + f" shared{i//10}"))
            rows.append((1000 + i, base + f" shared{i//10}"))
        else:
            rows.append((i, f"unique document number {i} " + " ".join(
                f"w{i}_{j}" for j in range(20))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_ops.minhash_recall_estimate(
        df, sample_per_mille=1000, max_sample=10_000,
        band_edges=(0.5, 0.8, 1.0)).collect()
    assert [(r.j_lo, r.j_hi) for r in out] == [(0.5, 0.8), (0.8, 1.0)]
    top = out[-1]
    # identical planted pairs: jaccard 1.0, all must be found
    assert top.n_pairs >= 30
    assert top.n_detected == top.n_pairs
    assert top.recall == pytest.approx(1.0)
    assert 0.0 < top.s_curve_mid <= 1.0
    low = out[0]
    if low.n_pairs == 0:
        assert low.recall is None

    with pytest.raises(ValueError, match="band_edges"):
        dedup_ops.minhash_recall_estimate(df, band_edges=(0.9, 0.5))
    with pytest.raises(ValueError, match="per_mille"):
        dedup_ops.minhash_recall_estimate(df, sample_per_mille=0)


# ------------------------------------------ incremental MinHash dedup

def _sent(words):
    return " ".join(words)


@pytest.fixture(scope="module")
def near_corpus(spark):
    """History (ids 0-2) + batch (ids 10-15) with planted near-dups:
    documents share long word overlaps so word-3-gram Jaccard is high
    for the planted pairs and ~0 otherwise."""
    base = ("the quick brown fox jumps over the lazy dog while rain "
            "falls on the quiet empty street tonight").split()
    other = ("completely different subject matter about spark query "
             "planning and distributed shuffle exchanges at scale").split()
    third = ("a third unrelated document mentioning embeddings "
             "vectors cosine similarity and nearest neighbors").split()
    hist = [(0, _sent(base)), (1, _sent(other)), (2, _sent(third))]
    batch = [
        (10, _sent(base[:-1] + ["today"])),      # near-dup of history 0
        (11, _sent(["fresh"] + other[1:])),      # near-dup of history 1
        (12, _sent(["totally", "novel", "content", "about", "image",
                    "hashing", "and", "perceptual", "fingerprints",
                    "for", "deduplication", "pipelines"])),
        (13, _sent(["totally", "novel", "content", "about", "image",
                    "hashing", "and", "perceptual", "fingerprints",
                    "for", "deduplication", "systems"])),  # near-dup of 12
        (14, _sent(["entirely", "distinct", "fourteenth", "text",
                    "with", "its", "own", "vocabulary", "and",
                    "no", "overlap", "anywhere", "else", "at", "all"])),
    ]
    h = spark.createDataFrame(hist, "doc_id long, text string")
    b = spark.createDataFrame(batch, "doc_id long, text string")
    return h, b


def _jaccard_3gram(a, b):
    def grams(t):
        toks = " ".join(t.lower().split()).split(" ")
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


def test_incremental_minhash_ground_truth(spark, near_corpus):
    h, b = near_corpus
    hist = {r.doc_id: r.text for r in h.collect()}
    batch = {r.doc_id: r.text for r in b.collect()}
    t = 0.5
    expect = set()
    for d, txt in batch.items():
        hit_h = any(_jaccard_3gram(txt, x) >= t for x in hist.values())
        hit_b = any(_jaccard_3gram(txt, batch[a]) >= t
                    for a in batch if a < d)
        if not (hit_h or hit_b):
            expect.add(d)
    got = {r.doc_id for r in dedup.incremental_minhash_dedup(
        b, h, jaccard_threshold=t).collect()}
    assert got == expect
    assert got == {12, 14}  # 10,11 match history; 13 matches 12


def test_incremental_minhash_strategies_agree(spark, near_corpus):
    h, b = near_corpus
    for strat in ("broadcast", "shuffle"):
        got = {r.doc_id for r in dedup.incremental_minhash_dedup(
            b, h, jaccard_threshold=0.5, strategy=strat).collect()}
        assert got == {12, 14}, strat


def test_incremental_minhash_accepts_persisted_index(spark, near_corpus,
                                                     tmp_path):
    h, b = near_corpus
    path = str(tmp_path / "hist_idx")
    dedup.minhash_index(h).write.parquet(path)
    h_idx = spark.read.parquet(path)
    got = {r.doc_id for r in dedup.incremental_minhash_dedup(
        b, h_idx, jaccard_threshold=0.5).collect()}
    assert got == {12, 14}


def test_incremental_minhash_empty_history(spark, near_corpus):
    h, b = near_corpus
    empty = h.filter(F.lit(False))
    got = {r.doc_id for r in dedup.incremental_minhash_dedup(
        b, empty, jaccard_threshold=0.5).collect()}
    # only the in-batch near-dup (13 after 12) drops
    assert got == {10, 11, 12, 14}


def test_incremental_minhash_greedy_not_closure(spark):
    """The documented semantic difference vs minhash_dedup: B2 matching
    only B1 drops even though B1 itself drops (earlier-wins), whereas
    component-closure would keep the component min only."""
    w = ("one two three four five six seven eight nine ten eleven "
         "twelve").split()
    b = spark.createDataFrame(
        [(0, _sent(w)),
         (1, _sent(w[:-1] + ["thirteen"])),
         (2, _sent(w[:-1] + ["thirteen"]))],
        "doc_id long, text string")
    h = b.filter(F.lit(False))
    got = {r.doc_id for r in dedup.incremental_minhash_dedup(
        b, h, jaccard_threshold=0.5).collect()}
    assert got == {0}


def test_incremental_minhash_unknown_strategy(spark, near_corpus):
    h, b = near_corpus
    with pytest.raises(ValueError, match="strategy"):
        dedup.incremental_minhash_dedup(b, h, strategy="bogus")


def test_minhash_index_matches_separate_kernels(spark, near_corpus):
    h, _ = near_corpus
    idx = {r.doc_id: r for r in dedup.minhash_index(h).collect()}
    sigs = {r.doc_id: r.minhash_sig
            for r in dedup.minhash_signatures(h).collect()}
    shs = {r.doc_id: r.shingles
           for r in dedup.shingle_hash_sets(h).collect()}
    for d in sigs:
        assert idx[d].minhash_sig == sigs[d]
        assert sorted(idx[d].shingles) == sorted(shs[d])


def test_minhash_index_finds_planted_pairs(spark, near_corpus):
    """The index's verified pairs hold the fixture's planted near-dups.
    32 bands x 2 rows put the banding catch probability at J=0.5 above
    1-1e-4 (16x4 would genuinely miss borderline pairs ~35% of hash
    families — the miss is a banding property, not a bug)."""
    h, b = near_corpus
    pairs = {(r.id_a, r.id_b) for r in dedup.lsh_pairs_from_index(
        dedup.minhash_index(h.unionByName(b)),
        bands=32, jaccard_threshold=0.5).collect()}
    assert {(0, 10), (1, 11), (12, 13)} <= pairs


def test_cross_source_overlap_matrix(spark):
    base = ("the quick brown fox jumps over the lazy dog while rain "
            "falls on the quiet empty street tonight").split()
    other = ("completely different subject matter about spark query "
             "planning and distributed shuffle exchanges here").split()
    rows = [
        (0, "web", _sent(base)),
        (1, "web", _sent(base[:-1] + ["today"])),    # web-web pair
        (2, "book", _sent(base[:-2] + ["this", "week"])),  # web-book x2
        (3, "book", _sent(other)),
        (4, "web", _sent(["nothing", "like", "anything", "else",
                          "entirely", "novel", "words", "only",
                          "appearing", "once", "in", "corpus"])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, "
                                     "text string")
    got = {(r.group_a, r.group_b): r.n_pairs
           for r in dedup.cross_source_overlap(
               df, jaccard_threshold=0.5, bands=32).collect()}
    # exact-Jaccard ground truth
    texts = {d: t for d, _, t in rows}
    srcs = {d: s for d, s, _ in rows}
    expect = {}
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if _jaccard_3gram(texts[a], texts[b]) >= 0.5:
                key = tuple(sorted((srcs[a], srcs[b])))
                expect[key] = expect.get(key, 0) + 1
    assert got == expect
    assert got[("web", "web")] == 1
    assert got[("book", "web")] == 2
