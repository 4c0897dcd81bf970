"""Deterministic sampling operators (ops/sampling.py): reproducibility
under repartitioning, statistical accuracy at modest n, per-group caps,
and zero-shuffle plan shape for the filter-style ops."""

import pytest
from pyspark.sql import functions as F

from whylogs_spark.core.plan import Plan, named
from whylogs_spark.ops import sampling


@pytest.fixture(scope="module")
def frame(spark):
    return spark.range(0, 40000, 1, 8).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("grp"),
        F.when(F.col("id") % 3 == 0, "en")
         .when(F.col("id") % 3 == 1, "de")
         .otherwise("fr").alias("lang"),
    )


def test_hash_split_fractions_and_determinism(spark, frame):
    out = sampling.hash_split(frame, ["k"],
                              {"train": 0.8, "test": 0.1, "valid": 0.1})
    counts = dict(out.groupBy("split").count().collect())
    assert set(counts) == {"train", "test", "valid"}
    assert counts["train"] / 40000 == pytest.approx(0.8, abs=0.02)
    assert counts["test"] / 40000 == pytest.approx(0.1, abs=0.02)
    # pure function of the key: identical assignment after repartition
    again = sampling.hash_split(frame.repartition(3), ["k"],
                                {"train": 0.8, "test": 0.1, "valid": 0.1})
    diff = (out.select("k", "split")
            .join(again.select("k", F.col("split").alias("s2")), "k")
            .filter(F.col("split") != F.col("s2")).count())
    assert diff == 0


def test_hash_split_dropped_fraction_and_salt(spark, frame):
    out = sampling.hash_split(frame, ["k"], {"sample": 0.25})
    kept = out.filter(F.col("split").isNotNull()).count()
    assert kept / 40000 == pytest.approx(0.25, abs=0.02)
    # a different salt reshuffles membership
    salted = sampling.hash_split(frame, ["k"], {"sample": 0.25}, salt="v2")
    moved = (out.filter(F.col("split").isNotNull()).select("k")
             .join(salted.filter(F.col("split").isNotNull()).select("k"),
                   "k").count())
    assert moved / kept == pytest.approx(0.25, abs=0.03)  # independent


def test_hash_split_validation(spark, frame):
    with pytest.raises(ValueError, match="non-empty"):
        sampling.hash_split(frame, ["k"], {})
    with pytest.raises(ValueError, match="> 1"):
        sampling.hash_split(frame, ["k"], {"a": 0.9, "b": 0.2})


def test_stratified_sample_per_stratum(spark, frame):
    out = sampling.stratified_sample(
        frame, "lang", {"en": 0.5, "de": 0.1}, key_cols=["k"])
    counts = dict(out.groupBy("lang").count().collect())
    base = dict(frame.groupBy("lang").count().collect())
    assert counts["en"] / base["en"] == pytest.approx(0.5, abs=0.03)
    assert counts["de"] / base["de"] == pytest.approx(0.1, abs=0.03)
    assert "fr" not in counts  # default_fraction=0 drops unlisted strata
    # zero shuffle: the sample is a scan-side filter
    assert not Plan.of(out).has(named("Exchange"))


def test_group_sample_caps_and_determinism(spark, frame):
    out = sampling.group_sample(frame, ["grp"], k=3, key_cols=["k"])
    per = out.groupBy("grp").count().collect()
    assert all(r["count"] == 3 for r in per)  # every group has >3 rows
    a = sorted(r["k"] for r in out.collect())
    b = sorted(r["k"] for r in sampling.group_sample(
        frame.repartition(5), ["grp"], k=3, key_cols=["k"]).collect())
    assert a == b
    with pytest.raises(ValueError, match=">= 1"):
        sampling.group_sample(frame, ["grp"], k=0, key_cols=["k"])


def test_group_sample_small_groups_kept_whole(spark):
    df = spark.range(0, 5).select(F.col("id").alias("k"),
                                  F.lit("g").alias("grp"))
    out = sampling.group_sample(df, ["grp"], k=10, key_cols=["k"])
    assert out.count() == 5


def test_group_sample_presalt_equivalent(spark):
    """Two-stage (presalted) top-k must return exactly the single-stage
    sample — same total order in both stages guarantees no winner is
    dropped in stage 1."""
    from pyspark.sql import functions as F

    from whylogs_spark.ops.sampling import group_sample

    df = spark.createDataFrame(
        [(i % 4, i) for i in range(500)], ["g", "id"])
    plain = group_sample(df, ["g"], k=7, key_cols=["id"])
    salted = group_sample(df, ["g"], k=7, key_cols=["id"], presalt=8)
    a = sorted((r["g"], r["id"]) for r in plain.collect())
    b = sorted((r["g"], r["id"]) for r in salted.collect())
    assert a == b
    assert len(a) == 4 * 7
    # stage-1 task bound: the presalted plan's first window keys on
    # (group, bucket), not the group alone
    assert Plan.of(salted).has(None, "__gsb")


def test_pack_chunks_distributed_equivalent(spark):
    """The two-phase distributed prefix sum must produce exactly the
    single-phase offsets/chunk ids — shards spanning several range
    slices included."""
    import random

    from whylogs_spark.ops.sampling import pack_chunks

    rnd = random.Random(5)
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", rnd.randrange(1, 50)) for i in range(400)],
        ["id", "shard", "sz"]).repartition(7)
    plain = pack_chunks(df, "sz", budget=100, shard_cols=["shard"],
                        order_cols=["id"])
    dist = pack_chunks(df, "sz", budget=100, shard_cols=["shard"],
                       order_cols=["id"], distributed=True)
    a = {(r["shard"], r["id"]): (r["chunk_offset"], r["chunk_id"])
         for r in plain.collect()}
    b = {(r["shard"], r["id"]): (r["chunk_offset"], r["chunk_id"])
         for r in dist.collect()}
    assert a == b
    # global (no shard) packing also matches
    g1 = pack_chunks(df, "sz", budget=100, order_cols=["shard", "id"])
    g2 = pack_chunks(df, "sz", budget=100, order_cols=["shard", "id"],
                     distributed=True)
    ga = {(r["shard"], r["id"]): r["chunk_offset"] for r in g1.collect()}
    gb = {(r["shard"], r["id"]): r["chunk_offset"] for r in g2.collect()}
    assert ga == gb


# ------------------------------------------------------------ mix_sources

def test_mix_sources_ground_truth_and_determinism(spark):
    import hashlib
    import math
    import re

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string"))
        .alias("source"),
        F.concat_ws(" ", F.array_repeat(
            F.lit("tok"), ((F.col("id") % 7) + 4).cast("int")))
        .alias("text"),
    )
    weights = {"s0": 0.6, "s1": 0.4}
    out = sampling.mix_sources(df, weights, token_budget=3000)
    got = sorted(r.doc_id for r in out.select("doc_id").collect())
    data = [(r.doc_id, r.source, r.text) for r in df.collect()]
    have = {}
    for _, src, t in data:
        have[src] = have.get(src, 0) + len(re.split(r"\s+", t.strip()))
    keep = []
    for did, src, t in data:
        if src not in weights:
            continue
        frac = min(1.0, weights[src] * 3000 / have[src])
        thr = "g" * 8 if frac >= 1 else \
            format(math.floor(frac * 16 ** 8), "08x")
        if hashlib.md5(str(did).encode()).hexdigest()[:8] < thr:
            keep.append(did)
    assert got == sorted(keep)
    # source s2 (no weight) fully dropped
    assert out.filter(F.col("source") == "s2").count() == 0
    # deterministic under repartitioning
    again = sorted(r.doc_id for r in sampling.mix_sources(
        df.repartition(7), weights, token_budget=3000)
        .select("doc_id").collect())
    assert again == got


def test_mix_sources_hits_target_mixture(spark):
    df = spark.range(0, 20000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 2).cast("string"))
        .alias("source"),
        F.lit("a b c d e f g h i j").alias("text"),  # 10 tokens each
    )
    # each source has 100k tokens; ask for a 70/30 mix of 50k
    out = sampling.mix_sources(df, {"s0": 0.7, "s1": 0.3},
                               token_budget=50_000)
    toks = {r.source: r.n for r in out.groupBy("source").agg(
        (F.count(F.lit(1)) * 10).alias("n")).collect()}
    assert toks["s0"] == pytest.approx(35_000, rel=0.1)
    assert toks["s1"] == pytest.approx(15_000, rel=0.1)


def test_mix_sources_budget_exceeds_corpus_keeps_everything(spark):
    df = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        F.lit("only").alias("source"),
        F.lit("x y z").alias("text"),
    )
    out = sampling.mix_sources(df, {"only": 1.0}, token_budget=10**9)
    assert out.count() == 100


def test_mix_sources_zero_shuffle_of_corpus(spark):
    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.lit("s0").alias("source"),
        F.lit("a b").alias("text"),
    )
    out = sampling.mix_sources(df, {"s0": 1.0}, token_budget=10)
    plan = Plan.of(out)
    # fractions ride a broadcast join (hash normally; constant-folded
    # single-source degenerates to nested-loop); the corpus never
    # exchanges and nothing sorts
    assert plan.has(("BroadcastHashJoin", "BroadcastNestedLoopJoin"))
    assert not plan.has(named("Window", "SortMergeJoin"))


def test_mix_sources_zero_token_source_keeps_everything(spark):
    df = spark.createDataFrame(
        [(0, "s0", 5), (1, "s0", 5), (2, "s1", 0), (3, "s1", 0)],
        "doc_id long, source string, n_tok long")
    out = sampling.mix_sources(df, {"s0": 0.5, "s1": 0.5},
                               token_budget=100, token_col="n_tok")
    # s1 has zero tokens: trivially under target -> all rows kept
    assert out.filter(F.col("source") == "s1").count() == 2


def test_assemble_chunks_order_and_content(spark):
    """Chunk text equals the documents joined in pack order; per-chunk
    counts and char totals check out; order_cols is mandatory."""
    from whylogs_spark.ops.sampling import assemble_chunks, pack_chunks

    rows = [(i, "s1" if i < 6 else "s2",
             f"doc-{i:02d} " + "x" * (30 + i)) for i in range(10)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string")
    df = df.withColumn("n_chars", F.length("text"))
    packed = pack_chunks(df, "n_chars", budget=80,
                         shard_cols=["source"], order_cols=["doc_id"])
    out = assemble_chunks(packed, "text", shard_cols=["source"],
                          order_cols=["doc_id"], separator="|")
    got = {(r.source, r.chunk_id): r for r in out.collect()}

    want_pack = {r.doc_id: (r.source, r.chunk_id)
                 for r in packed.collect()}
    truth = {}
    for i, src, txt in sorted(rows):
        key = want_pack[i]
        truth.setdefault(key, []).append(txt)
    assert set(got) == set(truth)
    for key, texts in truth.items():
        r = got[key]
        joined = "|".join(texts)
        assert r.chunk_text == joined
        assert r.n_docs == len(texts)
        assert r.chunk_chars == len(joined)

    with pytest.raises(ValueError, match="order_cols"):
        assemble_chunks(packed, "text", shard_cols=["source"])


# -------------------------------------------------------- cap_per_group
class TestCapPerGroup:
    def _df(self, spark):
        from pyspark.sql import Row
        rows = [
            # domain a: quality-ordered weights 5, 4, 3 (ids 2, 1, 3)
            Row(doc_id=1, source="a", text="w w w w", q=0.8),   # 4 tok
            Row(doc_id=2, source="a", text="w w w w w", q=0.9),  # 5 tok
            Row(doc_id=3, source="a", text="w w w", q=0.1),     # 3 tok
            # domain b: single giant doc over budget
            Row(doc_id=4, source="b", text=" ".join(["w"] * 50), q=0.5),
            # domain c: empty text weighs 0
            Row(doc_id=5, source="c", text="", q=0.2),
            Row(doc_id=6, source="c", text="w w", q=0.1),
        ]
        return spark.createDataFrame(rows)

    def test_quota_order_and_first_row_guarantee(self, spark):
        from whylogs_spark.ops.sampling import cap_per_group
        out = cap_per_group(self._df(spark), ["source"], budget=8,
                            quality_col="q")
        kept = sorted(r.doc_id for r in out.collect())
        # a: doc 2 (cum_before 0) + doc 1 (cum_before 5) kept; doc 3
        # (cum_before 9) dropped. b: giant doc kept (exclusive rule).
        # c: doc 5 (0 weight) + doc 6 (cum_before 0).
        assert kept == [1, 2, 4, 5, 6]

    def test_weight_col_and_id_order(self, spark):
        from whylogs_spark.ops.sampling import cap_per_group
        df = spark.createDataFrame(
            [(1, "a", 6.0), (2, "a", 6.0), (3, "a", 6.0)],
            "doc_id int, source string, w double")
        out = cap_per_group(df, ["source"], budget=12, weight_col="w")
        assert sorted(r.doc_id for r in out.collect()) == [1, 2]

    def test_null_weight_counts_zero(self, spark):
        from whylogs_spark.ops.sampling import cap_per_group
        df = spark.createDataFrame(
            [(1, "a", None), (2, "a", 5.0)],
            "doc_id int, source string, w double")
        out = cap_per_group(df, ["source"], budget=4, weight_col="w")
        assert sorted(r.doc_id for r in out.collect()) == [1, 2]

    def test_distributed_matches_single_phase(self, spark, documents):
        from whylogs_spark.ops.sampling import cap_per_group
        base = documents.select("doc_id", "source", "text")
        a = cap_per_group(base, ["source"], budget=500)
        b = cap_per_group(base, ["source"], budget=500,
                          distributed=True)
        ids_a = sorted(r.doc_id for r in a.collect())
        ids_b = sorted(r.doc_id for r in b.collect())
        assert ids_a == ids_b
        assert 0 < len(ids_a) < base.count()

    def test_distributed_quality_matches_single_phase(self, spark):
        from whylogs_spark.ops.sampling import cap_per_group
        import random
        rng = random.Random(7)
        rows = [(i, f"s{i % 3}", " ".join(["w"] * rng.randint(1, 9)),
                 round(rng.random(), 3)) for i in range(200)]
        df = spark.createDataFrame(
            rows, "doc_id int, source string, text string, q double")
        a = cap_per_group(df, ["source"], budget=60, quality_col="q")
        b = cap_per_group(df, ["source"], budget=60, quality_col="q",
                          distributed=True)
        assert sorted(r.doc_id for r in a.collect()) \
            == sorted(r.doc_id for r in b.collect())

    def test_validation(self, spark):
        from whylogs_spark.ops.sampling import cap_per_group
        df = spark.createDataFrame([(1, "a", "t")],
                                   "doc_id int, source string, text string")
        import pytest
        with pytest.raises(ValueError, match="group_cols"):
            cap_per_group(df, [], budget=1)
        with pytest.raises(ValueError, match="id_cols"):
            cap_per_group(df, ["source"], budget=1, id_cols=[])


# ------------------------------------------------------ balance_classes
class TestBalanceClasses:
    def test_downsample_to_min(self, spark):
        from whylogs_spark.ops.sampling import balance_classes
        rows = ([(i, "big") for i in range(20)]
                + [(100 + i, "small") for i in range(3)])
        df = spark.createDataFrame(rows, "doc_id int, lang string")
        out = balance_classes(df, ["lang"])
        counts = {r.lang: r["count"] for r in
                  out.groupBy("lang").count().collect()}
        assert counts == {"big": 3, "small": 3}

    def test_deterministic_and_nested(self, spark):
        from whylogs_spark.ops.sampling import balance_classes
        rows = ([(i, "a") for i in range(30)]
                + [(100 + i, "b") for i in range(10)])
        df = spark.createDataFrame(rows, "doc_id int, lang string")
        ids1 = sorted(r.doc_id for r in
                      balance_classes(df, ["lang"]).collect())
        ids2 = sorted(r.doc_id for r in
                      balance_classes(df.repartition(7), ["lang"])
                      .collect())
        assert ids1 == ids2
        # superset consistency: target=5 result contains target=3
        k5 = set(r.doc_id for r in
                 balance_classes(df, ["lang"], target=5).collect())
        k3 = set(r.doc_id for r in
                 balance_classes(df, ["lang"], target=3).collect())
        assert k3 <= k5

    def test_explicit_target_keeps_small_classes_whole(self, spark):
        from whylogs_spark.ops.sampling import balance_classes
        rows = [(1, "a"), (2, "a"), (3, "b")]
        df = spark.createDataFrame(rows, "doc_id int, lang string")
        out = balance_classes(df, ["lang"], target=2)
        counts = {r.lang: r["count"] for r in
                  out.groupBy("lang").count().collect()}
        assert counts == {"a": 2, "b": 1}

    def test_validation(self, spark):
        from whylogs_spark.ops.sampling import balance_classes
        import pytest
        df = spark.createDataFrame([(1, "a")], "doc_id int, lang string")
        with pytest.raises(ValueError, match="class_cols"):
            balance_classes(df, [])
        with pytest.raises(ValueError, match="key_cols"):
            balance_classes(df, ["lang"], key_cols=[])
        with pytest.raises(ValueError, match="target"):
            balance_classes(df, ["lang"], target=0)
