"""corpus_stats dataset card + embedding_dim_stats tensor profile."""

import math
import re

import pytest
from pyspark.sql import functions as F

from whylogs_spark.core.plan import Plan, named
from whylogs_spark.core.embeddings import embedding_dim_stats
from whylogs_spark.ops.text import BPE_TOKEN_PATTERN, corpus_stats


class TestCorpusStats:
    def test_matches_reference_impl(self, spark):
        rows = [
            ("web", "en", "hello world hello"),
            ("web", "en", "  Hello   WORLD hello "),  # dup after norm
            ("web", "en", "something else entirely"),
            ("web", "de", "hallo welt"),
            ("book", "en", ""),
        ]
        df = spark.createDataFrame(rows, ["source", "lang", "text"])
        got = {(r.source, r.lang): r for r in corpus_stats(
            df, group_cols=["source", "lang"]).collect()}

        web_en = got[("web", "en")]
        assert web_en.n_docs == 3
        assert web_en.n_chars == sum(len(t) for _, _, t in rows[:3])
        assert web_en.n_tokens == 3 + 3 + 3
        assert web_en.n_distinct_texts == 2
        assert web_en.dup_ratio == pytest.approx(round(1 - 2 / 3, 6))
        exp_bpe = sum(len(re.findall(
            r"'(?:s|t|re|ve|m|ll|d)| ?[^\W\d_]+| ?\d+| ?[^\s\w]+",
            t)) for _, _, t in rows[:3])
        # sanity only: python re lacks \p classes; counts agree on
        # plain ASCII words
        assert web_en.n_bpe_tokens == exp_bpe

        empty = got[("book", "en")]
        assert empty.n_tokens == 0 and empty.n_docs == 1
        assert empty.dup_ratio == 0.0

    def test_no_groups_single_row(self, spark, documents):
        out = corpus_stats(documents).collect()
        assert len(out) == 1
        assert out[0].n_docs == documents.count()

    def test_no_raw_text_in_exchange(self, spark, documents):
        plan = Plan.of(corpus_stats(documents, group_cols=["source"]))
        assert plan.has(named("Exchange"))
        assert not plan.has(named("Exchange"), "text#")


class TestEmbeddingDimStats:
    def test_matches_reference_impl(self, spark):
        vecs = [
            (0, [1.0, 2.0, 3.0]),
            (1, [2.0, 4.0, None]),
            (2, None),                  # null vector skipped
            (3, [3.0, 6.0, 9.0]),
        ]
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>")
        got = {r.dim: r for r in embedding_dim_stats(df).collect()}
        assert set(got) == {0, 1, 2}
        d0 = got[0]
        assert d0.n == 3
        assert d0.mean == pytest.approx(2.0)
        assert d0.stddev == pytest.approx(1.0)
        assert (d0.min_val, d0.max_val) == (1.0, 3.0)
        d2 = got[2]  # null element excluded
        assert d2.n == 2
        assert d2.mean == pytest.approx(6.0)
        vals = [3.0, 9.0]
        sd = math.sqrt(sum((v - 6.0) ** 2 for v in vals) / (len(vals) - 1))
        assert d2.stddev == pytest.approx(round(sd, 6))

    def test_float32_cast_before_agg(self, spark, embeddings):
        out = embedding_dim_stats(embeddings).collect()
        assert len(out) == 64
        for r in out:
            assert r.n > 0 and r.min_val <= r.mean <= r.max_val

    def test_partial_agg_before_exchange(self, spark, embeddings):
        plan = Plan.of(embedding_dim_stats(embeddings))
        assert plan.count(named("HashAggregate")) >= 2
        assert plan.has(named("Exchange"))


class TestHistogramExact:
    def test_known_values(self, spark):
        df = spark.createDataFrame(
            [(float(i),) for i in range(10)], "x double")
        from whylogs_spark.core.summaries import histogram_exact

        out = histogram_exact(df, "x", n_bins=5).collect()
        assert [r.bin for r in out] == [0, 1, 2, 3, 4]
        assert [r.n for r in out] == [2, 2, 2, 2, 2]  # max -> last bin
        assert out[0].bin_start == 0.0
        assert out[-1].bin_end == 9.0

    def test_constant_column_and_empty_bins(self, spark):
        from whylogs_spark.core.summaries import histogram_exact

        df = spark.createDataFrame([(5.0,)] * 7, "x double")
        out = histogram_exact(df, "x", n_bins=4).collect()
        assert [r.n for r in out] == [7, 0, 0, 0]

    def test_pinned_bounds_exclude_out_of_range(self, spark):
        from whylogs_spark.core.summaries import histogram_exact

        df = spark.createDataFrame(
            [(v,) for v in (-5.0, 0.0, 2.5, 9.9, 15.0)], "x double")
        out = histogram_exact(df, "x", n_bins=2, lo=0.0, hi=10.0)
        rows = out.collect()
        assert sum(r.n for r in rows) == 3
        assert rows[0].bin_start == 0.0 and rows[1].bin_end == 10.0

    def test_null_nan_excluded(self, spark):
        from whylogs_spark.core.summaries import histogram_exact

        df = spark.createDataFrame(
            [(1.0,), (None,), (float("nan"),), (2.0,)], "x double")
        out = histogram_exact(df, "x", n_bins=2).collect()
        assert sum(r.n for r in out) == 2

    def test_n_bins_validated(self, spark):
        from whylogs_spark.core.summaries import histogram_exact

        df = spark.createDataFrame([(1.0,)], "x double")
        with pytest.raises(ValueError):
            histogram_exact(df, "x", n_bins=0)

    def test_empty_input_yields_spine(self, spark):
        from whylogs_spark.core.summaries import histogram_exact

        df = spark.createDataFrame([], "x double")
        out = histogram_exact(df, "x", n_bins=3).collect()
        assert [r.n for r in out] == [0, 0, 0]


# ------------------------------------------------ n-gram diversity

def test_ngram_diversity_matches_reference(spark):
    import math
    from collections import Counter

    from whylogs_spark.ops.text import ngram_diversity

    rows = [("s1", "the cat sat on the mat"), ("s1", "the cat ran"),
            ("s2", "a a a a"), ("s2", "   "), ("s2", "b")]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {(r.source, r.n): r for r in
           ngram_diversity(df, "text", "source", ns=(1, 2, 3))
           .collect()}

    def ref(texts, n):
        grams = []
        for t in texts:
            ws = t.strip().lower().split()
            if not ws:
                continue
            grams += (ws if n == 1 else
                      [" ".join(ws[i:i + n])
                       for i in range(len(ws) - n + 1)])
        c = Counter(grams)
        big = sum(c.values())
        ent = math.log2(big) - sum(
            v * math.log2(v) for v in c.values()) / big
        return big, len(c), ent

    data = {"s1": ["the cat sat on the mat", "the cat ran"],
            "s2": ["a a a a", "   ", "b"]}
    for (src, n), r in out.items():
        big, dis, ent = ref(data[src], n)
        assert (r.n_total, r.n_distinct) == (big, dis), (src, n)
        assert r.entropy == pytest.approx(ent, abs=1e-12)
        assert r.distinct_ratio == pytest.approx(dis / big)
    # repetitive source: distinct-2 collapses, entropy 0
    assert out[("s2", 2)].n_distinct == 1
    assert out[("s2", 2)].entropy == 0.0
    with pytest.raises(ValueError, match="ns"):
        ngram_diversity(df, ns=[])
    with pytest.raises(ValueError, match="ns"):
        ngram_diversity(df, ns=[0])


def test_ngram_diversity_global(spark):
    from whylogs_spark.ops.text import ngram_diversity

    df = spark.createDataFrame(
        [("x y",), ("x y",)], "text string")
    out = {r.n: r for r in ngram_diversity(df, ns=(1, 2)).collect()}
    assert out[1].n_total == 4 and out[1].n_distinct == 2
    assert out[2].n_total == 2 and out[2].n_distinct == 1
