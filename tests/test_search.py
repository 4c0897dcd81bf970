"""BM25 retrieval, readability, and PMI collocations.

Each operator is verified against an independent pure-Python
re-implementation over the same rows (not against the Spark plan).
"""

import math
import re

import pytest
from pyspark.sql import functions as F

from whylogs_spark.core.plan import Plan, named
from whylogs_spark.ops.search import bm25_search, keyword_match_stats
from whylogs_spark.ops.text import pmi_collocations, with_readability


def _toks(text, min_len=2):
    return [t for t in re.findall("[a-z0-9]+", text.lower())
            if len(t) >= min_len]


def _bm25_ref(rows, query_terms, k1=1.2, b=0.75):
    docs = {r["doc_id"]: _toks(r["text"]) for r in rows}
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    dfreq = {q: sum(1 for t in docs.values() if q in t)
             for q in query_terms}
    scores = {}
    for did, toks in docs.items():
        s = 0.0
        for q in set(query_terms):
            tf = toks.count(q)
            if tf == 0 or dfreq[q] == 0:
                continue
            idf = math.log(1 + (n - dfreq[q] + 0.5) / (dfreq[q] + 0.5))
            s += idf * tf / (tf + k1 * (1 - b + b * len(toks) / avgdl))
        if s > 0:
            scores[did] = round(s, 6)
    return scores


class TestBM25:
    def test_matches_reference_impl(self, spark, documents):
        rows = [r.asDict() for r in
                documents.select("doc_id", "text").collect()]
        ref = _bm25_ref(rows, ["spark", "query", "window"])
        got = bm25_search(documents, "Spark QUERY window", k=10).collect()
        expected = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        assert [(r.doc_id, r.score) for r in got] == expected

    def test_repeated_query_terms_count_once(self, spark, documents):
        a = bm25_search(documents, "spark spark spark", k=5).collect()
        b = bm25_search(documents, "spark", k=5).collect()
        assert [(r.doc_id, r.score) for r in a] == \
            [(r.doc_id, r.score) for r in b]

    def test_no_match_returns_empty(self, spark, documents):
        assert bm25_search(documents, "zzzqqqxxx", k=5).count() == 0

    def test_empty_query_raises(self, spark, documents):
        with pytest.raises(ValueError):
            bm25_search(documents, "  ! ")

    def test_takeordered_plan(self, spark, documents):
        plan = Plan.of(bm25_search(documents, "spark query", k=5))
        assert plan.has("TakeOrderedAndProject")
        assert not plan.has("Sort")

    def test_keyword_match_stats(self, spark, documents):
        rows = [r.asDict() for r in
                documents.select("doc_id", "text").collect()]
        occ = sum(_toks(r["text"]).count("spark") for r in rows)
        nd = sum(1 for r in rows if "spark" in _toks(r["text"]))
        got = keyword_match_stats(documents, ["Spark", "!"]).collect()
        assert len(got) == 1
        assert (got[0].term, got[0].occurrences, got[0].n_docs) == \
            ("spark", occ, nd)

    def test_keyword_no_valid_terms_raises(self, spark, documents):
        with pytest.raises(ValueError):
            keyword_match_stats(documents, ["!", "?"])


class TestReadability:
    def test_matches_reference_impl(self, spark):
        texts = [
            "The cat sat on the mat. It was happy!",
            "Antidisestablishmentarianism notwithstanding, heuristic "
            "approximations suffice.",
            "",
            "...",
            "xyz 123",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
        got = {r.doc_id: r for r in with_readability(df).collect()}
        for i, t in enumerate(texts):
            lc = t.lower()
            w = len(re.findall("[a-z0-9]+", lc))
            aw = len(re.findall("[a-z]+", lc))
            s = max(len(re.findall(r"[.!?]+", lc)), 1)
            syl = max(len(re.findall("[aeiouy]+", lc)), aw)
            r = got[i]
            assert r.n_words == w
            if w == 0:
                assert r.flesch_reading_ease is None
                assert r.fk_grade is None
                assert r.n_sentences == 0 and r.n_syllables == 0
            else:
                assert r.n_sentences == s and r.n_syllables == syl
                ease = 206.835 - 1.015 * w / s - 84.6 * syl / w
                grade = 0.39 * w / s + 11.8 * syl / w - 15.59
                assert r.flesch_reading_ease == pytest.approx(
                    round(ease, 4))
                assert r.fk_grade == pytest.approx(round(grade, 4))

    def test_simple_text_reads_easier(self, spark):
        df = spark.createDataFrame(
            [(0, "The dog ran. The cat sat. It was fun."),
             (1, "Institutional paradigmatic heterogeneity "
                 "necessitates multidimensional recalibration "
                 "of infrastructural methodologies.")],
            ["doc_id", "text"])
        got = {r.doc_id: r for r in with_readability(df).collect()}
        assert got[0].flesch_reading_ease > got[1].flesch_reading_ease
        assert got[0].fk_grade < got[1].fk_grade

    def test_zero_shuffle_plan(self, spark, documents):
        assert not Plan.of(with_readability(documents)).has(
            named("Exchange"))


class TestPMI:
    def test_matches_reference_impl(self, spark, documents):
        rows = [r.text for r in documents.select("text").collect()]
        from collections import Counter

        uni, pc = Counter(), Counter()
        n_pairs = 0
        for t in rows:
            toks = re.findall("[a-z0-9]+", t.lower())
            uni.update(toks)
            pc.update(zip(toks, toks[1:]))
            n_pairs += max(len(toks) - 1, 0)
        n_tok = sum(uni.values())
        ref = []
        for (w1, w2), c12 in pc.items():
            if c12 < 3:
                continue
            pmi = (math.log(c12 / n_pairs)
                   - math.log(uni[w1] / n_tok)
                   - math.log(uni[w2] / n_tok))
            ref.append((w1, w2, c12, round(pmi, 6)))
        ref.sort(key=lambda r: (-r[3], r[0], r[1]))
        got = pmi_collocations(documents, k=10, min_count=3).collect()
        assert [(r.w1, r.w2, r.c12, r.pmi) for r in got] == ref[:10]

    def test_min_count_filters(self, spark):
        df = spark.createDataFrame(
            [(0, "alpha beta alpha beta alpha beta gamma delta")],
            ["doc_id", "text"])
        got = pmi_collocations(df, k=10, min_count=3).collect()
        assert {(r.w1, r.w2) for r in got} == {("alpha", "beta")}
        assert got[0].c12 == 3

    def test_short_docs_contribute_no_pairs(self, spark):
        df = spark.createDataFrame(
            [(0, "solo"), (1, ""), (2, "a b a b a b")],
            ["doc_id", "text"])
        got = pmi_collocations(df, k=10, min_count=2).collect()
        pairs = {(r.w1, r.w2) for r in got}
        assert all("solo" not in p for p in pairs)
