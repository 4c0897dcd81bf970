"""Hashed NB quality classifier + DSIR importance resampling
(ops/classify.py): cross-validated against an independent pure-Python
model, edge cases (empty/null text, single-class degeneracy),
determinism under repartitioning, and plan shape (broadcast model join,
top-k without a global sort)."""

import hashlib
import math
import re

import pytest
from pyspark.sql import functions as F

from whylogs_spark.core.plan import Plan
from whylogs_spark.ops import classify

K = 512


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", 1),
        (1, "the cat sat on the mat and the dog barked", 1),
        (2, "lorem ipsum dolor sit amet consectetur", 0),
        (3, "buy cheap pills now click here free offer", 0),
        (4, "a clean sentence about science and history", 1),
        (5, "zzz qqq xxx spam spam spam buy buy", 0),
        (6, "", 1),             # empty text
        (7, None, 0),           # null text
        (8, "   ", 1),          # blank text
        (9, "the dog and the fox were friends", 1),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, label int")


def _toks(t):
    t = (t or "").strip().lower()
    return re.split(r"\s+", t) if t else []


def _bkt(w):
    return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % K


def _py_nb(data, smoothing=1.0):
    c1, c0, n1, n0, d1, d0 = {}, {}, 0, 0, 0, 0
    for _, t, y in data:
        d1 += y
        d0 += 1 - y
        for w in _toks(t):
            b = _bkt(w)
            if y:
                c1[b] = c1.get(b, 0) + 1
                n1 += 1
            else:
                c0[b] = c0.get(b, 0) + 1
                n0 += 1
    kk = smoothing * K
    prior = math.log((d1 + 1) / (d0 + 1))
    llr = {b: math.log((c1.get(b, 0) + smoothing) / (n1 + kk))
           - math.log((c0.get(b, 0) + smoothing) / (n0 + kk))
           for b in set(c1) | set(c0)}
    oov = math.log(n0 + kk) - math.log(n1 + kk)
    return prior, llr, oov


def test_classifier_matches_reference_model(spark, corpus):
    model = classify.train_quality_classifier(corpus, n_buckets=K)
    out = {r.doc_id: r for r in
           classify.score_quality_classifier(corpus, model,
                                             n_buckets=K).collect()}
    data = [(r.doc_id, r.text, r.label) for r in corpus.collect()]
    prior, llr, oov = _py_nb(data)
    assert len(out) == len(data)
    for did, t, _ in data:
        want = prior + sum(llr.get(_bkt(w), oov) for w in _toks(t))
        assert out[did].logit == pytest.approx(want, abs=1e-9)
        assert out[did].n_tokens == len(_toks(t))
        assert out[did].prob == pytest.approx(
            1.0 / (1.0 + math.exp(-want)), abs=1e-9)


def test_classifier_empty_docs_score_prior_only(spark, corpus):
    model = classify.train_quality_classifier(corpus, n_buckets=K)
    prior = model.select("prior_llr").first()[0]
    out = {r.doc_id: r for r in
           classify.score_quality_classifier(corpus, model,
                                             n_buckets=K).collect()}
    for did in (6, 7, 8):
        assert out[did].n_tokens == 0
        assert out[did].logit == pytest.approx(prior, abs=1e-12)


def test_classifier_separates_the_toy_classes(spark, corpus):
    model = classify.train_quality_classifier(corpus, n_buckets=K)
    out = {r.doc_id: r.logit for r in
           classify.score_quality_classifier(corpus, model,
                                             n_buckets=K).collect()}
    pos = [out[i] for i in (0, 1, 4, 9)]
    neg = [out[i] for i in (2, 3, 5)]
    assert min(pos) > max(neg)


def test_classifier_deterministic_under_repartition(spark, corpus):
    model = classify.train_quality_classifier(corpus, n_buckets=K)
    a = sorted(classify.score_quality_classifier(
        corpus, model, n_buckets=K).collect())
    b = sorted(classify.score_quality_classifier(
        corpus.repartition(7), model, n_buckets=K).collect())
    assert a == b


def test_classifier_model_is_broadcast_joined(spark, corpus):
    model = classify.train_quality_classifier(corpus, n_buckets=K)
    plan = Plan.of(classify.score_quality_classifier(corpus, model,
                                                     n_buckets=K))
    assert plan.has("BroadcastHashJoin")


def test_dsir_matches_reference_model(spark, corpus):
    target = corpus.filter(F.col("label") == 1)
    out = {r.doc_id: r for r in
           classify.dsir_logweights(corpus, target, n_buckets=K,
                                    smoothing=0.5).collect()}
    data = [(r.doc_id, r.text, r.label) for r in corpus.collect()]
    ct, cr, nt, nr = {}, {}, 0, 0
    for _, t, y in data:
        for w in _toks(t):
            b = _bkt(w)
            cr[b] = cr.get(b, 0) + 1
            nr += 1
            if y:
                ct[b] = ct.get(b, 0) + 1
                nt += 1
    kk = 0.5 * K
    assert len(out) == len(data)
    for did, t, _ in data:
        want = sum(math.log((ct.get(_bkt(w), 0) + 0.5) / (nt + kk))
                   - math.log((cr.get(_bkt(w), 0) + 0.5) / (nr + kk))
                   for w in _toks(t))
        assert out[did].log_weight == pytest.approx(want, abs=1e-9)
    # target-like docs weigh higher than spam docs
    assert out[0].log_weight > out[5].log_weight
    # empty docs get exactly 0
    assert out[6].log_weight == 0.0


def test_dsir_sample_deterministic_and_without_replacement(spark, corpus):
    target = corpus.filter(F.col("label") == 1)
    w = classify.dsir_logweights(corpus, target, n_buckets=K)
    a = [r.doc_id for r in classify.dsir_sample(w, 5).collect()]
    b = [r.doc_id for r in
         classify.dsir_sample(w.repartition(5), 5).collect()]
    assert a == b
    assert len(set(a)) == 5
    # a different salt moves the sample (eventually); keys differ
    ka = classify.dsir_sample(w, 5).select("gumbel_key").collect()
    kb = classify.dsir_sample(w, 5, salt="v2").select(
        "gumbel_key").collect()
    assert ka != kb


def test_dsir_sample_temperature_zero_limit_is_topk_by_weight(spark, corpus):
    target = corpus.filter(F.col("label") == 1)
    w = classify.dsir_logweights(corpus, target, n_buckets=K)
    # tiny temperature: weight/T dominates the O(1) gumbel noise
    got = [r.doc_id for r in classify.dsir_sample(
        w, 3, temperature=1e-9).collect()]
    want = [r.doc_id for r in
            w.orderBy(F.col("log_weight").desc()).limit(3).collect()]
    assert set(got) == set(want)


def test_dsir_sample_plans_as_take_ordered(spark, corpus):
    target = corpus.filter(F.col("label") == 1)
    w = classify.dsir_logweights(corpus, target, n_buckets=K)
    plan = Plan.of(classify.dsir_sample(w, 5))
    # per-partition bounded heaps, not a global sort of the corpus
    # (the only Sort nodes allowed are the <=n_buckets-row model join's)
    assert plan.has("TakeOrderedAndProject")


def test_score_with_empty_model_scores_prior_only(spark):
    """A degenerate model (zero training tokens) must not vanish the
    corpus through an empty cross join: every doc survives with a
    prior-only (0) logit, prob 0.5."""
    from whylogs_spark.ops import classify

    docs = spark.createDataFrame(
        [(0, "hello world"), (1, "")], "doc_id long, text string")
    empty_model = classify.train_quality_classifier(
        spark.createDataFrame(
            [], "doc_id long, text string, label int"),
        n_buckets=64)
    out = {r.doc_id: r for r in classify.score_quality_classifier(
        docs, empty_model, n_buckets=64).collect()}
    assert set(out) == {0, 1}
    assert out[0].prob == pytest.approx(0.5)
    assert out[1].prob == pytest.approx(0.5)
