"""Round-11 batch 8: multiclass report and temperature scaling — vs
numpy references."""

import numpy as np
import pytest

from whylogs_spark.ops.multiclass import (multiclass_report,
                                          temperature_scaling,
                                          temperature_score_cols)

RNG = np.random.RandomState(61)


class TestMulticlassReport:
    def test_matches_sklearn_style_reference(self, spark):
        n = 600
        y = RNG.randint(0, 3, n)
        pred = np.where(RNG.uniform(size=n) < 0.7, y,
                        RNG.randint(0, 3, n))
        df = spark.createDataFrame(
            [(f"c{a}", f"c{b}") for a, b in zip(y, pred)],
            "t string, p string")
        out = {r["class"]: r for r in
               multiclass_report(df, "t", "p").collect()}
        precs, recs, f1s = [], [], []
        for c in range(3):
            tp = int(((y == c) & (pred == c)).sum())
            fp = int(((y != c) & (pred == c)).sum())
            fn = int(((y == c) & (pred != c)).sum())
            r = out[f"c{c}"]
            assert r["tp"] == tp and r["fp"] == fp and r["fn"] == fn
            assert r["support"] == int((y == c).sum())
            prec = tp / (tp + fp) if tp + fp else None
            rec = tp / (tp + fn) if tp + fn else None
            assert abs(r["precision"] - prec) < 1e-12
            assert abs(r["recall"] - rec) < 1e-12
            f1 = 2 * prec * rec / (prec + rec)
            assert abs(r["f1"] - f1) < 1e-12
            precs.append(prec)
            recs.append(rec)
            f1s.append(f1)
        assert abs(out["__macro__"]["f1"] - np.mean(f1s)) < 1e-12
        acc = float((y == pred).mean())
        assert abs(out["__micro__"]["precision"] - acc) < 1e-12
        assert abs(out["__micro__"]["recall"] - acc) < 1e-12
        assert out["__micro__"]["support"] == n

    def test_unpredicted_class_zero_precision_row(self, spark):
        df = spark.createDataFrame(
            [("a", "b"), ("b", "b"), ("a", "b")], "t string, p string")
        out = {r["class"]: r for r in
               multiclass_report(df, "t", "p").collect()}
        assert out["a"]["tp"] == 0 and out["a"]["recall"] == 0.0
        assert out["a"]["precision"] is None  # never predicted


def _softmax(z, t=1.0):
    z = z / t
    z = z - z.max(axis=1, keepdims=True)
    e = np.exp(z)
    return e / e.sum(axis=1, keepdims=True)


class TestTemperatureScaling:
    def test_recovers_known_temperature(self, spark):
        # well-calibrated logits at T*=2.5: draw labels from
        # softmax(z/2.5), then fitting T on those labels must land
        # near 2.5 and reduce NLL vs T=1
        n, k = 4000, 4
        z = RNG.normal(0, 2.0, (n, k))
        probs = _softmax(z, 2.5)
        y = np.array([RNG.choice(k, p=p) for p in probs])
        df = spark.createDataFrame(
            [(int(a),) + tuple(float(x) for x in row)
             for a, row in zip(y, z)],
            "y int, s0 double, s1 double, s2 double, s3 double")
        m = temperature_scaling(df, ["s0", "s1", "s2", "s3"], "y")
        assert m["n"] == n
        assert 1.8 < m["temperature"] < 3.5
        assert m["nll_after"] < m["nll_before"] - 0.01
        # NLL at the fitted T matches numpy
        nll = -np.log(_softmax(z, m["temperature"])[np.arange(n), y])
        assert abs(m["nll_after"] - nll.mean()) < 1e-9
        # calibrated probabilities sum to 1 and match numpy softmax
        probs_cols = temperature_score_cols(m, ["s0", "s1", "s2",
                                                "s3"])
        row = df.select(*[p.alias(f"p{i}") for i, p in
                          enumerate(probs_cols)]).first()
        want = _softmax(z[:1], m["temperature"])[0]
        got = np.array([row[f"p{i}"] for i in range(4)])
        assert np.abs(got - want).max() < 1e-12

    def test_validations(self, spark):
        df = spark.createDataFrame([(0, 1.0)], "y int, s0 double")
        with pytest.raises(ValueError):
            temperature_scaling(df, ["s0"], "y")
