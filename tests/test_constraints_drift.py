"""Constraints + drift (reference: python/tests/core/constraints/,
python/tests/viz/drift/test_column_drift_algorithm.py)."""

import numpy as np
import pytest

import whylogs_spark as wsp
from whylogs_spark.core import constraints as C
from whylogs_spark.core import drift
from whylogs_spark.core.sketches import FrequentStringsSketch, KllSketch


@pytest.fixture(scope="module")
def li_view(lineitem):
    return wsp.profile(lineitem).cache()


def test_constraints_pass_fail(li_view):
    report = (
        C.ConstraintsBuilder(li_view)
        .add(C.no_missing_values("l_orderkey"))
        .add(C.is_non_negative("l_quantity"))
        .add(C.mean_between_range("l_quantity", 20, 30))
        .add(C.mean_between_range("l_quantity", 100, 200))   # should fail
        .add(C.is_in_range("l_discount", 0.0, 0.2))
        .add(C.distinct_number_in_range("l_returnflag", 1, 5))
        .add(C.column_is_probably_unique("l_orderkey"))      # not unique
        .add(C.column_has_non_zero_types("l_returnflag", ["string"]))
        .add(C.column_is_nullable_integral("l_orderkey"))
        .add(C.no_missing_values("not_a_column"))            # missing col
        .build()
        .report()
    )
    by_name = {name: passed for name, passed, _ in report}
    assert by_name["l_orderkey has no missing values"] == 1
    assert by_name["l_quantity is non negative"] == 1
    assert by_name["l_quantity mean between 20 and 30 (inclusive)"] == 1
    assert by_name["l_quantity mean between 100 and 200 (inclusive)"] == 0
    assert by_name["l_discount is in range [0.0,0.2]"] == 1
    assert by_name["l_orderkey is probably unique"] == 0
    assert by_name["l_orderkey is nullable integral"] == 1
    assert by_name["not_a_column has no missing values"] == 0


def test_frequent_items_constraint(li_view):
    rep = (
        C.ConstraintsBuilder(li_view)
        .add(C.frequent_strings_in_reference_set(
            "l_returnflag", ["A", "N", "R"]))
        .add(C.frequent_strings_in_reference_set("l_returnflag", ["A"]))
        .build().report()
    )
    assert rep[0][1] == 1
    assert rep[1][1] == 0


def test_ks_same_distribution_high_p():
    rng = np.random.default_rng(7)
    a, b = KllSketch(256), KllSketch(256)
    a.update_batch(rng.normal(0, 1, 50_000))
    b.update_batch(rng.normal(0, 1, 50_000))
    d, p = drift.ks_test_from_sketches(a, b)
    # two k=256 sketches each carry ~1/k normalized rank-error std, so the
    # D-stat of identical distributions is ~1% even with infinite data
    assert d < 0.02
    assert p > 0.15


def test_ks_shifted_distribution_low_p():
    rng = np.random.default_rng(8)
    a, b = KllSketch(256), KllSketch(256)
    a.update_batch(rng.normal(0, 1, 50_000))
    b.update_batch(rng.normal(0.5, 1, 50_000))
    d, p = drift.ks_test_from_sketches(a, b)
    assert d > 0.15
    assert p < 0.05


def test_chi2_sf_reference_values():
    # chi2 sf(x=3.84, dof=1) ~ 0.05; sf(x=0, dof=k) = 1
    assert drift.chi2_sf(3.841, 1) == pytest.approx(0.05, abs=0.002)
    assert drift.chi2_sf(0.0, 5) == pytest.approx(1.0)
    assert drift.chi2_sf(15.09, 5) == pytest.approx(0.01, abs=0.002)


def test_hellinger_bounds():
    rng = np.random.default_rng(9)
    a, b, c = KllSketch(256), KllSketch(256), KllSketch(256)
    a.update_batch(rng.normal(0, 1, 20_000))
    b.update_batch(rng.normal(0, 1, 20_000))
    c.update_batch(rng.normal(10, 0.1, 20_000))
    near = drift.hellinger_from_sketches(a, b)
    far = drift.hellinger_from_sketches(a, c)
    assert 0 <= near < 0.15
    assert far > 0.8


def test_chi2_frequent_items_drift():
    a = FrequentStringsSketch()
    b = FrequentStringsSketch()
    a.update_batch(["x"] * 500 + ["y"] * 400 + ["z"] * 100)
    b.update_batch(["x"] * 500 + ["y"] * 400 + ["z"] * 100)
    stat, p = drift.chi2_from_frequent_items(a, b)
    assert p > 0.9
    c = FrequentStringsSketch()
    c.update_batch(["x"] * 100 + ["y"] * 100 + ["z"] * 800)
    stat2, p2 = drift.chi2_from_frequent_items(a, c)
    assert p2 < 0.01


def test_profile_drift_end_to_end(lineitem):
    a = wsp.profile(lineitem.filter("l_extendedprice < 50000"))
    b = wsp.profile(lineitem.filter("l_extendedprice >= 50000"))
    scores = drift.calculate_drift_scores(a, b)
    by_col = {s.column: s for s in scores}
    assert by_col["l_extendedprice"].category == "DRIFT"
    # quantity is independent of the price split -> no drift
    assert by_col["l_quantity"].category in ("NO_DRIFT", "POSSIBLE_DRIFT")
    # categorical chi2 path exists for string columns
    assert "l_returnflag" in by_col
    assert by_col["l_returnflag"].algorithm == "chi2"


def test_condition_count_constraints(spark, lineitem):
    import whylogs_spark as wsp
    from pyspark.sql import functions as F
    from whylogs_spark.core import conditions as C
    from whylogs_spark.core import constraints as K

    cfg = wsp.MetricConfig(quantile_impl="none", frequent_items_impl="none")
    view = wsp.profile(lineitem, columns=["l_quantity"], config=cfg)
    view2 = C.attach_condition_counts(view, lineitem, "l_quantity", {
        "positive": F.col("l_quantity") > 0,
        "huge": F.col("l_quantity") > 1e12,
    })
    cs = (K.ConstraintsBuilder(view2)
          .add(K.condition_meets("l_quantity", "positive"))
          .add(K.condition_never_meets("l_quantity", "huge"))
          .add(K.condition_count_below("l_quantity", "huge", 1))
          .add(K.condition_meets("l_quantity", "huge"))
          .build())
    rep = {name: passed for name, passed, _ in cs.report()}
    assert rep["l_quantity meets condition positive"] == 1
    assert rep["l_quantity never meets condition huge"] == 1
    assert rep["l_quantity huge count below 1"] == 1
    assert rep["l_quantity meets condition huge"] == 0


def test_generate_constraints_pass_on_source(li_view):
    from whylogs_spark.core.constraints import (
        ConstraintsBuilder, generate_constraints)

    gens = generate_constraints(li_view)
    assert len(gens) >= 10
    b = ConstraintsBuilder(li_view)
    for g in gens:
        b.add(g)
    rep = b.build().report()
    assert all(passed for _, passed, _ in rep)


def test_comparison_constraints(spark, lineitem):
    """DatasetComparisonConstraint parity (reference
    metric_constraints.py:203): predicates over a (reference, target)
    profile pair."""
    from whylogs_spark.core import constraints as C

    cfg = wsp.MetricConfig(quantile_impl="none", frequent_items_impl="none",
                           cardinality_impl="approx")
    ref = wsp.profile(lineitem.filter("l_orderkey % 2 = 0"),
                      columns=["l_quantity"], config=cfg)
    tgt = wsp.profile(lineitem.filter("l_orderkey % 2 = 1"),
                      columns=["l_quantity"], config=cfg)
    cc = C.ComparisonConstraints(ref, tgt, [
        C.mean_within_reference("l_quantity", 0.1),
        C.null_ratio_not_above_reference("l_quantity"),
        C.distinct_est_within_reference("l_quantity", 0.5),
        C.range_within_reference("l_quantity", 0.1),
    ])
    report = cc.report()
    assert all(p == 1 for _, p, _ in report), report
    # a shifted target must fail the mean comparison
    shifted = wsp.profile(
        lineitem.selectExpr("l_quantity + 1000 AS l_quantity"),
        columns=["l_quantity"], config=cfg)
    cc2 = C.ComparisonConstraints(ref, shifted, [
        C.mean_within_reference("l_quantity", 0.1)])
    assert not cc2.validate()


# ------------------------------------------------------------------ PSI

def test_psi_identical_distribution_is_near_zero(spark, lineitem):
    from whylogs_spark.core import drift as D

    out = D.psi_exact(lineitem, lineitem, "l_quantity").collect()[0]
    assert out.col_name == "l_quantity"
    assert out.algorithm == "psi"
    assert abs(out.statistic) < 1e-12


def test_psi_shifted_distribution_is_large(spark, lineitem):
    from whylogs_spark.core import drift as D

    shifted = lineitem.selectExpr("l_quantity + 40 AS l_quantity")
    stat = D.psi_exact(shifted, lineitem,
                       "l_quantity").collect()[0].statistic
    assert stat > 0.25  # "major shift" on the standard scale


def test_psi_categorical_matches_hand_computation(spark):
    import math

    from whylogs_spark.core import drift as D

    t = spark.createDataFrame([("a",)] * 8 + [("b",)] * 2, "k string")
    r = spark.createDataFrame([("a",)] * 5 + [("b",)] * 5, "k string")
    stat = D.psi_exact(t, r, "k", categorical=True,
                       epsilon=1e-4).collect()[0].statistic
    want = (0.8 - 0.5) * math.log(0.8 / 0.5) \
        + (0.2 - 0.5) * math.log(0.2 / 0.5)
    assert stat == pytest.approx(want, abs=1e-12)


def test_psi_handles_target_only_category(spark):
    import math

    from whylogs_spark.core import drift as D

    t = spark.createDataFrame([("a",), ("zzz",)], "k string")
    r = spark.createDataFrame([("a",), ("b",)], "k string")
    stat = D.psi_exact(t, r, "k", categorical=True).collect()[0].statistic
    assert math.isfinite(stat) and stat > 0  # epsilon clamp, no inf


def test_rolling_psi_against_python_model(spark):
    import math
    from datetime import datetime

    from whylogs_spark.core import drift as D

    rows = []
    # three days with different value mixes + a gap day
    for day, vals in [(1, [1.0] * 6 + [9.0] * 4),
                      (2, [1.0] * 4 + [9.0] * 6),
                      (3, [1.0] * 9 + [9.0] * 1),
                      (5, [9.0] * 10)]:
        for i, v in enumerate(vals):
            rows.append((datetime(2024, 3, day, 12, i), v))
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {r.period.day: r for r in
           D.rolling_psi(df, "ts", "value", unit="day",
                         n_bins=4, epsilon=1e-4).collect()}
    # day 5 has no day-4 predecessor; days 2 and 3 compare
    assert sorted(out) == [2, 3]

    def psi(cur, prev):
        lo, hi = 1.0, 9.0
        w = (hi - lo) / 4

        def binify(vals):
            c = [0] * 4
            for v in vals:
                c[min(max(int((v - lo) // w), 0), 3)] += 1
            return c

        cc, pc = binify(cur), binify(prev)
        s = 0.0
        for a, b in zip(cc, pc):
            pt = max(a / len(cur), 1e-4)
            pr = max(b / len(prev), 1e-4)
            s += (pt - pr) * math.log(pt / pr)
        return s

    d1 = [1.0] * 6 + [9.0] * 4
    d2 = [1.0] * 4 + [9.0] * 6
    d3 = [1.0] * 9 + [9.0] * 1
    assert out[2].statistic == pytest.approx(psi(d2, d1), abs=1e-12)
    assert out[3].statistic == pytest.approx(psi(d3, d2), abs=1e-12)
    assert out[2].n_current == 10 and out[2].n_previous == 10


def test_rolling_psi_plan_has_no_window(spark, events):
    import io
    from contextlib import redirect_stdout

    from whylogs_spark.core import drift as D

    plan_df = D.rolling_psi(events, "ts", "value", unit="day")
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_store_drift_between(spark, lineitem, tmp_path):
    import whylogs_spark as wsp
    from whylogs_spark.io.store import ProfileStore

    store = ProfileStore(str(tmp_path / "profiles"))
    import datetime as dt

    base = lineitem.select("l_quantity", "l_extendedprice")
    store.write(wsp.profile(base), "orders",
                dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc))
    shifted = base.selectExpr("l_quantity + 30 AS l_quantity",
                              "l_extendedprice")
    store.write(wsp.profile(shifted), "orders",
                dt.datetime(2024, 2, 1, tzinfo=dt.timezone.utc))
    scores = store.drift_between(
        spark, "orders",
        "2024-01-01", "2024-01-31", "2024-02-01", "2024-02-28")
    by_col = {s.column: s for s in scores}
    assert by_col["l_quantity"].category in ("DRIFT", "POSSIBLE_DRIFT")
    assert by_col["l_extendedprice"].category == "NO_DRIFT"


def test_rolling_psi_rejects_bad_unit(spark):
    import datetime

    from whylogs_spark.core import drift as D

    df = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1), 1.0)], "ts timestamp, v double")
    with pytest.raises(ValueError, match="unit"):
        D.rolling_psi(df, "ts", "v", unit="fortnight").collect()


def test_rolling_psi_survives_dst_transition(spark):
    """Calendar (timestampadd) period succession: in a DST-observing
    session timezone the spring-forward day starts 23h after the
    previous midnight, so a fixed-duration +24h join key would miss it
    and silently drop that day's drift row."""
    import datetime
    import random

    from whylogs_spark.core import drift as D

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        rng = random.Random(4)
        rows = []
        # 2024-03-10 is the US spring-forward date
        for day in (8, 9, 10, 11):
            for _ in range(50):
                rows.append((datetime.datetime(2024, 3, day, 12, 0,
                                               rng.randint(0, 59)),
                             rng.gauss(0.0, 1.0)))
        df = spark.createDataFrame(rows, "ts timestamp, v double")
        out = {r.period.day: r for r in
               D.rolling_psi(df, "ts", "v", unit="day").collect()}
        # every day with a predecessor emits a row — INCLUDING the
        # 23-hour DST day and the day after it
        assert set(out) == {9, 10, 11}
        assert all(out[d].n_current == 50 for d in out)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_store_auc_between(spark, tmp_path):
    """Sketch AUC off the profile store: two days of label-segmented
    profiles merge by the sketch monoid, and auc_between recovers the
    pooled exact AUC within sketch tolerance."""
    import datetime as dt
    import math
    import random

    import whylogs_spark as wsp
    from whylogs_spark.core import model_perf as M
    from whylogs_spark.io.store import ProfileStore

    rng = random.Random(53)

    def day_rows(n):
        out = []
        for _ in range(n):
            y = rng.random() < 0.4
            out.append((rng.gauss(0.7 if y else 0.35, 0.2),
                        1 if y else 0))
        return out

    d1, d2 = day_rows(800), day_rows(800)
    store = ProfileStore(str(tmp_path / "profiles"))
    for rows, day in ((d1, 1), (d2, 2)):
        df = spark.createDataFrame(rows, "score double, label int")
        store.write(wsp.profile(df, segment_by=["label"]), "model",
                    dt.datetime(2024, 5, day, tzinfo=dt.timezone.utc))
    got = store.auc_between(spark, "model", "2024-05-01", "2024-05-31",
                            "score", "label")
    pooled = spark.createDataFrame(
        d1 + d2, "score double, label int")
    exact = M.roc_auc_exact(pooled, "score", "label").collect()[0].auc
    assert got == pytest.approx(exact, abs=0.03)
    # a range with no profiles -> NaN
    assert math.isnan(store.auc_between(
        spark, "model", "2024-07-01", "2024-07-31", "score", "label"))
    # metric="pr": sketch average precision tracks the exact one
    got_ap = store.auc_between(
        spark, "model", "2024-05-01", "2024-05-31", "score", "label",
        metric="pr")
    exact_ap = M.pr_auc_exact(pooled, "score", "label") \
        .collect()[0].average_precision
    assert got_ap == pytest.approx(exact_ap, abs=0.03)
    with pytest.raises(ValueError, match="metric"):
        store.auc_between(spark, "model", "2024-05-01", "2024-05-31",
                          "score", "label", metric="f1")


def test_rolling_psi_minute_and_year_units(spark):
    import datetime
    import random

    from whylogs_spark.core import drift as D

    rng = random.Random(9)
    rows = [(datetime.datetime(2024, 1, 1, 10, m, s), rng.random())
            for m in (1, 2, 3) for s in range(0, 60, 2)]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    out = D.rolling_psi(df, "ts", "v", unit="minute").collect()
    assert len(out) == 2  # minutes 2 and 3 have predecessors
    yrows = [(datetime.datetime(y, 6, 1), rng.random())
             for y in (2022, 2023) for _ in range(40)]
    ydf = spark.createDataFrame(yrows, "ts timestamp, v double")
    assert len(D.rolling_psi(ydf, "ts", "v", unit="year")
               .collect()) == 1


def test_psi_from_sketches_tracks_exact(spark):
    """Sketch PSI vs the exact distributed PSI on shifted data: same
    convention (equal-width bins over combined range, epsilon floor),
    so values agree within the sketch's rank-error budget."""
    import random

    import numpy as np

    from whylogs_spark.core import drift as D
    from whylogs_spark.core.sketches import KllSketch

    rng = random.Random(77)
    t = [rng.gauss(0.6, 1.0) for _ in range(4000)]
    r = [rng.gauss(0.0, 1.0) for _ in range(4000)]
    st, sr = KllSketch(256), KllSketch(256)
    st.update_batch(np.array(t))
    sr.update_batch(np.array(r))
    approx = D.psi_from_sketches(st, sr, n_bins=10)
    tdf = spark.createDataFrame([(v,) for v in t], "x double")
    rdf = spark.createDataFrame([(v,) for v in r], "x double")
    exact = D.psi_exact(tdf, rdf, "x", n_bins=10) \
        .collect()[0].statistic
    assert approx == pytest.approx(exact, rel=0.25, abs=0.05)
    assert approx > 0.1  # the shift is detectable
    # identical inputs -> ~0, NO_DRIFT band
    same = D.psi_from_sketches(st, st)
    assert same == pytest.approx(0.0, abs=1e-9)
    assert D._categorize_psi(same) == "NO_DRIFT"


def test_store_drift_between_psi_and_hellinger(spark, lineitem,
                                               tmp_path):
    import datetime as dt

    import whylogs_spark as wsp
    from whylogs_spark.io.store import ProfileStore

    store = ProfileStore(str(tmp_path / "profiles"))
    base = lineitem.select("l_quantity")
    store.write(wsp.profile(base), "d",
                dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc))
    shifted = base.selectExpr("l_quantity + 40 AS l_quantity")
    store.write(wsp.profile(shifted), "d",
                dt.datetime(2024, 2, 1, tzinfo=dt.timezone.utc))
    for algo, attr in (("psi", "psi"), ("hellinger", "hellinger")):
        scores = store.drift_between(
            spark, "d", "2024-01-01", "2024-01-31",
            "2024-02-01", "2024-02-28", algorithm=algo)
        by = {s.column: s for s in scores}
        assert by["l_quantity"].algorithm == attr
        assert by["l_quantity"].category in ("DRIFT", "POSSIBLE_DRIFT")
    # wasserstein path: statistic tracks the injected +40 shift
    ws = {s_.column: s_ for s_ in store.drift_between(
        spark, "d", "2024-01-01", "2024-01-31",
        "2024-02-01", "2024-02-28", algorithm="wasserstein")}
    assert ws["l_quantity"].algorithm == "wasserstein"
    assert ws["l_quantity"].statistic == pytest.approx(40.0, rel=0.1)
    with pytest.raises(ValueError, match="algorithm"):
        store.drift_between(spark, "d", "2024-01-01", "2024-01-31",
                            "2024-02-01", "2024-02-28",
                            algorithm="energy")


def test_wasserstein_exact_against_bruteforce(spark):
    """Exact distributed W1 vs the closed form for empirical samples
    (mean absolute difference of sorted samples at equal sizes, CDF
    integral in general)."""
    import random

    from whylogs_spark.core import drift as D

    rng = random.Random(83)
    t = [rng.gauss(0.5, 1.3) for _ in range(400)]
    r = [rng.gauss(0.0, 1.0) for _ in range(300)]
    tdf = spark.createDataFrame([(v,) for v in t], "x double") \
        .repartition(7)
    rdf = spark.createDataFrame([(v,) for v in r], "x double") \
        .repartition(5)
    stat = D.wasserstein_exact(tdf, rdf, "x").collect()[0].statistic
    grid = sorted(set(t) | set(r))
    want = 0.0
    for a, b in zip(grid, grid[1:]):
        ft = sum(1 for v in t if v <= a) / len(t)
        fr = sum(1 for v in r if v <= a) / len(r)
        want += abs(ft - fr) * (b - a)
    assert stat == pytest.approx(want, abs=1e-9)
    # equal-size closed form: mean |sorted_t - sorted_r|
    r2 = [rng.gauss(0.2, 1.0) for _ in range(400)]
    r2df = spark.createDataFrame([(v,) for v in r2], "x double")
    stat2 = D.wasserstein_exact(tdf, r2df, "x").collect()[0].statistic
    closed = sum(abs(a - b) for a, b in
                 zip(sorted(t), sorted(r2))) / 400
    assert stat2 == pytest.approx(closed, abs=1e-9)


def test_wasserstein_sketch_tracks_exact(spark):
    import random

    import numpy as np

    from whylogs_spark.core import drift as D
    from whylogs_spark.core.sketches import KllSketch

    rng = random.Random(91)
    t = [rng.gauss(1.0, 1.0) for _ in range(5000)]
    r = [rng.gauss(0.0, 1.0) for _ in range(5000)]
    st_, sr = KllSketch(256), KllSketch(256)
    st_.update_batch(np.array(t))
    sr.update_batch(np.array(r))
    approx = D.wasserstein_from_sketches(st_, sr)
    exact = D.wasserstein_exact(
        spark.createDataFrame([(v,) for v in t], "x double"),
        spark.createDataFrame([(v,) for v in r], "x double"),
        "x").collect()[0].statistic
    # unit shift of a standard normal: W1 = 1.0
    assert exact == pytest.approx(1.0, abs=0.1)
    assert approx == pytest.approx(exact, rel=0.1, abs=0.05)


def test_psi_sketch_matches_exact_on_out_of_range_target(spark):
    """The case PSI exists to detect: the target shifted BEYOND the
    reference range. With reference-ranged binning both paths pile
    the overflow into the edge bin, so sketch and exact must agree;
    combined-range binning would diverge here."""
    import random

    import numpy as np

    from whylogs_spark.core import drift as D
    from whylogs_spark.core.sketches import KllSketch

    rng = random.Random(101)
    r = [rng.uniform(0.0, 1.0) for _ in range(3000)]
    t = [rng.uniform(5.0, 6.0) for _ in range(3000)]  # fully outside
    st_, sr = KllSketch(256), KllSketch(256)
    st_.update_batch(np.array(t))
    sr.update_batch(np.array(r))
    approx = D.psi_from_sketches(st_, sr, n_bins=10)
    exact = D.psi_exact(
        spark.createDataFrame([(v,) for v in t], "x double"),
        spark.createDataFrame([(v,) for v in r], "x double"),
        "x", n_bins=10).collect()[0].statistic
    assert exact > 5  # saturated drift
    assert approx == pytest.approx(exact, rel=0.05)


def test_ks_wasserstein_exact_with_many_empty_slices(spark):
    """Tiny distinct-value set under a high shuffle-partition count:
    most range slices are EMPTY, so the slice rollup's lead must still
    deliver the next non-empty slice's first value and the boundary
    gaps must survive. Exactness checked against brute force."""
    import random

    from whylogs_spark.core import drift as D

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        rng = random.Random(7)
        t = [float(rng.choice([1, 5, 9, 13, 40])) for _ in range(60)]
        r = [float(rng.choice([1, 3, 9, 21])) for _ in range(50)]
        tdf = spark.createDataFrame([(v,) for v in t], "x double") \
            .repartition(13)
        rdf = spark.createDataFrame([(v,) for v in r], "x double")
        rows = {x.algorithm: x.statistic for x in
                D.ks_wasserstein_exact(tdf, rdf, "x").collect()}
        grid = sorted(set(t) | set(r))
        ks = w1 = 0.0
        for i, gval in enumerate(grid):
            ft = sum(1 for v in t if v <= gval) / len(t)
            fr = sum(1 for v in r if v <= gval) / len(r)
            ks = max(ks, abs(ft - fr))
            if i + 1 < len(grid):
                w1 += abs(ft - fr) * (grid[i + 1] - gval)
        assert rows["ks"] == pytest.approx(ks, abs=1e-12)
        assert rows["wasserstein"] == pytest.approx(w1, abs=1e-12)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_exact_ks_w1_empty_side_yields_null_not_abort(spark):
    """An empty or all-NaN side must produce NULL statistics, not an
    ANSI [DIVIDE_BY_ZERO] job abort — one fully-null column cannot be
    allowed to kill a multi-column drift job."""
    from whylogs_spark.core import drift as D

    ref = spark.createDataFrame(
        [(float(i),) for i in range(20)], "x double")
    empty = spark.createDataFrame([], "x double")
    nan = spark.createDataFrame(
        [(float("nan"),), (float("nan"),)], "x double")
    for bad in (empty, nan):
        rows = D.ks_wasserstein_exact(bad, ref, "x").collect()
        assert {r.algorithm for r in rows} == {"ks", "wasserstein"}
        assert all(r.statistic is None for r in rows)
        ks = D.ks_2samp_exact(bad, ref, "x").collect()[0]
        assert ks.statistic is None


def test_schema_diff_detects_structural_drift(spark, lineitem):
    import whylogs_spark as wsp
    from whylogs_spark.core.drift import schema_diff

    ref_df = lineitem.selectExpr(
        "l_quantity", "l_extendedprice", "l_returnflag",
        "l_shipdate AS retired_col")
    # target: retired_col gone, new_col added, l_returnflag flipped to
    # a number, l_extendedprice gains nulls
    tgt_df = lineitem.selectExpr(
        "l_quantity",
        "CASE WHEN l_orderkey % 4 = 0 THEN NULL "
        "ELSE l_extendedprice END AS l_extendedprice",
        "CAST(l_linenumber AS DOUBLE) AS l_returnflag",
        "l_orderkey AS new_col")
    diff = {r.column: r for r in schema_diff(
        wsp.profile(tgt_df), wsp.profile(ref_df)).collect()}
    assert diff["retired_col"].status == "removed"
    assert diff["new_col"].status == "added"
    assert diff["l_returnflag"].status == "type_changed"
    assert (diff["l_returnflag"].ref_type,
            diff["l_returnflag"].tgt_type) == ("string", "fractional")
    assert diff["l_quantity"].status == "ok"
    assert diff["l_quantity"].null_frac_delta == 0.0
    assert diff["l_extendedprice"].status == "ok"
    assert diff["l_extendedprice"].null_frac_delta == pytest.approx(
        0.25, abs=0.02)


def test_schema_diff_segmented_profiles(spark, lineitem):
    import whylogs_spark as wsp
    from whylogs_spark.core.drift import schema_diff

    ref = wsp.profile(lineitem.select("l_returnflag", "l_quantity"),
                      segment_by=["l_returnflag"])
    tgt = wsp.profile(
        lineitem.selectExpr("l_returnflag",
                            "CAST(l_quantity AS STRING) AS l_quantity"),
        segment_by=["l_returnflag"])
    rows = schema_diff(tgt, ref).filter("column = 'l_quantity'") \
        .collect()
    assert len(rows) == 3  # one per segment
    assert all(r.status == "type_changed" for r in rows)


def test_store_schema_between(spark, lineitem, tmp_path):
    import datetime as dt

    import whylogs_spark as wsp
    from whylogs_spark.io.store import ProfileStore

    store = ProfileStore(str(tmp_path / "profiles_schema"))
    store.write(wsp.profile(lineitem.select("l_quantity", "l_shipdate")),
                "ds", dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc))
    store.write(
        wsp.profile(lineitem.selectExpr(
            "CAST(l_quantity AS STRING) AS l_quantity", "l_partkey")),
        "ds", dt.datetime(2024, 2, 1, tzinfo=dt.timezone.utc))
    diff = {r.column: r.status for r in store.schema_between(
        spark, "ds", "2024-01-01", "2024-01-31",
        "2024-02-01", "2024-02-28").collect()}
    assert diff == {"l_quantity": "type_changed",
                    "l_shipdate": "removed", "l_partkey": "added"}


def test_store_compact_preserves_merged_view(spark, lineitem, tmp_path):
    import datetime as dt

    import whylogs_spark as wsp
    from whylogs_spark.io.store import ProfileStore

    store = ProfileStore(str(tmp_path / "profiles_compact"))
    thirds = [lineitem.filter(lineitem.l_orderkey % 3 == i)
              .select("l_quantity", "l_extendedprice") for i in range(3)]
    # three appends on Jan 1, one on Jan 2
    for h, part in enumerate(thirds):
        store.write(wsp.profile(part), "ds",
                    dt.datetime(2024, 1, 1, h, tzinfo=dt.timezone.utc))
    store.write(wsp.profile(thirds[0]), "ds",
                dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc))

    before = store.get(spark, "ds").to_pandas()
    n_rows_before = store._read(spark).count()
    assert store.compact(spark, "ds") == 1  # only Jan 1 has appends
    after = store.get(spark, "ds").to_pandas()
    assert store._read(spark).count() < n_rows_before
    # exactly one batch row per day now
    assert store._read(spark).select("date", "dataset_ts") \
        .distinct().count() == 2

    def stat(pdf, col, name):
        return pdf[pdf["column"] == col].iloc[0][name]

    for col in ("l_quantity", "l_extendedprice"):
        for m in ("counts/n", "distribution/mean", "distribution/max"):
            assert stat(after, col, m) == pytest.approx(
                stat(before, col, m), rel=1e-12), (col, m)

    # compacting again is a no-op
    assert store.compact(spark, "ds") == 0


def test_schema_diff_all_null_column_reports_null_type(spark, lineitem):
    import whylogs_spark as wsp
    from whylogs_spark.core.drift import schema_diff

    ref_df = lineitem.select("l_returnflag")
    tgt_df = lineitem.selectExpr(
        "CAST(NULL AS STRING) AS l_returnflag")
    row = schema_diff(wsp.profile(tgt_df), wsp.profile(ref_df)) \
        .collect()[0]
    # an upstream outage nulling the column: type goes to 'null', not
    # to a bogus concrete bucket, and the null fraction pins it
    assert row.status == "type_changed"
    assert (row.ref_type, row.tgt_type) == ("string", "null")
    assert row.tgt_null_frac == 1.0


def test_drift_by_segment_localizes_the_shifted_segment(spark, lineitem):
    import whylogs_spark as wsp
    from whylogs_spark.core.drift import drift_by_segment

    base = lineitem.select("l_returnflag", "l_quantity",
                           "l_extendedprice")
    # shift l_quantity ONLY inside segment 'A'
    shifted = base.selectExpr(
        "l_returnflag",
        "CASE WHEN l_returnflag = 'A' THEN l_quantity + 40 "
        "ELSE l_quantity END AS l_quantity",
        "l_extendedprice")
    ref = wsp.profile(base, segment_by=["l_returnflag"])
    tgt = wsp.profile(shifted, segment_by=["l_returnflag"])
    scores = drift_by_segment(tgt, ref)
    by_key = {(s.segment, s.column): s.category for s in scores}
    drifted = {k for k, v in by_key.items()
               if v in ("DRIFT", "POSSIBLE_DRIFT")
               and k[1] == "l_quantity"}
    assert {k[0].find('"A"') >= 0 for k in drifted} == {True}
    # the untouched column stays quiet in every segment
    assert all(v == "NO_DRIFT" for k, v in by_key.items()
               if k[1] == "l_extendedprice")
    # and the GLOBAL scorer dilutes the segment-local shift less
    # sharply than the per-segment one detects it
    seg_a = [s for s in scores
             if '"A"' in s.segment and s.column == "l_quantity"]
    assert len(seg_a) == 1 and seg_a[0].category == "DRIFT"

    # algorithm selection + validation
    psi = drift_by_segment(tgt, ref, algorithm="psi")
    psi_a = [s for s in psi
             if '"A"' in s.segment and s.column == "l_quantity"]
    assert psi_a[0].category == "DRIFT"
    with pytest.raises(ValueError, match="algorithm"):
        drift_by_segment(tgt, ref, algorithm="nope")
    with pytest.raises(ValueError, match="max_segments"):
        drift_by_segment(tgt, ref, max_segments=1)


def test_store_drift_between_by_segment(spark, lineitem, tmp_path):
    import datetime as dt

    import whylogs_spark as wsp
    from whylogs_spark.io.store import ProfileStore

    store = ProfileStore(str(tmp_path / "profiles_seg_drift"))
    base = lineitem.select("l_returnflag", "l_quantity")
    shifted = base.selectExpr(
        "l_returnflag",
        "CASE WHEN l_returnflag = 'R' THEN l_quantity + 35 "
        "ELSE l_quantity END AS l_quantity")
    store.write(wsp.profile(base, segment_by=["l_returnflag"]), "seg",
                dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc))
    store.write(wsp.profile(shifted, segment_by=["l_returnflag"]),
                "seg", dt.datetime(2024, 7, 1, tzinfo=dt.timezone.utc))
    scores = store.drift_between(
        spark, "seg", "2024-06-01", "2024-06-30",
        "2024-07-01", "2024-07-31", by_segment=True)
    drifted = {s.segment for s in scores
               if s.column == "l_quantity" and s.category == "DRIFT"}
    quiet = {s.segment for s in scores
             if s.column == "l_quantity" and s.category == "NO_DRIFT"}
    assert any('"R"' in s for s in drifted)
    assert not any('"R"' in s for s in quiet)
    assert len(quiet) == 2  # A and N untouched


def test_drift_by_segment_rejects_unsegmented(spark, lineitem):
    import whylogs_spark as wsp
    from whylogs_spark.core.drift import drift_by_segment

    v = wsp.profile(lineitem.select("l_quantity"))
    with pytest.raises(ValueError, match="SEGMENTED"):
        drift_by_segment(v, v)


# ------------------------------------------------- one-pass store drift
def _old_rank(sk, value):
    """Per-call masked-sum rank: the formula ``KllSketch.ranks`` must
    reproduce bit for bit."""
    items, weights = sk._weighted_items()
    return float(weights[items <= value].sum() / weights.sum())


def _old_pmf(sk, splits):
    out, prev = [], 0.0
    for x in [_old_rank(sk, sp) for sp in splits]:
        out.append(max(x - prev, 0.0))
        prev = x
    out.append(max(1.0 - prev, 0.0))
    return out


def test_vectorized_ranks_pin_ks_psi_hellinger():
    import math

    rng = np.random.default_rng(11)
    for i in range(6):
        a, b = KllSketch(64 << (i % 3)), KllSketch(64 << (i % 3))
        a.update_batch(rng.normal(0, 1, 3_000 + 4_000 * i))
        b.update_batch(rng.normal(0.1 * i, 1 + 0.2 * i, 5_000))
        probes = np.concatenate([rng.normal(0, 2, 50), [-1e9, 1e9]])
        assert a.ranks(probes).tolist() == [_old_rank(a, v) for v in probes]
        # KS: the per-quantile walk with one rank call per probe
        d_old = 0.0
        for q in [j / 100.0 for j in range(1, 100)]:
            for probe in (a.quantile(q), b.quantile(q)):
                d_old = max(d_old, abs(_old_rank(a, probe)
                                       - _old_rank(b, probe)))
        assert drift.ks_test_from_sketches(a, b)[0] == d_old
        # PSI over reference-range bins, Hellinger over combined range
        lo, hi = b.min_value, b.max_value
        splits = [lo + (hi - lo) * j / 10 for j in range(1, 10)]
        psi_old = sum((max(x, 1e-4) - max(y, 1e-4))
                      * math.log(max(x, 1e-4) / max(y, 1e-4))
                      for x, y in zip(_old_pmf(a, splits),
                                      _old_pmf(b, splits)))
        assert drift.psi_from_sketches(a, b) == psi_old
        lo = min(a.min_value, b.min_value)
        hi = max(a.max_value, b.max_value)
        splits = [lo + (hi - lo) * j / 30 for j in range(1, 30)]
        h_old = math.sqrt(0.5 * sum(
            (math.sqrt(x) - math.sqrt(y)) ** 2
            for x, y in zip(_old_pmf(a, splits), _old_pmf(b, splits))))
        assert drift.hellinger_from_sketches(a, b) == h_old
    empty = KllSketch()
    assert math.isnan(empty.rank(0.0))
    assert all(math.isnan(x) for x in empty.cdf([0.0, 1.0])[:2])


def test_merge_blobs_use_given_sizes():
    from whylogs_spark.core.sketches import merge_fi_blobs, merge_kll_blobs

    rng = np.random.default_rng(12)
    parts = []
    for _ in range(3):
        sk = KllSketch(256)
        sk.update_batch(rng.normal(0, 1, 2_000))
        parts.append(sk.serialize())
    merged = merge_kll_blobs(parts + [None], 64)
    assert merged.k == 64 and merged.n == 6_000
    fis = []
    for j in range(3):
        fi = FrequentStringsSketch(128, 128)
        fi.update_batch([f"v{j}{k}" for k in range(20)] * 3)
        fis.append(fi.serialize())
    mfi = merge_fi_blobs([None] + fis, 8, 2)
    assert mfi.capacity == 8 and mfi.max_len == 2
    assert mfi.n == 180 and len(mfi.counts) <= 8


@pytest.fixture(scope="module")
def drift_store(spark, lineitem, tmp_path_factory):
    """One unsegmented and one segmented dataset, one batch a day:
    day 1 is the base frame, day 2 shifts l_quantity, day 3 repeats
    the base frame."""
    import datetime as dt

    from whylogs_spark.io.store import ProfileStore

    store = ProfileStore(str(tmp_path_factory.mktemp("drift_store")))
    base = lineitem.select("l_returnflag", "l_linestatus", "l_quantity",
                           "l_extendedprice")
    shifted = base.selectExpr("l_returnflag", "l_linestatus",
                              "l_quantity + 30 AS l_quantity",
                              "l_extendedprice")
    for day, frame in enumerate((base, shifted, base), start=1):
        ts = dt.datetime(2024, 3, day, tzinfo=dt.timezone.utc)
        store.write(wsp.profile(frame), "flat", ts)
        store.write(wsp.profile(frame, segment_by=["l_returnflag"]),
                    "seg", ts)
    return store


_DAY = "2024-03-0{}".format


def test_store_drift_between_matches_view_scorers(spark, drift_store):
    scorers = {"default": drift.calculate_drift_scores,
               "psi": drift.psi_scores,
               "hellinger": drift.hellinger_scores,
               "wasserstein": drift.wasserstein_scores}
    ref = drift_store.get(spark, "flat", _DAY(1), _DAY(1))
    tgt = drift_store.get(spark, "flat", _DAY(2), _DAY(2))
    sref = drift_store.get(spark, "seg", _DAY(1), _DAY(1))
    stgt = drift_store.get(spark, "seg", _DAY(2), _DAY(2))

    def same(got, want):
        assert [(s.column, s.algorithm, s.category) for s in got] == \
            [(s.column, s.algorithm, s.category) for s in want]
        for g, w in zip(got, want):
            assert g.statistic == pytest.approx(w.statistic, abs=1e-12)
            if w.p_value is None:
                assert g.p_value is None
            else:
                assert g.p_value == pytest.approx(w.p_value, abs=1e-12)

    for algo, fn in scorers.items():
        got = drift_store.drift_between(spark, "flat", _DAY(1), _DAY(1),
                                        _DAY(2), _DAY(2), algorithm=algo)
        want = fn(tgt, ref)
        numeric = {"l_quantity", "l_extendedprice"}
        assert {s.column for s in got} == (
            numeric | {"l_returnflag", "l_linestatus"}
            if algo == "default" else numeric)
        same(got, want)
        seg = drift_store.drift_between(spark, "seg", _DAY(1), _DAY(1),
                                        _DAY(2), _DAY(2), algorithm=algo,
                                        by_segment=True)
        seg_want = drift.drift_by_segment(stgt, sref, algorithm=algo)
        assert [s.segment for s in seg] == [s.segment for s in seg_want]
        assert len({s.segment for s in seg}) == 3
        same(seg, seg_want)
    # an unsegmented query of a segmented store has no overall sketches
    assert drift_store.drift_between(spark, "seg", _DAY(1), _DAY(1),
                                     _DAY(2), _DAY(2)) == []


def test_store_drift_between_overlap_feeds_both_sides(spark, drift_store):
    # identical windows: both sides merge the same batches in the same
    # pinned order, so KS is exactly zero (chi2 up to float rounding)
    same = drift_store.drift_between(spark, "flat", _DAY(1), _DAY(2),
                                     _DAY(1), _DAY(2))
    assert len(same) == 4
    for s in same:
        assert s.category == "NO_DRIFT"
        assert s.statistic == 0.0 if s.algorithm == "ks" \
            else s.statistic < 1e-20
    # days 1-2 vs days 2-3: the shared shifted day 2 must sit on both
    # sides, leaving base+shifted against shifted+base — no drift. Were
    # it on one side only, the +30 shift would read as DRIFT.
    by = {s.column: s for s in drift_store.drift_between(
        spark, "flat", _DAY(1), _DAY(2), _DAY(2), _DAY(3))}
    assert by["l_quantity"].category == "NO_DRIFT"
    assert by["l_quantity"].statistic < 0.05
    one_sided = {s.column: s for s in drift_store.drift_between(
        spark, "flat", _DAY(1), _DAY(1), _DAY(2), _DAY(3))}
    assert one_sided["l_quantity"].category == "DRIFT"


def test_store_drift_between_job_count_and_replay(spark, drift_store):
    tracker = spark.sparkContext.statusTracker()

    def job_ids():
        return set(tracker.getJobIdsForGroup())

    args = (spark, "flat", _DAY(1), _DAY(2), _DAY(2), _DAY(3))
    last = max(job_ids(), default=-1)
    first = drift_store.drift_between(*args)
    launched = {j for j in job_ids() if j > last}
    assert 1 <= len(launched) <= 3, sorted(launched)
    again = drift_store.drift_between(*args)
    assert [(s.column, s.statistic, s.p_value) for s in first] == \
        [(s.column, s.statistic, s.p_value) for s in again]
