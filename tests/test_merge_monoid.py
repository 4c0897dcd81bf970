"""Monoid property: profile(A) ⊕ profile(B) == profile(A ∪ B).

Mirrors the reference's merge tests
(python/tests/core/view/test_dataset_profile_view.py) — exact components
must match exactly; sketch estimates must stay within error bounds.
"""

import json

import pytest

import whylogs_spark as wsp


@pytest.fixture(scope="module")
def halves(lineitem):
    a = lineitem.filter("l_orderkey % 2 = 0")
    b = lineitem.filter("l_orderkey % 2 = 1")
    return a, b


def test_merge_equals_whole(lineitem, halves):
    a, b = halves
    whole = wsp.profile(lineitem)
    merged = wsp.merge_profiles([wsp.profile(a), wsp.profile(b)])

    def getall(view):
        rows = view.df.collect()
        return {
            (r["column"], r["metric"], r["component"]): r for r in rows
        }

    w = getall(whole)
    m = getall(merged)

    # exact components identical
    for key, wr in w.items():
        col, metric, component = key
        if component in ("kll", "mg", "hll", "items") or component.startswith("q_") \
                or component == "median":
            continue
        assert key in m, key
        mr = m[key]
        if wr["n"] is not None:
            assert mr["n"] == wr["n"], key
        if wr["d"] is not None:
            if component in ("est", "lower", "upper"):
                assert mr["d"] == pytest.approx(wr["d"], rel=0.05), key
            else:
                assert mr["d"] == pytest.approx(wr["d"], rel=1e-6), key

    # quantiles of merged sketch close to whole-data quantiles
    for col in ("l_quantity", "l_extendedprice"):
        med_w = w[(col, "distribution", "median")]["d"]
        med_m = m[(col, "distribution", "median")]["d"]
        lo = w[(col, "distribution", "min")]["d"]
        hi = w[(col, "distribution", "max")]["d"]
        assert abs(med_m - med_w) <= 0.05 * (hi - lo) + 1e-9


def test_merge_repartition_invariance(lineitem):
    """⊕ over k partitions == whole, for k in {1, 7}."""
    whole = wsp.profile(lineitem)
    parts = [
        wsp.profile(lineitem.filter(f"l_orderkey % 7 = {i}")) for i in range(7)
    ]
    merged = wsp.merge_profiles(parts)
    n_w = whole.get_component("l_quantity", "counts", "n")
    n_m = merged.get_component("l_quantity", "counts", "n")
    assert n_w == n_m
    sd_w = whole.get_component("l_quantity", "distribution", "stddev")
    sd_m = merged.get_component("l_quantity", "distribution", "stddev")
    assert sd_m == pytest.approx(sd_w, rel=1e-6)


def test_merged_frequent_items_bounds(lineitem, halves):
    a, b = halves
    merged = wsp.merge_profiles([wsp.profile(a), wsp.profile(b)])
    items = json.loads(
        merged.get_component("l_returnflag", "frequent_items", "items"))
    truth = {
        r["l_returnflag"]: r["cnt"]
        for r in lineitem.groupBy("l_returnflag").count()
        .withColumnRenamed("count", "cnt").collect()
    }
    got = {it["value"]: it for it in items}
    for val, cnt in truth.items():
        assert got[val]["lower"] <= cnt <= got[val]["upper"]


def test_sketch_kernels_monoid_hypothesis():
    """Property test on the sketch kernels directly (no Spark): merge of
    arbitrary splits matches the whole stream within error bounds, and
    merge is order-insensitive for exact components."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    import numpy as np

    from whylogs_spark.core.sketches import FrequentStringsSketch, KllSketch

    floats = st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1, max_size=400)

    @settings(max_examples=25, deadline=None)
    @given(floats, st.integers(min_value=1, max_value=5))
    def kll_split_merge(values, k_parts):
        arr = np.array(values)
        whole = KllSketch(128)
        whole.update_batch(arr)
        parts = np.array_split(arr, k_parts)
        merged = KllSketch(128)
        for p in parts:
            sk = KllSketch(128)
            sk.update_batch(p)
            merged.merge(sk)
        assert merged.n == whole.n == arr.size
        assert merged.min_value == arr.min()
        assert merged.max_value == arr.max()
        # rank error bound for k=128 is ~3.3%; allow slack for both
        # sides. With ties the rank of the median is an interval
        # [frac(<med), frac(<=med)] — assert it brackets 0.5 within slack.
        med_m = merged.quantile(0.5)
        assert (arr < med_m).mean() <= 0.5 + 0.15
        assert (arr <= med_m).mean() >= 0.5 - 0.15

    kll_split_merge()

    strings = st.lists(
        st.text(alphabet="abcdef", min_size=1, max_size=3),
        min_size=1, max_size=300)

    @settings(max_examples=25, deadline=None)
    @given(strings, st.integers(min_value=1, max_value=4))
    def fi_split_merge(values, k_parts):
        import pandas as pd

        whole = FrequentStringsSketch(16)
        whole.update_batch(pd.Series(values, dtype=object))
        merged = FrequentStringsSketch(16)
        step = max(1, len(values) // k_parts)
        for i in range(0, len(values), step):
            sk = FrequentStringsSketch(16)
            sk.update_batch(pd.Series(values[i:i + step], dtype=object))
            merged.merge(sk)
        assert merged.n == whole.n == len(values)
        truth = pd.Series(values).value_counts()
        for val, est, lo, hi in merged.top_k(16):
            true = int(truth.get(val, 0))
            assert lo <= true <= hi, (val, lo, true, hi)

    fi_split_merge()


def _estimate_only(view):
    """``view`` as a store written with ``cardinality_impl='approx'``
    (earlier versions) holds it: cardinality ``est`` rows, no ``hll``
    sketch and no bounds."""
    return wsp.ProfileView(
        view.df.filter("metric != 'cardinality' OR component = 'est'"),
        view.config)


def test_merge_nondefault_config(lineitem, halves):
    """Profiles without mergeable sketch state still merge: estimate-only
    cardinality rows to the max of the sources' ``est``, and
    ``quantile_impl='native'`` quantiles to the source-size-weighted
    average — documented approximations rather than silently dropped
    components (ADVICE r1, profiler.py merge)."""
    cfg = wsp.MetricConfig(quantile_impl="native",
                           frequent_items_impl="none")
    cols = ["l_quantity"]
    whole = wsp.profile(lineitem, columns=cols, config=cfg)
    parts = [_estimate_only(wsp.profile(h, columns=cols, config=cfg))
             for h in halves]
    merged = wsp.merge_profiles(parts)

    est_w = whole.get_component("l_quantity", "cardinality", "est")
    est_m = merged.get_component("l_quantity", "cardinality", "est")
    assert est_m == max(
        p.get_component("l_quantity", "cardinality", "est") for p in parts)
    assert est_m == pytest.approx(est_w, rel=0.2)
    assert merged.get_component("l_quantity", "cardinality", "hll") is None

    med_w = whole.get_component("l_quantity", "distribution", "median")
    med_m = merged.get_component("l_quantity", "distribution", "median")
    assert med_m is not None
    lo = whole.get_component("l_quantity", "distribution", "min")
    hi = whole.get_component("l_quantity", "distribution", "max")
    assert abs(med_m - med_w) <= 0.05 * (hi - lo) + 1e-9
    # exact components still exact
    assert merged.get_component("l_quantity", "counts", "n") == \
        whole.get_component("l_quantity", "counts", "n")


def test_store_of_estimate_only_cardinality_rows(spark, lineitem, halves,
                                                 tmp_path):
    """A store holding estimate-only cardinality rows still reads,
    merges and compacts: ``est`` is the max of its batches'."""
    import datetime as dt

    from whylogs_spark.io.store import ProfileStore

    cfg = wsp.MetricConfig(quantile_impl="none", frequent_items_impl="none")
    parts = [_estimate_only(wsp.profile(h, columns=["l_quantity"],
                                        config=cfg)) for h in halves]
    top = max(p.get_component("l_quantity", "cardinality", "est")
              for p in parts)
    store = ProfileStore(str(tmp_path / "store"), cfg)
    for h, part in enumerate(parts):
        store.write(part, "ds",
                    dt.datetime(2024, 1, 1, h, tzinfo=dt.timezone.utc))

    def est(view):
        return view.get_component("l_quantity", "cardinality", "est")

    assert est(store.get(spark, "ds")) == top
    assert est(wsp.merge_profiles(
        [store.get(spark, "ds"), store.get(spark, "ds")])) == top
    n = store.get(spark, "ds").get_component("l_quantity", "counts", "n")
    assert store.compact(spark, "ds") == 1
    after = store.get(spark, "ds")
    assert est(after) == top
    assert after.get_component("l_quantity", "counts", "n") == n
