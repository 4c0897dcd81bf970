"""Metric time-series monitoring (core/monitor.py): anomaly_scan
(zscore / mad / iqr trailing baselines) and missing_periods, verified
against independent numpy recomputation.

Reference analog: the monitoring questions a profile store feeds
(reference python/whylogs/api/store/sqlite_store.py) — per-batch metric
deviation vs a trailing baseline, and missing-batch detection.
"""

import datetime as dt
import math

import numpy as np
import pytest

from whylogs_spark.core.plan import Plan
from whylogs_spark.core.monitor import anomaly_scan, missing_periods


def _series_df(spark, values, start="2024-01-01", key=None):
    rows = []
    t0 = dt.datetime.fromisoformat(start)
    for i, v in enumerate(values):
        row = {"ts": t0 + dt.timedelta(days=i), "value": float(v)}
        if key is not None:
            row["series"] = key
        rows.append(row)
    return spark.createDataFrame(rows)


def _np_q7(arr, p):
    return float(np.quantile(np.asarray(arr, dtype=float), p,
                             method="linear"))


def _np_expected(values, window, method, threshold, min_baseline):
    out = []
    for i, v in enumerate(values):
        base = values[max(0, i - window):i]
        n = len(base)
        if n < min_baseline:
            out.append((n, None, None, None, None))
            continue
        if method == "zscore":
            center = float(np.mean(base))
            spread = float(np.std(base, ddof=1))
        elif method == "mad":
            center = _np_q7(base, 0.5)
            spread = 1.4826 * _np_q7([abs(x - center) for x in base], 0.5)
        else:
            q1, q3 = _np_q7(base, 0.25), _np_q7(base, 0.75)
            center = _np_q7(base, 0.5)
            spread = q3 - q1
        if method == "iqr":
            q1, q3 = _np_q7(base, 0.25), _np_q7(base, 0.75)
            flag = v < q1 - threshold * spread or v > q3 + threshold * spread
            score = None
        elif spread > 0:
            score = (v - center) / spread
            flag = abs(score) > threshold
        else:
            score = None
            flag = v != center
        out.append((n, center, spread, score, flag))
    return out


@pytest.mark.parametrize("method,threshold", [
    ("zscore", 3.0), ("mad", 3.0), ("iqr", 1.5)])
def test_anomaly_scan_matches_numpy(spark, method, threshold):
    vals = [10.0, 11.0, 10.5, 9.8, 10.2, 11.1, 10.4, 35.0, 10.3, 9.9,
            10.6, 10.1, 2.0, 10.0, 10.8]
    df = _series_df(spark, vals)
    got = (
        anomaly_scan(df, "ts", "value", window=5, method=method,
                     threshold=threshold, min_baseline=3)
        .orderBy("ts").collect())
    exp = _np_expected(vals, 5, method, threshold, 3)
    assert len(got) == len(exp)
    flagged = 0
    for row, (n, center, spread, score, flag) in zip(got, exp):
        assert row.baseline_n == n
        if center is None:
            assert row.is_anomaly is None
            assert row.center is None and row.spread is None
            continue
        assert row.center == pytest.approx(center, abs=1e-9)
        assert row.spread == pytest.approx(spread, abs=1e-9)
        if score is None:
            assert row.score is None
        else:
            assert row.score == pytest.approx(score, abs=1e-9)
        assert row.is_anomaly == flag
        flagged += int(bool(flag))
    # 35.0 must be caught by every method; 2.0 only by the robust ones
    # (its zscore baseline still contains 35.0, inflating the stddev —
    # exactly the masking MAD/IQR exist to avoid)
    assert flagged >= (1 if method == "zscore" else 2)


def test_anomaly_scan_warmup_unjudged(spark):
    df = _series_df(spark, [1.0, 100.0, 1.0, 1.0, 1.0, 1.0])
    rows = anomaly_scan(df, "ts", "value", window=7, min_baseline=3) \
        .orderBy("ts").collect()
    # first 3 rows have <3 baseline batches: unjudged, not "normal"
    assert [r.is_anomaly for r in rows[:3]] == [None, None, None]
    assert all(r.is_anomaly is not None for r in rows[3:])


def test_anomaly_scan_zero_spread_baseline(spark):
    # constant baseline: stddev == 0 — any change flags, no ANSI
    # divide-by-zero, score stays null
    df = _series_df(spark, [5.0, 5.0, 5.0, 5.0, 5.0, 7.0])
    rows = anomaly_scan(df, "ts", "value", window=4, min_baseline=3) \
        .orderBy("ts").collect()
    assert rows[4].is_anomaly is False and rows[4].score is None
    assert rows[5].is_anomaly is True and rows[5].score is None


def test_anomaly_scan_keys_are_independent_series(spark):
    a = _series_df(spark, [10.0] * 6 + [50.0], key="a")
    # series b's scale is 1000x — would mask a's outlier if pooled
    b = _series_df(spark, [10000.0, 9000.0, 11000.0, 10500.0, 9500.0,
                           10200.0, 9800.0], key="b")
    df = a.unionByName(b).repartition(4)
    rows = anomaly_scan(df, "ts", "value", key_cols=["series"],
                        window=5, min_baseline=3).collect()
    flagged = {(r.series, r.ts) for r in rows if r.is_anomaly}
    assert flagged == {("a", dt.datetime(2024, 1, 7))}


def test_anomaly_scan_validates_args(spark):
    df = _series_df(spark, [1.0, 2.0])
    with pytest.raises(ValueError, match="method"):
        anomaly_scan(df, "ts", "value", method="bogus")
    with pytest.raises(ValueError, match="window"):
        anomaly_scan(df, "ts", "value", window=0)
    with pytest.raises(ValueError, match="min_baseline"):
        anomaly_scan(df, "ts", "value", min_baseline=1)
    with pytest.raises(ValueError, match="threshold"):
        anomaly_scan(df, "ts", "value", threshold=-1.0)


def test_missing_periods_hourly(spark):
    t0 = dt.datetime(2024, 3, 1, 0, 0)
    hours = [0, 1, 2, 5, 6, 30]  # gaps: 2->5 (2 missed), 6->30 (23)
    df = spark.createDataFrame(
        [{"ts": t0 + dt.timedelta(hours=h)} for h in hours])
    got = {(r.gap_start, r.gap_end): r.n_missed
           for r in missing_periods(df, "ts",
                                    expected_seconds=3600).collect()}
    assert got == {
        (t0 + dt.timedelta(hours=2), t0 + dt.timedelta(hours=5)): 2,
        (t0 + dt.timedelta(hours=6), t0 + dt.timedelta(hours=30)): 23,
    }


def test_missing_periods_tolerance_absorbs_jitter(spark):
    t0 = dt.datetime(2024, 3, 1)
    secs = [0, 3600, 7400, 11000]  # jittered hourly, max drift < 50%
    df = spark.createDataFrame(
        [{"ts": t0 + dt.timedelta(seconds=s)} for s in secs])
    assert missing_periods(df, "ts", expected_seconds=3600,
                           tolerance=0.5).count() == 0
    # tighten the tolerance: the 3800 s step now reads as a gap
    assert missing_periods(df, "ts", expected_seconds=3600,
                           tolerance=0.05).count() > 0


def test_missing_periods_date_column(spark):
    d0 = dt.date(2024, 1, 1)
    days = [0, 1, 2, 7]
    df = spark.createDataFrame(
        [{"ts": d0 + dt.timedelta(days=d)} for d in days])
    rows = missing_periods(df, "ts", expected_seconds=86400).collect()
    assert len(rows) == 1
    assert rows[0].n_missed == 4
    assert rows[0].gap_seconds == pytest.approx(5 * 86400.0)


def test_missing_periods_per_key(spark):
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for k, hours in [("a", [0, 1, 2, 3]), ("b", [0, 1, 10])]:
        rows += [{"series": k, "ts": t0 + dt.timedelta(hours=h)}
                 for h in hours]
    df = spark.createDataFrame(rows).repartition(4)
    got = missing_periods(df, "ts", key_cols=["series"],
                          expected_seconds=3600).collect()
    assert len(got) == 1 and got[0].series == "b" and got[0].n_missed == 8


def test_anomaly_scan_plan_is_single_exchange(spark):
    # one hash exchange on the series key; the window frame is
    # row-bounded so state is O(window) per row
    df = _series_df(spark, [1.0] * 10, key="a")
    kinds = Plan.of(anomaly_scan(
        df, "ts", "value", key_cols=["series"])).exchanges()
    assert kinds["hash"] <= 1
    assert not kinds["range"]


def _np_cusum(values, k, h, mu, sigma, start=0):
    sp = sn = 0.0
    out = []
    for i, v in enumerate(values):
        if i >= start:
            z = (v - mu) / sigma
            sp = max(0.0, sp + z - k)
            sn = max(0.0, sn - z - k)
        out.append((sp, sn, sp > h, sn > h))
    return out


def test_cusum_matches_sequential_recursion(spark):
    from whylogs_spark.core.monitor import cusum_changepoints

    rng = np.random.default_rng(7)
    vals = list(10.0 + rng.normal(0, 1.0, 30))
    vals += [v + 1.5 for v in 10.0 + rng.normal(0, 1.0, 20)]  # +1.5s shift
    df = _series_df(spark, vals)
    got = cusum_changepoints(
        df, "ts", "value", k=0.5, h=5.0, center=10.0, spread=1.0) \
        .orderBy("ts").collect()
    exp = _np_cusum(vals, 0.5, 5.0, 10.0, 1.0)
    for row, (sp, sn, up, dn) in zip(got, exp):
        assert row.s_pos == pytest.approx(sp, abs=1e-9)
        assert row.s_neg == pytest.approx(sn, abs=1e-9)
        assert row.alarm_up == up and row.alarm_down == dn
    # the sustained +1.5-sigma shift must alarm upward, and the alarm
    # must come within ~10 batches of the true change point (index 30)
    first = next(i for i, r in enumerate(got) if r.alarm_up)
    assert 30 <= first <= 42


def test_cusum_estimated_baseline_and_warmup(spark):
    from whylogs_spark.core.monitor import cusum_changepoints

    rng = np.random.default_rng(11)
    base = list(5.0 + rng.normal(0, 0.5, 15))
    vals = base + [v - 1.0 for v in 5.0 + rng.normal(0, 0.5, 15)]  # dip
    df = _series_df(spark, vals)
    rows = cusum_changepoints(
        df, "ts", "value", k=0.5, h=4.0, baseline_n=10) \
        .orderBy("ts").collect()
    # warm-up rows are unjudged and contribute nothing to the walk
    assert all(r.alarm_up is None and r.alarm_down is None
               for r in rows[:10])
    assert rows[9].s_pos == 0.0 and rows[9].s_neg == 0.0
    # replay with numpy using the same first-10 estimates
    mu = float(np.mean(vals[:10]))
    sigma = float(np.std(vals[:10], ddof=1))
    exp = _np_cusum(vals, 0.5, 4.0, mu, sigma, start=10)
    for row, (sp, sn, up, dn) in zip(rows, exp):
        assert row.s_pos == pytest.approx(sp, abs=1e-9)
        assert row.s_neg == pytest.approx(sn, abs=1e-9)
    assert any(r.alarm_down for r in rows[15:])


def test_cusum_per_key_and_zero_spread(spark):
    from whylogs_spark.core.monitor import cusum_changepoints

    shifted = _series_df(
        spark, [1.0, 1.2, 0.8, 1.1, 0.9, 5.0, 5.1, 5.2, 5.0], key="a")
    flat = _series_df(spark, [2.0] * 9, key="b")  # zero spread
    df = shifted.unionByName(flat).repartition(4)
    rows = cusum_changepoints(
        df, "ts", "value", key_cols=["series"], k=0.5, h=3.0,
        baseline_n=5).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.series, []).append(r)
    assert any(r.alarm_up for r in by_key["a"])
    # constant series: spread 0 -> unjudged, never a divide-by-zero
    assert all(r.alarm_up is None for r in by_key["b"])


def test_cusum_validates_args(spark):
    from whylogs_spark.core.monitor import cusum_changepoints

    df = _series_df(spark, [1.0, 2.0])
    with pytest.raises(ValueError, match="together"):
        cusum_changepoints(df, "ts", "value", center=1.0)
    with pytest.raises(ValueError, match="spread"):
        cusum_changepoints(df, "ts", "value", center=1.0, spread=0.0)
    with pytest.raises(ValueError, match="baseline_n"):
        cusum_changepoints(df, "ts", "value", baseline_n=1)
    with pytest.raises(ValueError, match="h must"):
        cusum_changepoints(df, "ts", "value", h=0.0)
    with pytest.raises(ValueError, match="k must"):
        cusum_changepoints(df, "ts", "value", k=-1.0)


def test_anomaly_scan_seasonal_phase(spark):
    # weekly pattern: weekends run at 100, weekdays at 10. The flat
    # baseline's spread is inflated by the seasonality, so it MISSES
    # the planted weekday spike (and its only flag is a warm-up false
    # positive on the first weekend); the day-of-week phase baseline
    # catches exactly the spike.
    vals = []
    t0 = dt.datetime(2024, 1, 1)  # a Monday
    for day in range(49):
        dow = day % 7
        v = 100.0 if dow >= 5 else 10.0
        vals.append(v)
    vals[45] = 60.0  # Thursday spike (index 45 -> dow 3)
    rows = [{"ts": t0 + dt.timedelta(days=i), "value": v,
             "dow": i % 7} for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows)
    flat = anomaly_scan(df, "ts", "value", window=7, method="zscore",
                        threshold=3.0, min_baseline=3)
    seasonal = anomaly_scan(df, "ts", "value", window=4,
                            method="zscore", threshold=3.0,
                            min_baseline=3, phase_col="dow")
    spike_ts = t0 + dt.timedelta(days=45)
    flat_rows = flat.filter("is_anomaly").collect()
    seas = seasonal.filter("is_anomaly").collect()
    # the seasonal spread (~44) swallows the 60-vs-10 Thursday spike
    assert spike_ts not in {r.ts for r in flat_rows}
    assert len(seas) == 1 and seas[0].dow == 3
    assert seas[0].ts == spike_ts


def test_store_anomalies_and_missing_batches(spark, tmp_path):
    """End-to-end monitoring off the profile store: write daily
    profiles (one with a planted mean shift, one day skipped), then
    answer both monitoring questions straight off the store."""
    import whylogs_spark as wsp
    from whylogs_spark.io.store import ProfileStore

    store = ProfileStore(str(tmp_path / "profiles"))
    rng = np.random.default_rng(3)
    days = [1, 2, 3, 4, 5, 6, 7, 8, 10, 11]  # day 9 missing
    for d in days:
        vals = 50.0 + rng.normal(0, 2.0, 400)
        if d == 11:
            vals = vals + 30.0  # planted shift on the last day
        df = spark.createDataFrame([(float(v),) for v in vals],
                                   "x double")
        store.write(wsp.profile(df), "daily",
                    dt.datetime(2024, 3, d, 12, 0,
                                tzinfo=dt.timezone.utc))

    series = store.metric_series(
        spark, "daily", "x", "distribution", "mean").collect()
    assert len(series) == len(days)
    assert all(r.value is not None for r in series)

    # a 30-point shift on a series whose day-to-day wiggle is ~0.1
    # (the stderr of a 400-sample mean) scores in the hundreds of
    # sigmas; threshold 10 keeps small-baseline noise out
    rows = store.anomalies_between(
        spark, "daily", "x", "distribution", "mean",
        window=7, method="zscore", threshold=10.0).orderBy(
        "dataset_ts").collect()
    flagged = [r.dataset_ts.day for r in rows if r.is_anomaly]
    assert flagged == [11]
    assert abs(next(r.score for r in rows
                    if r.dataset_ts.day == 11)) > 50

    # counts/n series comes from the long slot
    n_series = store.metric_series(
        spark, "daily", "x", "counts", "n").collect()
    assert {r.value for r in n_series} == {400.0}

    gaps = store.missing_batches(
        spark, "daily", expected_seconds=86400).collect()
    assert len(gaps) == 1
    assert gaps[0].gap_start.day == 8 and gaps[0].gap_end.day == 10
    assert gaps[0].n_missed == 1

    # date-range pruning narrows the series
    pruned = store.metric_series(
        spark, "daily", "x", "distribution", "mean",
        date_from="2024-03-05", date_to="2024-03-08").collect()
    assert sorted(r.dataset_ts.day for r in pruned) == [5, 6, 7, 8]


# -------------------------------------------------------- property tests
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=20, deadline=None)
@given(st.lists(st.floats(-1e3, 1e3, allow_nan=False), min_size=2,
                max_size=25),
       st.integers(1, 8), st.sampled_from(["zscore", "mad", "iqr"]))
def test_anomaly_scan_property_matches_numpy(spark, vals, window,
                                             method):
    thr = 1.5 if method == "iqr" else 3.0
    df = _series_df(spark, vals)
    got = anomaly_scan(df, "ts", "value", window=window, method=method,
                       min_baseline=2).orderBy("ts").collect()
    exp = _np_expected(vals, window, method, thr, 2)
    for row, (n, center, spread, score, flag) in zip(got, exp):
        assert row.baseline_n == n
        if center is None:
            assert row.is_anomaly is None
            continue
        assert row.center == pytest.approx(center, rel=1e-9, abs=1e-6)
        assert row.spread == pytest.approx(spread, rel=1e-9, abs=1e-6)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.floats(-100, 100, allow_nan=False), min_size=1,
                max_size=30),
       st.floats(0, 2), st.floats(0.5, 8))
def test_cusum_property_matches_recursion(spark, vals, k, h):
    from whylogs_spark.core.monitor import cusum_changepoints

    df = _series_df(spark, vals)
    got = cusum_changepoints(df, "ts", "value", k=k, h=h,
                             center=0.0, spread=10.0) \
        .orderBy("ts").collect()
    exp = _np_cusum(vals, k, h, 0.0, 10.0)
    for row, (sp, sn, up, dn) in zip(got, exp):
        assert row.s_pos == pytest.approx(sp, rel=1e-9, abs=1e-9)
        assert row.s_neg == pytest.approx(sn, rel=1e-9, abs=1e-9)
        assert row.alarm_up == up and row.alarm_down == dn


def test_store_run_monitors_suite(spark, tmp_path):
    """Declarative suite: a zscore monitor on the mean, a cusum
    monitor on the same series, and a zscore on counts/n — planted
    spike + sustained shift + volume drop each fire exactly one
    monitor kind."""
    import whylogs_spark as wsp
    from whylogs_spark.io.store import ProfileStore

    store = ProfileStore(str(tmp_path / "profiles_suite"))
    rng = np.random.default_rng(5)
    for d in range(1, 25):
        n = 400 if d != 20 else 40          # volume drop on day 20
        mu = 50.0 if d < 15 else 52.5       # sustained shift from 15
        vals = mu + rng.normal(0, 1.0, n)
        if d == 10:
            vals[0] += 400.0                # one-day mean spike
        df = spark.createDataFrame([(float(v),) for v in vals],
                                   "x double")
        store.write(wsp.profile(df), "suite",
                    dt.datetime(2024, 4, d, tzinfo=dt.timezone.utc))

    alerts = store.run_monitors(spark, "suite", [
        {"column": "x", "component": "mean", "method": "zscore",
         "threshold": 8.0, "name": "mean_spike"},
        {"column": "x", "component": "mean", "method": "cusum",
         "h": 6.0, "baseline_n": 10, "name": "mean_shift"},
        {"column": "x", "metric": "counts", "component": "n",
         "method": "zscore", "threshold": 8.0, "name": "volume"},
    ]).collect()
    by_monitor = {}
    for r in alerts:
        by_monitor.setdefault(r.monitor, []).append(r)
    assert {r.dataset_ts.day for r in by_monitor["mean_spike"]} == {10}
    # the sustained +2.5-sigma shift alarms upward and stays alarmed
    shift_days = {r.dataset_ts.day for r in by_monitor["mean_shift"]}
    assert min(shift_days) >= 15 and len(shift_days) >= 3
    assert all(r.kind == "shift_up" for r in by_monitor["mean_shift"])
    assert {r.dataset_ts.day for r in by_monitor["volume"]} == {20}
    with pytest.raises(ValueError, match="non-empty"):
        store.run_monitors(spark, "suite", [])


def test_run_monitors_missing_and_phase(spark, tmp_path):
    import whylogs_spark as wsp
    from whylogs_spark.io.store import ProfileStore

    store = ProfileStore(str(tmp_path / "profiles_phase"))
    rng = np.random.default_rng(9)
    # 4 weeks of daily profiles with a weekend rhythm; day 26 (a
    # Friday-phase day) spikes; day 17 is skipped entirely
    t0 = dt.datetime(2024, 1, 1, 12, 0, tzinfo=dt.timezone.utc)  # Mon
    for d in range(28):
        if d == 16:  # skip day 17
            continue
        dow = d % 7
        level = 500.0 if dow >= 5 else 100.0
        n = 200
        vals = level + rng.normal(0, 1.0, n)
        if d == 25:
            vals = vals + 60.0
        df = spark.createDataFrame([(float(v),) for v in vals],
                                   "x double")
        store.write(wsp.profile(df), "phased",
                    t0 + dt.timedelta(days=d))

    alerts = store.run_monitors(spark, "phased", [
        {"column": "x", "component": "mean", "method": "zscore",
         "phase": "dow", "window": 3, "min_baseline": 2,
         "threshold": 20.0, "name": "seasonal"},
        {"method": "missing", "expected_seconds": 86400,
         "name": "gaps"},
    ]).collect()
    by_mon = {}
    for r in alerts:
        by_mon.setdefault(r.monitor, []).append(r)
    assert [r.dataset_ts.day for r in by_mon["seasonal"]] == [26]
    gaps = by_mon["gaps"]
    assert len(gaps) == 1 and gaps[0].kind == "missing_batch"
    assert gaps[0].dataset_ts.day == 18 and gaps[0].score == 1.0

    with pytest.raises(ValueError, match="phase"):
        store.anomalies_between(spark, "phased", "x", "distribution",
                                "mean", phase="weekofcentury")


def test_run_monitors_missing_detects_range_start_gap(spark, tmp_path):
    """A batch missing exactly at the start of the queried range must
    still alert: the lag needs the pre-range batch for context."""
    import whylogs_spark as wsp
    from whylogs_spark.io.store import ProfileStore

    store = ProfileStore(str(tmp_path / "profiles_edge_gap"))
    for d in (15, 16, 18):  # Jan 17 never arrived
        df = spark.createDataFrame([(1.0,)], "x double")
        store.write(wsp.profile(df), "edge",
                    dt.datetime(2024, 1, d, tzinfo=dt.timezone.utc))
    alerts = store.run_monitors(
        spark, "edge",
        [{"method": "missing", "expected_seconds": 86400}],
        date_from="2024-01-17").collect()
    assert len(alerts) == 1
    assert alerts[0].dataset_ts.day == 18 and alerts[0].score == 1.0
    # and alerts before the range are filtered out, not re-raised
    none_before = store.run_monitors(
        spark, "edge",
        [{"method": "missing", "expected_seconds": 86400}],
        date_from="2024-01-19").collect()
    assert none_before == []


class TestEwmaChart:
    def test_matches_sequential_recursion_and_flags_shift(self, spark):
        """z must equal the exact sequential EWMA recursion (the
        bounded-fold horizon truncation is below double noise even on
        a 300-point series), warm-up rows are unjudged, and a
        1.5-sigma sustained shift alarms while the steady region
        doesn't."""
        import datetime as dt

        import numpy as np

        from whylogs_spark.core.monitor import ewma_chart

        rng = np.random.default_rng(9)
        t0 = dt.datetime(2026, 1, 1)
        vals = list(50 + rng.normal(0, 2, size=250))
        vals += list(53 + rng.normal(0, 2, size=50))  # +1.5 sigma
        rows = [("a", t0 + dt.timedelta(hours=i), float(v))
                for i, v in enumerate(vals)]
        df = spark.createDataFrame(
            rows, "series string, ts timestamp, value double")
        # L=3.5: in-control ARL ~5000, so the 200-point steady run
        # stays clean while the 1.5-sigma shift (z moves ~3 vs a
        # 2.7-wide band) still alarms reliably
        lam, L, bn = 0.2, 3.5, 50
        got = sorted(ewma_chart(
            df, "ts", "value", key_cols=["series"], lam=lam, L=L,
            baseline_n=bn).collect(), key=lambda r: r.ts)

        mu = float(np.mean(vals[:bn]))
        sigma = float(np.std(vals[:bn], ddof=1))
        z = mu
        for i, r in enumerate(got):
            z = (1 - lam) * z + lam * vals[i]
            assert r.ewma == pytest.approx(z, rel=1e-9), i
            n = i + 1
            if n <= bn:
                assert r.alarm is None and r.ucl is None
            else:
                hw = L * sigma * math.sqrt(
                    lam / (2 - lam) * (1 - (1 - lam) ** (2 * n)))
                assert r.ucl == pytest.approx(mu + hw, rel=1e-9)
                assert r.alarm == (z > mu + hw or z < mu - hw)
        # the shift region alarms; the steady tail before it doesn't
        assert not any(r.alarm for r in got[bn:250])
        assert any(r.alarm for r in got[255:])

    def test_validation_and_explicit_center(self, spark):
        import datetime as dt

        from whylogs_spark.core.monitor import ewma_chart

        df = spark.createDataFrame(
            [("a", dt.datetime(2026, 1, 1), 1.0)],
            "series string, ts timestamp, value double")
        with pytest.raises(ValueError, match="lam"):
            ewma_chart(df, "ts", "value", lam=0.0)
        with pytest.raises(ValueError, match="together"):
            ewma_chart(df, "ts", "value", center=1.0)
        with pytest.raises(ValueError, match="spread"):
            ewma_chart(df, "ts", "value", center=1.0, spread=0.0)
        # explicit center/spread judges from row 1
        r = ewma_chart(df, "ts", "value", lam=0.5, L=3.0,
                       center=0.0, spread=0.1).collect()[0]
        assert r.ewma == pytest.approx(0.5)
        assert r.alarm is True  # 0.5 vs limit 3*0.1*sqrt(1/3)*... < 0.5


def test_run_monitors_ewma_method(spark, tmp_path):
    """The ewma monitor spec flags a sustained small drift from the
    stored mean series; date_from bounds the alerts, not the chart's
    history."""
    import whylogs_spark as wsp
    from whylogs_spark.io.store import ProfileStore

    store = ProfileStore(str(tmp_path / "profiles_ewma"))
    rng = np.random.default_rng(21)
    t0 = dt.datetime(2024, 3, 1, 12, 0, tzinfo=dt.timezone.utc)
    for d in range(40):
        level = 100.0 + (2.0 if d >= 30 else 0.0)   # +2-sigma drift
        vals = level + rng.normal(0, 1.0, 200)
        df = spark.createDataFrame([(float(v),) for v in vals],
                                   "x double")
        store.write(wsp.profile(df), "ew", t0 + dt.timedelta(days=d))

    spec = [{"column": "x", "component": "mean", "method": "ewma",
             "lam": 0.25, "L": 3.0, "baseline_n": 15,
             "name": "mean_drift"}]
    alerts = store.run_monitors(spark, "ew", spec).collect()
    assert alerts, "drift must alarm"
    assert all(r.kind == "shift_up" for r in alerts)
    cutoff = (t0 + dt.timedelta(days=30)).replace(tzinfo=None)
    assert min(r.dataset_ts for r in alerts) >= cutoff
    assert all(r.score > 0 for r in alerts)

    # date_from bounds ALERTS, not the chart history: restricting to
    # the drifted window still alarms (baseline came from before)
    late = store.run_monitors(spark, "ew", spec,
                              date_from="2024-04-03").collect()
    assert late
    assert min(r.dataset_ts for r in late) >= dt.datetime(2024, 4, 3)
