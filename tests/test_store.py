"""``ProfileStore``: round trip, retention, and the format marker that
lets reads of a store this code created skip the legacy-blob probe."""

import datetime as dt
import json
import pathlib

import numpy as np
import pyarrow as pa
import pytest

import whylogs_spark as wsp
from whylogs_spark.core.profiler import (ProfileView, _has_legacy,
                                         merge_segments)
from whylogs_spark.core.sketches import FrequentStringsSketch, KllSketch
from whylogs_spark.io.store import MARKER, ProfileStore
from tests.conftest import old_writer

#: two KLL merges agree within twice the sketch's rank error
_RANK_TOL = 2 * 0.0165


def test_profile_store_roundtrip(spark, lineitem, tmp_path):
    store = ProfileStore(str(tmp_path / "store"))
    half_a = lineitem.filter("l_orderkey % 2 = 0")
    half_b = lineitem.filter("l_orderkey % 2 = 1")

    store.write(wsp.profile(half_a, columns=["l_quantity"]), "ds1",
                dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc))
    store.write(wsp.profile(half_b, columns=["l_quantity"]), "ds1",
                dt.datetime(2026, 1, 2, tzinfo=dt.timezone.utc))
    store.write(wsp.profile(half_a, columns=["l_quantity"]), "ds2",
                dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc))

    assert set(store.list_datasets(spark)) == {"ds1", "ds2"}
    merged = store.get(spark, "ds1")
    n = merged.get_component("l_quantity", "counts", "n")
    assert n == lineitem.count()
    only_day1 = store.get(spark, "ds1", date_to="2026-01-01")
    assert only_day1.get_component("l_quantity", "counts", "n") == \
        half_a.count()


def test_profile_store_prune_retention(spark, lineitem, tmp_path):
    """prune deletes whole (dataset, date) partitions older than the
    cutoff — no rewrite of surviving dates — and validates its input."""
    store = ProfileStore(str(tmp_path / "prune_store"))
    for day in (1, 2, 3):
        store.write(
            wsp.profile(lineitem.limit(100), columns=["l_quantity"]),
            "ds1", dt.datetime(2026, 1, day, tzinfo=dt.timezone.utc))
    store.write(
        wsp.profile(lineitem.limit(50), columns=["l_quantity"]),
        "ds2", dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc))

    # scoped prune: only ds1's old date goes
    assert store.prune(spark, "2026-01-02", dataset_id="ds1") == 1
    left = store._read(spark).select("dataset_id", "date").distinct()
    got = {(r.dataset_id, str(r.date)) for r in left.collect()}
    assert got == {("ds1", "2026-01-02"), ("ds1", "2026-01-03"),
                   ("ds2", "2026-01-01")}
    # global prune takes ds2's old date too
    assert store.prune(spark, "2026-01-02") == 1
    got2 = {(r.dataset_id, str(r.date)) for r in
            store._read(spark).select("dataset_id", "date")
            .distinct().collect()}
    assert got2 == {("ds1", "2026-01-02"), ("ds1", "2026-01-03")}
    # surviving data still reads as a profile
    assert store.get(spark, "ds1").get_component(
        "l_quantity", "counts", "n") == 200
    with pytest.raises(ValueError, match="ISO date"):
        store.prune(spark, "yesterday")
    assert store.prune(spark, "2020-01-01") == 0


def test_profile_store_prune_escaped_ids_and_validation(spark,
                                                        lineitem,
                                                        tmp_path):
    """Hive-escaped dataset ids (':' -> %3A on disk) must still prune;
    invalid dates must raise, not lexicographically over-delete."""
    store = ProfileStore(str(tmp_path / "esc_store"))
    for day in (1, 2):
        store.write(
            wsp.profile(lineitem.limit(20), columns=["l_quantity"]),
            "jobs:2024",
            dt.datetime(2026, 2, day, tzinfo=dt.timezone.utc))
    assert store.prune(spark, "2026-02-02",
                       dataset_id="jobs:2024") == 1
    assert store._read(spark).select("date").distinct().count() == 1
    with pytest.raises(ValueError, match="valid ISO date"):
        store.prune(spark, "2026-19-99")
    with pytest.raises(ValueError, match="valid ISO date"):
        store.prune(spark, "2026-31-01")


# ------------------------------------------------------------------ marker
def _day(i):
    return dt.datetime(2024, 3, i, tzinfo=dt.timezone.utc)


def _iso(i):
    return _day(i).date().isoformat()


@pytest.fixture(scope="module")
def days(spark):
    """Four daily batches of (x, w, g): x normal, its mean shifted by 3
    on days 3 and 4, and w's category weights reversed there; g splits
    each day into two segments. Returns ``[(x values, segmented view,
    unsegmented view)]``."""
    rng = np.random.default_rng(14)
    out = []
    for day in range(4):
        shift = day >= 2
        x = rng.normal(3.0 if shift else 0.0, 1.0, 3000)
        w = rng.choice(["a", "b", "c", "d"], 3000,
                       p=[0.05, 0.15, 0.3, 0.5] if shift
                       else [0.5, 0.3, 0.15, 0.05])
        rows = [(float(a), str(b), i % 2) for i, (a, b) in
                enumerate(zip(x, w))]
        df = spark.createDataFrame(rows, "x double, w string, g int")
        out.append((x, wsp.profile(df, segment_by=["g"]),
                    wsp.profile(df.drop("g"))))
    return out


def _with_blobs(view, kll=None, plain_mg=False):
    """``view`` with its KLL blobs replaced by ``kll`` and, with
    ``plain_mg``, its ``mg`` blobs stripped of Spark's null count."""
    table = view.table().to_pylist()
    for r in table:
        if r["component"] == "kll" and kll is not None:
            r["b"] = kll
        elif r["component"] == "mg" and plain_mg:
            r["b"] = bytes(r["b"])[:-8]
    return ProfileView(pa.Table.from_pylist(table, view.table().schema),
                       spark=view.spark)


def _fill(path, days):
    """A store of the days' segmented views as "ds" and their
    unsegmented ones as "flat"."""
    store = ProfileStore(path)
    for i, (_, seg, flat) in enumerate(days, start=1):
        store.write(seg, "ds", _day(i))
        store.write(flat, "flat", _day(i))
    return store


def _marked(store):
    return (pathlib.Path(store.path) / MARKER).exists()


def test_new_store_is_marked_and_old_one_stays_unmarked(spark, days,
                                                        tmp_path):
    """A write into a missing root, or into an existing directory with
    no partition yet, marks it; an append to a root holding unmarked
    data leaves it unmarked."""
    (tmp_path / "empty").mkdir()
    for name in ("missing", "empty"):
        store = ProfileStore(str(tmp_path / name))
        store.write(days[0][1], "ds", _day(1))
        assert _marked(store), name
    old = ProfileStore(str(tmp_path / "empty"))
    (tmp_path / "empty" / MARKER).unlink()
    old.write(days[1][1], "ds", _day(2))
    old.write(days[1][1], "other", _day(2))
    assert not _marked(old)
    assert old.get(spark, "ds").get_component("x", "counts", "n",
                                              '{"g":"0"}') == 3000


def test_marked_store_holds_datasketches_blobs_only(spark, days,
                                                   tmp_path):
    """Legacy ``WSK1`` KLL blobs and plain frequent-items blobs written
    into a marked store are stored as DataSketches bytes, from a local
    view (checked on the driver) and from a lazy one (probed) alike."""
    x, view, _ = days[0]
    kll = KllSketch(256)
    kll.update_batch(x)
    legacy = _with_blobs(view, kll=kll.serialize(), plain_mg=True)
    assert _has_legacy(legacy.table())
    assert not _has_legacy(view.table())
    assert _has_legacy(_with_blobs(view, plain_mg=True).table())

    old = ProfileStore(str(tmp_path / "old"))
    with old_writer():
        old.write(legacy, "ds", _day(1))
    assert not _marked(old)
    assert _has_legacy(old._read(spark).toArrow())
    lazy = old.get(spark, "ds", merge=False)
    assert lazy._table is None

    store = ProfileStore(str(tmp_path / "marked"))
    store.write(legacy, "ds", _day(1))
    store.write(lazy, "ds", _day(2))
    assert _marked(store)
    stored = store._read(spark).toArrow()
    assert stored.num_rows == 2 * view.table().num_rows
    assert not _has_legacy(stored)
    got = store.get(spark, "ds")
    for seg in ('{"g":"0"}', '{"g":"1"}'):
        assert got.get_component("x", "counts", "n", seg) == 3000
        merged = KllSketch.deserialize(bytes(got.get_component(
            "x", "distribution", "kll", seg)))
        assert merged.n == 6000
        items = json.loads(got.get_component(
            "w", "frequent_items", "items", seg))
        assert items[0]["value"] == "a"


def test_compact_and_prune_keep_the_marker(spark, days, tmp_path):
    store = _fill(str(tmp_path / "store"), days[:2])
    store.write(days[2][1], "ds", _day(2))
    assert store.compact(spark, "ds") == 1
    assert _marked(store)
    assert store.prune(spark, _iso(2), dataset_id="ds") == 1
    assert _marked(store)
    assert store.get(spark, "ds").get_component(
        "x", "counts", "n", '{"g":"1"}') == 3000


def _rows(table):
    def slot(r):
        if r["component"] == "mg":  # its items may come in any order
            sk = FrequentStringsSketch.deserialize(r["b"])
            return sk.n, sk.error, sk.counts
        if r["component"] == "hll":
            # a union may list its coupons in another order; its
            # read-outs (est, lower, upper) are compared as they are
            return r["n"], r["d"], r["s"]
        return r["n"], r["d"], r["s"], r["b"]

    return {(r["segment"], r["column"], r["metric"], r["component"]):
            slot(r) for r in table.to_pylist()}


def _same_profile(got, want, values):
    """Profile table ``got`` equals ``want`` in every slot but the
    KLL-derived ones (the blob, median and q_*), whose quantiles lie
    within two rank errors of each other in the sorted ``values``, and
    the doubles, which agree to 1e-12."""
    a, b = _rows(got), _rows(want)
    assert a.keys() == b.keys()
    for key, slots in a.items():
        comp = key[3]
        if comp == "kll":
            continue
        if comp == "median" or comp.startswith("q_"):
            ra, rb = (np.searchsorted(values, v[1]) / values.size
                      for v in (slots, b[key]))
            assert abs(ra - rb) <= _RANK_TOL, key
        elif len(slots) > 2 and isinstance(slots[1], float):
            # a float sum's order follows the shuffle
            assert slots[1] == pytest.approx(b[key][1], rel=1e-12), key
            assert slots[:1] + slots[2:] == b[key][:1] + b[key][2:], key
        else:
            assert slots == b[key], key


def test_unmarked_store_reads_as_the_marked_one(spark, days, tmp_path,
                                                launched_jobs):
    """The same writes with the marker then removed (what a store
    written by an earlier version looks like) give what the marked
    store gives: ``get``, ``merge_segments``, ``drift_between``,
    ``quantile_series`` and ``compact`` alike, and an unmarked read
    pays one probe job more."""
    marked = _fill(str(tmp_path / "marked"), days)
    old = _fill(str(tmp_path / "old"), days)
    (tmp_path / "old" / MARKER).unlink()
    values = np.sort(np.concatenate([x for x, *_ in days]))

    (got, jobs_old), (want, jobs) = (launched_jobs(
        lambda s=s: s.get(spark, "ds").table()) for s in (old, marked))
    _same_profile(got, want, values)
    assert len(jobs_old) == len(jobs) + 1, (sorted(jobs_old),
                                            sorted(jobs))
    _same_profile(*(merge_segments(s.get(spark, "ds", merge=False))
                    .table() for s in (old, marked)), values)

    window = (_iso(1), _iso(2), _iso(3), _iso(4))
    for ds, by_segment in (("flat", False), ("ds", True)):
        (a, jobs_old), (b, jobs) = (launched_jobs(
            lambda s=s: s.drift_between(spark, ds, *window,
                                        by_segment=by_segment))
            for s in (old, marked))
        assert len(jobs_old) == len(jobs) + 1, (sorted(jobs_old),
                                                sorted(jobs))
        assert [(vars(s) | {"statistic": 0, "p_value": 0}) for s in a] \
            == [(vars(s) | {"statistic": 0, "p_value": 0}) for s in b]
        assert len(b) == 2 * (1 + by_segment)
        assert {s.category for s in b} == {"DRIFT"}
        for s, t in zip(a, b):
            # a KS statistic reads two merged sketches, one per side
            tol = 2 * _RANK_TOL if s.algorithm == "ks" else 1e-12
            assert s.statistic == pytest.approx(t.statistic, abs=tol)

    sa, sb = (s.quantile_series(spark, "ds", "x", quantiles=(0.5,),
                                window=2)
              .orderBy("segment", "dataset_ts").collect()
              for s in (old, marked))
    assert [(r["segment"], r["dataset_ts"], r["batches"], r["n"])
            for r in sa] == [(r["segment"], r["dataset_ts"],
                              r["batches"], r["n"]) for r in sb]
    for r, t in zip(sa, sb):
        assert abs(np.searchsorted(values, r["q_50"])
                   - np.searchsorted(values, t["q_50"])) / values.size \
            <= _RANK_TOL

    for s in (old, marked):
        s.write(days[0][1], "ds", _day(1))
    assert old.compact(spark, "ds") == marked.compact(spark, "ds") == 1
    assert not _marked(old) and _marked(marked)
    _same_profile(*(s.get(spark, "ds").table() for s in (old, marked)),
                  values)
