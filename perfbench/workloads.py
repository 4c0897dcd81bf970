"""Seeded inputs, their ground truth, and the operations each workload runs.

Every input is generated from the seed with numpy and written as parquet
by pyarrow, so the program under test only ever sees the files. Ground
truth is computed from the same numpy arrays at generation time, and
every operation's output is checked against it.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import statistics
import time
import traceback
from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

import whylogs_spark as wsp
from whylogs_spark.core.configs import MetricConfig
from whylogs_spark.core.drift import calculate_drift_scores
from whylogs_spark.core.planner import plan_dataframe
from whylogs_spark.core.profiler import PROFILE_SCHEMA, ProfileView
from whylogs_spark.core.sketches import FrequentStringsSketch, KllSketch
from whylogs_spark.core.wide import plan_wide_sketches, wide_native_rows
from whylogs_spark.io.store import ProfileStore

from ledger import tree_size

# Input sizes. "full" is what the benchmark measures; "tiny" keeps the
# same shapes small enough for the smoke test.
SIZES = {
    "full": {"wide_rows": 5_000, "wide_cols": 120, "days": 4,
             "day_rows": 50_000, "head": 5},
    "tiny": {"wide_rows": 400, "wide_cols": 100, "days": 2,
             "day_rows": 2_000, "head": 3},
}

KLL_RANK_TOL = 0.0165          # normalized rank error of KLL at k=256
HLL_TOL = 4 * 1.04 / 64.0      # four standard errors of HLL at lg_k=12
NATIVE_CONFIG = MetricConfig(quantile_impl="native",
                             frequent_items_impl="none")


# ----------------------------------------------------------- ground truth
@dataclass
class Truth:
    """Exact statistics of one column (of one segment)."""

    kind: str                      # "float" | "int" | "str"
    n: int
    null: int
    distinct: int
    mean: float = math.nan
    min: float = math.nan
    max: float = math.nan
    ordered: Optional[np.ndarray] = None   # sorted non-null numerics
    head: Tuple[str, ...] = ()             # most frequent strings


def truth_of(kind: str, values: np.ndarray, null: np.ndarray,
             head: int = 0) -> Truth:
    ok = values[~null]
    t = Truth(kind, len(values), int(null.sum()), len(np.unique(ok)))
    if kind == "str":
        vals, counts = np.unique(ok, return_counts=True)
        order = np.lexsort((vals, -counts))
        t.head = tuple(str(v) for v in vals[order[:head]])
    elif len(ok):
        t.mean, t.min, t.max = float(ok.mean()), float(ok.min()), float(ok.max())
        t.ordered = np.sort(ok.astype(np.float64))
    return t


def _q_name(q: float) -> str:
    return "median" if q == 0.5 else f"q_{int(round(q * 100)):02d}"


def _close(a, b, tol: float = 1e-9) -> bool:
    return a is not None and not pd.isna(a) and \
        abs(float(a) - b) <= tol * max(1.0, abs(b))


def check_summary(pdf: pd.DataFrame, truths: Dict[tuple, Truth],
                  cfg: MetricConfig, quantile_tol: Optional[float],
                  base=lambda c: c) -> List[str]:
    """Compare a ``ProfileView.to_pandas()`` summary with ground truth.

    ``truths`` is keyed by (segment value or None, column); ``base`` maps
    a profiled column name back to the generated one."""
    errors = []
    seen = set()
    for row in pdf.to_dict("records"):
        seg = json.loads(row["segment"])
        key = (next(iter(seg.values())) if seg else None,
               base(row["column"]))
        t = truths.get(key)
        if t is None:
            continue
        seen.add(key)

        def bad(what, got, want):
            errors.append(f"{key} {what}: got {got!r}, want {want!r}")

        if row.get("counts/n") != t.n:
            bad("counts/n", row.get("counts/n"), t.n)
        if row.get("counts/null") != t.null:
            bad("counts/null", row.get("counts/null"), t.null)
        est = row.get("cardinality/est")
        if est is None or abs(float(est) - t.distinct) > \
                HLL_TOL * t.distinct + 1:
            bad("cardinality/est", est, t.distinct)
        if t.kind == "str":
            items = json.loads(row.get("frequent_items/items") or "[]") \
                if cfg.frequent_items_impl == "sketch" else None
            if items is not None and \
                    tuple(i["value"] for i in items[:len(t.head)]) != t.head:
                bad("frequent_items head",
                    [i["value"] for i in items[:len(t.head)]], t.head)
            continue
        for comp in ("mean", "min", "max"):
            got = row.get(f"distribution/{comp}")
            if not _close(got, getattr(t, comp)):
                bad(f"distribution/{comp}", got, getattr(t, comp))
        if t.kind == "int":
            for comp in ("min", "max"):
                if row.get(f"ints/{comp}") != int(getattr(t, comp)):
                    bad(f"ints/{comp}", row.get(f"ints/{comp}"),
                        getattr(t, comp))
        if quantile_tol is None:
            continue
        m = len(t.ordered)
        for q in cfg.quantiles:
            v = row.get(f"distribution/{_q_name(q)}")
            if v is None or pd.isna(v):
                bad(_q_name(q), v, q)
                continue
            lo = np.searchsorted(t.ordered, v, "left") / m
            hi = np.searchsorted(t.ordered, v, "right") / m
            if max(q - hi, lo - q) > quantile_tol + 1.0 / m:
                bad(f"rank error of {_q_name(q)}", (lo, hi), q)
    missing = set(truths) - seen
    if missing:
        errors.append(f"columns missing from the profile: {sorted(missing)[:5]}")
    return errors


# ------------------------------------------------------------- generators
def _zipf_ranks(rng, n: int, vocab: int, a: float) -> np.ndarray:
    p = 1.0 / np.arange(1, vocab + 1) ** a
    return rng.choice(vocab, size=n, p=p / p.sum())


def _float_column(rng, i: int, n: int) -> np.ndarray:
    kind = i % 8
    if kind == 0:
        return rng.normal(0.0, 1.0, n)
    if kind == 1:
        return rng.lognormal(0.0, 1.0, n)
    if kind == 2:
        return rng.exponential(2.0, n)
    if kind == 3:
        return rng.uniform(-5.0, 5.0, n)
    if kind == 4:
        return np.where(rng.random(n) < 0.3, rng.normal(-3.0, 1.0, n),
                        rng.normal(3.0, 0.5, n))
    if kind == 5:
        return rng.standard_t(3, n)
    if kind == 6:
        return np.round(rng.normal(100.0, 15.0, n), 2)
    return rng.pareto(2.5, n)


def _int_column(rng, i: int, n: int) -> np.ndarray:
    return [lambda: rng.integers(0, 100, n),
            lambda: rng.poisson(50, n),
            lambda: rng.geometric(0.01, n),
            lambda: rng.integers(-10 ** 6, 10 ** 6, n)][i % 4]()


class Columns:
    """Generated columns: name -> (kind, values, null mask)."""

    def __init__(self) -> None:
        self.cols: Dict[str, Tuple[str, np.ndarray, np.ndarray]] = {}

    def add(self, name, kind, values, null) -> None:
        self.cols[name] = (kind, values, null)

    def table(self, suffix: str = "") -> pa.Table:
        arrays = []
        for kind, values, null in self.cols.values():
            if kind == "str":
                arrays.append(pa.array(values.astype(object), type=pa.string(),
                                       mask=null))
            else:
                arrays.append(pa.array(values, mask=null))
        return pa.table(arrays, names=[c + suffix for c in self.cols])

    def truths(self, head: int, segment=None,
               rows: Optional[np.ndarray] = None) -> Dict[tuple, Truth]:
        out = {}
        for name, (kind, values, null) in self.cols.items():
            if rows is not None:
                values, null = values[rows], null[rows]
            out[(segment, name)] = truth_of(kind, values, null, head)
        return out


def write_parquet(table: pa.Table, path: str, files: int) -> str:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:03d}.parquet"))
    return path


# -------------------------------------------------------------- workloads
class Workload:
    """One closed-loop client: each iteration runs a write-side operation
    (build a profile) and then a query-side operation on its result."""

    def __init__(self, spark, seed: int, size: dict, work: str) -> None:
        self.spark = spark
        self.size = size
        self.work = work
        self.files = spark.sparkContext.defaultParallelism
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: List[str] = []
        self.views: List[ProfileView] = []
        self.stored_bytes = 0.0
        self.segment_by: List[str] = []
        self.cfg = MetricConfig()

    # -- accounting -------------------------------------------------------
    def verify(self, what: str, errors: Sequence[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(f"{what}: {e}" for e in errors[:3])

    def run_ops(self, n_ops: int, body):
        """Run ``body`` (``n_ops`` operations); a raised error fails every
        operation it did not finish."""
        before = self.attempted
        try:
            return body()
        except Exception:  # keep the closed loop running; record why
            self.errors.append(traceback.format_exc(limit=4))
            done = self.attempted - before
            self.attempted += n_ops - done
            self.failed += n_ops - done
            return None

    def keep(self, view: ProfileView) -> None:
        self.views = (self.views + [view])[-2:]

    def forget_cached(self) -> None:
        """Drop what profile() left cached, between iterations. It caches
        its sketch pass and never releases it, so the next profile of the
        same input would read the sketches from the cache instead of
        computing them; each iteration must stand for profiling new
        data."""
        self.spark.catalog.clearCache()

    # -- probes used by the traced run --------------------------------------
    def sketch_inputs(self) -> Tuple[np.ndarray, pd.Series]:
        raise NotImplementedError

    def store_probe(self, tr, view: ProfileView
                    ) -> Tuple[ProfileStore, str, str, str]:
        """A store holding ``view`` (already materialized, so only the
        write is timed) written twice by this run, and a window."""
        store = ProfileStore(os.path.join(self.work, "probe_store"),
                             self.cfg)
        for day in (1, 2):
            with tr.span("store.write", probe=True):
                store.write(view, "probe",
                            dt.datetime(2024, 1, day, tzinfo=dt.timezone.utc))
        return store, "probe", "2024-01-01", "2024-01-02"


class ProfileWideSeg(Workload):
    """Segmented profile of a wide cached frame with native quantiles and
    no frequent items: the unpivot path of ``core.wide``. The loop
    profiles the frame back to back; the query reads its summary."""

    quantile_tol = 1.0 / NATIVE_CONFIG.native_quantile_accuracy
    reps = 4  # the median then leaves out the cold first repetition

    def __init__(self, *a, **k) -> None:
        super().__init__(*a, **k)
        self.cfg = NATIVE_CONFIG

    def forget_cached(self) -> None:
        """The input stays cached; the native-quantile path of profile()
        caches nothing."""

    def columns(self) -> Columns:
        n, rng, data = self.size["wide_rows"], self.rng, Columns()
        numeric = self.size["wide_cols"] - 20
        for j in range(numeric):
            data.add(f"n{j:03d}", "float",
                     rng.normal(j % 7, 1 + j % 3, n),
                     rng.random(n) < (0.05 if j % 10 == 0 else 0.0))
        words = np.array([f"k{k:02d}" for k in range(50)], dtype=object)
        for j in range(20):
            data.add(f"c{j:02d}", "str", words[rng.integers(0, 50, n)],
                     rng.random(n) < 0.02)
        segs = np.array([f"g{k}" for k in range(8)], dtype=object)
        self.seg_index = rng.integers(0, 8, n)
        data.add("seg", "str", segs[self.seg_index], np.zeros(n, bool))
        return data

    def truths_of(self, data: Columns) -> Dict[tuple, Truth]:
        out = {}
        for k in range(8):
            part = data.truths(0, f"g{k}", self.seg_index == k)
            part.pop((f"g{k}", "seg"))
            out.update(part)
        return out

    def check(self, view_pdf: pd.DataFrame) -> List[str]:
        return check_summary(view_pdf, self.truths, self.cfg,
                             self.quantile_tol,
                             lambda column: column.split("__r")[0])

    def setup(self) -> List[float]:
        """Each repetition loads the input under fresh column names, so
        the program meets a schema it has not planned before, and builds
        the first profile of it."""
        self.data = self.columns()
        self.truths = self.truths_of(self.data)
        self.rows = self.size["wide_rows"]
        times, old = [], None
        for r in range(self.reps):
            path = write_parquet(self.data.table(f"__r{r}"),
                                 os.path.join(self.work, f"input_r{r}"),
                                 self.files)
            self.segment_by = [f"seg__r{r}"]
            t0 = time.perf_counter()
            df = self.spark.read.parquet(path).cache()
            df.count()
            view = wsp.profile(df, segment_by=self.segment_by,
                               config=self.cfg)
            pdf = view.to_pandas()
            times.append(time.perf_counter() - t0)
            self.verify("setup profile", self.check(pdf))
            if old is not None:
                old.unpersist()
            old = self.df = df
            self.keep(view)
        store = ProfileStore(os.path.join(self.work, "bytes_store"), self.cfg)
        store.write(self.views[-1], "bytes",
                    dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc))
        self.stored_bytes = tree_size(store.path)[1]
        return times

    def iterate(self, tr) -> Optional[dict]:
        def body():
            with tr.span("profile") as w:
                view = wsp.profile(self.df, segment_by=self.segment_by,
                                   config=self.cfg)
            with tr.span("summary") as q:
                pdf = view.to_pandas()
            self.verify("profile", [])
            self.verify("summary", self.check(pdf))
            self.keep(view)
            return {"write": w["wall_s"], "query": q["wall_s"],
                    "profile": w["wall_s"], "rows": self.rows}
        return self.run_ops(2, body)

    def sketch_inputs(self):
        _, values, null = self.data.cols["n001"]
        _, words, wnull = self.data.cols["c00"]
        return values[~null], pd.Series(words[~wnull])


class MonitorStore(Workload):
    """Daily profiles in a ``ProfileStore``; the loop ingests the next day
    and asks for drift between the baseline and the target window."""

    PLANTED = {"x_shift", "c_shift"}

    def _day(self, rng) -> Columns:
        n, data = self.size["day_rows"], Columns()
        for j in range(5):
            data.add(f"x{j}", "float", _float_column(rng, j, n),
                     rng.random(n) < 0.02)
        data.add("x_shift", "float", rng.normal(0.0, 1.0, n),
                 rng.random(n) < 0.02)
        for j in range(2):
            data.add(f"n{j}", "int", _int_column(rng, j, n),
                     np.zeros(n, bool))
        # fewer categories than frequent-item slots: the sketch is exact
        for j in range(3):
            data.add(f"c{j}", "str", self.words[_zipf_ranks(rng, n, 40, 1.2)],
                     rng.random(n) < 0.01)
        data.add("c_shift", "str", self.words[_zipf_ranks(rng, n, 40, 1.2)],
                 rng.random(n) < 0.01)
        return data

    def _shifted(self, day: Columns, rng) -> Columns:
        """The same day with the two planted changes: a mean shift in
        ``x_shift`` and a reversed category mix in ``c_shift``. Every
        other column is identical, so it cannot drift."""
        out = Columns()
        out.cols = dict(day.cols)
        kind, values, null = day.cols["x_shift"]
        out.cols["x_shift"] = (kind, values + 0.5, null)
        n = self.size["day_rows"]
        out.cols["c_shift"] = (
            "str", self.words[39 - _zipf_ranks(rng, n, 40, 1.2)],
            rng.random(n) < 0.01)
        return out

    def setup(self) -> List[float]:
        """Each repetition is one day of the store fill: read the day's
        files, profile them and write the profile."""
        rng, days = self.rng, self.size["days"]
        self.words = np.array([f"cat{k:02d}" for k in range(40)],
                              dtype=object)
        half = days // 2
        base = [self._day(rng) for _ in range(half)]
        store_days = base + [self._shifted(d, rng) for d in base]
        self.loop_days = [self._day(rng) for _ in range(4)]
        self.loop_truths = [d.truths(self.size["head"])
                            for d in self.loop_days]
        self.paths = [
            write_parquet(d.table(), os.path.join(self.work, f"day{i}"),
                          self.files)
            for i, d in enumerate(store_days + self.loop_days)]
        self.store = ProfileStore(os.path.join(self.work, "store"))
        self.window = (self._date(0), self._date(half - 1),
                       self._date(half), self._date(days - 1))
        self.next_day = days
        times = []
        for i, data in enumerate(store_days):
            t0 = time.perf_counter()
            view = wsp.profile(self.spark.read.parquet(self.paths[i]))
            self.store.write(view, "ds", self._ts(i))
            times.append(time.perf_counter() - t0)
            self.verify("store fill", check_summary(
                view.to_pandas(), data.truths(self.size["head"]), self.cfg,
                KLL_RANK_TOL))
            self.keep(view)
        self.stored_bytes = tree_size(self.store.path)[1] / days
        merged = self.store.get(self.spark, "ds", self.window[0],
                                self.window[3]).to_pandas()
        want = days * self.size["day_rows"]
        self.verify("merged store.get count", [
            f"{c}: counts/n {v} != {want}"
            for c, v in zip(merged["column"], merged["counts/n"])
            if v != want])
        self.rows = self.size["day_rows"]
        return times

    def _date(self, i: int) -> str:
        return self._ts(i).date().isoformat()

    def _ts(self, i: int) -> dt.datetime:
        return dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc) + \
            dt.timedelta(days=i)

    def iterate(self, tr) -> Optional[dict]:
        def body():
            k = (self.next_day - self.size["days"]) % len(self.loop_days)
            path = self.paths[self.size["days"] + k]
            with tr.span("ingest") as w:
                with tr.span("profile") as p:
                    view = wsp.profile(self.spark.read.parquet(path))
                with tr.span("store.write"):
                    self.store.write(view, "ds", self._ts(self.next_day))
            self.next_day += 1
            self.verify("ingest", check_summary(
                view.to_pandas(), self.loop_truths[k],
                self.cfg, KLL_RANK_TOL))
            self.keep(view)
            with tr.span("drift_query") as q:
                scores = self.store.drift_between(self.spark, "ds",
                                                  *self.window)
            flagged = {s.column for s in scores if s.category == "DRIFT"}
            self.verify("drift_query", [] if flagged == self.PLANTED else
                        [f"flagged {sorted(flagged)}"])
            return {"write": w["wall_s"], "query": q["wall_s"],
                    "profile": p["wall_s"], "rows": self.rows}
        return self.run_ops(2, body)

    def store_probe(self, tr, view):
        super().store_probe(tr, view)
        return self.store, "ds", self.window[0], self.window[1]

    def sketch_inputs(self):
        _, values, null = self.loop_days[0].cols["x0"]
        _, words, wnull = self.loop_days[0].cols["c0"]
        return values[~null], pd.Series(words[~wnull])

    @property
    def df(self):
        return self.spark.read.parquet(self.paths[0])


WORKLOADS = {
    "profile_wide_seg": ProfileWideSeg,
    "monitor_store": MonitorStore,
}


# ------------------------------------------------------------ layer probes
def _per_call(fn, min_s: float = 0.2) -> float:
    """Median seconds per call of ``fn`` over repeats lasting ``min_s``."""
    times, spent = [], 0.0
    while spent < min_s or len(times) < 3:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
        spent += times[-1]
    return statistics.median(times)


def layer_probes(wl: Workload, tr) -> dict:
    """Time the public functions of each layer on the workload's data."""
    out = {}
    schema, cfg, seg = wl.df.schema, wl.cfg, wl.segment_by
    wide = len(schema.fields) - len(seg) >= cfg.wide_column_threshold
    cold = []
    for k in range(3):
        # fresh names: the planner's memo has never seen this schema
        renamed = T.StructType([T.StructField(f"{f.name}__p{k}", f.dataType)
                                for f in schema.fields])
        rseg = [f"{s}__p{k}" for s in seg]
        plan = (lambda: plan_wide_sketches(renamed, None, rseg, cfg)) \
            if wide else (lambda: plan_dataframe(renamed, None, rseg, cfg))
        t0 = time.perf_counter()
        plan()
        cold.append(time.perf_counter() - t0)
    out["planner.plan_s"] = statistics.median(cold)
    out["planner.plan_warm_s"] = _per_call(plan, 0.05)

    values, words = wl.sketch_inputs()
    k = cfg.effective_kll_k
    out["sketches.kll_update_ns_per_value"] = 1e9 / len(values) * _per_call(
        lambda: KllSketch(k).update_batch(values))
    out["sketches.fi_update_ns_per_value"] = 1e9 / len(words) * _per_call(
        lambda: FrequentStringsSketch(cfg.fi_capacity,
                                      cfg.max_frequent_item_size)
        .update_batch(words))
    half = len(values) // 2
    a, b = KllSketch(k), KllSketch(k)
    a.update_batch(values[:half])
    b.update_batch(values[half:])
    blob_a, blob_b = a.serialize(), b.serialize()
    out["sketches.kll_merge_us"] = 1e6 * _per_call(
        lambda: KllSketch.deserialize(blob_a).merge(
            KllSketch.deserialize(blob_b)), 0.05)
    a.merge(b)
    out["sketches.kll_blob_bytes"] = len(a.serialize())

    out["wide.native_rows_s"] = _per_call(
        lambda: wide_native_rows(wl.df, None, seg, cfg), 0.0)

    # the last two profiles, collected into local frames: probing the
    # store and drift must not run the sketch pass behind a view again
    mats = [ProfileView(wl.spark.createDataFrame(v.df.collect(),
                                                 PROFILE_SCHEMA), cfg)
            for v in wl.views[-2:]]

    before = tree_size(os.path.join(wl.work, "probe_store"))
    store, ds, lo, hi = wl.store_probe(tr, mats[-1])
    writes = [s for s in tr.spans if s["name"] == "store.write"
              and s.get("probe")]
    out["store.write_s"] = statistics.median(s["wall_s"] for s in writes)
    after = tree_size(os.path.join(wl.work, "probe_store"))
    out["store.files_written"] = (after[0] - before[0]) / len(writes)
    out["store.bytes_written"] = (after[1] - before[1]) / len(writes)
    with tr.span("store.get") as g:
        store.get(wl.spark, ds, lo, hi).df.collect()
    led = g["ledger"]
    out["store.get_s"] = g["wall_s"]
    out["store.get_jobs"] = led["jobs"]
    out["store.get_tasks"] = led["tasks"]
    out["store.partitions_listed"] = led["partitions_read"]
    out["store.shuffle_write_bytes"] = led["shuffle_write_bytes"]

    out["drift.score_s"] = _per_call(
        lambda: calculate_drift_scores(mats[-1], mats[0]), 0.0)
    return out
