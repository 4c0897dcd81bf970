"""Profile store: partitioned Parquet, merge-on-read.

Reference: python/whylogs/api/store/sqlite_store.py:13-119 (SQLiteStore
with merge-on-write within a period) and its DateQuery/DatasetIdQuery
(query.py:7,21).

Spark-first: an append-only Parquet table partitioned by
(dataset_id, date). Writes never merge (appends are cheap and safe under
concurrency); queries prune partitions via dataset_id/date predicates —
Catalyst partition pruning makes "get profiles for dataset X, last 7
days" a metadata-only scan — and merge the matching rows on read via the
profile monoid.
"""

from __future__ import annotations

import datetime as _dt
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.configs import DEFAULT_CONFIG, MetricConfig
from ..core.profiler import ProfileView, _merge_profile_df


class ProfileStore:
    def __init__(self, path: str,
                 config: MetricConfig = DEFAULT_CONFIG) -> None:
        self.path = path
        self.config = config

    def write(
        self,
        view: ProfileView,
        dataset_id: str,
        dataset_ts: Optional[_dt.datetime] = None,
    ) -> None:
        ts = dataset_ts or _dt.datetime.now(_dt.timezone.utc)
        df = (
            view.df.withColumn("dataset_id", F.lit(dataset_id))
            .withColumn("date", F.lit(ts.date().isoformat()))
            .withColumn("dataset_ts", F.lit(ts.isoformat()))
        )
        (
            df.write.mode("append")
            .partitionBy("dataset_id", "date")
            .parquet(self.path)
        )

    def _read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def get(
        self,
        spark: SparkSession,
        dataset_id: str,
        date_from: Optional[str] = None,
        date_to: Optional[str] = None,
        merge: bool = True,
    ) -> ProfileView:
        """DateQuery equivalent; partition-pruned scan + monoid merge."""
        df = self._read(spark).filter(F.col("dataset_id") == dataset_id)
        if date_from is not None:
            df = df.filter(F.col("date") >= date_from)
        if date_to is not None:
            df = df.filter(F.col("date") <= date_to)
        if not merge:
            return ProfileView(df, self.config)
        tagged = df.withColumn(
            "src", F.xxhash64(F.col("dataset_ts"))).select(
            "segment", "column", "metric", "component", "n", "d", "s",
            "b", "src")
        return ProfileView(
            _merge_profile_df(tagged, self.config), self.config)

    def list_datasets(self, spark: SparkSession) -> list:
        return [
            r["dataset_id"]
            for r in self._read(spark).select("dataset_id")
            .distinct().collect()
        ]

    def drift_between(
        self,
        spark: SparkSession,
        dataset_id: str,
        baseline_from: str,
        baseline_to: str,
        target_from: str,
        target_to: str,
        algorithm: str = "default",
        by_segment: bool = False,
    ):
        """Drift scores between two stored date ranges of a dataset —
        the monitoring question ("did last week move vs the month
        before?") straight off the store. Returns the per-column
        ``DriftScore`` list; requires profiles written with sketch
        metrics (the default config).

        ``algorithm``: "default" = KS for numeric + chi2 for
        categorical (``calculate_drift_scores``); "psi" = sketch PSI
        with the standard 0.1/0.25 bands (``psi_scores``);
        "hellinger" = Hellinger distance (``hellinger_scores``);
        "wasserstein" = earth-mover distance, range-normalized for the
        category (``wasserstein_scores``).

        ``by_segment=True`` (for SEGMENTED stored profiles) localizes
        the answer: the same algorithm per shared segment
        (``core.drift.drift_by_segment``) — returns
        ``SegmentDriftScore`` rows instead.

        Query shape: ONE partition-pruned scan over both date ranges
        that keeps only the sketch components the tests read (``kll``
        and ``mg`` rows). Each row is tagged with the window(s) its
        date falls in — a batch inside both windows feeds both sides —
        and one groupBy(side, segment, column, component) merges the
        blobs executor-side in ascending ``dataset_ts`` order, so the
        answer replays identically. One collect returns two merged
        sketch tables (2 x segments x columns rows, however many
        batches the windows hold); the scoring is driver-side."""
        import pandas as pd

        from ..core.drift import (SKETCH_COMPONENTS, drift_scorer,
                                  score_segments, sketch_tables)
        from ..core.sketches import merge_fi_blobs, merge_kll_blobs

        # validate BEFORE the scan: a typo'd algorithm should not cost
        # a store read first
        scorer = drift_scorer(algorithm)
        date = F.col("date")
        in_ref = (date >= baseline_from) & (date <= baseline_to)
        in_tgt = (date >= target_from) & (date <= target_to)
        df = self._read(spark).filter(
            (F.col("dataset_id") == dataset_id) & (in_ref | in_tgt)
            & F.col("component").isin(*SKETCH_COMPONENTS)
            & F.col("b").isNotNull())
        if not by_segment:
            df = df.filter(F.col("segment") == "{}")
        sides = F.array_compact(F.array(
            F.when(in_ref, F.lit("ref")), F.when(in_tgt, F.lit("tgt"))))
        tagged = df.select(
            F.explode(sides).alias("side"), "segment", "column",
            "component", F.to_timestamp("dataset_ts").alias("ts"), "b")

        kll_k = self.config.effective_kll_k
        fi_cap = self.config.fi_capacity
        fi_maxlen = self.config.max_frequent_item_size

        def merge(pdf: pd.DataFrame) -> pd.DataFrame:
            # pinned order: batch time, then blob bytes for equal times
            pdf = pdf.sort_values(["ts", "b"], kind="stable")
            if pdf["component"].iloc[0] == "kll":
                sk = merge_kll_blobs(pdf["b"], kll_k)
            else:
                sk = merge_fi_blobs(pdf["b"], fi_cap, fi_maxlen)
            return pdf.iloc[:1][["side", "segment", "column",
                                 "component"]].assign(b=sk.serialize())

        rows = (tagged.groupBy("side", "segment", "column", "component")
                .applyInPandas(merge, "side string, segment string, "
                               "column string, component string, b binary")
                .collect())
        tgt, ref = (sketch_tables(r for r in rows if r["side"] == side)
                    for side in ("tgt", "ref"))
        if by_segment:
            return score_segments(tgt, ref, scorer)
        return scorer(tgt.get("{}", {}), ref.get("{}", {}))

    def compact(
        self,
        spark: SparkSession,
        dataset_id: str,
        date_from: Optional[str] = None,
        date_to: Optional[str] = None,
    ) -> int:
        """Merge each (dataset_id, date) partition's appended profiles
        into one via the profile monoid and rewrite the partition —
        the maintenance pass that bounds an append-only store (the
        reference's SQLiteStore merges on write within a period;
        appends + periodic compaction get the same end state without
        write-path contention). Returns the number of partitions
        rewritten (partitions already holding a single batch are left
        untouched).

        Trade-off (documented, deliberate): within a compacted date
        the per-batch series collapses to one row, so
        ``metric_series`` / ``anomalies_between`` granularity becomes
        daily for those dates; compact only history older than the
        monitoring window. ``dataset_ts`` keeps the partition's max.

        Each partition's merged profile is tiny (one row per metric
        component), so it materializes driver-side before the
        overwrite — never reading and overwriting the same files in
        one plan.
        """
        df = self._read(spark).filter(F.col("dataset_id") == dataset_id)
        if date_from is not None:
            df = df.filter(F.col("date") >= date_from)
        if date_to is not None:
            df = df.filter(F.col("date") <= date_to)
        todo = sorted(
            (r["date"], r["max_ts"])
            for r in df.groupBy("date").agg(
                F.countDistinct("dataset_ts").alias("n_ts"),
                F.max("dataset_ts").alias("max_ts")).collect()
            if r["n_ts"] > 1)
        if not todo:
            return 0
        # one union plan over every qualifying date -> one collect job
        # and one dynamic-overwrite write, not a per-date job storm
        # (a year of daily appends is ~365 tiny partitions)
        frames = []
        for d, max_ts in todo:
            tagged = df.filter(F.col("date") == d).withColumn(
                "src", F.xxhash64(F.col("dataset_ts"))).select(
                "segment", "column", "metric", "component", "n", "d",
                "s", "b", "src")
            frames.append(
                _merge_profile_df(tagged, self.config)
                .withColumn("date", F.lit(d))
                .withColumn("dataset_ts", F.lit(max_ts)))
        merged = frames[0]
        for f in frames[1:]:
            merged = merged.unionByName(f)
        # materialize driver-side (profiles are KB-scale) so the write
        # never overwrites files its own plan is reading
        rows = merged.collect()
        local = spark.createDataFrame(rows, merged.schema) \
            .withColumn("dataset_id", F.lit(dataset_id))
        prev = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (local.write.mode("overwrite")
             .partitionBy("dataset_id", "date").parquet(self.path))
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev)
        return len(todo)

    def prune(
        self,
        spark: SparkSession,
        older_than: str,
        dataset_id: Optional[str] = None,
    ) -> int:
        """Retention: delete stored partitions with ``date <
        older_than`` (ISO date string; lexicographic compare IS
        chronological), optionally for one dataset. Returns the number
        of (dataset, date) partitions removed.

        Pure partition-directory deletes through the Hadoop
        FileSystem — no scan, no rewrite, any FS URI the session's
        connectors reach (same layer as ``io.fsio``). Like
        ``compact``, run it from a maintenance window, not
        concurrently with a writer appending into the dates being
        dropped."""
        import datetime as _dt2
        from urllib.parse import unquote as _unquote

        try:
            _dt2.date.fromisoformat(older_than)
        except (ValueError, TypeError):
            # a regex would wave through "2026-19-99", which sorts
            # past every real 2026 date and would wipe the whole year
            raise ValueError(
                f"older_than must be a valid ISO date, "
                f"got {older_than!r}")
        from .fsio import _fs_and_path

        fs, root, _ = _fs_and_path(self.path, spark)
        if not fs.exists(root):
            return 0
        removed = 0
        for ds in fs.listStatus(root):
            if not ds.isDirectory():
                continue
            name = ds.getPath().getName()
            if not name.startswith("dataset_id="):
                continue
            # Spark Hive-escapes partition values (':' -> %3A, ...);
            # percent-decode so every id write() accepts is prunable
            if dataset_id is not None and \
                    _unquote(name[len("dataset_id="):]) != dataset_id:
                continue
            for dd in fs.listStatus(ds.getPath()):
                dn = dd.getPath().getName()
                if dn.startswith("date=") and dn[5:] < older_than:
                    if not fs.delete(dd.getPath(), True):
                        raise IOError(
                            f"prune: delete of {dd.getPath()} "
                            "reported failure")
                    removed += 1
        return removed

    def schema_between(
        self,
        spark: SparkSession,
        dataset_id: str,
        baseline_from: str,
        baseline_to: str,
        target_from: str,
        target_to: str,
    ) -> DataFrame:
        """Schema drift between two stored date ranges, mirroring
        ``drift_between``: added / removed / type-changed columns and
        null-fraction deltas (``core.drift.schema_diff``) from two
        partition-pruned merge-on-read loads."""
        from ..core.drift import schema_diff

        ref = self.get(spark, dataset_id, baseline_from, baseline_to)
        tgt = self.get(spark, dataset_id, target_from, target_to)
        return schema_diff(tgt, ref)

    def metric_series(
        self,
        spark: SparkSession,
        dataset_id: str,
        column: str,
        metric: str,
        component: str,
        date_from: Optional[str] = None,
        date_to: Optional[str] = None,
    ) -> DataFrame:
        """One row per stored batch (NOT merged): (segment, dataset_ts,
        value) for a numeric metric component — the time series the
        reference ships to its monitoring backend, materialized
        engine-side. The scan is partition-pruned and column/metric
        filters push into it; ``value`` coalesces the double and long
        component slots (e.g. ``distribution/mean`` vs ``counts/n``)."""
        df = self._read(spark).filter(
            (F.col("dataset_id") == dataset_id)
            & (F.col("column") == column)
            & (F.col("metric") == metric)
            & (F.col("component") == component))
        if date_from is not None:
            df = df.filter(F.col("date") >= date_from)
        if date_to is not None:
            df = df.filter(F.col("date") <= date_to)
        return df.select(
            "segment",
            F.to_timestamp("dataset_ts").alias("dataset_ts"),
            F.coalesce(F.col("d"), F.col("n").cast("double"))
            .alias("value"))

    def anomalies_between(
        self,
        spark: SparkSession,
        dataset_id: str,
        column: str,
        metric: str,
        component: str,
        date_from: Optional[str] = None,
        date_to: Optional[str] = None,
        window: int = 7,
        method: str = "zscore",
        threshold: Optional[float] = None,
        min_baseline: int = 3,
        phase: Optional[str] = None,
    ) -> DataFrame:
        """Trailing-baseline anomaly scan of a stored metric series —
        the per-batch deviation monitor the reference delegates to its
        backend, answered straight off the store like
        ``drift_between``. Each segment is an independent series (so a
        segmented profile monitors per-segment); see
        ``core.monitor.anomaly_scan`` for methods and scale notes.

        ``phase`` makes the baseline seasonal by deriving a phase
        column from ``dataset_ts``: "hour" (hour of day), "dow" (day
        of week) or "dom" (day of month) — hourly batches with a
        daily rhythm judge 14:00 against previous 14:00s, daily
        batches with a weekly rhythm judge Mondays against Mondays.

        ``date_from`` bounds the JUDGED rows, not the baseline: the
        scan reads the series up to ``date_to`` so the first batches
        inside the range are still judged against the history before
        it (a shift planted on the range's first day must not go
        unjudged just because the range starts there). The store holds
        one row per batch, so the un-pruned left edge is cheap."""
        from ..core.monitor import anomaly_scan

        phases = {"hour": F.hour, "dow": F.dayofweek,
                  "dom": F.dayofmonth}
        if phase is not None and phase not in phases:
            raise ValueError(
                f"phase must be one of {sorted(phases)}, got {phase!r}")
        series = self.metric_series(
            spark, dataset_id, column, metric, component,
            None, date_to)
        phase_col = None
        if phase is not None:
            phase_col = f"__phase_{phase}"
            series = series.withColumn(
                phase_col, phases[phase](F.col("dataset_ts")))
        scored = anomaly_scan(
            series, "dataset_ts", "value", key_cols=["segment"],
            window=window, method=method, threshold=threshold,
            min_baseline=min_baseline, phase_col=phase_col)
        if phase_col is not None:
            scored = scored.drop(phase_col)
        if date_from is not None:
            scored = scored.filter(
                F.to_date("dataset_ts") >= date_from)
        return scored

    def missing_batches(
        self,
        spark: SparkSession,
        dataset_id: str,
        expected_seconds: int,
        tolerance: float = 0.5,
        date_from: Optional[str] = None,
        date_to: Optional[str] = None,
    ) -> DataFrame:
        """Missing-batch detection over a dataset's stored profile
        cadence (``core.monitor.missing_periods`` on the distinct
        ``dataset_ts`` values) — "did yesterday's profile never
        arrive?" as one partition-pruned scan plus a lag."""
        from ..core.monitor import missing_periods

        df = self._read(spark).filter(F.col("dataset_id") == dataset_id)
        if date_from is not None:
            df = df.filter(F.col("date") >= date_from)
        if date_to is not None:
            df = df.filter(F.col("date") <= date_to)
        ts = df.select(
            F.to_timestamp("dataset_ts").alias("dataset_ts")).distinct()
        return missing_periods(
            ts, "dataset_ts", expected_seconds=expected_seconds,
            tolerance=tolerance)

    def run_monitors(
        self,
        spark: SparkSession,
        dataset_id: str,
        specs,
        date_from: Optional[str] = None,
        date_to: Optional[str] = None,
    ) -> DataFrame:
        """Run a monitor suite over the stored metric series and return
        one unioned ALERTS frame — the declarative "configure monitors
        on a dataset" surface of the reference's backend, engine-side.

        ``specs`` is a list of dicts, each::

            {"column": "price", "metric": "distribution",
             "component": "mean",        # any numeric component
             "method": "zscore",  # zscore|mad|iqr|cusum|ewma|missing
             "window": 7, "threshold": 3.0, "min_baseline": 3,
             "phase": "dow",             # optional seasonal baseline
             # cusum only:
             "k": 0.5, "h": 5.0, "baseline_n": 10,
             # ewma only:
             "lam": 0.2, "L": 3.0,       # (+ baseline_n as cusum)
             # missing only (no column needed):
             "expected_seconds": 86400, "tolerance": 0.5}

        Output columns: (monitor, column, metric, component, segment,
        dataset_ts, value, score, kind) — one row per fired alert
        (``kind`` = anomaly | shift_up | shift_down | missing_batch,
        where a missing-batch alert carries the gap end as its ts,
        gap_seconds as value and whole periods missed as score). Each spec costs
        one partition-pruned scan of the tiny series store; specs are
        independent, so the driver loop just assembles a union plan
        (one job when the caller materializes it).
        """
        from ..core.monitor import cusum_changepoints

        frames = []
        for i, spec in enumerate(specs):
            method = spec.get("method", "zscore")
            if method == "missing":
                # like every other branch: date_from bounds the
                # ALERTED rows, not the scanned history — the lag
                # needs the batch BEFORE the range to see a gap at
                # the range start
                gaps = self.missing_batches(
                    spark, dataset_id,
                    expected_seconds=spec["expected_seconds"],
                    tolerance=spec.get("tolerance", 0.5),
                    date_from=None, date_to=date_to)
                if date_from is not None:
                    gaps = gaps.filter(
                        F.to_date("gap_end") >= date_from)
                frames.append(gaps.select(
                    F.lit(spec.get("name", "missing_batches"))
                    .alias("monitor"),
                    F.lit("*").alias("column"),
                    F.lit("*").alias("metric"),
                    F.lit("*").alias("component"),
                    F.lit("{}").alias("segment"),
                    F.col("gap_end").alias("dataset_ts"),
                    F.col("gap_seconds").alias("value"),
                    F.col("n_missed").cast("double").alias("score"),
                    F.lit("missing_batch").alias("kind")))
                continue
            column = spec["column"]
            metric = spec.get("metric", "distribution")
            component = spec.get("component", "mean")
            name = spec.get("name",
                            f"{column}.{metric}.{component}.{method}")
            tag = [
                F.lit(name).alias("monitor"),
                F.lit(column).alias("column"),
                F.lit(metric).alias("metric"),
                F.lit(component).alias("component"),
            ]
            if method == "cusum":
                # like anomalies_between: date_from bounds the ALERTED
                # rows, not the walk — the baseline estimates from the
                # history before the range, else a shift just before
                # date_from would calibrate mu/sigma to the shifted
                # data and never alarm
                series = self.metric_series(
                    spark, dataset_id, column, metric, component,
                    None, date_to)
                cu = cusum_changepoints(
                    series, "dataset_ts", "value",
                    key_cols=["segment"], k=spec.get("k", 0.5),
                    h=spec.get("h", 5.0),
                    baseline_n=spec.get("baseline_n", 10))
                if date_from is not None:
                    cu = cu.filter(
                        F.to_date("dataset_ts") >= date_from)
                alerts = cu.filter(
                    F.coalesce(F.col("alarm_up"), F.lit(False))
                    | F.coalesce(F.col("alarm_down"), F.lit(False))
                ).select(
                    *tag, "segment", "dataset_ts", "value",
                    F.greatest("s_pos", "s_neg").alias("score"),
                    F.when(F.col("alarm_up"), F.lit("shift_up"))
                    .otherwise(F.lit("shift_down")).alias("kind"))
            elif method == "ewma":
                # same pre-range-history contract as cusum: the chart
                # and its baseline see the full series up to date_to,
                # date_from bounds only the ALERTED rows
                from ..core.monitor import ewma_chart

                series = self.metric_series(
                    spark, dataset_id, column, metric, component,
                    None, date_to)
                ew = ewma_chart(
                    series, "dataset_ts", "value",
                    key_cols=["segment"], lam=spec.get("lam", 0.2),
                    L=spec.get("L", 3.0),
                    baseline_n=spec.get("baseline_n", 10))
                if date_from is not None:
                    ew = ew.filter(
                        F.to_date("dataset_ts") >= date_from)
                alerts = ew.filter(
                    F.coalesce(F.col("alarm"), F.lit(False))
                ).select(
                    *tag, "segment", "dataset_ts", "value",
                    # score = how far outside the band, in halfwidths
                    (F.greatest(F.col("ewma") - F.col("ucl"),
                                F.col("lcl") - F.col("ewma"))
                     / ((F.col("ucl") - F.col("lcl")) / 2))
                    .alias("score"),
                    F.when(F.col("ewma") > F.col("ucl"),
                           F.lit("shift_up"))
                    .otherwise(F.lit("shift_down")).alias("kind"))
            else:
                sc = self.anomalies_between(
                    spark, dataset_id, column, metric, component,
                    date_from, date_to,
                    window=spec.get("window", 7), method=method,
                    threshold=spec.get("threshold"),
                    min_baseline=spec.get("min_baseline", 3),
                    phase=spec.get("phase"))
                alerts = sc.filter(F.col("is_anomaly")).select(
                    *tag, "segment", "dataset_ts", "value", "score",
                    F.lit("anomaly").alias("kind"))
            frames.append(alerts)
        if not frames:
            raise ValueError("specs must be non-empty")
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def auc_between(
        self,
        spark: SparkSession,
        dataset_id: str,
        date_from: str,
        date_to: str,
        score_col: str,
        label_col: str,
        pos_value: str = "1",
        neg_value: str = "0",
        metric: str = "roc",
    ) -> float:
        """Model-perf monitoring off the store, mirroring
        ``drift_between``: ROC-AUC (``metric="roc"``) or average
        precision (``metric="pr"``) of ``score_col`` over a stored
        date range, from profiles written SEGMENTED BY the label
        column (``profile(df, segment_by=[label_col])``). The
        partition-pruned merge-on-read combines each class's per-day
        KLL score sketches by the sketch monoid, then the sketch
        metric (``core.model_perf.roc_auc_from_sketches`` /
        ``pr_auc_from_sketches``) runs driver-side over two small
        blobs — no raw scores are ever re-read. NaN if either class
        segment is missing from the range."""
        from ..core.model_perf import (pr_auc_from_profile,
                                       roc_auc_from_profile)

        fns = {"roc": roc_auc_from_profile, "pr": pr_auc_from_profile}
        fn = fns.get(metric)
        if fn is None:
            raise ValueError(
                f"metric must be one of {sorted(fns)}, got {metric!r}")
        view = self.get(spark, dataset_id, date_from, date_to)
        return fn(view, score_col, label_col, pos_value, neg_value)

    def quantile_series(
        self,
        spark: SparkSession,
        dataset_id: str,
        column: str,
        quantiles=(0.25, 0.5, 0.95),
        window: int = 7,
        date_from: Optional[str] = None,
        date_to: Optional[str] = None,
    ) -> DataFrame:
        """Rolling-window quantile series from stored KLL sketches:
        one row per (segment, stored batch) whose quantile estimates
        come from the MERGED sketches of the trailing ``window``
        batches ending at that batch — "p95 over the last 7 daily
        profiles, every day" straight off the store, no raw data
        re-read.  Columns: ``(segment, dataset_ts, batches, n,
        q_<pct>...)``; early rows merge however many batches exist
        (``batches`` says how many), so the series starts day one.

        Scale shape: the scan is partition-pruned to
        (dataset_id, column, distribution/kll) rows — KB-sized blobs,
        one per segment per batch, never data rows.  Each batch row
        fans out to the ``window`` window-ends it participates in
        (one explode, x window), then ONE groupBy(segment,
        window_end) Arrow-batched pandas merge unions <= ``window``
        blobs per group and reads the quantiles off the merged
        sketch.  100+ windows x many segments stays a bounded
        sketch-algebra job: cost ~ batches x window blob merges,
        independent of the profiled table's size.  The per-segment
        ``row_number`` window runs over batch COUNTS (a store has
        hundreds of batches, not billions).  Merge order inside a
        window is pinned (ascending batch) so compaction randomness
        replays identically run to run.
        """
        import pandas as pd

        from ..core.sketches import merge_kll_blobs

        if window < 1:
            raise ValueError(f"window must be >= 1: {window}")
        qs = [float(q) for q in quantiles]
        if not qs or any(not 0.0 < q < 1.0 for q in qs):
            raise ValueError(f"quantiles must be in (0, 1): {quantiles}")
        qcols = [f"q_{str(q).replace('0.', '').ljust(2, '0')[:4]}"
                 for q in qs]
        if len(set(qcols)) != len(qcols):
            raise ValueError(f"quantiles collide after naming: {qcols}")

        df = self._read(spark).filter(
            (F.col("dataset_id") == dataset_id)
            & (F.col("column") == column)
            & (F.col("metric") == "distribution")
            & (F.col("component") == "kll")
            & F.col("b").isNotNull())
        if date_from is not None:
            df = df.filter(F.col("date") >= date_from)
        if date_to is not None:
            df = df.filter(F.col("date") <= date_to)
        from pyspark.sql import Window as W
        rn = F.row_number().over(
            W.partitionBy("segment").orderBy("dataset_ts"))
        base = df.select(
            "segment", F.to_timestamp("dataset_ts").alias("dataset_ts"),
            "b").withColumn("__rn", rn)
        mx = base.groupBy("segment").agg(F.max("__rn").alias("__mx"))
        fan = (base.join(mx, "segment")
               .select("segment", "dataset_ts", "b", "__rn",
                       F.explode(F.sequence(
                           F.col("__rn"),
                           F.least(F.col("__rn") + F.lit(window - 1),
                                   F.col("__mx")))).alias("__end")))

        kll_k = self.config.effective_kll_k
        out_schema = ("segment string, dataset_ts timestamp, "
                      "batches int, n long, "
                      + ", ".join(f"{c} double" for c in qcols))

        def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("__rn")
            sk = merge_kll_blobs(pdf["b"], kll_k)
            end_row = pdf[pdf["__rn"] == pdf["__end"].iloc[0]]
            ts = end_row["dataset_ts"].iloc[0] if len(end_row) \
                else pdf["dataset_ts"].iloc[-1]
            vals = sk.quantiles(qs) if sk.n else [None] * len(qs)
            rec = {"segment": pdf["segment"].iloc[0],
                   "dataset_ts": ts, "batches": len(pdf),
                   "n": int(sk.n)}
            for c, v in zip(qcols, vals):
                rec[c] = None if v is None else float(v)
            return pd.DataFrame([rec])

        return (fan.groupBy("segment", "__end")
                .applyInPandas(_merge, out_schema))
