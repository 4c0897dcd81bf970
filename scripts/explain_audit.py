"""Plan audit: build the plans of the headline operators and check, node
by node through ``whylogs_spark.core.plan``, the properties the 100 TB
design depends on: narrow scans with pushed filters, partial -> exchange
-> final aggregation, hot expressions inside codegen stages, broadcast
joins where they should broadcast, and no Python node where the design
promises JVM-only work.  The key invariants also run in Tier-1
(``tests/test_plan_invariants.py``).

Writes PLANS.md at the repo root and prints ``ALL OK`` when every check
holds.  Usage: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import pathlib
import re
import sys
import tempfile

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path[:0] = [str(REPO), str(REPO / "tests")]

from test_plan_invariants import (  # noqa: E402
    GLOBAL_WINDOW_ALLOW, global_window_violations)

from whylogs_spark.core.plan import Plan, matcher, named  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

# -- node tests (a name, a tuple of names, or a callable on a Node) -----
AGG = ("HashAggregate", "ObjectHashAggregate")
AGGS = AGG + ("SortAggregate",)
EQUI = ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
BCAST_JOINS = ("BroadcastHashJoin", "BroadcastNestedLoopJoin")
ROW_PY = ("BatchEvalPython", "ArrowEvalPython")


SCAN, WINDOWS = named("Scan parquet"), named("Window")
JOINS, EXCHANGES = named("Join"), named("Exchange")


def rx(spec, pattern):
    """Passes ``spec`` and its description matches ``pattern``."""
    test = matcher(spec)
    return lambda n: test(n) and re.search(pattern, n.desc) is not None


def window_rx(pattern):
    """A window whose spec's first arguments match ``pattern``."""
    return rx(WINDOWS, r"windowspecdefinition\(" + pattern)


def is_hashed(prefix):
    """A shuffle exchange hash-partitioned on a key starting ``prefix``."""
    return rx("Exchange", "^Exchange hashpartitioning\\(" + re.escape(prefix))


def agg_with(*texts):
    """An aggregate whose functions name every one of ``texts``."""
    return lambda n: n.name in AGGS and all(t in n.desc for t in texts)


# -- predicates over a Plan ---------------------------------------------
def has(spec, text=""):
    return lambda p: p.has(spec, text)


def no(*specs):
    tests = [matcher(s) for s in specs]
    return lambda p: not p.has(lambda n: any(t(n) for t in tests))


def count(spec, lo=0, hi=float("inf")):
    return lambda p: lo <= p.count(spec) <= hi


def exchanges(kind, lo=1, hi=float("inf")):
    return lambda p: lo <= p.exchanges()[kind] <= hi


def path(*specs):
    return lambda p: p.path(*specs)


def both(*preds):
    return lambda p: all(f(p) for f in preds)


def either(*preds):
    return lambda p: any(f(p) for f in preds)


def hashed(prefix):
    return has(is_hashed(prefix))


def ranged(prefix=""):
    return has("Exchange", "rangepartitioning(" + prefix)


def keyed(prefix):
    """Some window partitioned by a key starting ``prefix``."""
    return has(window_rx(re.escape(prefix)))


def windows_keyed(alternatives):
    """Every window spec leads with one of ``alternatives`` (a regex)."""
    return no(window_rx(f"(?!({alternatives}))"))


def no_global_sort(col):
    """No global Sort leading with ``col`` (with any column if empty)."""
    return no(rx("Sort", rf"^Sort \[{re.escape(col)}.*\], true"))


def reads(*cols, first=None):
    """Some parquet scan reads every column of ``cols`` (and reads
    ``first`` as its first column)."""
    return lambda p: any(set(cols) <= set(s.read_schema)
                         and first in (None, s.read_schema[0])
                         for s in p.scans())


def pushed(pattern):
    return lambda p: any(re.search(pattern, s.pushed) for s in p.scans())


def NO_PY(p):
    return not p.python_nodes()


PARTIAL = path(AGG, "Exchange", AGG)
PARTIAL_ANY = path(AGGS, "Exchange", AGGS)
NO_WINDOW = no(WINDOWS)
TOP_K = has("TakeOrderedAndProject")
BCAST = has(BCAST_JOINS)
CODEGEN_PROJECT = has(lambda n: n.name == "Project" and n.codegen)
#: an executed plan's hash aggregates all run inside whole-stage codegen
CODEGEN_AGGS = both(has("HashAggregate"), no(
    lambda n: n.name == "HashAggregate" and not n.codegen))
#: a window whose first argument is a sort spec on a non-__slice column
#: is a global ORDERED window over the data (the single-task sort
#: shape); partitioned windows and orderless full-frame windows (the
#: bounded slice-totals rollup) are fine
NO_DATA_WINDOW = no(window_rx(r"(?!__slice)[^(),]*? (?:ASC|DESC)"))
#: the runtime contract of a watermarked stateful aggregate
STATEFUL = {
    "watermark attached (state evictable)": has("EventTimeWatermark"),
    "stateful aggregation (state store save/restore)":
        both(has(lambda n: "StateStoreSave" in n.name),
             has(lambda n: "StateStoreRestore" in n.name)),
    "partial agg before the state-keyed exchange":
        path(AGG, is_hashed(""), AGGS),
    "exactly one data exchange (no shuffle besides the state key)":
        exchanges("hash", 0, 1),
    "no Python in the streaming hot path":
        no(lambda n: n.name.startswith(ROW_PY + ("FlatMapGroupsInPandas",))),
}


def main() -> None:
    import datetime as dt
    import whylogs_spark as wsp
    from pyspark.sql import (SparkSession, Window, Window as _W, Window as _W2,
                             functions as F)
    from whylogs_spark.core import (drift as drift_mod,
                                    model_perf as model_perf_mod,
                                    monitor as monitor_mod, summaries)
    from whylogs_spark.core.datatypes import ValueType
    from whylogs_spark.core.drift import (cvm_ad_exact, effect_sizes,
                                          js_divergence, qq_table)
    from whylogs_spark.core.embeddings import (_rff_constants, _rff_expr,
                                               embedding_dim_stats,
                                               pca_project, procrustes_project,
                                               zca_project)
    from whylogs_spark.core.model_perf import brier_decomposition, gains_table
    from whylogs_spark.core.prefix import running_sums as _rs
    from whylogs_spark.core.summaries import (exact_quantiles,
                                              gini_coefficient, histogram2d,
                                              histogram_exact,
                                              robust_outlier_summary,
                                              standardize, weighted_quantiles,
                                              winsorize, with_quantile_bins)
    from whylogs_spark.core.wide import class_frame, plan_wide_sketches
    from whylogs_spark.io.store import ProfileStore
    from whylogs_spark.io.tables import load_table
    from whylogs_spark.ops import (classify, decontam, dedup, events as ev_ops,
                                   html as html_ops, quality,
                                   quality as quality_mod, sampling,
                                   sampling as sampling_ops, similarity, text,
                                   urls as url_ops)
    from whylogs_spark.ops.abtest import (ab_test_report, cuped_adjust,
                                          msprt_scan, poisson_bootstrap_diff,
                                          quantile_treatment_effect,
                                          ratio_delta_ci, srm_check,
                                          uplift_curve)
    from whylogs_spark.ops.agreement import cohens_kappa, krippendorff_alpha
    from whylogs_spark.ops.basket import association_rules
    from whylogs_spark.ops.causal import (covariate_balance, did_estimator,
                                          logistic_score_col)
    from whylogs_spark.ops.cluster import (cluster_silhouette,
                                           clustering_agreement, kmeans,
                                           kmeans_assign, kmeans_init)
    from whylogs_spark.ops.conformal import split_conformal
    from whylogs_spark.ops.decontam import fuzzy_decontaminate
    from whylogs_spark.ops.dedup import (hamming_neardup_pairs,
                                         incremental_minhash_dedup,
                                         minhash_recall_estimate,
                                         remove_boilerplate)
    from whylogs_spark.ops.encode import (quantile_normalize, target_encode,
                                          target_encode_oof, woe_iv)
    from whylogs_spark.ops.events import (attribution_report, autocorrelation,
                                          cross_correlation,
                                          frequent_sequences, funnel,
                                          interarrival_stats, ohlc_resample,
                                          percentile_rollup, retention_cohorts,
                                          rollup_timeseries,
                                          seasonal_decompose,
                                          seasonal_naive_backtest,
                                          time_weighted_average,
                                          transition_matrix)
    from whylogs_spark.ops.expect import check_dataframe
    from whylogs_spark.ops.fairness import fairness_report
    from whylogs_spark.ops.features import rfm_segmentation, trailing_features
    from whylogs_spark.ops.forecast import holt_forecast, ses_forecast
    from whylogs_spark.ops.geo import (geo_nearest_join, geo_radius_join,
                                       grid_cluster, grid_density,
                                       with_geohash)
    from whylogs_spark.ops.glm import _eta, _gram
    from whylogs_spark.ops.graph import _markov_step
    from whylogs_spark.ops.hypothesis import (anova_oneway, brown_forsythe,
                                              kruskal_wallis,
                                              randomization_test_means)
    from whylogs_spark.ops.integrity import (anonymize, benford_test,
                                             candidate_keys, chi2_gof,
                                             fd_violation_examples,
                                             functional_dependency_report,
                                             referential_integrity,
                                             relationship_report,
                                             snapshot_diff)
    from whylogs_spark.ops.intervals import interval_join as ij_op
    from whylogs_spark.ops.labelqc import confident_joint
    from whylogs_spark.ops.layout import join_skew_report
    from whylogs_spark.ops.linkage import blocked_fuzzy_join, golden_record
    from whylogs_spark.ops.multiclass import multiclass_report
    from whylogs_spark.ops.multimodal import with_image_hashes
    from whylogs_spark.ops.offpolicy import offpolicy_value
    from whylogs_spark.ops.overlap import segment_distinct_overlap
    from whylogs_spark.ops.sampling import (balance_classes, cap_per_group,
                                            kfold_assign, negative_sampling,
                                            rolling_origin_splits,
                                            weighted_sample)
    from whylogs_spark.ops.schema_infer import (infer_semantic_types,
                                                pattern_profile)
    from whylogs_spark.ops.schema_match import column_matches
    from whylogs_spark.ops.search import bm25_search, rrf_fuse
    from whylogs_spark.ops.setsketch import kmv_distinct, kmv_pairwise_overlap
    from whylogs_spark.ops.similarity import (ann_recall_estimate,
                                              embedding_contamination_pairs,
                                              embedding_outliers)
    from whylogs_spark.ops.stats import (association_report,
                                         correlation_matrix, diversity_report,
                                         gini_concentration, hill_tail_index,
                                         kendall_tau, mutual_information,
                                         spearman_correlation)
    from whylogs_spark.ops.survival import (concordance_index,
                                            cumulative_incidence, km_survival,
                                            logrank_test, nelson_aalen, rmst)
    from whylogs_spark.ops.text import (corpus_stats, ngram_diversity,
                                        pmi_collocations, rake_keywords,
                                        textrank_keywords, vocab_growth,
                                        with_readability, zipf_fit)
    from whylogs_spark.ops.trend import cusum_changepoint, mann_kendall
    from whylogs_spark.ops.valuation import knn_shapley
    from whylogs_spark.streaming.cadence import streaming_interarrival
    from whylogs_spark.streaming.experiment import streaming_arm_counts
    from whylogs_spark.streaming.fairness import streaming_decision_counts
    from whylogs_spark.streaming.frequent import (streaming_heavy_hitters,
                                                  streaming_value_counts)
    from whylogs_spark.streaming.integrity import streaming_fk_monitor
    from whylogs_spark.streaming.model_monitor import streaming_model_bins
    from whylogs_spark.streaming.quantiles import streaming_quantiles
    from whylogs_spark.streaming.rolling import streaming_profile
    from whylogs_spark.streaming.sessions import streaming_session_stats
    from whylogs_spark.streaming.transitions import streaming_transitions

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    li = load_table(spark, SF_DIR, "lineitem")
    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    sections = []

    def sec(title, df, checks, py="no Python in the plan"):
        """Queue ``checks`` on ``df``'s plan; ``py`` labels a last NO_PY."""
        if py:
            checks[py] = NO_PY
        sections.append((title, df, checks))

    def executed(fn):
        """One Plan over every SQL execution ``fn`` runs."""
        return Plan([r for p in Plan.executed(spark, fn)[1] for r in p.roots])

    def uncut(fn):
        """``fn()`` with lineage cuts off, so its plan shows the scans and
        aggregates a cut would hide behind ``Scan ExistingRDD``."""
        spark.conf.set("spark.whylogs.cutLineage", "false")
        try:
            return fn()
        finally:
            spark.conf.unset("spark.whylogs.cutLineage")

    # the codegen tier's job of a default profile: its exact metrics
    aggs = wsp.core.planner.plan_dataframe(
        li.schema, ["l_quantity", "l_returnflag"], [], wsp.MetricConfig())
    wide = li.agg(*[a.agg for a in aggs
                    if a.agg is not None and a.tier == "codegen"])
    sec("profile native tier (2 columns)", wide, {
        "column-pruned scan (only 2 columns read)":
            reads("l_quantity", "l_returnflag"),
        "partial aggregation before exchange": PARTIAL,
        "declarative HashAggregate (codegen), not interpreted Object agg":
            no("ObjectHashAggregate")}, py=None)
    sec("profile native tier (2 columns), executed",
        executed(wide.collect), {
            "every aggregate inside whole-stage codegen": CODEGEN_AGGS},
        py=None)
    seg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), F.avg("l_quantity").alias("m"))
    sec("segmented aggregation", seg, {
        "partial agg -> shuffle on segment key -> final agg":
            path(AGG, is_hashed("l_returnflag"), AGG),
        "pruned scan": reads("l_returnflag")}, py=None)
    filt = li.filter(F.col("l_shipdate") >= "1995-01-01").select(
        "l_orderkey", "l_shipdate")
    sec("segment filter pushdown", filt, {
        "filter pushed to parquet": pushed("l_shipdate"),
        "2-column ReadSchema": reads(first="l_orderkey")}, py=None)
    q = [float(i) for i in range(64)]
    topk = similarity.cosine_topk(emb, q, k=10)
    sec("cosine top-k", topk, {
        "top-k via TakeOrderedAndProject (no full sort)": TOP_K,
        "no exchange of raw vectors": no(is_hashed("embedding"))}, py=None)
    sigs = dedup.minhash_signatures(docs, num_hashes=16)
    sec("minhash signatures (arrow impl)", sigs, {
        "single Arrow pass (MapInArrow)":
            has(("MapInArrow", "ArrowEvalPython")),
        "no shuffle of documents": exchanges("hash", 0, 0),
        "2-column pruned scan": reads("text", first="doc_id")}, py=None)
    wcols = ["l_quantity", "l_extendedprice", "l_discount"]
    (_, waggs), = plan_wide_sketches(
        li.select(*wcols).schema, None, [],
        wsp.MetricConfig(quantile_impl="none",
                         frequent_items_impl="none")).values()
    wmode = class_frame(li, ValueType.FRACTIONAL, wcols, [], waggs)
    sec("wide-mode class aggregation", wmode, {
        "generator unpivot (posexplode), no join":
            has("Generate", "posexplode("),
        "primitive array input (no struct construction)":
            no(rx(None, "named_struct")),
        "partial agg before the column-id exchange": PARTIAL,
        "shuffle keyed by int column id only (tiny)":
            either(hashed("cid"), hashed("_groupingexpression"))}, py=None)
    ev = load_table(spark, SF_DIR, "events")
    ss = ev_ops.session_stats(ev)
    sec("sessionization (window + stats)", ss, {
        "single exchange keyed by user": hashed("user_id"),
        "no second exchange after the window": count("Exchange", 0, 1),
        "partial agg after the window (partitioning reused)":
            path(AGG, WINDOWS)}, py=None)
    stats = dedup.duplicate_stats(docs, group_by=["source"])
    sec("exact dedup stats", stats, {
        "partial agg before exchange": PARTIAL}, py=None)
    ed = dedup.exact_dedup(docs)
    sec("exact dedup (winner per fingerprint)", ed, {
        "no window over the fingerprint (skew)": no(WINDOWS),
        "partial agg before the fingerprint exchange": PARTIAL}, py=None)
    ld = dedup.line_dedup(docs)
    sec("line dedup (C4 boilerplate removal)", ld, {
        "no window over the line text (skew)": no(WINDOWS),
        "partial agg before the line exchange": PARTIAL}, py=None)
    nj = dedup.ngram_jaccard_pairs(docs, n=5, threshold=0.2)
    sec("ngram jaccard (DF-capped inverted index)", nj, {
        "no window over the gram key (skew)": no(WINDOWS),
        "over-cap gram set broadcast as anti-join filter":
            has("BroadcastHashJoin", "LeftAnti"),
        "DF guard partial-aggregates before its exchange": PARTIAL}, py=None)
    ts = text.with_text_stats(docs).select("doc_id", "n_tokens",
                                           "alpha_ratio")
    sec("text stats projection", ts, {
        "no shuffle at all": no(EXCHANGES),
        "codegen projection": CODEGEN_PROJECT}, py=None)
    hs = sampling.hash_split(
        load_table(spark, SF_DIR, "orders"), ["o_orderkey"],
        {"train": 0.8, "test": 0.2})
    sec("hash split (train/test)", hs, {
        "no shuffle at all": no(EXCHANGES),
        "codegen'd md5 CASE projection": CODEGEN_PROJECT}, py=None)
    gs = sampling.group_sample(ev, ["user_id"], k=2, key_cols=["event_id"])
    sec("group sample (k per group)", gs, {
        "single exchange keyed by group": hashed("user_id"),
        "no second exchange": count("Exchange", 0, 1)}, py=None)
    gq = quality.gopher_filter(docs).select(
        "doc_id", "dup_ngram_frac", "top_unigram_frac", "gopher_pass")
    sec("gopher quality filter", gq, {
        "no shuffle at all": no(EXCHANGES),
        "Arrow-batched modal-token UDF (not row-wise Python)":
            has("ArrowEvalPython")}, py=None)
    pii = quality.with_pii_stats(docs).select("doc_id", "n_pii")
    sec("pii detection projection", pii, {
        "no shuffle at all": no(EXCHANGES),
        "no Python in the plan (regex stays JVM-side)": no(ROW_PY)}, py=None)
    dec = decontam.ngram_decontaminate(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0), n=8)
    sec("ngram decontamination", dec, {
        "benchmark gram set broadcast (no corpus-wide shuffle to find "
        "matches)":
            has(("BroadcastHashJoin", "BroadcastExchange")),
        "matches aggregated per doc before the corpus join": PARTIAL}, py=None)
    pk = sampling.pack_chunks(docs, "n_chars", budget=20000,
                              shard_cols=["source"],
                              order_cols=["doc_id"])
    sec("chunk packing window", pk, {
        "single exchange keyed by shard": hashed("source"),
        "no second exchange": count("Exchange", 0, 1)}, py=None)
    ck = text.chunk_text(docs, size=400, overlap=80)
    sec("text chunking (RAG prep)", ck, {
        "no shuffle at all": no(EXCHANGES),
        "generator unpivot (explode), no join": has("Generate", "explode("),
        "2-column pruned scan": reads("text", first="doc_id")}, py=None)
    lm = quality.train_unigram_lm(docs, vocab_size=1000)
    sec("unigram LM training (vocab cap)", lm, {
        "LM vocab cap via TakeOrderedAndProject, no single-partition window":
            TOP_K,
        "no window anywhere in the plan": no(WINDOWS),
        "partial agg before the word exchange": PARTIAL,
        "smoothing totals broadcast (action-free training)":
            has("BroadcastExchange")}, py=None)
    lms = quality.unigram_lm_scores(docs, vocab_size=1000)
    sec("unigram LM scoring", lms, {
        "<=V-row LM joined by broadcast (tokens never shuffle to a join)":
            has("BroadcastHashJoin"),
        "per-doc partial agg before the doc exchange": PARTIAL}, py=None)
    lab = docs.withColumn("label",
                          (F.col("lang") == F.lit("en")).cast("int"))
    nb_model = classify.train_quality_classifier(lab, n_buckets=4096)
    nb_scores = classify.score_quality_classifier(docs, nb_model,
                                                  n_buckets=4096)
    sec("NB quality classifier scoring", nb_scores, {
        "model joined by broadcast (tokens never shuffle to the join)":
            has("BroadcastHashJoin"),
        "partial agg before the bucket exchange (training)": PARTIAL,
        "no window anywhere in the plan": no(WINDOWS)}, py=None)
    dsir_w = classify.dsir_logweights(
        docs, docs.filter(F.col("lang") == "en"), n_buckets=4096)
    dsir_s = classify.dsir_sample(dsir_w, k=100)
    sec("DSIR Gumbel top-k resampling", dsir_s, {
        "Gumbel top-k via TakeOrderedAndProject (per-partition heaps, no "
        "global sort)":
            TOP_K,
        "ratio table joined by broadcast": has("BroadcastHashJoin"),
        "no window anywhere in the plan": no(WINDOWS)}, py=None)
    events_t = load_table(spark, SF_DIR, "events")
    rp = drift_mod.rolling_psi(events_t, "ts", "value", unit="day")
    sec("rolling PSI (day-over-day drift)", rp, {
        "partial agg before the (period,bin) exchange": PARTIAL,
        "no window anywhere in the plan": no(WINDOWS),
        "bin edges ride as a broadcast 1-row agg":
            has(("BroadcastExchange", "BroadcastNestedLoopJoin"))}, py=None)
    hist_docs = docs.filter(F.col("doc_id") % 3 == 0)
    batch_docs = docs.filter(F.col("doc_id") % 3 != 0)
    inc = dedup.incremental_dedup(batch_docs, hist_docs,
                                  strategy="bloom")
    sec("incremental dedup (bloom strategy)", inc, {
        "bloom probes + suspect resolution by broadcast":
            has("BroadcastHashJoin"),
        "bit-word partial agg before the bounded exchange": PARTIAL,
        "no window anywhere in the plan": no(WINDOWS),
        "no sort-merge join of history": no("SortMergeJoin")}, py=None)
    mixed = sampling_ops.mix_sources(
        docs, {"src0": 0.5, "src1": 0.5}, token_budget=1000)
    sec("corpus mixing (mix_sources)", mixed, {
        "fraction table joined by broadcast": BCAST,
        "partial agg before the #sources exchange": PARTIAL,
        "no window anywhere in the plan": no(WINDOWS),
        "no sort-merge join": no("SortMergeJoin")}, py=None)
    ds = dedup.duplicate_spans(docs, n=8)
    sec("duplicate span detection", ds, {
        "partial agg on gram hash before the exchange": PARTIAL,
        "islands window keyed by doc id, not the gram": keyed("__id#"),
        "2-column pruned scan": reads("text", first="doc_id")}, py=None)
    rs = dedup.remove_duplicate_spans(docs, n=8)
    sec("duplicate span removal", rs, {
        "count+winner in ONE partial-aggregated gram pass":
            has(agg_with("partial_min(", "partial_count(")),
        "no window over the gram key": no(window_rx("__gk"))}, py=None)
    u = docs.select("doc_id", F.concat(
        F.lit("https://www.ex."), F.col("source"),
        F.lit(".com/p?utm_source=x&a=1")).alias("url"))
    un = u.select(url_ops.normalize_url(F.col("url")).alias("n"),
                  url_ops.registered_domain(F.col("url")).alias("d"))
    sec("url canonicalization", un, {
        "zero shuffle": no(EXCHANGES),
        "no Python in the plan": NO_PY}, py=None)
    ud = url_ops.url_dedup(u)
    sec("url dedup (winner per canonical url)", ud, {
        "no window over the url key": no(WINDOWS),
        "partial agg before the url-hash exchange": PARTIAL}, py=None)
    ht = html_ops.html_to_text(
        docs.select("doc_id", F.col("text").alias("payload")))
    sec("html to text (sql kernel)", ht, {
        "zero shuffle": no(EXCHANGES),
        "no Python in the plan": NO_PY}, py=None)
    ords = load_table(spark, SF_DIR, "orders")
    auc_df = model_perf_mod.roc_auc_exact(
        ords.select(((F.col("o_orderkey") % 100) / 100.0).alias("s"),
                    (F.col("o_totalprice") > 150000).cast("int")
                    .alias("y")), "s", "y")
    sec("exact ROC-AUC (distributed prefix sum)", auc_df, {
        "AUC cumulative walk has no single-partition window (every "
        "windowspec carries __slice)":
            NO_DATA_WINDOW,
        "range exchange feeds the walk (no global sort)": ranged(),
        "partial agg before the distinct-score exchange": PARTIAL,
        "per-slice offsets joined by broadcast": has("BroadcastHashJoin"),
    }, py=None)
    ap_df = model_perf_mod.pr_auc_exact(
        ords.select(((F.col("o_orderkey") % 100) / 100.0).alias("s"),
                    (F.col("o_totalprice") > 150000).cast("int")
                    .alias("y")), "s", "y")
    sec("exact PR-AUC (distributed prefix sum)", ap_df, {
        "AP threshold walk has no single-partition window (every windowspec "
        "carries __slice)":
            NO_DATA_WINDOW,
        "range exchange feeds the walk (no global sort)": ranged(),
        "partial agg before the distinct-score exchange": PARTIAL}, py=None)
    ks_df = drift_mod.ks_2samp_exact(
        li.filter(F.col("l_orderkey") % 2 == 0),
        li.filter(F.col("l_orderkey") % 2 == 1), "l_extendedprice")
    sec("exact KS statistic (distributed prefix sum)", ks_df, {
        "KS CDF walk has no single-partition window": NO_DATA_WINDOW,
        "range exchange feeds the walk": ranged(),
        "partial agg before the distinct-value exchange": PARTIAL}, py=None)
    w1_df = drift_mod.wasserstein_exact(
        li.filter(F.col("l_orderkey") % 2 == 0),
        li.filter(F.col("l_orderkey") % 2 == 1), "l_extendedprice")
    sec("exact Wasserstein-1 (prefix sum + rank-join successor)", w1_df, {
        "W1 walk has no single-partition window": NO_DATA_WINDOW,
        "range exchange feeds the walk": ranged(),
        "successor lead rides the slice-partitioned window pass (every "
        "windowspec carries __slice, incl. the lead's)":
            has(WINDOWS, "lead(")}, py=None)
    eq_df = exact_quantiles(li, "l_extendedprice",
                            [0.25, 0.5, 0.99])
    sec("exact quantiles (distributed rank walk)", eq_df, {
        "quantile rank walk has no single-partition window": NO_DATA_WINDOW,
        "range exchange feeds the walk": ranged(),
        "partial agg before the distinct-value exchange": PARTIAL}, py=None)
    ev_ij = load_table(spark, SF_DIR, "events")
    win_ij = ev_ij.filter(F.col("event_id") % 20 == 0).select(
        F.col("event_id").alias("window_id"), "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"))
    ij_out = ij_op(ev_ij.select("event_id", "user_id", "ts"), win_ij,
                   on="ts", by=["user_id"])
    sec("interval join (auto bucket)", ij_out, {
        "match is a HASH equi-join (the only nested-loop nodes are the 1-row "
        "bucket-width cross joins)":
            has(EQUI, "Inner"),
        "no cartesian product": no("CartesianProduct"),
        "bucket-width agg broadcast into both sides":
            count("BroadcastExchange", 2),
        "generator expansion of intervals (explode)":
            has("Generate", "explode(")}, py=None)
    ct = summaries.counts_table(li, ["l_orderkey", "l_returnflag"])
    sec("exact multi-column countDistinct", ct, {
        "expand + two-phase distinct aggregation": path(AGG, "Expand"),
    }, py=None)
    # streaming operators: StateStoreRestore/Save and
    # EventTimeWatermark exist only in a query's runtime micro-batch
    # plan, so each operator runs one availableNow batch into a noop
    # sink (FileStreamSource wants a DIRECTORY: the events parquet is
    # exposed through a symlinked dir)
    src_dir = tempfile.mkdtemp(prefix="audit_stream_src_")
    os.symlink(os.path.join(SF_DIR, "events.parquet"),
               os.path.join(src_dir, "events.parquet"))
    stream = spark.readStream.schema(ev.schema).parquet(src_dir)
    hour = {"ts_col": "ts", "window_duration": "1 hour",
            "watermark": "10 minutes"}
    ten = dict(hour, window_duration="10 minutes")

    def run_stream(out, mode="update"):
        q = (out.writeStream.outputMode(mode).format("noop")
             .trigger(availableNow=True)
             .option("checkpointLocation",
                     tempfile.mkdtemp(prefix="audit_ckpt_")).start())
        q.awaitTermination(180)
        plan = Plan.of(q)
        q.stop()
        return plan

    streaming_plans = {
        "streaming profile": run_stream(streaming_profile(stream, **hour)),
        "streaming model monitor": run_stream(streaming_model_bins(
            stream.select(
                "ts", (F.col("value") - F.floor("value")).alias("score"),
                (F.col("value") > 0).cast("int").alias("label")), **hour)),
        "streaming frequent items": run_stream(streaming_value_counts(
            stream, value_col="event_type", **hour)),
        "streaming quantiles": run_stream(streaming_quantiles(
            stream, "value", **hour), "append"),
        "streaming heavy hitters": run_stream(streaming_heavy_hitters(
            stream, value_col="event_type", **hour), "append"),
        "streaming experiment arm counts": run_stream(streaming_arm_counts(
            stream, group_col="event_type", arms=["view", "click"], **ten)),
        "streaming fairness decision counts": run_stream(
            streaming_decision_counts(
                stream, group_col="event_type", pred_col="value",
                groups=["view", "click"], **ten)),
        "native session-window sessions": run_stream(
            streaming_session_stats(
                stream, user_col="user_id", ts_col="ts", gap="30 minutes",
                watermark="1 hour", value_col="value"), "append"),
        "streaming fk monitor": run_stream(streaming_fk_monitor(
            stream, load_table(spark, SF_DIR, "customer"), ["user_id"],
            ["c_custkey"], ts_col="ts", window="1 hour",
            watermark="10 minutes"), "append"),
    }
    transitions_plan = run_stream(streaming_transitions(
        stream, watermark="10 minutes", idle_ttl="1 hour"), "append")
    cadence_plan = run_stream(streaming_interarrival(
        stream, "user_id", "ts", watermark="10 minutes"), "append")

    evt = load_table(spark, SF_DIR, "events")
    daily = evt.groupBy(
        "event_type", F.to_date("ts").alias("day")).agg(
        F.sum("value").alias("v"))
    an = monitor_mod.anomaly_scan(
        daily, "day", "v", key_cols=["event_type"], window=7)
    sec("anomaly scan (trailing-baseline monitor)", an, {
        "baseline window partitioned by the series key": keyed("event_type"),
        "row-bounded baseline frame (no unbounded preceding)":
            has(WINDOWS, "specifiedwindowframe(RowFrame, -7, -1)"),
        "no range sort of the data": no(rx(None, "rangepartitioning")),
        "rollup partial-aggregates before its exchange": PARTIAL}, py=None)
    ew = monitor_mod.ewma_chart(
        daily, "day", "v", key_cols=["event_type"], baseline_n=10)
    sec("EWMA control chart (bounded fold over trailing horizon)", ew, {
        "every window partitioned by the series key":
            windows_keyed("event_type"),
        "trailing collect_list frame is ROW-bounded (the precision horizon), "
        "not unbounded":
            has(WINDOWS, "specifiedwindowframe(RowFrame, -164, currentrow"),
        "no range sort of the data": no(rx(None, "rangepartitioning")),
        "fold stays codegen (no Python)": no(ROW_PY)}, py=None)
    cu = monitor_mod.cusum_changepoints(
        daily, "day", "v", key_cols=["event_type"], baseline_n=10)
    sec("CUSUM change-point scan (cumsum + running min)", cu, {
        "every window partitioned by the series key":
            windows_keyed("event_type"),
        "no range sort of the data": no(rx(None, "rangepartitioning")),
        "no Python in the plan": no(ROW_PY)}, py=None)
    ru = rollup_timeseries(
        evt, "ts", value_cols=["value"], key_cols=["event_type"],
        grains=("hour", "day", "week"))
    sec("multi-grain timeseries rollup (GROUPING SETS)", ru, {
        "single Expand (one scan serves every grain)": path(AGG, "Expand"),
        "partial agg before the one exchange": PARTIAL,
        "exactly one exchange": count("Exchange", 0, 1),
        "null-ts filter pushed to the scan": pushed(r"IsNotNull\(ts\)"),
    }, py=None)
    fz = fuzzy_decontaminate(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0), n=3, threshold=0.2)
    sec("fuzzy decontamination (broadcast benchmark grams)", fz, {
        "gram probe is a broadcast hash join": has("BroadcastHashJoin"),
        "no cartesian product": no("CartesianProduct"),
        "pair rollup partial-aggregates before its exchange": PARTIAL,
        "no Python in the plan": no(ROW_PY)}, py=None)
    bl = quality_mod.with_blocklist_stats(
        docs, words=["slow", "hash"], phrases=["table table"])
    sec("blocklist stats (zero-shuffle projection)", bl, {
        "no exchange anywhere": no(EXCHANGES),
        "no Python in the plan": no(ROW_PY),
        "scan prunes to the used columns": reads("text")}, py=None)
    cz = quality_mod.with_compression_stats(docs)
    sec("compression stats (Arrow kernel, zero shuffle)", cz, {
        "no exchange anywhere": no(EXCHANGES),
        "zlib kernel is Arrow-batched (ArrowEvalPython), not row-at-a-time "
        "(BatchEvalPython)":
            has("ArrowEvalPython"),
        "no row-at-a-time Python": no("BatchEvalPython")}, py=None)
    mre = minhash_recall_estimate(docs, sample_per_mille=1000,
                                  max_sample=5000)
    sec("minhash recall estimator (deterministic sample)", mre, {
        "both branches read the checkpointed sample (no corpus rescan)":
            has("Scan ExistingRDD"),
        "no cartesian product": no("CartesianProduct"),
        "pair rollup partial-aggregates before its exchange": PARTIAL,
    }, py=None)
    ar = ann_recall_estimate(emb, k=5, planes=2, tables=2,
                             n_queries=5)
    sec("ANN recall estimator (exact side + LSH side)", ar, {
        "ground truth is one Arrow pass (MapInArrow)": has("MapInArrow"),
        "no cartesian product": no("CartesianProduct"),
        "query map joined by broadcast": has("BroadcastHashJoin"),
        "rank windows keyed (never partition-less: qidx/query_id for the "
        "exact side, __lid inside knn_join)":
            windows_keyed("__qidx|query_id|__lid")}, py=None)
    bm = bm25_search(docs, "spark query window", k=10)
    sec("BM25 top-k retrieval", bm, {
        "2-column pruned scan": reads("text", first="doc_id"),
        "query-term isin filter below the tf aggregation (shuffle carries "
        "only matching terms)":
            path(AGGS, rx("Filter", r"term#\d+ IN \(query,spark,window\)")),
        "partial agg before exchange": PARTIAL,
        "bounded df/constants sides broadcast":
            both(has("BroadcastHashJoin"), has("BroadcastNestedLoopJoin")),
        "top-k via TakeOrderedAndProject (no global sort)": TOP_K}, py=None)
    pm = pmi_collocations(docs, k=25, min_count=5)
    sec("PMI collocations", pm, {
        "pair construction in-plan (zip_with, no self-join on position)":
            has(None, "zip_with"),
        "min-count filter before the unigram joins":
            has(rx("Filter", r"\(c12#\d+L >= 5\)")),
        "1-row totals broadcast (nested-loop of one row)":
            has("BroadcastNestedLoopJoin"),
        "top-k via TakeOrderedAndProject": TOP_K}, py=None)
    imh = incremental_minhash_dedup(
        docs.filter(F.col("doc_id") >= 250),
        docs.filter(F.col("doc_id") < 250),
        jaccard_threshold=0.8)
    sec("incremental MinHash dedup (broadcast)", imh, {
        "batch band keys broadcast into the history probe":
            has("BroadcastHashJoin", "LeftSemi"),
        "no raw text in any exchange": no(rx("Exchange", r"\btext#")),
        "bucket sizing is a partial agg before its exchange": PARTIAL,
        "no cartesian product": no("CartesianProduct"),
        "survivor filter is a broadcast anti join (batch never "
        "hash-exchanges for it)":
            has("BroadcastHashJoin", "LeftAnti")}, py=None)
    fake_imgs = spark.createDataFrame(
        [(i, b"BM") for i in range(4)], "img_id long, content binary")
    ih = hamming_neardup_pairs(
        with_image_hashes(fake_imgs, id_col="img_id"), "dhash",
        id_col="img_id", max_hamming=3)
    sec("image perceptual-hash near-dup", ih, {
        "decode+hash is one Arrow-batched pass":
            has(("MapInPandas", "ArrowEvalPython")),
        "banding shuffles 8-byte signatures, not image bytes (no binary "
        "column past the kernel)":
            no(rx("Exchange", "content")),
        "bucket aggregation is partial before the exchange": PARTIAL,
        "no cartesian product": no("CartesianProduct")}, py=None)
    cs = corpus_stats(docs, group_cols=["source", "lang"])
    sec("corpus stats dataset card", cs, {
        "partial agg before exchange": PARTIAL,
        "no raw text in any exchange": no(rx("Exchange", r"\btext#")),
        "no Python in the plan": no(ROW_PY + ("MapInArrow",))}, py=None)
    eds = embedding_dim_stats(emb)
    sec("embedding dimension stats", eds, {
        "partial agg before the dim exchange": PARTIAL,
        "no vector column in the exchange": no(rx("Exchange", "embedding#")),
        "2-column-or-fewer pruned scan": reads(first="embedding")}, py=None)
    hx = histogram_exact(li, "l_extendedprice", n_bins=20)
    sec("exact histogram", hx, {
        "partial agg before exchange": PARTIAL,
        "bin spine joined by broadcast": has("BroadcastHashJoin"),
        "single-column pruned scan": reads(first="l_extendedprice"),
        "no window anywhere": no(WINDOWS)}, py=None)
    rd = with_readability(docs).select(
        "doc_id", "flesch_reading_ease", "fk_grade")
    sec("readability scores", rd, {
        "zero shuffle (pure projection)": no(EXCHANGES),
        "no Python in the plan": no(ROW_PY + ("MapInArrow",)),
        "2-column pruned scan": reads("text", first="doc_id")}, py=None)
    ords = load_table(spark, SF_DIR, "orders")
    cust = load_table(spark, SF_DIR, "customer")
    ri = referential_integrity(ords, cust, ["o_custkey"],
                               ["c_custkey"], broadcast_parent=True)
    sec("referential integrity", ri, {
        "child partial-aggregates to keys before the join":
            path("BroadcastHashJoin", AGG, "Exchange", AGG),
        "parent joined by broadcast": has("BroadcastHashJoin"),
        "key-pruned scans (no fact payload columns)": reads(first="o_custkey"),
        "no window anywhere": no(WINDOWS)}, py=None)
    bf = benford_test(li, "l_extendedprice")
    sec("benford first-digit test", bf, {
        "partial agg before digit exchange": PARTIAL,
        "spine + totals by broadcast": BCAST,
        "single-column pruned scan": reads(first="l_extendedprice"),
        "no Python in the plan": no(ROW_PY + ("MapInArrow",))}, py=None)
    sd_new = docs.filter(F.col("doc_id") % 2 == 0)
    sd = snapshot_diff(docs, sd_new, "doc_id", ["text", "source"])
    sec("snapshot diff", sd, {
        "no raw text in any exchange": no(rx("Exchange", r"\btext#")),
        "full-outer merge join on the id": has(JOINS, "FullOuter"),
        "no Python in the plan": no(ROW_PY + ("MapInArrow",))}, py=None)
    cpg = cap_per_group(docs.select("doc_id", "source", "text"),
                        ["source"], budget=800)
    sec("cap per group (token quota)", cpg, {
        "window is partitioned by the group key": keyed("source#"),
        "single exchange on the group key": hashed("source#"),
        "no global sort of the data": no_global_sort("")}, py=None)
    cents = kmeans_init(emb, k=4)
    km = kmeans_assign(emb, cents, check_dims=False) \
        .select("vec_id", "cluster")
    sec("k-means assignment", km, {
        "zero shuffle (pure projection)": no(EXCHANGES),
        "no Python in the plan": no(ROW_PY + ("MapInArrow",)),
        "centroids inlined as plan literals (no centroid join)":
            has(rx(None, r"zip_with\(cast\(embedding.*?\[-?0\.")),
        "no join anywhere": no(JOINS)}, py=None)
    vg = vocab_growth(docs, checkpoint_every=100)
    sec("vocab growth (Heaps curve)", vg, {
        "token counts partial-agg before the token exchange": PARTIAL,
        "range exchange for the cumulative walk": ranged("doc_id"),
        "no raw text in any exchange": no(rx("Exchange", r"\btext#")),
    }, py=None)
    qb = with_quantile_bins(li, "l_extendedprice", n_bins=4)
    sec("quantile bins", qb, {
        "boundary row joined by broadcast": BCAST,
        "no hash exchange of the data rows": no(is_hashed("l_orderkey")),
        "grouped distinct-value walk before the boundaries": ranged("v#"),
    }, py=None)
    ro = robust_outlier_summary(li, "l_extendedprice",
                                ["l_returnflag"])
    sec("robust outlier summary", ro, {
        "quantile walks are range-partitioned": ranged("l_returnflag"),
        "no partition-less data sort": no_global_sort("l_extendedprice"),
        "final rollup partial-aggs before its exchange": PARTIAL}, py=None)
    bc = balance_classes(docs.select("doc_id", "lang"), ["lang"])
    sec("balance classes", bc, {
        "target size joined by broadcast": BCAST,
        "rank window partitioned by the class": keyed("lang#"),
        "single data exchange on the class key": hashed("lang#")}, py=None)
    cm = correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])
    sec("correlation matrix (one-pass all pairs)", cm, {
        "column-pruned scan (only the 4 audited columns)":
            reads("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        "partial aggregation before the exchange": PARTIAL,
        "single-row final agg (SinglePartition exchange)":
            exchanges("single", 1),
        "exactly one exchange (no per-pair jobs)": count("Exchange", 1, 1)})
    ar = association_report(
        load_table(spark, SF_DIR, "orders"),
        ["o_orderstatus", "o_orderpriority"])
    sec("association report (Cramér's V)", ar, {
        "partial cell aggregation before its exchange": PARTIAL,
        "explode feeds the aggregate (one pass for all pairs)":
            path(AGG, rx("Generate", r"explode\(")),
        "windows run AFTER the cell aggregation (bounded input)":
            path(WINDOWS, AGG)})
    so = segment_distinct_overlap(
        ev.withColumn("day", F.to_date("ts").cast("string")),
        "day", "user_id", p=0.5)
    sec("segment distinct overlap (md5-threshold sketch)", so, {
        "md5 threshold filter BEFORE any aggregation": has("Filter", "md5("),
        "distinct partial-aggregates before its exchange": PARTIAL,
        "pair matrix joined by broadcast": BCAST})
    rb = remove_boilerplate(docs, min_docs=2, min_df_ratio=0.3,
                            delim=" ")
    sec("boilerplate removal (line document frequency)", rb, {
        "DF distinct partial-aggregates before its exchange": PARTIAL,
        "survivor join keyed on xxhash64, not the line text":
            has(None, "xxhash64"),
        "corpus doc count rides a broadcast, not a driver action":
            has(("BroadcastExchange", "BroadcastNestedLoopJoin")),
        "no window operator anywhere (winner logic is agg+join)": NO_WINDOW})
    sd = seasonal_decompose(ev, "ts", "value", grain="hour", period=24)
    sec("seasonal decomposition (bucket series)", sd, {
        "bucket aggregation partial-aggs before its exchange": PARTIAL,
        "ordered window runs AFTER the bucket aggregation (bounded series, "
        "declared-bounded)":
            path(WINDOWS, AGG),
        "seasonal index joined back by broadcast": BCAST,
        "column-pruned scan (ts + value only)": reads("ts", "value")})
    wz = winsorize(li, "l_extendedprice", lower=0.05, upper=0.95)
    sec("winsorize (exact-quantile clip)", wz, {
        "boundary row joined by broadcast": has("BroadcastNestedLoopJoin"),
        "no partition-less data sort": no_global_sort("l_extendedprice"),
        "quantile walk partial-aggs before its exchange": PARTIAL})
    h2 = histogram2d(li, "l_quantity", "l_discount",
                     n_bins_x=8, n_bins_y=5)
    sec("histogram2d (exact equi-width cells)", h2, {
        "column-pruned scan (both axes only)":
            reads("l_quantity", "l_discount"),
        "cell aggregation partial-aggs before its exchange": PARTIAL,
        "bounds and counts joined by broadcast":
            both(has("BroadcastHashJoin"), has("BroadcastNestedLoopJoin")),
        "no sort of the raw data": no(rx("Sort", r"^Sort \[l_quantity"))})
    fd = functional_dependency_report(li, ["l_partkey"], ["l_suppkey"])
    sec("functional dependency report", fd, {
        "determinant aggregation partial-aggs before its exchange": PARTIAL,
        "final rollup is a SinglePartition agg": exchanges("single", 1),
        "no window operator": NO_WINDOW})
    fdx = fd_violation_examples(li, ["l_partkey"], ["l_suppkey"], k=10)
    sec("fd violation examples (top-k)", fdx, {
        "top-k via TakeOrderedAndProject (never a global sort)": TOP_K,
    }, py=None)
    fu = funnel(ev, ["view", "click", "purchase"])
    sec("funnel (greedy in-order matcher)", fu, {
        "step filter pushed to the scan":
            either(pushed(r"In\(event_type"), has("Filter", "event_type")),
        "per-user fold partial-aggs before its exchange": PARTIAL,
        "final rollup is a SinglePartition agg": exchanges("single", 1)})
    rc = retention_cohorts(ev, grain="day")
    sec("retention cohorts", rc, {
        "distinct (user, period) partial-aggs before its exchange": PARTIAL,
        "cohort sizes joined by broadcast": has("BroadcastHashJoin"),
        "no window operator (pure joins + aggs)": NO_WINDOW})
    tm = transition_matrix(ev)
    sec("transition matrix", tm, {
        "single user-partitioned window (keyed, never global)":
            keyed("user_id#"),
        "matrix aggregation partial-aggs before its exchange": PARTIAL,
        "normalization window runs on the aggregated matrix":
            path(WINDOWS, AGG)})
    ws = weighted_sample(docs, 50, "n_chars", ["doc_id"])
    sec("weighted sample (Efraimidis-Spirakis)", ws, {
        "top-k via TakeOrderedAndProject (never a global sort)": TOP_K,
        "no exchange at all (per-partition heap + driver merge)":
            no("Exchange")})
    qq = uncut(lambda: qq_table(li.filter(F.col("l_returnflag") == "A"),
                                li.filter(F.col("l_returnflag") == "R"),
                                "l_extendedprice", qs=[0.25, 0.5, 0.75]))
    sec("qq drift table (two exact quantile walks; lineage cut "
        "disabled to expose the scans)",
        qq, {
        "returnflag filter pushed to the scans":
            pushed(r"EqualTo\(l_returnflag"),
        "1-row sides joined by broadcast": has("BroadcastNestedLoopJoin"),
        "no partition-less data sort": no_global_sort("l_extendedprice")})
    qq_cut = qq_table(li.filter(F.col("l_returnflag") == "A"),
                      li.filter(F.col("l_returnflag") == "R"),
                      "l_extendedprice", qs=[0.25, 0.5, 0.75])
    sec("qq drift table (production lineage cut)", qq_cut, {
        "walk inputs arrive checkpointed (collapsed value tables, not "
        "re-derived subtrees)":
            has("Scan ExistingRDD", "localCheckpoint"),
        "plan stays linear: at most 12 static exchange nodes for two walks "
        "(AQE stage-reuse dedups the per-walk range exchange's two consumers "
        "at runtime)":
            count("Exchange", 0, 12),
        "1-row sides joined by broadcast": has("BroadcastNestedLoopJoin"),
        "no partition-less data sort": no_global_sort("l_extendedprice")})
    te = target_encode(load_table(spark, SF_DIR, "orders"),
                       "o_orderstatus", "o_totalprice")
    sec("target encoding (m-estimate)", te, {
        "code table partial-aggs before its exchange": PARTIAL,
        "code table joined back by broadcast": BCAST,
        "no window operator": NO_WINDOW})
    st = standardize(li, ["l_quantity", "l_discount"])
    sec("standardize (z-score, all columns one agg)", st, {
        "stats partial-agg before the exchange": PARTIAL,
        "stats row joined by broadcast": has("BroadcastNestedLoopJoin"),
        "no data sort": no(rx("Sort", r"^Sort \[l_quantity"))})
    js = join_skew_report(li, load_table(spark, SF_DIR, "orders"),
                          ["l_orderkey"], ["o_orderkey"])
    sec("join skew report (pre-flight fanout)", js, {
        "both sides partial-agg to key counts before any join": PARTIAL,
        "top-k via TakeOrderedAndProject": TOP_K})
    per_u = (ev.groupBy("user_id")
             .agg((F.unix_timestamp(F.max("ts"))
                   - F.unix_timestamp(F.min("ts"))).cast("double")
                  .alias("dur"),
                  F.max((F.col("event_type") == "purchase")
                        .cast("int")).alias("evf")))
    km = km_survival(per_u, "dur", "evf")
    sec("kaplan-meier survival (two prefix passes)", km, {
        "distinct-duration collapse partial-aggs first": PARTIAL,
        "range partitioning drives the ordered walks": ranged(),
        "slice offsets joined by broadcast": has("BroadcastHashJoin"),
        "windows are slice-local (partitioned by __slice)": keyed("__slice#")})
    gi = gini_coefficient(li, "l_extendedprice")
    sec("gini coefficient (distributed rank identity)", gi, {
        "value collapse partial-aggs before its exchange": PARTIAL,
        "range partitioning drives the ordered walk": ranged(),
        "no partition-less data sort": no_global_sort("l_extendedprice")})
    an = anonymize(load_table(spark, SF_DIR, "customer"),
                   {"c_name": "hash", "c_acctbal": ("bucket", 1000)})
    sec("anonymize (de-identification projection)", an, {
        "zero shuffle (projection over the scan)": no("Exchange")})
    oh = ohlc_resample(ev, tiebreak_cols=["event_id"], grain="hour")
    sec("ohlc resample (single agg, struct extremes)", oh, {
        "partial aggregation before the exchange (sort-based, struct "
        "extremes)":
            PARTIAL_ANY,
        "no window, no GLOBAL sort": both(NO_WINDOW, no_global_sort(""))})
    cu_l = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("lid"), F.col("c_name").alias("name"))
    cu_r = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("rid"),
        F.expr("substring(c_name, 1, length(c_name) - 1)")
        .alias("name"))
    fj = blocked_fuzzy_join(cu_l, cu_r, "name", block="prefix",
                            block_len=17, max_distance=1)
    sec("blocked fuzzy join (entity linkage)", fj, {
        "hash equi-join on the block key (never nested loop)": has(EQUI),
        "no cartesian / nested-loop join":
            no(("CartesianProduct", "BroadcastNestedLoopJoin")),
        "levenshtein verify inside the join (no materialize-then-filter of "
        "the cross space)":
            has(JOINS, "levenshtein")})
    pr = percentile_rollup(ev, qs=[0.5, 0.95], grain="hour")
    sec("percentile rollup (grouped exact quantiles)", pr, {
        "value collapse partial-aggs before its exchange": PARTIAL,
        "every window carries a partition key": has(window_rx(r"[^)]*__idx")),
        "range partitioning drives the grouped walk": ranged()})
    dc = check_dataframe(li, [
        {"check": "row_count_between", "min": 1},
        {"check": "no_nulls", "column": "l_orderkey"},
        {"check": "unique", "column": "l_orderkey"},
        {"check": "expression", "expr": "l_quantity > 0"},
        {"check": "mean_between", "column": "l_discount", "min": 0,
         "max": 0.1},
        {"check": "corr_abs_below", "x": "l_quantity",
         "y": "l_extendedprice", "limit": 0.5},
    ])
    sec("data contract (one shared agg pass)", dc, {
        "all checks partial-agg before their exchanges": PARTIAL,
        "at most three exchanges (the distinct rewrite's 1-row partials, "
        "never a per-check job)":
            count("Exchange", 0, 3),
        "single scan for the whole suite": count(SCAN, 1, 1)})
    fs = frequent_sequences(ev, n=3, k=20)
    sec("frequent sequences (event path mining)", fs, {
        "ONE Window operator for all the leads": count(WINDOWS, 1, 1),
        "sequence rollup partial-aggs before its exchange": PARTIAL,
        "top-k via TakeOrderedAndProject": TOP_K})
    ab = ab_test_report(
        load_table(spark, SF_DIR, "orders").withColumn(
            "__grp", (F.col("o_custkey") % 2 == 1).cast("int")),
        "__grp", "o_totalprice", 0, 1, ["o_orderstatus"])
    sec("A/B test report (Welch + Mann-Whitney)", ab, {
        "distinct-value collapse partial-aggs before its exchange": PARTIAL,
        "range partitioning drives the grouped rank walk": ranged(),
        "slice rollup joined back by broadcast": has("BroadcastHashJoin"),
        "every window carries a partition key":
            no(window_rx(r"(__v|__slice)#[^,]*, __v"))})
    acf = autocorrelation(ev, "ts", "value",
                          key_cols=["event_type"], max_lag=6)
    sec("autocorrelation (lag-join ACF + Ljung-Box)", acf, {
        "bucket collapse partial-aggs before its exchange": PARTIAL,
        "per-key stats joined back by broadcast": has("BroadcastHashJoin"),
        "lagged pairs via hash equi-join": has(EQUI),
        "no cartesian / nested-loop join":
            no(("CartesianProduct", "BroadcastNestedLoopJoin")),
        "the only window runs over the bounded key x lag frame":
            count(WINDOWS, 1, 1)})
    embt = load_table(spark, SF_DIR, "embeddings")
    ec = embedding_contamination_pairs(
        embt.filter(F.col("vec_id") % 25 != 0),
        embt.filter(F.col("vec_id") % 25 == 0),
        threshold=0.4, planes=2, tables=8)
    sec("embedding decontamination (LSH band join + verify)", ec, {
        "candidates via hash equi-join on (table, bucket)": has(EQUI),
        "no cartesian / nested-loop join":
            no(("CartesianProduct", "BroadcastNestedLoopJoin")),
        "pair dedup partial-aggs before its exchange": PARTIAL_ANY})
    eo = embedding_outliers(embt, k=3, planes=2, tables=8)
    sec("embedding kth-NN outlier scores", eo, {
        "candidates via hash equi-join on (table, bucket)": has(EQUI),
        "no cartesian / nested-loop join":
            no(("CartesianProduct", "BroadcastNestedLoopJoin")),
        "per-row top-k via grouped sorted collect_set (one exchange, no "
        "window; skew bound = one row's candidates)":
            path("Exchange", agg_with("partial_collect_set"))})
    ar = association_rules(ev, user_col="user_id",
                           item_col="event_type", min_support=0.01)
    sec("association rules (basket affinity)", ar, {
        "basket collapse partial-aggs before its exchange": PARTIAL_ANY,
        "pair expansion in-plan (explode, not a self-join of the event table)":
            has("Generate", "explode("),
        "marginals joined back by broadcast": has("BroadcastHashJoin"),
        "no cartesian join of the data (the only nested-loop input is the "
        "broadcast 1-row user total)":
            no("CartesianProduct")})
    sti = infer_semantic_types(
        load_table(spark, SF_DIR, "customer").select(
            F.col("c_mktsegment").alias("seg"),
            F.col("c_name").alias("name"),
            F.col("c_custkey").cast("string").alias("ck")))
    sec("semantic-type inference (probe battery)", sti, {
        "ONE scan for every column's probes": count(SCAN, 1, 1),
        "probe counts partial-agg before their exchange": PARTIAL_ANY})
    wq = weighted_quantiles(li, "l_extendedprice", "l_quantity",
                            [0.5, 0.95], ["l_returnflag"])
    sec("weighted quantiles (grouped prefix-sum walk)", wq, {
        "value collapse partial-aggs before its exchange": PARTIAL,
        "range partitioning drives the grouped walk": ranged(),
        "slice rollup joined back by broadcast": has("BroadcastHashJoin")})
    xc = cross_correlation(
        ev.select("ts",
                  F.when(F.col("event_type") == "click",
                         F.col("value")).alias("x"),
                  F.when(F.col("event_type") == "purchase",
                         F.col("value")).alias("y")),
        "ts", "x", "y", max_lag=6)
    sec("cross-correlation (lag-join lead/lag detector)", xc, {
        "bucket collapse partial-aggs before its exchange": PARTIAL,
        "lagged pairs via hash equi-join": has(EQUI),
        "no cartesian / nested-loop join":
            no(("CartesianProduct", "BroadcastNestedLoopJoin")),
        "no window anywhere (pure aggregation)": NO_WINDOW})
    ords2 = load_table(spark, SF_DIR, "orders")
    cu2 = cuped_adjust(
        ords2.select("o_orderstatus",
                     F.col("o_totalprice").alias("y"),
                     (F.col("o_totalprice")
                      + (F.col("o_orderkey") % 1000).cast("double"))
                     .alias("x")),
        "y", "x", ["o_orderstatus"])
    sec("CUPED adjustment (broadcast theta)", cu2, {
        "theta/xbar stats joined back by broadcast": has("BroadcastHashJoin"),
        "stats partial-agg before their exchange": PARTIAL})
    srm = srm_check(
        ords2.withColumn(
            "__arm", F.when(F.col("o_custkey") % 10 < 5, F.lit("a"))
            .otherwise(F.lit("b"))),
        "__arm", {"a": 0.5, "b": 0.5}, ["o_orderstatus"])
    sec("SRM check (one agg)", srm, {
        "counts partial-agg before their exchange": PARTIAL,
        "single scan": count(SCAN, 1, 1)})
    pb = poisson_bootstrap_diff(
        ords2.withColumn("__grp",
                         (F.col("o_custkey") % 2 == 1).cast("int")),
        "__grp", "o_totalprice", 0, 1, "o_orderkey", n_boot=50)
    sec("Poisson bootstrap CI (replicate partial-agg)", pb, {
        "replicate sums partial-agg before the exchange (shuffle bounded by "
        "replicates, not data x replicates)":
            PARTIAL,
        "replicate spine generated in-plan (explode)":
            has("Generate", "explode("),
        "bounded CI frame joined by broadcast": BCAST})
    lrk = logrank_test(
        ev.filter(F.col("user_id").isNotNull()
                  & F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg((F.expr("timestampdiff(MICROSECOND, min(ts), max(ts))")
              / F.lit(1e6)).alias("dur"),
             F.max((F.col("event_type") == "purchase").cast("int"))
             .alias("evf"))
        .withColumn("arm", (F.col("user_id") % 2).cast("int")),
        "dur", "evf", "arm", 0, 1)
    sec("log-rank test (survival arm comparison)", lrk, {
        "duration collapse partial-aggs before its exchange": PARTIAL,
        "range partitioning drives the at-risk walk": ranged(),
        "slice rollup joined back by broadcast": BCAST})
    nd = ngram_diversity(docs, "text", "source", ns=(1, 2))
    sec("n-gram diversity (distinct-n / entropy)", nd, {
        "gram counts partial-agg before their exchange": PARTIAL,
        "n-gram expansion in-plan (explode)": has("Generate", "explode("),
        "no window anywhere (pure aggregation)": NO_WINDOW})
    ck = candidate_keys(
        load_table(spark, SF_DIR, "customer"),
        columns=["c_custkey", "c_name", "c_nationkey",
                 "c_mktsegment"])
    sec("candidate keys (one-agg discovery)", ck, {
        "distinct counts partial-agg before their exchanges": PARTIAL,
        "single scan feeds every combo": count(SCAN, 1, 1),
        "minimality is a projection, not a join": no(EQUI)})
    snb = seasonal_naive_backtest(ev, "ts", "value",
                                  key_cols=["event_type"], period=24)
    sec("seasonal-naive backtest (forecast-error baseline)", snb, {
        "bucket collapse partial-aggs before its exchange": PARTIAL,
        "lagged forecast via hash equi-join": has(EQUI),
        "no window anywhere (pure aggregation)": NO_WINDOW})
    ords9 = load_table(spark, SF_DIR, "orders")
    fr = fairness_report(
        ords9.select(
            (F.col("o_totalprice") > 150000).cast("int").alias("y"),
            (F.col("o_orderkey") % 97 < 30).cast("int").alias("p"),
            F.col("o_orderpriority").alias("grp")),
        "y", "p", "grp")
    sec("fairness report (group gaps vs reference)", fr, {
        "group rollup partial-aggs before its exchange": PARTIAL,
        "reference row joins back by broadcast": BCAST,
        "no window anywhere": NO_WINDOW})
    ck2 = cohens_kappa(
        ords9.select((F.col("o_orderkey") % 5).alias("ra"),
                      (F.col("o_custkey") % 5).alias("rb")),
        "ra", "rb", weights="quadratic")
    sec("weighted Cohen's kappa (contingency-bounded)", ck2, {
        "contingency table partial-aggs before its exchange": PARTIAL,
        "margins/totals broadcast, never shuffled data-sized": BCAST})
    ka = krippendorff_alpha(ev, "user_id", "event_type")
    sec("Krippendorff's alpha (coincidence matrix)", ka, {
        "(item, rating) counts partial-agg before the exchange": PARTIAL,
        "no window anywhere": NO_WINDOW})
    pr_edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
        .alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
        .alias("dst"))
    # pagerank()'s per-step cut erases the step's shape: audit one
    # un-cut step (the shared Markov step at unit weights)
    pr_u = pr_edges.filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    ).select(F.col("src").alias("__s"),
             F.col("dst").alias("__d")).distinct()
    pr_e = pr_u.withColumn("__w", F.lit(1.0))
    pr_state = (pr_e.select(F.col("__s").alias("state"))
                .union(pr_e.select(F.col("__d").alias("state")))
                .distinct()
                .join(pr_e.groupBy(F.col("__s").alias("state"))
                      .agg(F.sum("__w").alias("__tw")), "state", "left")
                .withColumn("probability", F.lit(0.001)))
    pr = _markov_step(pr_state, pr_e, 1000, 0.85)
    sec("pagerank (one power-iteration step)", pr, {
        "rank joins edges by hash equi-join (skew bound = one node's edges)":
            has(EQUI),
        "contribution sum partial-aggs before its exchange": PARTIAL,
        "dangling mass folds in via broadcast": has("BroadcastNestedLoopJoin"),
    })
    cjo = confident_joint(
        ords9.select(
            F.element_at(
                F.array(F.lit("a"), F.lit("b"), F.lit("c")),
                ((F.col("o_orderkey") % 3) + 1).cast("int"))
            .alias("label"),
            (F.col("o_orderkey") % 100 / 100.0).alias("pa"),
            (F.col("o_custkey") % 100 / 100.0).alias("pb"),
            (F.col("o_totalprice").cast("long") % 100 / 100.0).alias("pc")),
        "label", {"a": "pa", "b": "pb", "c": "pc"})
    sec("confident joint (label-noise matrix)", cjo, {
        "threshold row broadcasts back": BCAST,
        "joint cells partial-agg before their exchange": PARTIAL,
        "no window anywhere": NO_WINDOW})
    cf = split_conformal(
        li.select(
            "l_returnflag",
            F.col("l_extendedprice").cast("double").alias("y"),
            (F.col("l_quantity") * 1050.0).alias("yhat")),
        "y", "yhat", alpha=0.1, group_cols=["l_returnflag"])
    sec("split conformal (grouped residual rank walk)", cf, {
        "residual counts partial-agg before their exchange": PARTIAL,
        "prefix walk windows carry a partition key":
            both(has(WINDOWS), NO_DATA_WINDOW)})
    emb_nn = emb.filter(F.col("embedding").isNotNull())
    _, sil_cents = kmeans(emb_nn, k=4, n_iter=1)
    sil = cluster_silhouette(emb_nn, sil_cents)
    sec("cluster silhouette (shuffle-free projection + k-row agg)", sil, {
        "one scan, argmin/second-argmin in the projection": count(SCAN, 1, 1),
        "per-cluster rollup partial-aggs before its exchange": PARTIAL,
        "no join, no window": no(WINDOWS, "SortMergeJoin", "ShuffledHashJoin"),
    })
    cmj = column_matches(
        load_table(spark, SF_DIR, "customer"),
        load_table(spark, SF_DIR, "supplier"), sample_distinct=100)
    sec("schema matching (capped distinct overlap)", cmj, {
        "distinct-value dedup partial-aggs before its exchange": PARTIAL,
        "per-column md5 rank window carries a partition key": keyed("__col_"),
        "local pre-cap window keyed by (col, partition id)":
            has(window_rx(r"__col_[^,)]+, __pid")),
        "global rank consumes only pre-capped survivors":
            path(WINDOWS, "Filter", WINDOWS),
        "A x B overlap via hash equi-join on the value": has(EQUI)})
    cagg = clustering_agreement(
        emb_nn.select(
            "vec_id", "label",
            (F.col("vec_id") % 8).cast("int").alias("cluster")),
        "label")
    sec("clustering agreement (contingency-bounded indices)", cagg, {
        "contingency table partial-aggs before its exchange": PARTIAL,
        "margins/totals broadcast": BCAST,
        "no window anywhere": NO_WINDOW})
    naa = nelson_aalen(
        ev.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("double").alias("dur"),
            F.max(F.lit(1)).alias("e")),
        "dur", "e")
    sec("Nelson-Aalen cumulative hazard (prefix-sum walk)", naa, {
        "duration collapse partial-aggs before its exchange": PARTIAL,
        "prefix walk is range-partitioned (two-phase)": ranged(),
        "no partition-less data window": both(has(WINDOWS), NO_DATA_WINDOW)})
    up = uplift_curve(
        ords9.select((F.col("o_custkey") % 2 == 0).alias("t"),
                     (F.col("o_totalprice") > 150000).cast("double")
                     .alias("y"),
                     ((F.col("o_orderkey") % 20).cast("double") / 20.0)
                     .alias("s")),
        "t", "y", "s")
    sec("uplift / qini curve (descending prefix walk)", up, {
        "distinct-score collapse partial-aggs before its exchange": PARTIAL,
        "walk is range-partitioned (two-phase)": ranged(),
        "windows are slice-local (partitioned by __slice)": keyed("__slice#")})
    sd_edges = ev.select(F.col("event_type").alias("src"),
                         F.col("event_type").alias("dst"),
                         F.lit(1.0).alias("probability"))
    # a run's plan is erased by its cuts: audit the construction
    # frame (per-source totals joined onto the node-sized state)
    sdw = F.col("probability").cast("double")
    sd_raw = sd_edges.filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
        & sdw.isNotNull() & (sdw > 0)
    ).select(F.col("src").alias("__s"), F.col("dst").alias("__d"),
             sdw.alias("__w"))
    sd_tot = sd_raw.groupBy(F.col("__s").alias("state")).agg(
        F.sum("__w").alias("__tw"))
    sd_norm = (sd_raw.select(F.col("__s").alias("state"))
               .union(sd_raw.select(F.col("__d").alias("state")))
               .distinct().join(sd_tot, "state", "left"))
    sec("markov stationary distribution (edge renormalization)", sd_norm, {
        "per-source totals partial-agg before their exchange": PARTIAL,
        "renormalization joins by hash equi-join on the source": has(EQUI)})
    trk = textrank_keywords(docs, window=2, iterations=1, k=10)
    sec("textrank keywords (co-occurrence graph build)", trk, {
        "edge counts partial-agg before their exchange": PARTIAL,
        "pair expansion is in-scan (no self-join of the corpus)":
            count("SortMergeJoin", 0, 1),
        "top-k via TakeOrderedAndProject (no global sort)": TOP_K})
    mk_daily = (ev.filter(F.col("ts").isNotNull())
                .groupBy("event_type",
                         F.date_trunc("day", "ts").alias("__day"))
                .agg(F.count(F.lit(1)).cast("double").alias("v"))
                .select("event_type",
                        F.col("__day").cast("double").alias("t"), "v"))
    mk = mann_kendall(mk_daily, "t", "v", ["event_type"])
    sec("mann-kendall trend + theil-sen (collapsed-series pair walk)", mk, {
        "series collapse partial-aggs before its exchange": PARTIAL,
        "pair expansion joins by hash equi-join on the group key": has(EQUI),
        "per-group report broadcast back for the intercept": BCAST,
        "no window anywhere": NO_WINDOW})
    ms = msprt_scan(
        ords9.withColumn("__arm", (F.col("o_custkey") % 2).cast("int")),
        "o_orderdate", "__arm", "o_totalprice", 0, 1,
        tau2=10000.0, grain="month")
    sec("mSPRT always-valid sequential scan (prefix walk)", ms, {
        "bucket collapse partial-aggs before its exchange": PARTIAL,
        "cumulative walk is range-partitioned (two-phase)": ranged(),
        "windows are slice-local (partitioned by __slice)": keyed("__slice#")})
    op = offpolicy_value(
        ords9.select(
            F.col("o_orderpriority").alias("a"),
            (F.col("o_totalprice") > 150000).cast("double").alias("r"),
            ((F.col("o_orderkey") % 4 + 1).cast("double") / 10.0)
            .alias("p"), "o_orderstatus"),
        "a", "r", "p",
        target_policy={"1-URGENT": 0.35, "2-HIGH": 0.25,
                       "3-MEDIUM": 0.2, "4-NOT SPECIFIED": 0.15,
                       "5-LOW": 0.05},
        clip=3.0, group_cols=["o_orderstatus"])
    sec("off-policy evaluation (broadcast policy + baselines)", op, {
        "policy map and per-action baselines join by broadcast":
            has("BroadcastHashJoin"),
        "estimator agg partial-aggs before its exchange": PARTIAL,
        "no sort-merge join of the data against itself":
            count("SortMergeJoin", 0, 1),
        "no window anywhere": NO_WINDOW})
    tf = trailing_features(
        ev.filter(F.col("user_id").isNotNull()
                  & F.col("ts").isNotNull()),
        "user_id", "ts", "value", windows_sec=(86400 * 7,))
    sec("point-in-time trailing features (entity RANGE frames)", tf, {
        "windows keyed by the entity (never partition-less)":
            keyed("user_id#"),
        "exactly one data exchange (the entity key)":
            both(exchanges("hash", 1, 1), hashed("user_id#")),
        "no join (features come off one sorted run)": no(EQUI)})
    kf = kfold_assign(ords9, ["o_orderkey"], 5)
    sec("k-fold assignment (pure projection)", kf, {
        "zero shuffle, zero join":
            no(EXCHANGES, "SortMergeJoin", "BroadcastHashJoin")})
    ro = rolling_origin_splits(ev, "ts", 4, 7 * 86400.0)
    sec("rolling-origin splits (broadcast spec, no data shuffle)", ro, {
        "split spec joined by broadcast": BCAST,
        "the data itself never hash-exchanges": exchanges("hash", 0, 0),
        "no window anywhere": NO_WINDOW})
    ns = negative_sampling(
        ev.select((F.col("user_id") % 500).alias("u"),
                  F.concat(F.lit("i"),
                           (F.col("event_id") % 200).cast("string"))
                  .alias("it")),
        "u", "it", n_neg=2, max_catalog=100)
    sec("negative sampling (broadcast catalog + anti join)", ns, {
        "pair dedup partial-aggs before its exchange": PARTIAL,
        "catalog joined by broadcast": has("BroadcastHashJoin"),
        "accidental positives removed by anti join": has(JOINS, "LeftAnti"),
        "no window anywhere": NO_WINDOW})
    lp_edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
        .alias("__s"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
        .alias("__d"))
    lp_und = lp_edges.union(
        lp_edges.select(F.col("__d").alias("__s"),
                        F.col("__s").alias("__d"))).distinct()
    lp_labels = lp_und.select(F.col("__s").alias("node")).distinct() \
        .select("node", F.col("node").alias("community"))
    lp_msgs = (lp_labels.join(lp_und,
                              lp_labels["node"] == lp_und["__s"])
               .select(F.col("__d").alias("node"), "community"))
    lp_step = (lp_msgs.groupBy("node", "community")
               .agg(F.count(F.lit(1)).alias("__c"))
               .groupBy("node")
               .agg(F.min(F.struct(
                   (F.lit(0) - F.col("__c")).alias("nc"),
                   F.col("community").alias("lab"))).alias("__m")))
    sec("label propagation (one synchronous step)", lp_step, {
        "message counts partial-agg before their exchange": PARTIAL,
        "label join is a hash equi-join on the node key": has(EQUI),
        "argmax is a struct-min aggregate (no window)": NO_WINDOW})
    rw, rb = _rff_constants(32, 64, 4.0, 11)
    mmd_mean = (emb_nn.filter(F.size("embedding") == 64)
                .select(_rff_expr("embedding", rw, rb).alias("__phi"))
                .agg(F.count(F.lit(1)).alias("n"),
                     *[F.avg(F.col("__phi")[j]).alias(f"m{j}")
                       for j in range(32)]))
    sec("MMD drift feature means (one codegen agg pass)", mmd_mean, {
        "feature map is a literal-constant projection (no join, no second "
        "scan)":
            count(SCAN, 1, 1),
        "mean partial-aggs before the 1-row exchange": PARTIAL,
        "no window anywhere": NO_WINDOW})
    pca_model = {
        "mean": [0.0] * 64,
        "components": [[1.0 if i == j else 0.0 for i in range(64)]
                       for j in range(4)],
    }
    pca_pl = pca_project(emb_nn, pca_model)
    sec("PCA projection (pure codegen, zero shuffle)", pca_pl, {
        "zero shuffle, zero join":
            no(EXCHANGES, "SortMergeJoin", "BroadcastHashJoin")})
    iso_s = (F.col("o_orderkey") % 97).cast("double") / 97.0
    iso_y = ((F.col("o_orderkey") * 31 + F.col("o_custkey")) % 100
             < 20 + 60 * iso_s).cast("double")
    iso_g = (ords9.select(iso_s.alias("__s"), iso_y.alias("__y"))
             .groupBy("__s")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("__y").alias("__t")))
    sec("isotonic calibration (distinct-score collapse)", iso_g, {
        "distinct-score table partial-aggs before its exchange": PARTIAL,
        "no window anywhere": NO_WINDOW})
    rk = rake_keywords(docs, k=25)
    sec("RAKE keyphrases (regex delimiting, one pass)", rk, {
        "word/phrase stats partial-agg before their exchanges": PARTIAL,
        "top-k via TakeOrderedAndProject (no global sort)": TOP_K,
        "no per-doc window (phrases come from one regex chain)": NO_WINDOW})
    ev10 = load_table(spark, SF_DIR, "events")
    daily10 = (ev10.filter(F.col("ts").isNotNull()
                           & F.col("event_type").isNotNull())
               .groupBy("event_type",
                        F.date_trunc("day", "ts").alias("day"))
               .agg(F.count(F.lit(1)).cast("double").alias("v")))
    cus = cusum_changepoint(daily10, "day", "v", ["event_type"])
    sec("CUSUM changepoint (grouped cumulative-deviation walk)", cus, {
        "rollup collapse partial-aggs before its exchange": PARTIAL,
        "every window carries the group key (no global sort)":
            windows_keyed("event_type"),
        "group totals join back by broadcast": BCAST})
    ords10 = load_table(spark, SF_DIR, "orders")
    woe = woe_iv(
        ords10.select(F.col("o_totalprice").alias("x"),
                      (F.col("o_orderstatus") == "F").cast("double")
                      .alias("y")), "x", "y", bins=8)
    sec("WOE/IV (percentile cuts + map-side array-filter binning)", woe, {
        "scan reads only the feature+label columns": reads("o_totalprice"),
        "cuts/totals head joins back by broadcast": BCAST,
        "bin aggregation partial-aggs before its exchange": PARTIAL,
        "no window anywhere (bins are a higher-order filter)": NO_WINDOW})
    sl_s = (F.col("o_orderkey") % 97).cast("double") / 97.0
    sl_y = ((F.col("o_orderkey") * 31 + F.col("o_custkey")) % 100
            < 20 + 60 * sl_s).cast("double")
    sl10 = ords10.select(sl_s.alias("s"), sl_y.alias("y"))
    sec("Brier decomposition (bounded bin frame, two reduces)",
        brier_decomposition(sl10, "s", "y", 10), {
        "bin aggregation partial-aggs before its exchange": PARTIAL,
        "totals join back by broadcast": BCAST,
        "no window anywhere": NO_WINDOW})
    sec("gains table (bucket cut broadcast, cumulative over <=10 "
        "rows)",
        gains_table(sl10, "s", "y", 10), {
        "cuts/totals head joins back by broadcast": BCAST,
        "bucket aggregation partial-aggs before its exchange": PARTIAL,
        "exactly one window (the bounded per-bucket cumulative)":
            count(WINDOWS, 1, 1)})
    mi10 = mutual_information(ords10, "o_orderstatus",
                              "o_orderpriority")
    sec("mutual information (one cube pass, all levels)", mi10, {
        "exactly one parquet scan (cube folds all levels in)":
            count(SCAN, 1, 1),
        "cube counts partial-agg before their exchange": PARTIAL,
        "zero joins (levels separated by grouping_id, not branches)":
            no("SortMergeJoin", *BCAST_JOINS)})
    gin = gini_concentration(li, "l_partkey", "l_extendedprice",
                             ["l_returnflag"])
    sec("Gini concentration (group-partitioned rank windows)", gin, {
        "per-entity collapse partial-aggs before its exchange": PARTIAL,
        "every window carries the group key (no global rank)":
            windows_keyed("l_returnflag"),
        "scan reads only the three involved columns": reads("l_extendedprice"),
    })
    div = diversity_report(docs, ["lang", "source"])
    sec("diversity report (one stack() unpivot, bounded counts)", div, {
        "exactly one parquet scan (stack is in-scan)": count(SCAN, 1, 1),
        "value counts partial-agg before their exchange": PARTIAL,
        "no window anywhere": NO_WINDOW})
    zp = zipf_fit(docs, "text", top_v=2000)
    sec("Zipf fit (two-phase capped vocabulary rank)", zp, {
        "token counts partial-agg before their exchange": PARTIAL,
        "phase-1 rank is partition-local (windowspec pinned to __pid)":
            keyed("__pid"),
        "totals join back by broadcast": has("BroadcastNestedLoopJoin")})
    twa = time_weighted_average(ev10, "ts", "value", ["event_type"])
    sec("time-weighted average (grouped lead window)", twa, {
        "instant collapse partial-aggs before its exchange": PARTIAL,
        "every window carries the group key": windows_keyed("event_type"),
        "no join anywhere": no("SortMergeJoin", *BCAST_JOINS)})
    gold = golden_record(ev10, ["user_id"], "ts",
                         ["event_type", "value"])
    sec("golden record (N-field survivorship on one exchange)", gold, {
        "survivorship partial-aggs (partial_max_by) before its exchange":
            path("Exchange", agg_with("partial_max_by")),
        "exactly one exchange (all fields ride one groupBy)":
            count("Exchange", 1, 1),
        "no window, no join":
            no(WINDOWS, "SortMergeJoin", "BroadcastHashJoin")})
    cust10 = load_table(spark, SF_DIR, "customer")
    pat = pattern_profile(cust10, ["c_name", "c_mktsegment"], top_k=5)
    sec("pattern profile (one stack scan, two-phase top-k)", pat, {
        "no parquet rescan (both consumers read the checkpointed mask-count "
        "frame)":
            count(SCAN, 0, 1),
        "counts materialized once (checkpoint scan in-plan)":
            has(("Scan ExistingRDD", "LocalTableScan")),
        "mask counts partial-agg before their exchange": PARTIAL,
        "phase-1 rank is partition-local (windowspec pinned to column+__pid)":
            has(window_rx(r"column[^)]*__pid")),
        "per-column totals join back by broadcast": has("BroadcastHashJoin")})
    ev10b = load_table(spark, SF_DIR, "events")
    per_user10 = (ev10b.filter(F.col("event_type").isNotNull()
                               & F.col("value").isNotNull())
                  .groupBy("user_id", "event_type")
                  .agg(F.sum("value").alias("x"),
                       F.count(F.lit(1)).cast("double").alias("y")))
    rdc = ratio_delta_ci(per_user10, "x", "y", ["event_type"])
    sec("ratio-metric delta CI (one five-moment agg per group)", rdc, {
        "unit pre-agg and moment agg both partial-agg": PARTIAL,
        "no window, no join":
            no(WINDOWS, "SortMergeJoin", "BroadcastHashJoin")})
    hil = hill_tail_index(li, "l_extendedprice", k=100,
                          group_cols=["l_returnflag"])
    sec("Hill tail index (two-phase capped top-k)", hil, {
        "phase-1 rank is partition-local (windowspec pinned to group+__pid)":
            has(window_rx(r"l_returnflag[^)]*__pid")),
        "positive-value filter pushed into the scan":
            pushed(r"GreaterThan\(l_extendedprice"),
        "totals ride a partial-agged aggregation": PARTIAL})
    # IPF collects the bounded contingency table: audit its build
    ipf_cells = (docs.filter(F.col("lang").isNotNull()
                             & F.col("source").isNotNull())
                 .groupBy("lang", "source")
                 .agg(F.count(F.lit(1)).alias("n")))
    sec("IPF raking (bounded contingency-cell construction)", ipf_cells, {
        "cells partial-agg before their exchange": PARTIAL,
        "scan reads only the two category columns": reads("lang", "source"),
        "no window, no join":
            no(WINDOWS, "SortMergeJoin", "BroadcastHashJoin")})
    cvmad = cvm_ad_exact(li.filter(F.col("l_returnflag") == "A"),
                         li.filter(F.col("l_returnflag") == "R"),
                         "l_quantity")
    sec("CvM + Anderson-Darling exact (shared prefix walk)", cvmad, {
        "distinct-value combine partial-aggs before its exchange": PARTIAL,
        "cumsum windows are slice-partitioned (never global over the data)":
            keyed("__slice"),
        "slice offsets join back by broadcast": has("BroadcastHashJoin")})
    gof = chi2_gof(ords10, "o_orderpriority",
                   {"1-URGENT": 1.0, "2-HIGH": 2.0, "3-MEDIUM": 3.0,
                    "4-NOT SPECIFIED": 4.0, "5-LOW": 5.0,
                    "9-PHANTOM": 1.0})
    sec("chi2 goodness-of-fit (bounded counts, literal shares)", gof, {
        "category counts partial-agg before their exchange": PARTIAL,
        "no window, no join (shares are a literal CASE)":
            no(WINDOWS, "SortMergeJoin", *BCAST_JOINS)})
    qte = quantile_treatment_effect(
        ords10.select((F.col("o_custkey") % 2).cast("double")
                      .alias("tr"),
                      F.col("o_totalprice").alias("y")), "tr", "y")
    sec("quantile treatment effects (one conditional percentile agg)", qte, {
        "ONE aggregation computes both arms (single scan, no split-join)":
            count(SCAN, 1, 1),
        "percentiles partial-agg before their exchange":
            path(AGGS, "Exchange", AGGS),
        "no window, no join":
            no(WINDOWS, "SortMergeJoin", "BroadcastHashJoin")})
    rfm = rfm_segmentation(ords10, "o_custkey", "o_orderdate",
                           "o_totalprice", n_bins=5)
    sec("RFM segmentation (entity collapse + broadcast cuts)", rfm, {
        "per-entity collapse partial-aggs before its exchange": PARTIAL,
        "cut arrays join back by broadcast": has("BroadcastNestedLoopJoin"),
        "no window anywhere (scores are array filters)": NO_WINDOW})
    rel = relationship_report(ords10, cust10, "o_custkey",
                              "c_custkey")
    sec("relationship report (bounded key-count outer join)", rel, {
        "both key collapses partial-agg before their exchanges": PARTIAL,
        "outer join runs over the collapsed key tables (join above both "
        "aggregates)":
            has(("SortMergeJoin", "BroadcastHashJoin"), "FullOuter"),
        "no window anywhere": NO_WINDOW})
    surv_in = ev10.select(
        F.col("value").alias("dur"),
        (F.col("event_type") != "error").cast("int").alias("e"))
    sec("RMST (KM walk + slice-partitioned successor)",
        rmst(surv_in, "dur", "e", tau=50.0), {
        "time collapse partial-aggs before its exchange": PARTIAL,
        "data windows are slice-partitioned (remaining partition-less "
        "windows are slice_rollup's, over the one-row-per-partition totals "
        "frame)":
            keyed("__slice"),
        "slice offsets join back by broadcast": has("BroadcastHashJoin")})
    cif_in = ev10.filter(F.col("event_type").isNotNull()).select(
        F.col("value").alias("dur"),
        (F.when(F.col("event_type") == "error", 0)
         .when(F.col("event_type") == "purchase", 1)
         .when(F.col("event_type") == "signup", 2)
         .otherwise(3)).alias("cause"))
    sec("cumulative incidence (prefix walks, bounded cause offsets)",
        cumulative_incidence(cif_in, "dur", "cause"), {
        "cell collapse partial-aggs before its exchange": PARTIAL,
        "data windows are slice-partitioned (the only other windowspec is "
        "the one-row-per-cause offset)":
            keyed("__slice")})
    eff = effect_sizes(li.filter(F.col("l_returnflag") == "A"),
                       li.filter(F.col("l_returnflag") == "R"),
                       "l_quantity")
    sec("effect sizes (merged-value walk, one prefix pass)", eff, {
        "distinct-value combine partial-aggs before its exchange": PARTIAL,
        "cumsum windows are slice-partitioned": keyed("__slice"),
        "slice offsets join back by broadcast": has("BroadcastHashJoin")})
    ords11 = load_table(spark, SF_DIR, "orders")
    ev11 = load_table(spark, SF_DIR, "events")
    sec("one-way ANOVA (single moment pass + 1-row reduce)",
        anova_oneway(ords11, "o_orderpriority", "o_totalprice"), {
        "per-level moments partial-agg before their exchange": PARTIAL,
        "scan prunes to the two columns":
            reads("o_orderpriority", "o_totalprice"),
        "no join anywhere (centers folded into the same agg)": no(JOINS),
        "the ONLY Python is the bounded 1-row p-value attach":
            has("MapInPandas")}, py=None)
    sec("Kruskal-Wallis (two-phase midranks, value-keyed join)",
        kruskal_wallis(ords11, "o_orderstatus", "o_totalprice"), {
        "distinct-value collapse partial-aggs before its exchange": PARTIAL,
        "rank cumsum windows are slice-partitioned": keyed("__slice"),
        "slice offsets join back by broadcast": has("BroadcastHashJoin"),
    }, py=None)
    sec("Brown-Forsythe (broadcast centers + ANOVA reduce)",
        brown_forsythe(li, "l_returnflag", "l_extendedprice"), {
        "group centers join back by broadcast (never a shuffle of the data "
        "on the group key for the join)":
            has("BroadcastHashJoin"),
        "deviation moments partial-agg before their exchange": PARTIAL,
    }, py=None)
    sec("randomization test (replicate spine partial-agg)",
        randomization_test_means(
            ords11, "o_orderstatus", "o_totalprice", "F",
            "o_orderkey", reps=20), {
        "per-replicate sums partial-agg before the replicate exchange "
        "(shuffle = reps x partitions rows, not data x reps)":
            PARTIAL,
        "the observed-share row broadcasts onto the spine":
            has(("BroadcastExchange", "BroadcastNestedLoopJoin")),
    }, py="no Python anywhere (exact tail count in-plan)")
    did11 = did_estimator(
        ords11.select(
            (F.col("o_custkey") % 2).alias("grp"),
            F.when(F.col("o_orderdate")
                   >= F.lit("1998-01-01 00:00:00").cast("timestamp"),
                   "post").otherwise("pre").alias("period"),
            F.col("o_totalprice").alias("v")),
        "grp", "period", "v", 1, "post")
    sec("difference-in-differences (four cells, one pass)", did11, {
        "ONE conditional-sum pass straight to the 1-row reduce": PARTIAL,
        "no join anywhere": no(JOINS),
    }, py="no Python anywhere (z is a literal)")
    fake_model = {"intercept": -0.1, "coef": {"o_totalprice": 0.2},
                  "n": 0, "iterations": 1, "converged": True,
                  "log_likelihood": 0.0}
    scored11 = ords11.withColumn(
        "propensity", logistic_score_col(fake_model))
    sec("logistic propensity scoring (pure map-side expression)", scored11, {
        "no exchange (scoring never shuffles)": no(EXCHANGES),
    }, py="no Python (sigmoid is JVM codegen)")
    ses_in = (ev11.filter(F.col("ts").isNotNull()
                          & F.col("event_type").isNotNull())
              .groupBy("event_type",
                       F.date_trunc("day", "ts").alias("day"))
              .agg(F.count(F.lit(1)).cast("double").alias("v")))
    # ungrouped, the window partitions on lit(1): one max_points-capped
    # series by contract; the audited shape is the grouped path
    # the collapse runs before ses_forecast's input cut: plan it uncut
    ses = uncut(lambda: ses_forecast(ses_in, "day", "v", ["event_type"],
                                     alpha=0.3))
    sec("SES forecast (per-group closed-form window)", ses, {
        "series windows are partitioned by the group key (no global sort)":
            keyed("event_type"),
        "collapse partial-aggs before its exchange": PARTIAL,
    }, py="no Python anywhere (closed form, not recursion)")
    sec("KMV distinct sketch (bounded bottom-k per segment)",
        kmv_distinct(li, "l_returnflag", ["l_orderkey"], k=64), {
        "distinct-hash collapse partial-aggs before its exchange": PARTIAL,
        "bottom-k rank window is partitioned by segment": keyed("__seg"),
    }, py="no Python anywhere")
    te_in = ords11.select(
        "o_orderkey", "o_orderpriority",
        (F.col("o_totalprice") > 150000.0).cast("double").alias("y"))
    sec("OOF target encoding (bounded code table, md5 folds)",
        target_encode_oof(te_in, "o_orderpriority", "y",
                          ["o_orderkey"], n_folds=5, out_col="te"), {
        "ONE (category x fold) partial-agged aggregation": PARTIAL,
        "code table joins back by broadcast": has("BroadcastHashJoin"),
    }, py="no Python anywhere")
    sec("Spearman correlation (two prefix scans + one Pearson agg)",
        spearman_correlation(li, "l_quantity", "l_extendedprice"), {
        "distinct-value collapses partial-agg before exchange": PARTIAL,
        "rank cumsum windows are slice-partitioned": keyed("__slice"),
        "slice offsets join back by broadcast": has("BroadcastHashJoin"),
    }, py="no Python anywhere")
    sec("KMV pairwise overlap (bounded sketch-table algebra)",
        kmv_pairwise_overlap(li, "l_returnflag", ["l_orderkey"],
                             k=64), {
        "pair-to-sketch joins are broadcast (bounded sides)":
            has("BroadcastHashJoin"),
        "union top-k rank window is partitioned by the pair": keyed("__sa"),
    }, py="no Python anywhere")
    sec("quantile normalization (profile + code tables via prefix)",
        quantile_normalize(li, ["l_quantity", "l_discount"]), {
        "distinct collapses partial-agg before their exchange": PARTIAL,
        "all cumsum windows are slice-partitioned": keyed("__slice"),
    }, py="no Python anywhere")
    # cox_ph loops on the driver: audit one Newton step's aggregate
    cox_base = (ev11
                .filter(F.col("value").isNotNull()
                        & ~F.isnan(F.col("value"))
                        & F.col("event_type").isNotNull())
                .select(F.col("value").alias("__t"),
                        (F.col("event_type") != "error")
                        .cast("double").alias("__e"),
                        ((F.col("user_id") % 50).cast("double")
                         / 50.0).alias("__x0")))
    cox_g = cox_base.groupBy("__t").agg(*_gram(
        [F.lit(1.0), F.col("__x0")], F.exp(_eta([0.0], [F.col("__x0")])),
        F.col("__e")))
    cox_r = _rs(cox_g, ["__t"], ["__h0_0", "__h0_1", "__h1_1"])
    cox_s0 = F.col("__g___h0_0") - (F.col("__cum___h0_0")
                                    - F.col("__h0_0"))
    cox_step = cox_r.filter(F.col("__g0") > 0).agg(
        F.sum(F.col("__g0") * F.log(cox_s0)).alias("__dls"))
    sec("Cox PH Newton step (groupBy + suffix prefix pass + reduce)",
        cox_step, {
        "duration collapse partial-aggs before its exchange": PARTIAL,
        "risk-set cumsum windows are slice-partitioned": keyed("__slice"),
        "slice offsets join back by broadcast": has("BroadcastHashJoin"),
    }, py="no Python in the iteration plan")
    ci_in = (ev11.filter(F.col("value").isNotNull()
                         & ~F.isnan(F.col("value"))
                         & F.col("event_type").isNotNull()
                         & F.col("user_id").isNotNull())
             .select(F.round("value", 0).alias("dur"),
                     (F.col("event_type") != "error").cast("double")
                     .alias("e"),
                     ((F.col("user_id") % 20).cast("double") / 20.0)
                     .alias("s")))
    sec("concordance index (cell-collapsed pair algebra)",
        concordance_index(ci_in, "dur", "e", "s",
                          max_cells=200_000), {
        "cell collapse partial-aggs before its exchange": PARTIAL,
        "the pair theta-join runs on broadcast CELLS, not rows":
            has("BroadcastNestedLoopJoin")}, py="no Python anywhere")
    # the fit is fit_logistic's audited shape: audit the matching
    psm_scored = ords11.select(
        F.col("o_orderkey").cast("string").alias("__id"),
        (F.col("o_orderstatus") == "F").cast("double").alias("__t"),
        F.col("o_totalprice").alias("__y"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(
            -(F.lit(-0.1) + F.lit(0.5)
              * (F.month("o_orderdate").cast("double") / 12.0)))))
        .alias("__e"))
    psm_scored = psm_scored.withColumn(
        "__b", F.floor(F.col("__e") / F.lit(0.05)).cast("long"))
    psm_tr = psm_scored.filter(F.col("__t") == 1.0).select(
        F.col("__id").alias("__tid"), F.col("__y").alias("__ty"),
        F.col("__e").alias("__te"), F.col("__b").alias("__tb"))
    psm_ct = (psm_scored.filter(F.col("__t") == 0.0)
              .select("__id", "__y", "__e", "__b",
                      F.row_number().over(
                          _W.partitionBy("__b").orderBy(
                              F.md5("__id"), "__id")).alias("__rk"))
              .filter(F.col("__rk") <= 200)
              .select(F.explode(F.array(
                  F.col("__b") - 1, F.col("__b"),
                  F.col("__b") + 1)).alias("__tb"),
                  F.col("__y").alias("__cy"),
                  F.col("__e").alias("__ce"),
                  F.col("__id").alias("__cid")))
    psm_cand = (psm_tr.join(psm_ct, "__tb")
                .filter(F.abs(F.col("__te") - F.col("__ce"))
                        <= 0.05)
                .groupBy("__tid")
                .agg(F.min(F.struct(
                    F.abs(F.col("__te") - F.col("__ce")).alias("d"),
                    F.col("__cid").alias("cid"),
                    F.col("__cy").alias("cy"),
                    F.col("__ty").alias("ty"))).alias("__m")))
    sec("propensity matching (bucket equi-join + struct-min argmin)",
        psm_cand, {
        "candidates come from a bucket EQUI-join (never a cross/nested-loop "
        "join of treated x controls)":
            no("BroadcastNestedLoopJoin"),
        "hot-bucket cap is a bucket-partitioned rank window": keyed("__b"),
        "argmin partial-aggs (SortAggregate) before its exchange":
            path("SortAggregate", "Exchange", "SortAggregate"),
    }, py="no Python anywhere")
    # Fellegi-Sunter's EM runs on <= 2^k collected pattern rows
    fs_in = ords11.select(
        (F.col("o_custkey") % 3 == 0).cast("int").alias("__a0"),
        (F.col("o_orderkey") % 2 == 0).cast("int").alias("__a1"))
    fs_pat = fs_in.groupBy("__a0", "__a1").agg(
        F.count(F.lit(1)).cast("double").alias("__n"))
    sec("Fellegi-Sunter pattern aggregation (EM input)", fs_pat, {
        "pattern counts partial-agg before their exchange": PARTIAL,
    }, py=(
        "no Python in the aggregation (EM happens on the collected <= 2^k "
        "pattern rows)"))
    fake_rot = {"rotation": [[0.0, 1.0], [1.0, 0.0]], "n": 0,
                "residual": 0.0, "disparity": 0.0,
                "norm_a": 0.0, "norm_b": 0.0}
    emb2 = emb.select(F.slice("embedding", 1, 2).alias("v2"))
    sec("Procrustes projection (literal-matrix codegen)",
        procrustes_project(emb2, fake_rot, "v2"), {
        "no exchange (projection never shuffles)": no(EXCHANGES),
    }, py="no Python (R·x is a literal expression)")
    attr_in = (ev11.filter(F.col("ts").isNotNull()
                           & F.col("user_id").isNotNull()
                           & F.col("event_type").isNotNull())
               .select(F.col("user_id").alias("u"), "ts",
                       F.when(F.col("event_type") != "purchase",
                              F.col("event_type")).alias("ch"),
                       (F.col("event_type") == "purchase")
                       .alias("conv")))
    sec("multi-touch attribution (per-user join + conv windows)",
        attribution_report(attr_in, "u", "ts", "ch", "conv",
                           model="position",
                           lookback_sec=7 * 86400.0), {
        "touch-to-conversion join is a hash equi-join":
            has(("BroadcastHashJoin", "SortMergeJoin")),
        "rank/count windows are partitioned by the conversion": keyed("__u"),
        "channel reduce partial-aggs before its exchange": PARTIAL,
    }, py="no Python anywhere")
    # the chain solves are driver-side: audit the transition counts
    mk_path = attr_in.select(
        "u", F.col("ts").cast("timestamp").cast("double")
        .alias("__ts"),
        F.when(F.col("conv"), F.lit("__CONV__"))
        .otherwise(F.col("ch")).alias("__s"))
    mk_w = _W2.partitionBy("u").orderBy(F.col("__ts").asc(),
                                        F.col("__s").asc())
    mk_edges = mk_path.select(
        F.coalesce(F.lag("__s").over(mk_w), F.lit("__START__"))
        .alias("__from"), F.col("__s").alias("__to"))
    mk_counts = mk_edges.groupBy("__from", "__to").agg(
        F.count(F.lit(1)).cast("double").alias("__n"))
    sec("Markov attribution transition pass (bounded count table)",
        mk_counts, {
        "path windows are partitioned by user (no global sort)": keyed("u"),
        "transition counts partial-agg before their exchange": PARTIAL,
    }, py="no Python in the data pass")
    mc_in = ords11.select(
        F.col("o_orderstatus").alias("tt"),
        F.element_at(F.array(F.lit("F"), F.lit("O"), F.lit("P")),
                     (F.col("o_orderkey") % 3 + 1).cast("int"))
        .alias("pp"))
    sec("multiclass report (one cell pass, bounded derivations)",
        multiclass_report(mc_in, "tt", "pp"), {
        "cell counts partial-agg before their exchange": PARTIAL,
    }, py="no Python anywhere")
    sec("JS divergence (two bounded share tables, one reduce)",
        js_divergence(li.filter(F.col("l_returnflag") == "N"),
                      li.filter(F.col("l_returnflag") == "A"),
                      "l_linenumber"), {
        "share tables partial-agg before their exchanges": PARTIAL,
        "totals broadcast onto the bounded cell table":
            has("BroadcastExchange")}, py="no Python anywhere")
    fake_w = {"whitener": [[1.0, 0.0], [0.0, 1.0]],
              "mean": [0.0, 0.0], "n": 0, "eps": 1e-6}
    sec("ZCA projection (affine HOF, flat literal matrix)",
        zca_project(emb2, fake_w, "v2"), {
        "no exchange (projection never shuffles)": no(EXCHANGES),
    }, py="no Python (zip_with/aggregate are JVM HOFs)")
    holt_in = (ev11.filter(F.col("ts").isNotNull()
                           & F.col("event_type").isNotNull())
               .groupBy("event_type",
                        F.date_trunc("day", "ts").alias("day"))
               .agg(F.count(F.lit(1)).cast("double").alias("v")))
    sec("Holt forecast (grouped HOF fold, windowless)",
        holt_forecast(holt_in, "day", "v", ["event_type"]), {
        "collapse partial-aggs before its exchange": PARTIAL,
        "NO window at all (the recursion folds inside the aggregate — "
        "array_sort + aggregate HOF)":
            no(rx(None, "windowspecdefinition"))}, py="no Python anywhere")
    # kendall_tau returns a local frame: audit the jobs it ran
    sec("Kendall tau-b (cell-table pair pass, broadcast NL)",
        executed(lambda: kendall_tau(
            li, "l_quantity", "l_linenumber")), {
        "pair pass is a broadcast nested-loop over the BOUNDED cell table "
        "(max_cells-guarded), never a shuffle cross join":
            has("BroadcastNestedLoopJoin"),
        "no CartesianProduct (the unbroadcast disaster shape)":
            no("CartesianProduct")}, py="no Python anywhere")
    geo_cust = cust.select(
        F.col("c_custkey").alias("id"),
        (((F.col("c_custkey") * 37) % 12000).cast("double") / 100.0
         - 60.0).alias("lat"),
        (((F.col("c_custkey") * 91) % 34000).cast("double") / 100.0
         - 170.0).alias("lon"))
    sec("Geohash grid density (pure shift/or projection + one agg)",
        grid_density(geo_cust, "lat", "lon", 4), {
        "ONE partial-agged aggregation": PARTIAL,
    }, py="no Python (the hash is shift/or codegen)")
    supp_geo = load_table(spark, SF_DIR, "supplier").select(
        F.col("s_suppkey").alias("id"),
        (((F.col("s_suppkey") * 37) % 12000).cast("double") / 100.0
         - 60.0).alias("lat"),
        (((F.col("s_suppkey") * 91) % 34000).cast("double") / 100.0
         - 170.0).alias("lon"))
    sec("Geo radius join (3x3 neighbor-cell EQUI-join)",
        geo_radius_join(geo_cust, supp_geo, 300.0), {
        "the radius join is an equi-join on the cell id, never a cross "
        "product":
            no("CartesianProduct"),
        "left side explodes to its 9 neighbor cells (Generate)":
            has("Generate")}, py="haversine filter is codegen (no Python)")
    sec("Geo nearest join (radius candidates + ONE grouped argmin)",
        geo_nearest_join(
            geo_cust,
            supp_geo.withColumnRenamed("id", "sid"), 300.0), {
        "no cross product anywhere": no("CartesianProduct"),
        "argmin is a partial-agged grouped min (struct min before the "
        "exchange)":
            path("Exchange", agg_with("partial_min")),
    }, py="no Python anywhere")
    sec("Geohash projection (zero shuffle)",
        with_geohash(geo_cust, "lat", "lon", 7), {
        "no exchange (pure projection)": no(EXCHANGES)}, py="no Python")
    _qs_dir = tempfile.mkdtemp(prefix="audit_qstore_")
    _qs = ProfileStore(_qs_dir + "/p")
    for _day in (1, 2, 3):
        _qs.write(
            wsp.profile(li.limit(500).select("l_quantity")),
            "audit",
            dt.datetime(2024, 7, _day, tzinfo=dt.timezone.utc))
    sec("Store rolling KLL quantile series (pruned scan + one "
        "grouped sketch merge)",
        _qs.quantile_series(spark, "audit", "l_quantity", window=2), {
        "metric/component filters push into the parquet scan":
            pushed("metric|component"),
        "window fan-out is a Generate (explode), x window": has("Generate"),
        "one grouped native sketch merge, no Python node":
            both(NO_PY, has("ObjectHashAggregate", "kll_merge_agg_double")),
    }, py=None)
    # huber_regression loops on the driver: audit one weighted step
    hb = load_table(spark, SF_DIR, "orders").select(
        (F.month("o_orderdate").cast("double") / 12.0).alias("__x0"),
        ((F.col("o_custkey") % 100).cast("double") / 100.0)
        .alias("__x1"),
        F.col("o_totalprice").cast("double").alias("__y"))
    hub_aggs = _gram([F.lit(1.0), F.col("__x0"), F.col("__x1"),
                      F.col("__y")], F.lit(1.0))
    sec("Huber IRLS step (ONE weighted moment aggregate)", hb.agg(*hub_aggs), {
        "moment matrix partial-aggs before one exchange": PARTIAL,
    }, py="no Python in the iteration plan")
    # the posterior math runs on the collected arms x 2 table
    bd = ev11.select(
        F.col("event_type").alias("arm"),
        (F.col("value") > 50.0).cast("double").alias("r"))
    bd_counts = (bd.filter(F.col("arm").isNotNull()
                           & F.col("r").isNotNull()
                           & ~F.isnan(F.col("r")))
                 .groupBy("arm")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum(F.when(F.col("r") > 0, 1).otherwise(0))
                      .alias("s")))
    sec("Bandit arm counts (the single data pass)", bd_counts, {
        "ONE partial-agged aggregation": PARTIAL}, py="no Python anywhere")
    # the gap pass runs before the operator's cut: audit it inline
    ev13 = load_table(spark, SF_DIR, "events").filter(
        "ts IS NOT NULL AND user_id IS NOT NULL "
        "AND event_type IS NOT NULL")
    _us13 = F.unix_micros(F.col("ts").cast("timestamp"))
    sec("Inter-arrival gap pass (entity-partitioned lag)",
        ev13.select(
            "event_type",
            ((_us13 - F.lag(_us13).over(
                Window.partitionBy("user_id", "event_type")
                .orderBy(F.col("ts").asc())))
             .cast("double") / F.lit(1000000.0)).alias("__gap")), {
        "lag window carries the entity partition key": keyed("user_id"),
    }, py="no Python anywhere")
    ia = interarrival_stats(
        load_table(spark, SF_DIR, "events"),
        ["user_id", "event_type"], "ts",
        group_cols=["event_type"], qs=(0.5, 0.9))
    sec("Inter-arrival stats (bounded rollups off the checkpoint)", ia, {
        "group tables join back by broadcast": has("BroadcastHashJoin"),
        "moment rollup partial-aggregates before its exchange": PARTIAL,
    }, py="no Python anywhere")
    rrf_in = docs.select(
        "doc_id", F.col("n_chars").cast("double").alias("s_len"),
        ((F.col("doc_id") * 2654435761) % 100000).cast("double")
        .alias("s_hash"))
    sec("RRF fusion (TakeOrdered heads, list-partitioned re-rank)",
        rrf_fuse(rrf_in, ["doc_id"], ["s_len", "s_hash"],
                 per_list_limit=200, top_k=50), {
        "per-list heads and the final cut are TakeOrdered, never a global "
        "Sort-all":
            count("TakeOrderedAndProject", 2),
        "re-rank window partitions on the list id": keyed("__list"),
    }, py="no Python anywhere")
    sec("Quantile regression final pinball-loss pass (bounded agg)",
        hb.agg(F.avg(
            F.when(F.col("__y") - F.col("__x0") >= 0,
                   F.lit(0.75) * (F.col("__y") - F.col("__x0")))
            .otherwise(F.lit(-0.25) * (F.col("__y") - F.col("__x0"))))
            .alias("l")), {
        "ONE partial-agged aggregation to a single row": PARTIAL,
    }, py="no Python anywhere")
    sec("KNN-Shapley valuation (broadcast pairs, per-test windows)",
        knn_shapley(emb, emb.filter(F.col("vec_id") % 16 == 0),
                    "vec_id", "embedding", "label", k=5), {
        "test side broadcasts into the pair build":
            has(("BroadcastExchange", "BroadcastNestedLoopJoin")),
        "rank/suffix windows carry the test-id partition key": keyed("__qid"),
    }, py="no Python anywhere")
    cb_in = load_table(spark, SF_DIR, "orders").select(
        (F.col("o_custkey") % 2 == 0).alias("t"),
        F.col("o_totalprice").cast("double").alias("price"),
        F.month("o_orderdate").cast("double").alias("month"),
        (F.lit(1.0) + (F.col("o_orderkey") % 7).cast("double")
         / F.lit(10.0)).alias("w"))
    sec("Covariate balance (stack unpivot + ONE bounded groupBy)",
        covariate_balance(cb_in, "t", ["price", "month"],
                          weight_col="w"), {
        "ONE partial-agged aggregation": PARTIAL,
        "unpivot is an in-plan Generate, not a self-union of scans (ONE Scan "
        "node in the tree)":
            has("Generate")}, py="no Python anywhere")
    ls_src = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderstatus").alias("__y"),
        F.when(F.col("o_orderkey") % 10 == 0,
               F.lit("F")).otherwise(F.col("o_orderstatus"))
        .alias("__p"))
    sec("BBSE label shift confusion-cell pass (bounded k x k)",
        ls_src.groupBy("__p", "__y").count(), {
        "ONE partial-agged aggregation": PARTIAL}, py="no Python anywhere")
    sec("Grid clustering (cell collapse + broadcast label join)",
        grid_cluster(geo_cust, cell_deg=4.0, min_pts=5), {
        "cluster labels join back by broadcast": has("BroadcastHashJoin"),
    }, py="no Python anywhere")
    # repo-wide global-window audit (SOURCE level): a
    # `Window.orderBy(...)` not chained onto a partitionBy is a
    # single-task sort of its input unless that input is
    # declared-bounded; a new one outside the allowlist fails
    window_viol = global_window_violations()
    source_checks = {
        "no partition-less Window.orderBy outside the "
        f"declared-bounded allowlist {sorted(GLOBAL_WINDOW_ALLOW)}"
        + (f" — VIOLATIONS: {window_viol}" if window_viol else ""):
            lambda _: not window_viol}

    fk_checks = dict(STATEFUL)
    # the bounded dimension-side distinct adds one legitimate exchange
    # inside the broadcast subtree; the STREAM still shuffles exactly
    # once (the state key)
    del fk_checks["exactly one data exchange (no shuffle besides the "
                  "state key)"]
    fk_checks["at most two hash exchanges (state key + bounded dim "
              "distinct)"] = exchanges("hash", 0, 2)
    reports = sections + [
        ("repo-wide source audit (global windows)", None, source_checks)]
    reports += [(f"{t} (runtime microbatch plan)", p,
                 fk_checks if t == "streaming fk monitor" else STATEFUL)
                for t, p in streaming_plans.items()]
    reports += [
        ("streaming transitions (stateful runtime plan)", transitions_plan, {
            "watermark attached (state evictable)": has("EventTimeWatermark"),
            "stateful Arrow kernel (applyInPandasWithState — the "
            "declared per-user state op, 2 scalars per user)":
                has("FlatMapGroupsInPandasWithState"),
            "exactly one stream exchange (the state key)":
                exchanges("hash", 1, 1)}),
        ("streaming inter-arrival gaps (stateful runtime plan)",
         cadence_plan, {
             "watermark attached (buffer drains + state evicts)":
                 has("EventTimeWatermark"),
             "stateful Arrow kernel (applyInPandasWithState — "
             "last-ts + unwatermarked buffer per entity)":
                 has("FlatMapGroupsInPandasWithState"),
             "exactly one stream exchange (the entity key)":
                 exchanges("hash", 1, 1)}),
        ("streaming fk monitor (stream-static specifics)",
         streaming_plans["streaming fk monitor"], {
             "dimension joined by broadcast (stream never shuffles "
             "for the join)": has("BroadcastHashJoin"),
             "dimension reduced to distinct keys before broadcast":
                 path("BroadcastExchange", AGG)}),
    ]

    lines = [
        "# PLANS — physical-plan audit of headline operators",
        "",
        f"Generated by `scripts/explain_audit.py` at `{SF_DIR}`;",
        "checkboxes are node-kind checks over each plan's tree",
        "(`whylogs_spark.core.plan`: node names, exchanges by kind, scan",
        "read schemas and pushed filters, Python nodes, codegen stages).",
        "Re-run after plan-shape changes. Measured plan decisions are",
        "recorded in [plans/decisions.md](plans/decisions.md).",
        "",
    ]
    all_ok = True
    for title, df, checks in reports:
        plan = df if df is None or isinstance(df, Plan) else Plan.of(df)
        marks = [(label, bool(pred(plan))) for label, pred in checks.items()]
        lines.append(f"## {title}")
        lines += [f"  - [{'x' if ok else ' '}] {lb}" for lb, ok in marks]
        if not all(ok for _, ok in marks):
            all_ok = False
            lines += ["", "<details><summary>plan</summary>", "", "```",
                      str(plan)[:4000], "```", "</details>"]
        lines.append("")
    (REPO / "PLANS.md").write_text("\n".join(lines))
    print("\n".join(lines))
    print("ALL OK" if all_ok else "SOME CHECKS FAILED")
    spark.stop()


if __name__ == "__main__":
    main()
