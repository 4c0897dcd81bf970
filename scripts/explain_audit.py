"""Plan audit: dump formatted physical plans for the headline operators
and grep them for the properties the 100 TB design depends on:

* parquet scans carry PushedFilters / narrow ReadSchema (pushdown+pruning)
* aggregation is partial -> exchange -> final (map-side combine)
* codegen'd stages (WholeStageCodegen) span the hot expressions
* joins that should broadcast do broadcast

Writes PLANS.md at the repo root.

Usage: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def formatted(df) -> str:
    if isinstance(df, str):  # plans already captured (executed_plans)
        return df
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def executed_plans(spark, fn) -> str:
    """The formatted physical plans of the SQL executions ``fn()`` ran,
    for an operator that collects its result and returns a local
    frame."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        ex = store.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    last = max((e.executionId() for e in executions()), default=-1)
    fn()
    return "\n".join(e.physicalPlanDescription() for e in executions()
                     if e.executionId() > last)


def audit(name: str, df, checks: dict[str, str]) -> tuple[str, list[str]]:
    plan = formatted(df)
    results = []
    for label, pattern in checks.items():
        ok = re.search(pattern, plan) is not None
        results.append(f"  - [{'x' if ok else ' '}] {label}")
    return plan, results


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import whylogs_spark as wsp
    from whylogs_spark.core import summaries
    from whylogs_spark.io.tables import load_table
    from whylogs_spark.ops import dedup, similarity, text

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

    # 1. native profile tier: pruned scan + partial/final agg + codegen
    aggs = wsp.core.planner.plan_dataframe(
        li.schema, ["l_quantity", "l_returnflag"], [],
        wsp.MetricConfig(quantile_impl="none", frequent_items_impl="none",
                         cardinality_impl="approx"))
    wide = li.agg(*[a.agg for a in aggs if a.agg is not None])
    sections.append((
        "profile native tier (2 columns)", wide,
        {
            "column-pruned scan (only 2 columns read)":
                r"ReadSchema: [^\n]*l_quantity[^\n]*l_returnflag|"
                r"ReadSchema: [^\n]*l_returnflag[^\n]*l_quantity",
            "partial aggregation before exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "declarative HashAggregate (codegen), not interpreted Object agg":
                r"^(?![\s\S]*ObjectHashAggregate)",
        }))

    # 2. segmented profile: hash partial agg keyed by segment
    seg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), F.avg("l_quantity").alias("m"))
    sections.append((
        "segmented aggregation", seg,
        {
            "partial agg -> shuffle on segment key -> final agg":
                r"HashAggregate[\s\S]*Exchange[\s\S]*hashpartitioning\(l_returnflag[\s\S]*HashAggregate",
            "pruned scan": r"ReadSchema:[^\n]*l_returnflag",
        }))

    # 3. filter pushdown reaches the scan
    filt = li.filter(F.col("l_shipdate") >= "1995-01-01").select(
        "l_orderkey", "l_shipdate")
    sections.append((
        "segment filter pushdown", filt,
        {
            "filter pushed to parquet": r"PushedFilters: \[[^\]]*l_shipdate",
            "2-column ReadSchema": r"ReadSchema: struct<l_orderkey",
        }))

    # 4. cosine top-k: TakeOrderedAndProject, no global sort
    q = [float(i) for i in range(64)]
    topk = similarity.cosine_topk(emb, q, k=10)
    sections.append((
        "cosine top-k", topk,
        {
            "top-k via TakeOrderedAndProject (no full sort)":
                r"TakeOrderedAndProject",
            "no exchange of raw vectors": r"^(?![\s\S]*Exchange hashpartitioning\(embedding)",
        }))

    # 5. minhash signatures (sql impl): explode + partial hash agg,
    # no raw-text shuffle
    sigs = dedup.minhash_signatures(docs, num_hashes=16, impl="sql")
    sections.append((
        "minhash signatures (sql impl)", sigs,
        {
            "map-side partial aggregation of signature mins":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "declarative HashAggregate (codegen), not interpreted Object agg":
                r"^(?![\s\S]*ObjectHashAggregate)",
        }))

    # 5b. minhash signatures (arrow impl, default): one vectorized pass,
    # signatures computed where the docs live — no shuffle at all
    sigs_a = dedup.minhash_signatures(docs, num_hashes=16)
    sections.append((
        "minhash signatures (arrow impl)", sigs_a,
        {
            "single Arrow pass (MapInArrow)": r"MapInArrow|ArrowEvalPython",
            "no shuffle of documents":
                r"^(?![\s\S]*Exchange hashpartitioning)",
            "2-column pruned scan": r"ReadSchema: struct<doc_id[^\n]*text",
        }))

    # 5c. wide-mode profile: posexplode a primitive array per type
    # class -> partial agg by int column id -> tiny shuffle -> final
    # agg (O(1) plan size in width, no string group key)
    from whylogs_spark.core.datatypes import ValueType
    from whylogs_spark.core.wide import class_frame, plan_wide_sketches
    wcols = ["l_quantity", "l_extendedprice", "l_discount"]
    (_, waggs), = plan_wide_sketches(
        li.select(*wcols).schema, None, [],
        wsp.MetricConfig(quantile_impl="none", frequent_items_impl="none",
                         cardinality_impl="approx")).values()
    wmode = class_frame(li, ValueType.FRACTIONAL, wcols, [], waggs)
    sections.append((
        "wide-mode class aggregation", wmode,
        {
            "generator unpivot (posexplode), no join":
                r"Generate[\s\S]{0,200}posexplode",
            "primitive array input (no struct construction)":
                r"^(?![\s\S]*named_struct)",
            "partial agg before the column-id exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "shuffle keyed by int column id only (tiny)":
                r"hashpartitioning\((cid|_groupingexpression)",
        }))

    # 5d. sessionize + stats: ONE shuffle on user_id; the grouped agg
    # reuses the window's hash partitioning (no second exchange)
    from whylogs_spark.ops import events as ev_ops
    ev = load_table(spark, SF_DIR, "events")
    ss = ev_ops.session_stats(ev)
    sections.append((
        "sessionization (window + stats)", ss,
        {
            "single exchange keyed by user":
                r"hashpartitioning\(user_id",
            "no second exchange after the window":
                r"^(?![\s\S]*\(\d+\) Exchange[\s\S]*\(\d+\) Exchange)",
            "partial agg after the window (partitioning reused)":
                r"Window[\s\S]*HashAggregate",
        }))

    # 6. exact dedup stats: single shuffle on group keys
    stats = dedup.duplicate_stats(docs, group_by=["source"])
    sections.append((
        "exact dedup stats", stats,
        {
            "partial agg before exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
        }))

    # 6a. exact dedup: winner per fingerprint is a partial-aggregated
    # groupBy(min) + unique-pair semi-join, never a window over the
    # fingerprint (hot identical docs are this operator's workload)
    ed = dedup.exact_dedup(docs)
    sections.append((
        "exact dedup (winner per fingerprint)", ed,
        {
            "no window over the fingerprint (skew)":
                r"^(?![\s\S]*Window)",
            "partial agg before the fingerprint exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
        }))

    # 6b. line dedup: winner per line is a partial-aggregated groupBy
    # (skew-immune), NOT a window over the raw line text; survivors are
    # marked by a join on the unique (line, id, pos) triple
    ld = dedup.line_dedup(docs)
    sections.append((
        "line dedup (C4 boilerplate removal)", ld,
        {
            "no window over the line text (skew)":
                r"^(?![\s\S]*Window)",
            "partial agg before the line exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
        }))

    # 6c. ngram jaccard DF cap: document frequency via partial-agg
    # groupBy + broadcast anti-join of over-cap grams — never a window
    # count over the gram key
    nj = dedup.ngram_jaccard_pairs(docs, n=5, threshold=0.2)
    sections.append((
        "ngram jaccard (DF-capped inverted index)", nj,
        {
            "no window over the gram key (skew)":
                r"^(?![\s\S]*Window)",
            "over-cap gram set broadcast as anti-join filter":
                r"BroadcastHashJoin[^\n]*LeftAnti|"
                r"BroadcastExchange[\s\S]*LeftAnti",
            "DF guard partial-aggregates before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
        }))

    # 7. text stats: pure projection, no shuffle
    ts = text.with_text_stats(docs).select("doc_id", "n_tokens",
                                           "alpha_ratio")
    sections.append((
        "text stats projection", ts,
        {
            "no shuffle at all": r"^(?![\s\S]*Exchange)",
            "codegen projection": r"WholeStageCodegen|Project",
        }))

    # 7b. deterministic sampling: hash_split / stratified_sample are
    # map-side only; group_sample shuffles once on the group key
    from whylogs_spark.ops import sampling
    hs = sampling.hash_split(
        load_table(spark, SF_DIR, "orders"), ["o_orderkey"],
        {"train": 0.8, "test": 0.2})
    sections.append((
        "hash split (train/test)", hs,
        {
            "no shuffle at all": r"^(?![\s\S]*Exchange)",
            "codegen'd md5 CASE projection":
                r"Project \[codegen id",
        }))
    gs = sampling.group_sample(ev, ["user_id"], k=2, key_cols=["event_id"])
    sections.append((
        "group sample (k per group)", gs,
        {
            "single exchange keyed by group":
                r"hashpartitioning\(user_id",
            "no second exchange":
                r"^(?![\s\S]*\(\d+\) Exchange[\s\S]*\(\d+\) Exchange)",
        }))

    # 7c. corpus-quality ops: Gopher rules and PII are pure per-row
    # projections (the modal-token UDF is Arrow-batched, not row-wise
    # Python); decontamination probes a broadcast benchmark gram set so
    # only matches reach the doc_id shuffle; pack_chunks is one window
    # exchange on the shard key
    from whylogs_spark.ops import decontam, quality
    gq = quality.gopher_filter(docs).select(
        "doc_id", "dup_ngram_frac", "top_unigram_frac", "gopher_pass")
    sections.append((
        "gopher quality filter", gq,
        {
            "no shuffle at all": r"^(?![\s\S]*Exchange)",
            "Arrow-batched modal-token UDF (not row-wise Python)":
                r"ArrowEvalPython",
        }))
    pii = quality.with_pii_stats(docs).select("doc_id", "n_pii")
    sections.append((
        "pii detection projection", pii,
        {
            "no shuffle at all": r"^(?![\s\S]*Exchange)",
            "no Python in the plan (regex stays JVM-side)":
                r"^(?![\s\S]*(ArrowEvalPython|BatchEvalPython))",
        }))
    dec = decontam.ngram_decontaminate(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0), n=8)
    sections.append((
        "ngram decontamination", dec,
        {
            "benchmark gram set broadcast (no corpus-wide shuffle to "
            "find matches)": r"BroadcastHashJoin|BroadcastExchange",
            "matches aggregated per doc before the corpus join":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
        }))
    pk = sampling.pack_chunks(docs, "n_chars", budget=20000,
                              shard_cols=["source"],
                              order_cols=["doc_id"])
    sections.append((
        "chunk packing window", pk,
        {
            "single exchange keyed by shard":
                r"hashpartitioning\(source",
            "no second exchange":
                r"^(?![\s\S]*\(\d+\) Exchange[\s\S]*\(\d+\) Exchange)",
        }))

    # 7c2. text chunking: a generator projection — explode of an
    # in-plan integer sequence + codegen substring; zero shuffle, and
    # the scan reads only (doc_id, text)
    ck = text.chunk_text(docs, size=400, overlap=80)
    sections.append((
        "text chunking (RAG prep)", ck,
        {
            "no shuffle at all": r"^(?![\s\S]*Exchange)",
            "generator unpivot (explode), no join":
                r"Generate[\s\S]{0,400}explode",
            "2-column pruned scan":
                r"ReadSchema: struct<doc_id[^\n]*text",
        }))

    # 7d. unigram LM: vocab cap is a DISTRIBUTED top-K
    # (TakeOrderedAndProject — per-partition heaps), never a
    # single-partition window sort of all distinct corpus tokens;
    # smoothing totals ride along as a broadcast 1-row frame
    # (action-free training, exchange reused between consumers)
    lm = quality.train_unigram_lm(docs, vocab_size=1000)
    sections.append((
        "unigram LM training (vocab cap)", lm,
        {
            "LM vocab cap via TakeOrderedAndProject, no "
            "single-partition window": r"TakeOrderedAndProject",
            "no window anywhere in the plan":
                r"^(?![\s\S]*Window)",
            "partial agg before the word exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "smoothing totals broadcast (action-free training)":
                r"BroadcastExchange",
        }))
    lms = quality.unigram_lm_scores(docs, vocab_size=1000)
    sections.append((
        "unigram LM scoring", lms,
        {
            "<=V-row LM joined by broadcast (tokens never shuffle "
            "to a join)": r"BroadcastHashJoin",
            "per-doc partial agg before the doc exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
        }))

    # 7d2. NB quality classifier + DSIR (ops/classify.py): training is
    # one bucket groupBy with map-side partial agg (shuffle bounded at
    # n_buckets rows/partition regardless of corpus size); scoring
    # joins the <=n_buckets-row model by BROADCAST and groupBys the
    # unique doc id; Gumbel top-k plans as TakeOrderedAndProject
    from whylogs_spark.ops import classify

    lab = docs.withColumn("label",
                          (F.col("lang") == F.lit("en")).cast("int"))
    nb_model = classify.train_quality_classifier(lab, n_buckets=4096)
    nb_scores = classify.score_quality_classifier(docs, nb_model,
                                                  n_buckets=4096)
    sections.append((
        "NB quality classifier scoring", nb_scores,
        {
            "model joined by broadcast (tokens never shuffle to the "
            "join)": r"BroadcastHashJoin",
            "partial agg before the bucket exchange (training)":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no window anywhere in the plan":
                r"^(?![\s\S]*Window)",
        }))
    dsir_w = classify.dsir_logweights(
        docs, docs.filter(F.col("lang") == "en"), n_buckets=4096)
    dsir_s = classify.dsir_sample(dsir_w, k=100)
    sections.append((
        "DSIR Gumbel top-k resampling", dsir_s,
        {
            "Gumbel top-k via TakeOrderedAndProject (per-partition "
            "heaps, no global sort)": r"TakeOrderedAndProject",
            "ratio table joined by broadcast": r"BroadcastHashJoin",
            "no window anywhere in the plan":
                r"^(?![\s\S]*Window)",
        }))

    # 7d3. rolling PSI (core/drift.py): the raw-row pass is one
    # groupBy(period, bin) with map-side partial agg; every later join
    # touches grid-sized frames (periods x n_bins) only, and no window
    # function appears anywhere (consecutive periods pair via a join on
    # period-1, not lag())
    from whylogs_spark.core import drift as drift_mod

    events_t = load_table(spark, SF_DIR, "events")
    rp = drift_mod.rolling_psi(events_t, "ts", "value", unit="day")
    sections.append((
        "rolling PSI (day-over-day drift)", rp,
        {
            "partial agg before the (period,bin) exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no window anywhere in the plan":
                r"^(?![\s\S]*Window)",
            "bin edges ride as a broadcast 1-row agg":
                r"BroadcastExchange|BroadcastNestedLoopJoin",
        }))

    # 7d4. incremental dedup, bloom strategy (ops/dedup.py): the Bloom
    # build partial-aggregates bit words before its bounded exchange
    # (<= n_bits/64 rows), probes and suspect resolution are broadcast
    # joins — history fingerprints are never shuffled
    hist_docs = docs.filter(F.col("doc_id") % 3 == 0)
    batch_docs = docs.filter(F.col("doc_id") % 3 != 0)
    inc = dedup.incremental_dedup(batch_docs, hist_docs,
                                  strategy="bloom")
    sections.append((
        "incremental dedup (bloom strategy)", inc,
        {
            "bloom probes + suspect resolution by broadcast":
                r"BroadcastHashJoin",
            "bit-word partial agg before the bounded exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no window anywhere in the plan":
                r"^(?![\s\S]*Window)",
            "no sort-merge join of history":
                r"^(?![\s\S]*SortMergeJoin)",
        }))

    # 7d5. corpus mixing (ops/sampling.py mix_sources): per-source
    # fractions are a #sources-row aggregate broadcast back; the corpus
    # itself is filtered at the scan — no exchange of corpus rows, no
    # window, no sort
    from whylogs_spark.ops import sampling as sampling_ops

    mixed = sampling_ops.mix_sources(
        docs, {"src0": 0.5, "src1": 0.5}, token_budget=1000)
    sections.append((
        "corpus mixing (mix_sources)", mixed,
        {
            "fraction table joined by broadcast":
                r"BroadcastHashJoin|BroadcastNestedLoopJoin",
            "partial agg before the #sources exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no window anywhere in the plan":
                r"^(?![\s\S]*Window)",
            "no sort-merge join":
                r"^(?![\s\S]*SortMergeJoin)",
        }))

    # 7e. duplicate spans (ExactSubstr-lite): gram-frequency pass must
    # partial-aggregate on the 8-byte gram hash before its exchange (a
    # viral passage collapses map-side); the islands window partitions
    # by document id only — its skew bound is one document's length,
    # never a corpus-wide hot gram
    ds = dedup.duplicate_spans(docs, n=8)
    sections.append((
        "duplicate span detection", ds,
        {
            "partial agg on gram hash before the exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "islands window keyed by doc id, not the gram":
                r"windowspecdefinition\(__id#",
            "2-column pruned scan":
                r"ReadSchema: struct<doc_id[^\n]*text",
        }))
    rs = dedup.remove_duplicate_spans(docs, n=8)
    sections.append((
        "duplicate span removal", rs,
        {
            "count+winner in ONE partial-aggregated gram pass":
                r"partial_min[\s\S]*partial_count|"
                r"partial_count[\s\S]*partial_min",
            "no window over the gram key":
                r"^(?![\s\S]*windowspecdefinition\(__gk)",
        }))

    # 7f. URL ops: canonicalization is a pure codegen projection (zero
    # shuffle); dedup reuses the partial-agg winner + semi-join shape
    # (no window over a viral URL)
    from whylogs_spark.ops import urls as url_ops
    u = docs.select("doc_id", F.concat(
        F.lit("https://www.ex."), F.col("source"),
        F.lit(".com/p?utm_source=x&a=1")).alias("url"))
    un = u.select(url_ops.normalize_url(F.col("url")).alias("n"),
                  url_ops.registered_domain(F.col("url")).alias("d"))
    sections.append((
        "url canonicalization", un,
        {
            "zero shuffle": r"^(?![\s\S]*Exchange)",
            "no Python in the plan": r"^(?![\s\S]*Python)",
        }))
    ud = url_ops.url_dedup(u)
    sections.append((
        "url dedup (winner per canonical url)", ud,
        {
            "no window over the url key": r"^(?![\s\S]*Window)",
            "partial agg before the url-hash exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
        }))

    # 7g. html -> text (sql kernel): a regexp projection chain — zero
    # shuffle, zero Python, prunable scan
    from whylogs_spark.ops import html as html_ops
    ht = html_ops.html_to_text(
        docs.select("doc_id", F.col("text").alias("payload")))
    sections.append((
        "html to text (sql kernel)", ht,
        {
            "zero shuffle": r"^(?![\s\S]*Exchange)",
            "no Python in the plan": r"^(?![\s\S]*Python)",
        }))

    # 7h. exact ROC-AUC + exact KS: the ordered cumulative walk is the
    # two-phase range-partitioned prefix sum (core/prefix.py) — every
    # window over the data partitions by __slice; the only
    # partition-less window rolls up the bounded slice-totals frame
    # (one row per shuffle partition); offsets join back by broadcast
    from whylogs_spark.core import model_perf as model_perf_mod

    ords = load_table(spark, SF_DIR, "orders")
    auc_df = model_perf_mod.roc_auc_exact(
        ords.select(((F.col("o_orderkey") % 100) / 100.0).alias("s"),
                    (F.col("o_totalprice") > 150000).cast("int")
                    .alias("y")), "s", "y")
    _no_data_window = (
        # a windowspecdefinition whose FIRST argument is a sort spec
        # on a non-__slice column is a global ORDERED window over the
        # data — the single-task sort shape. Partitioned windows
        # (first arg = partition column, no direction) and orderless
        # full-frame windows (first arg = specifiedwindowframe, the
        # bounded slice-totals rollup) are fine.
        r"^(?![\s\S]*windowspecdefinition\((?!__slice)"
        r"[^(),]*? (?:ASC|DESC))")
    sections.append((
        "exact ROC-AUC (distributed prefix sum)", auc_df,
        {
            "AUC cumulative walk has no single-partition window "
            "(every windowspec carries __slice)": _no_data_window,
            "range exchange feeds the walk (no global sort)":
                r"rangepartitioning",
            "partial agg before the distinct-score exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "per-slice offsets joined by broadcast":
                r"BroadcastHashJoin",
        }))
    ap_df = model_perf_mod.pr_auc_exact(
        ords.select(((F.col("o_orderkey") % 100) / 100.0).alias("s"),
                    (F.col("o_totalprice") > 150000).cast("int")
                    .alias("y")), "s", "y")
    sections.append((
        "exact PR-AUC (distributed prefix sum)", ap_df,
        {
            "AP threshold walk has no single-partition window "
            "(every windowspec carries __slice)": _no_data_window,
            "range exchange feeds the walk (no global sort)":
                r"rangepartitioning",
            "partial agg before the distinct-score exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
        }))
    ks_df = drift_mod.ks_2samp_exact(
        li.filter(F.col("l_orderkey") % 2 == 0),
        li.filter(F.col("l_orderkey") % 2 == 1), "l_extendedprice")
    sections.append((
        "exact KS statistic (distributed prefix sum)", ks_df,
        {
            "KS CDF walk has no single-partition window":
                _no_data_window,
            "range exchange feeds the walk":
                r"rangepartitioning",
            "partial agg before the distinct-value exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
        }))
    w1_df = drift_mod.wasserstein_exact(
        li.filter(F.col("l_orderkey") % 2 == 0),
        li.filter(F.col("l_orderkey") % 2 == 1), "l_extendedprice")
    sections.append((
        "exact Wasserstein-1 (prefix sum + rank-join successor)",
        w1_df,
        {
            "W1 walk has no single-partition window":
                _no_data_window,
            "range exchange feeds the walk": r"rangepartitioning",
            "successor lead rides the slice-partitioned window pass "
            "(every windowspec carries __slice, incl. the lead's)":
                r"lead\(",
        }))
    from whylogs_spark.core.summaries import exact_quantiles

    eq_df = exact_quantiles(li, "l_extendedprice",
                            [0.25, 0.5, 0.99])
    sections.append((
        "exact quantiles (distributed rank walk)", eq_df,
        {
            "quantile rank walk has no single-partition window":
                _no_data_window,
            "range exchange feeds the walk": r"rangepartitioning",
            "partial agg before the distinct-value exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
        }))

    # 7i. interval containment join, auto bucket: the match must plan
    # as a hash equi-join on (by, bucket) — never a nested loop /
    # cartesian — with the 1-row bucket-width agg broadcast into both
    # sides and the residual containment filter inside the join stage
    from whylogs_spark.ops.intervals import interval_join as ij_op

    ev_ij = load_table(spark, SF_DIR, "events")
    win_ij = ev_ij.filter(F.col("event_id") % 20 == 0).select(
        F.col("event_id").alias("window_id"), "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"))
    ij_out = ij_op(ev_ij.select("event_id", "user_id", "ts"), win_ij,
                   on="ts", by=["user_id"])
    sections.append((
        "interval join (auto bucket)", ij_out,
        {
            "match is a HASH equi-join (the only nested-loop nodes "
            "are the 1-row bucket-width cross joins)":
                r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"
                r"[^\n]*Inner",
            "no cartesian product":
                r"^(?![\s\S]*CartesianProduct)",
            "bucket-width agg broadcast into both sides":
                r"BroadcastExchange[\s\S]*BroadcastExchange",
            "generator expansion of intervals (explode)":
                r"Generate[\s\S]{0,400}explode",
        }))

    # 8. counts summary: Expand-based multi-distinct in two agg stages
    ct = summaries.counts_table(li, ["l_orderkey", "l_returnflag"])
    sections.append((
        "exact multi-column countDistinct", ct,
        {
            "expand + two-phase distinct aggregation":
                r"Expand[\s\S]*HashAggregate",
        }))

    # 9. streaming profile: audit the RUNTIME microbatch plan —
    # StateStoreRestore/Save and EventTimeWatermark only exist in
    # IncrementalExecution, so run one availableNow batch through a
    # noop sink and read query.explain(). The contract: watermark
    # attached (bounded state), stateful agg present, partial agg
    # before the ONE state-keyed exchange (no extra shuffle).
    import os as _os
    import tempfile as _tempfile

    from whylogs_spark.streaming.rolling import streaming_profile

    # FileStreamSource wants a DIRECTORY; expose the events parquet
    # (a single file in the testdata layout) through a symlinked dir
    src_dir = _tempfile.mkdtemp(prefix="audit_stream_src_")
    _os.symlink(_os.path.join(SF_DIR, "events.parquet"),
                _os.path.join(src_dir, "events.parquet"))
    stream = spark.readStream.schema(ev.schema).parquet(src_dir)
    sp = streaming_profile(stream, ts_col="ts",
                           window_duration="1 hour",
                           watermark="10 minutes")
    ckpt = _tempfile.mkdtemp(prefix="audit_ckpt_")
    q = (sp.writeStream.outputMode("update").format("noop")
         .trigger(availableNow=True)
         .option("checkpointLocation", ckpt).start())
    q.awaitTermination(180)
    buf = io.StringIO()
    with redirect_stdout(buf):
        q.explain()
    q.stop()
    streaming_plan = buf.getvalue()

    # 9b. streaming model monitor: same runtime contract — watermark,
    # ONE state-keyed exchange, stateful agg, no Python
    from whylogs_spark.streaming.model_monitor import \
        streaming_model_bins

    stream2 = spark.readStream.schema(ev.schema).parquet(src_dir)
    mb = streaming_model_bins(
        stream2.select(
            "ts",
            (F.col("value") - F.floor(F.col("value"))).alias("score"),
            (F.col("value") > 0).cast("int").alias("label")),
        ts_col="ts", window_duration="1 hour",
        watermark="10 minutes")
    ckpt2 = _tempfile.mkdtemp(prefix="audit_ckpt2_")
    q2 = (mb.writeStream.outputMode("update").format("noop")
          .trigger(availableNow=True)
          .option("checkpointLocation", ckpt2).start())
    q2.awaitTermination(180)
    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        q2.explain()
    q2.stop()
    model_plan = buf2.getvalue()

    # 9c. streaming frequent items: same runtime contract
    from whylogs_spark.streaming.frequent import streaming_value_counts

    stream3 = spark.readStream.schema(ev.schema).parquet(src_dir)
    vc = streaming_value_counts(
        stream3, ts_col="ts", value_col="event_type",
        window_duration="1 hour", watermark="10 minutes")
    ckpt3 = _tempfile.mkdtemp(prefix="audit_ckpt3_")
    q3 = (vc.writeStream.outputMode("update").format("noop")
          .trigger(availableNow=True)
          .option("checkpointLocation", ckpt3).start())
    q3.awaitTermination(180)
    buf3 = io.StringIO()
    with redirect_stdout(buf3):
        q3.explain()
    q3.stop()
    frequent_plan = buf3.getvalue()

    # 9c1. streaming sketch windows: the same runtime contract over
    # the profile's DataSketches aggregates (KLL per window for
    # quantiles, frequent items per window for heavy hitters), append
    # mode, no Python state op
    from whylogs_spark.streaming.frequent import streaming_heavy_hitters
    from whylogs_spark.streaming.quantiles import streaming_quantiles

    sketch_plans = {}
    for name, out in (
            ("quantiles", streaming_quantiles(
                spark.readStream.schema(ev.schema).parquet(src_dir),
                "value", ts_col="ts", window_duration="1 hour",
                watermark="10 minutes")),
            ("heavy_hitters", streaming_heavy_hitters(
                spark.readStream.schema(ev.schema).parquet(src_dir),
                ts_col="ts", value_col="event_type",
                window_duration="1 hour", watermark="10 minutes"))):
        qs = (out.writeStream.outputMode("append").format("noop")
              .trigger(availableNow=True)
              .option("checkpointLocation",
                      _tempfile.mkdtemp(prefix=f"audit_ckpt_{name}_"))
              .start())
        qs.awaitTermination(180)
        bufs = io.StringIO()
        with redirect_stdout(bufs):
            qs.explain()
        qs.stop()
        sketch_plans[name] = bufs.getvalue()

    # 9c2. streaming experiment SRM counts: same runtime contract
    from whylogs_spark.streaming.experiment import streaming_arm_counts

    stream3b = spark.readStream.schema(ev.schema).parquet(src_dir)
    ac = streaming_arm_counts(
        stream3b, ts_col="ts", group_col="event_type",
        arms=["view", "click"], window_duration="10 minutes",
        watermark="10 minutes")
    ckpt3b = _tempfile.mkdtemp(prefix="audit_ckpt3b_")
    q3b = (ac.writeStream.outputMode("update").format("noop")
           .trigger(availableNow=True)
           .option("checkpointLocation", ckpt3b).start())
    q3b.awaitTermination(180)
    buf3b = io.StringIO()
    with redirect_stdout(buf3b):
        q3b.explain()
    q3b.stop()
    armcounts_plan = buf3b.getvalue()

    # 9c3. streaming fairness decision counts: same runtime contract
    from whylogs_spark.streaming.fairness import (
        streaming_decision_counts)

    stream3c = spark.readStream.schema(ev.schema).parquet(src_dir)
    dc = streaming_decision_counts(
        stream3c, ts_col="ts", group_col="event_type",
        pred_col="value", groups=["view", "click"],
        window_duration="10 minutes", watermark="10 minutes")
    ckpt3c = _tempfile.mkdtemp(prefix="audit_ckpt3c_")
    q3c = (dc.writeStream.outputMode("update").format("noop")
           .trigger(availableNow=True)
           .option("checkpointLocation", ckpt3c).start())
    q3c.awaitTermination(180)
    buf3c = io.StringIO()
    with redirect_stdout(buf3c):
        q3c.explain()
    q3c.stop()
    decision_plan = buf3c.getvalue()

    # 9d. native session-window sessionization: session-merging
    # stateful agg, still one data exchange, still no Python
    from whylogs_spark.streaming.sessions import streaming_session_stats

    stream4 = spark.readStream.schema(ev.schema).parquet(src_dir)
    ns = streaming_session_stats(
        stream4, user_col="user_id", ts_col="ts", gap="30 minutes",
        watermark="1 hour", value_col="value")
    ckpt4 = _tempfile.mkdtemp(prefix="audit_ckpt4_")
    q4 = (ns.writeStream.outputMode("append").format("noop")
          .trigger(availableNow=True)
          .option("checkpointLocation", ckpt4).start())
    q4.awaitTermination(180)
    buf4 = io.StringIO()
    with redirect_stdout(buf4):
        q4.explain()
    q4.stop()
    session_plan = buf4.getvalue()

    # 9e. streaming FK monitor: stream-static broadcast join + ONE
    # watermarked stateful agg (same runtime contract as the others,
    # plus the broadcast — asserted separately below)
    from whylogs_spark.streaming.integrity import streaming_fk_monitor

    stream5 = spark.readStream.schema(ev.schema).parquet(src_dir)
    fkm = streaming_fk_monitor(
        stream5, load_table(spark, SF_DIR, "customer"),
        ["user_id"], ["c_custkey"], ts_col="ts",
        window="1 hour", watermark="10 minutes")
    ckpt5 = _tempfile.mkdtemp(prefix="audit_ckpt5_")
    q5 = (fkm.writeStream.outputMode("append").format("noop")
          .trigger(availableNow=True)
          .option("checkpointLocation", ckpt5).start())
    q5.awaitTermination(180)
    buf5 = io.StringIO()
    with redirect_stdout(buf5):
        q5.explain()
    q5.stop()
    fk_plan = buf5.getvalue()

    # 9f. streaming transitions: stateful applyInPandasWithState —
    # per-user (ts, event) state, one state-keyed exchange
    from whylogs_spark.streaming.transitions import streaming_transitions

    stream6 = spark.readStream.schema(ev.schema).parquet(src_dir)
    tr = streaming_transitions(stream6, watermark="10 minutes",
                               idle_ttl="1 hour")
    ckpt6 = _tempfile.mkdtemp(prefix="audit_ckpt6_")
    q6 = (tr.writeStream.outputMode("append").format("noop")
          .trigger(availableNow=True)
          .option("checkpointLocation", ckpt6).start())
    q6.awaitTermination(180)
    buf6 = io.StringIO()
    with redirect_stdout(buf6):
        q6.explain()
    q6.stop()
    transitions_plan = buf6.getvalue()

    # 9g. streaming inter-arrival gaps (round 13): same stateful
    # contract — watermark, per-entity Arrow state op, one exchange
    from whylogs_spark.streaming.cadence import streaming_interarrival

    stream7 = spark.readStream.schema(ev.schema).parquet(src_dir)
    cad = streaming_interarrival(stream7, "user_id", "ts",
                                 watermark="10 minutes")
    ckpt7 = _tempfile.mkdtemp(prefix="audit_ckpt7_")
    q7 = (cad.writeStream.outputMode("append").format("noop")
          .trigger(availableNow=True)
          .option("checkpointLocation", ckpt7).start())
    q7.awaitTermination(180)
    buf7 = io.StringIO()
    with redirect_stdout(buf7):
        q7.explain()
    q7.stop()
    cadence_plan = buf7.getvalue()

    streaming_checks = {
        "watermark attached (state evictable)": r"EventTimeWatermark",
        "stateful aggregation (state store save/restore)":
            r"StateStoreSave[\s\S]*StateStoreRestore|"
            r"StateStoreRestore[\s\S]*StateStoreSave",
        "partial agg before the state-keyed exchange":
            r"HashAggregate[\s\S]*Exchange hashpartitioning",
        "exactly one data exchange (no shuffle besides the state key)":
            r"^(?![\s\S]*Exchange hashpartitioning[\s\S]*"
            r"Exchange hashpartitioning)",
        "no Python in the streaming hot path":
            r"^(?![\s\S]*(ArrowEvalPython|BatchEvalPython|"
            r"FlatMapGroupsInPandas))",
    }

    # 9z. metric-series anomaly monitoring (core/monitor.py): the
    # trailing baseline is a ROW-bounded frame partitioned by the
    # series key — O(window) state per row, hash exchanges only (the
    # daily rollup partial-aggregates before its exchange; the window
    # reshuffles only the tiny rolled-up series), never a range sort
    from whylogs_spark.core import monitor as monitor_mod

    evt = load_table(spark, SF_DIR, "events")
    daily = evt.groupBy(
        "event_type", F.to_date("ts").alias("day")).agg(
        F.sum("value").alias("v"))
    an = monitor_mod.anomaly_scan(
        daily, "day", "v", key_cols=["event_type"], window=7)
    sections.append((
        "anomaly scan (trailing-baseline monitor)", an,
        {
            "baseline window partitioned by the series key":
                r"windowspecdefinition\(event_type",
            "row-bounded baseline frame (no unbounded preceding)":
                r"specifiedwindowframe\(RowFrame, -7, -1\)",
            "no range sort of the data":
                r"^(?![\s\S]*rangepartitioning)",
            "rollup partial-aggregates before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
        }))

    ew = monitor_mod.ewma_chart(
        daily, "day", "v", key_cols=["event_type"], baseline_n=10)
    sections.append((
        "EWMA control chart (bounded fold over trailing horizon)", ew,
        {
            "every window partitioned by the series key":
                r"^(?![\s\S]*windowspecdefinition\((?!event_type))",
            "trailing collect_list frame is ROW-bounded (the "
            "precision horizon), not unbounded":
                r"specifiedwindowframe\(RowFrame, -164, currentrow",
            "no range sort of the data":
                r"^(?![\s\S]*rangepartitioning)",
            "fold stays codegen (no Python)":
                r"^(?![\s\S]*(ArrowEvalPython|BatchEvalPython))",
        }))

    cu = monitor_mod.cusum_changepoints(
        daily, "day", "v", key_cols=["event_type"], baseline_n=10)
    sections.append((
        "CUSUM change-point scan (cumsum + running min)", cu,
        {
            "every window partitioned by the series key":
                r"^(?![\s\S]*windowspecdefinition\((?!event_type))",
            "no range sort of the data":
                r"^(?![\s\S]*rangepartitioning)",
            "no Python in the plan":
                r"^(?![\s\S]*(ArrowEvalPython|BatchEvalPython))",
        }))

    # 9m. multi-grain rollup (ops/events.py rollup_timeseries): ONE
    # scan + one Expand + partial agg before the single exchange —
    # the continuous-aggregate shape, not one scan per grain
    from whylogs_spark.ops.events import rollup_timeseries

    ru = rollup_timeseries(
        evt, "ts", value_cols=["value"], key_cols=["event_type"],
        grains=("hour", "day", "week"))
    sections.append((
        "multi-grain timeseries rollup (GROUPING SETS)", ru,
        {
            "single Expand (one scan serves every grain)":
                r"Expand[\s\S]*HashAggregate",
            "partial agg before the one exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            # count DETAIL nodes "(n) Exchange" — the tree header
            # prints the same node a second time
            "exactly one exchange":
                r"^(?![\s\S]*\(\d+\) Exchange[\s\S]*\(\d+\) Exchange)",
            "null-ts filter pushed to the scan":
                r"PushedFilters: \[[^\]]*IsNotNull\(ts\)",
        }))

    # 9n. fuzzy decontamination: benchmark gram explode is BROADCAST
    # into the corpus probe — no corpus-wide shuffle to find matches
    from whylogs_spark.ops.decontam import fuzzy_decontaminate

    fz = fuzzy_decontaminate(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0), n=3, threshold=0.2)
    sections.append((
        "fuzzy decontamination (broadcast benchmark grams)", fz,
        {
            "gram probe is a broadcast hash join":
                r"BroadcastHashJoin",
            "no cartesian product":
                r"^(?![\s\S]*CartesianProduct)",
            "pair rollup partial-aggregates before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no Python in the plan":
                r"^(?![\s\S]*(ArrowEvalPython|BatchEvalPython))",
        }))

    # 9o. quality signals: blocklist matching is a pure codegen
    # projection (zero exchange); compression ratio is Arrow-batched
    # (never row-at-a-time Python)
    from whylogs_spark.ops import quality as quality_mod

    bl = quality_mod.with_blocklist_stats(
        docs, words=["slow", "hash"], phrases=["table table"])
    sections.append((
        "blocklist stats (zero-shuffle projection)", bl,
        {
            "no exchange anywhere": r"^(?![\s\S]*Exchange)",
            "no Python in the plan":
                r"^(?![\s\S]*(ArrowEvalPython|BatchEvalPython))",
            "scan prunes to the used columns":
                r"ReadSchema:[^\n]*text",
        }))
    cz = quality_mod.with_compression_stats(docs)
    sections.append((
        "compression stats (Arrow kernel, zero shuffle)", cz,
        {
            "no exchange anywhere": r"^(?![\s\S]*Exchange)",
            "zlib kernel is Arrow-batched (ArrowEvalPython), not "
            "row-at-a-time (BatchEvalPython)":
                r"ArrowEvalPython",
            "no row-at-a-time Python":
                r"^(?![\s\S]*BatchEvalPython)",
        }))

    # 9p. LSH recall estimator: corpus scanned once, sample capped by
    # TakeOrderedAndProject (no global sort), no cartesian anywhere
    from whylogs_spark.ops.dedup import minhash_recall_estimate

    mre = minhash_recall_estimate(docs, sample_per_mille=1000,
                                  max_sample=5000)
    sections.append((
        "minhash recall estimator (deterministic sample)", mre,
        {
            # the sample is localCheckpointed (it feeds two branches),
            # so the audited plan reads the materialized sample — the
            # corpus scan + TakeOrdered cap ran exactly once upstream
            "both branches read the checkpointed sample (no corpus "
            "rescan)": r"Scan ExistingRDD",
            "no cartesian product":
                r"^(?![\s\S]*CartesianProduct)",
            "pair rollup partial-aggregates before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
        }))

    # 9q. ANN recall estimator ground-truth side: one Arrow pass over
    # the corpus (all query dots per batch), rank window keyed by the
    # query index only (candidates bounded: partitions x queries x k)
    from whylogs_spark.ops.similarity import ann_recall_estimate

    ar = ann_recall_estimate(emb, k=5, planes=2, tables=2,
                             n_queries=5)
    sections.append((
        "ANN recall estimator (exact side + LSH side)", ar,
        {
            "ground truth is one Arrow pass (MapInArrow)":
                r"MapInArrow",
            "no cartesian product":
                r"^(?![\s\S]*CartesianProduct)",
            "query map joined by broadcast":
                r"BroadcastHashJoin",
            "rank windows keyed (never partition-less: qidx/query_id "
            "for the exact side, __lid inside knn_join)":
                r"^(?![\s\S]*windowspecdefinition\("
                r"(?!(__qidx|query_id|__lid)))",
        }))

    # 9z. BM25 retrieval: pruned scan, query-term filter under the
    # aggregation, bounded broadcast sides, TakeOrderedAndProject
    from whylogs_spark.ops.search import bm25_search

    bm = bm25_search(docs, "spark query window", k=10)
    sections.append((
        "BM25 top-k retrieval", bm,
        {
            "2-column pruned scan":
                r"ReadSchema: struct<doc_id[^\n]*text",
            "query-term isin filter below the tf aggregation "
            "(shuffle carries only matching terms)":
                r"Filter[\s\S]*term#\d+ IN \(query,spark,window\)",
            "partial agg before exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "bounded df/constants sides broadcast":
                r"BroadcastHashJoin[\s\S]*BroadcastNestedLoopJoin|"
                r"BroadcastNestedLoopJoin[\s\S]*BroadcastHashJoin",
            "top-k via TakeOrderedAndProject (no global sort)":
                r"TakeOrderedAndProject",
        }))

    # 9z2. PMI collocations: in-plan pair zip (no positional
    # self-join), min-count filter before the joins, top-k
    from whylogs_spark.ops.text import pmi_collocations, with_readability

    pm = pmi_collocations(docs, k=25, min_count=5)
    sections.append((
        "PMI collocations", pm,
        {
            "pair construction in-plan (zip_with, no self-join "
            "on position)": r"zip_with",
            "min-count filter before the unigram joins":
                r"\(c12#\d+L >= 5\)",
            "1-row totals broadcast (nested-loop of one row)":
                r"BroadcastNestedLoopJoin",
            "top-k via TakeOrderedAndProject": r"TakeOrderedAndProject",
        }))

    # 9z1b. incremental MinHash dedup (broadcast strategy): the
    # history index is probed, not shuffled — every batch-derived
    # frame broadcasts; the only history aggregation sizes the probed
    # buckets (after the semi-join prune)
    from whylogs_spark.ops.dedup import incremental_minhash_dedup

    imh = incremental_minhash_dedup(
        docs.filter(F.col("doc_id") >= 250),
        docs.filter(F.col("doc_id") < 250),
        jaccard_threshold=0.8)
    sections.append((
        "incremental MinHash dedup (broadcast)", imh,
        {
            "batch band keys broadcast into the history probe":
                r"BroadcastHashJoin[^\n]*LeftSemi|"
                r"BroadcastHashJoin[\s\S]*LeftSemi",
            "no raw text in any exchange":
                r"^(?![\s\S]*Exchange[^\n]*\btext#)",
            "bucket sizing is a partial agg before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no cartesian product": r"^(?![\s\S]*CartesianProduct)",
            "survivor filter is a broadcast anti join "
            "(batch never hash-exchanges for it)":
                r"BroadcastHashJoin[^\n]*LeftAnti|"
                r"BroadcastHashJoin[\s\S]*LeftAnti",
        }))

    # 9z2b. perceptual-hash image near-dup: one Python (Arrow-batched)
    # decode+hash pass, then the same banding shape as SimHash —
    # signatures (8 bytes) shuffle, never pixel payloads
    from whylogs_spark.ops.dedup import hamming_neardup_pairs
    from whylogs_spark.ops.multimodal import with_image_hashes

    fake_imgs = spark.createDataFrame(
        [(i, b"BM") for i in range(4)], "img_id long, content binary")
    ih = hamming_neardup_pairs(
        with_image_hashes(fake_imgs, id_col="img_id"), "dhash",
        id_col="img_id", max_hamming=3)
    sections.append((
        "image perceptual-hash near-dup", ih,
        {
            "decode+hash is one Arrow-batched pass":
                r"FlatMapsInPandas|MapInPandas|ArrowEvalPython",
            "banding shuffles 8-byte signatures, not image bytes "
            "(no binary column past the kernel)":
                r"^(?![\s\S]*Exchange[^\n]*content)",
            "bucket aggregation is partial before the exchange":
                r"ObjectHashAggregate[\s\S]*Exchange[\s\S]*"
                r"ObjectHashAggregate|"
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no cartesian product": r"^(?![\s\S]*CartesianProduct)",
        }))

    # 9z2c. corpus dataset card: one grouped agg, digests (not raw
    # text) in the exchange
    from whylogs_spark.ops.text import corpus_stats

    cs = corpus_stats(docs, group_cols=["source", "lang"])
    sections.append((
        "corpus stats dataset card", cs,
        {
            "partial agg before exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no raw text in any exchange":
                r"^(?![\s\S]*Exchange[^\n]*\btext#)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInArrow|FlatMapsInPandas))",
        }))

    # 9z2d. embedding dim stats: posexplode in-scan, partial agg on dim
    from whylogs_spark.core.embeddings import embedding_dim_stats

    eds = embedding_dim_stats(emb)
    sections.append((
        "embedding dimension stats", eds,
        {
            "partial agg before the dim exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no vector column in the exchange":
                r"^(?![\s\S]*Exchange[^\n]*embedding#)",
            "2-column-or-fewer pruned scan":
                r"ReadSchema: struct<embedding",
        }))

    # 9z2e. exact histogram: bounded groupBy, broadcast spine, no sort
    from whylogs_spark.core.summaries import histogram_exact

    hx = histogram_exact(li, "l_extendedprice", n_bins=20)
    sections.append((
        "exact histogram", hx,
        {
            "partial agg before exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "bin spine joined by broadcast":
                r"BroadcastHashJoin",
            "single-column pruned scan":
                r"ReadSchema: struct<l_extendedprice",
            "no window anywhere": r"^(?![\s\S]*Window)",
        }))

    # 9z3. readability: a single in-scan projection, zero shuffle
    rd = with_readability(docs).select(
        "doc_id", "flesch_reading_ease", "fk_grade")
    sections.append((
        "readability scores", rd,
        {
            "zero shuffle (pure projection)": r"^(?![\s\S]*Exchange)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInArrow|FlatMapsInPandas))",
            "2-column pruned scan":
                r"ReadSchema: struct<doc_id[^\n]*text",
        }))

    # 9z4. referential integrity: child collapses to distinct keys
    # BEFORE the join; the parent key set broadcasts; one 1-row rollup
    from whylogs_spark.ops.integrity import (benford_test,
                                             referential_integrity,
                                             snapshot_diff)

    ords = load_table(spark, SF_DIR, "orders")
    cust = load_table(spark, SF_DIR, "customer")
    ri = referential_integrity(ords, cust, ["o_custkey"],
                               ["c_custkey"], broadcast_parent=True)
    sections.append((
        "referential integrity", ri,
        {
            "child partial-aggregates to keys before the join":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate"
                r"[\s\S]*BroadcastHashJoin",
            "parent joined by broadcast": r"BroadcastHashJoin",
            "key-pruned scans (no fact payload columns)":
                r"ReadSchema: struct<o_custkey:",
            "no window anywhere": r"^(?![\s\S]*Window)",
        }))

    # 9z4b. benford: arithmetic digit extraction, 9-row spine joined
    # broadcast, totals via broadcast cross join, no sort of data
    bf = benford_test(li, "l_extendedprice")
    sections.append((
        "benford first-digit test", bf,
        {
            "partial agg before digit exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "spine + totals by broadcast":
                r"BroadcastHashJoin|BroadcastNestedLoopJoin",
            "single-column pruned scan":
                r"ReadSchema: struct<l_extendedprice",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInArrow|FlatMapsInPandas))",
        }))

    # 9z4c. snapshot diff: the full-outer join exchanges (id, 8-byte
    # fingerprint) only — document bodies never shuffle
    sd_new = docs.filter(F.col("doc_id") % 2 == 0)
    sd = snapshot_diff(docs, sd_new, "doc_id", ["text", "source"])
    sections.append((
        "snapshot diff", sd,
        {
            "no raw text in any exchange":
                r"^(?![\s\S]*Exchange[^\n]*\btext#)",
            "full-outer merge join on the id":
                r"SortMergeJoin[\s\S]*FullOuter|FullOuter",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInArrow|FlatMapsInPandas))",
        }))

    # 9z4d. per-group quota: ONE grouped window (partitionBy carries
    # the group key), pruned scan, no global sort
    from whylogs_spark.ops.sampling import cap_per_group

    cpg = cap_per_group(docs.select("doc_id", "source", "text"),
                        ["source"], budget=800)
    sections.append((
        "cap per group (token quota)", cpg,
        {
            "window is partitioned by the group key":
                r"windowspecdefinition\(source#",
            "single exchange on the group key":
                r"hashpartitioning\(source#",
            "no global sort of the data":
                r"^(?![\s\S]*Sort \[[^\]]*\], true)",
        }))

    # 9z4e. k-means assignment: centroids are plan literals — pure
    # projection, zero exchange, no Python, no MLlib vector conversion
    from whylogs_spark.ops.cluster import kmeans_assign, kmeans_init

    cents = kmeans_init(emb, k=4)
    km = kmeans_assign(emb, cents, check_dims=False) \
        .select("vec_id", "cluster")
    sections.append((
        "k-means assignment", km,
        {
            "zero shuffle (pure projection)": r"^(?![\s\S]*Exchange)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInArrow|FlatMapsInPandas))",
            # higher-order folds are interpreted JVM expressions
            # (Spark never codegens lambda HOFs) — assert the
            # centroids are inlined literals and nothing joins
            "centroids inlined as plan literals (no centroid join)":
                r"zip_with\(cast\(embedding[\s\S]*?\[-?0\.",
            "no join anywhere": r"^(?![\s\S]*Join)",
        }))

    # 9z5. vocab growth: token groupBy partial-aggregates map-side
    # (hot tokens collapse per task); the cumulative walk is the
    # two-phase prefix sum — no partition-less window over data
    from whylogs_spark.ops.text import vocab_growth

    vg = vocab_growth(docs, checkpoint_every=100)
    sections.append((
        "vocab growth (Heaps curve)", vg,
        {
            "token counts partial-agg before the token exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "range exchange for the cumulative walk":
                r"rangepartitioning\(doc_id",
            "no raw text in any exchange":
                r"^(?![\s\S]*Exchange[^\n]*\btext#)",
        }))

    # 9z5b. quantile bins: boundaries ride a broadcast 1-row branch;
    # bin assignment adds no exchange of the data
    from whylogs_spark.core.summaries import (robust_outlier_summary,
                                              with_quantile_bins)

    qb = with_quantile_bins(li, "l_extendedprice", n_bins=4)
    sections.append((
        "quantile bins", qb,
        {
            "boundary row joined by broadcast":
                r"BroadcastNestedLoopJoin|BroadcastHashJoin",
            "no hash exchange of the data rows":
                r"^(?![\s\S]*Exchange hashpartitioning\(l_orderkey)",
            "grouped distinct-value walk before the boundaries":
                r"rangepartitioning\(v#",
        }))

    # 9z5c. robust outliers: median + MAD both via the distributed
    # quantile walk — no single-task sort anywhere
    ro = robust_outlier_summary(li, "l_extendedprice",
                                ["l_returnflag"])
    sections.append((
        "robust outlier summary", ro,
        {
            "quantile walks are range-partitioned":
                r"rangepartitioning\(l_returnflag",
            "no partition-less data sort":
                r"^(?![\s\S]*Sort \[l_extendedprice[^\n]*\], true)",
            "final rollup partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
        }))

    # 9z5d. class rebalance: min class size is a broadcast 1-row
    # branch; selection is one class-keyed rank window
    from whylogs_spark.ops.sampling import balance_classes

    bc = balance_classes(docs.select("doc_id", "lang"), ["lang"])
    sections.append((
        "balance classes", bc,
        {
            "target size joined by broadcast":
                r"BroadcastNestedLoopJoin|BroadcastHashJoin",
            "rank window partitioned by the class":
                r"windowspecdefinition\(lang#",
            "single data exchange on the class key":
                r"hashpartitioning\(lang#",
        }))

    # 9z5e. correlation matrix: ONE single-agg pass for all pairs —
    # partial agg, one exchange of one combined row, pruned scan
    from whylogs_spark.ops.stats import (association_report,
                                         correlation_matrix)

    cm = correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])
    sections.append((
        "correlation matrix (one-pass all pairs)", cm,
        {
            "column-pruned scan (only the 4 audited columns)":
                r"ReadSchema: [^\n]*l_quantity[^\n]*l_extendedprice"
                r"[^\n]*l_discount[^\n]*l_tax",
            "partial aggregation before the exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "single-row final agg (SinglePartition exchange)":
                r"Arguments: SinglePartition",
            "exactly one exchange (no per-pair jobs)":
                r"^(?!(?:[\s\S]*\(\d+\) Exchange){2})"
                r"[\s\S]*\(\d+\) Exchange",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5f. association report: every pair's contingency cells in ONE
    # explode->hash-agg shuffle; windows only over the bounded cells
    ar = association_report(
        load_table(spark, SF_DIR, "orders"),
        ["o_orderstatus", "o_orderpriority"])
    sections.append((
        "association report (Cramér's V)", ar,
        {
            "partial cell aggregation before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "explode feeds the aggregate (one pass for all pairs)":
                r"\(\d+\) Generate[\s\S]*?Arguments: explode"
                r"[\s\S]*\(\d+\) HashAggregate",
            "windows run AFTER the cell aggregation (bounded input)":
                r"HashAggregate[\s\S]*Window",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5g. segment distinct overlap: threshold filter at the scan,
    # distinct partial-aggs, pair matrix broadcast both ways
    from whylogs_spark.ops.overlap import segment_distinct_overlap

    so = segment_distinct_overlap(
        ev.withColumn("day", F.to_date("ts").cast("string")),
        "day", "user_id", p=0.5)
    sections.append((
        "segment distinct overlap (md5-threshold sketch)", so,
        {
            "md5 threshold filter BEFORE any aggregation":
                r"\(\d+\) Filter[\s\S]{0,600}md5",
            "distinct partial-aggregates before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "pair matrix joined by broadcast":
                r"BroadcastNestedLoopJoin|BroadcastHashJoin",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5h. boilerplate removal: DF distinct partial-aggs map-side,
    # flagged lines join back on the 8-byte xxhash64 key, no window
    from whylogs_spark.ops.dedup import remove_boilerplate

    rb = remove_boilerplate(docs, min_docs=2, min_df_ratio=0.3,
                            delim=" ")
    sections.append((
        "boilerplate removal (line document frequency)", rb,
        {
            "DF distinct partial-aggregates before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "survivor join keyed on xxhash64, not the line text":
                r"xxhash64",
            "corpus doc count rides a broadcast, not a driver action":
                r"BroadcastNestedLoopJoin|BroadcastExchange",
            "no window operator anywhere (winner logic is agg+join)":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5i. seasonal decomposition: the ONLY raw-data pass is the
    # bucket aggregation (partial -> exchange -> final); the ordered
    # window and seasonal joins run on the bounded bucketed series
    from whylogs_spark.ops.events import seasonal_decompose

    sd = seasonal_decompose(ev, "ts", "value", grain="hour", period=24)
    sections.append((
        "seasonal decomposition (bucket series)", sd,
        {
            "bucket aggregation partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "ordered window runs AFTER the bucket aggregation "
            "(bounded series, declared-bounded)":
                r"HashAggregate[\s\S]*Window",
            "seasonal index joined back by broadcast":
                r"BroadcastHashJoin|BroadcastNestedLoopJoin",
            "column-pruned scan (ts + value only)":
                r"ReadSchema: [^\n]*ts[^\n]*value|ReadSchema: "
                r"[^\n]*value[^\n]*ts",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5j. winsorize: exact-quantile boundaries broadcast back, clip
    # is a comparison projection; no partition-less sort of the data
    from whylogs_spark.core.summaries import histogram2d, winsorize

    wz = winsorize(li, "l_extendedprice", lower=0.05, upper=0.95)
    sections.append((
        "winsorize (exact-quantile clip)", wz,
        {
            "boundary row joined by broadcast":
                r"BroadcastNestedLoopJoin",
            "no partition-less data sort":
                r"^(?![\s\S]*Sort \[l_extendedprice[^\n]*\], true)",
            "quantile walk partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5k. histogram2d: 1-row bounds agg broadcast, bounded cell
    # aggregation, spine joined by broadcast
    h2 = histogram2d(li, "l_quantity", "l_discount",
                     n_bins_x=8, n_bins_y=5)
    sections.append((
        "histogram2d (exact equi-width cells)", h2,
        {
            "column-pruned scan (both axes only)":
                r"ReadSchema: [^\n]*l_quantity[^\n]*l_discount|"
                r"ReadSchema: [^\n]*l_discount[^\n]*l_quantity",
            "cell aggregation partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "bounds and counts joined by broadcast":
                r"BroadcastNestedLoopJoin[\s\S]*BroadcastHashJoin|"
                r"BroadcastHashJoin[\s\S]*BroadcastNestedLoopJoin",
            "no sort of the raw data":
                r"^(?![\s\S]*Sort \[l_quantity)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5l. functional dependency: two stacked aggregations, both
    # partial-agged; violations drill-down is a top-k
    from whylogs_spark.ops.integrity import (fd_violation_examples,
                                             functional_dependency_report)

    fd = functional_dependency_report(li, ["l_partkey"], ["l_suppkey"])
    sections.append((
        "functional dependency report", fd,
        {
            "determinant aggregation partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "final rollup is a SinglePartition agg":
                r"Arguments: SinglePartition",
            "no window operator":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))
    fdx = fd_violation_examples(li, ["l_partkey"], ["l_suppkey"], k=10)
    sections.append((
        "fd violation examples (top-k)", fdx,
        {
            "top-k via TakeOrderedAndProject (never a global sort)":
                r"TakeOrderedAndProject",
        }))

    # 9z5m. behavioral analytics: funnel / retention / transitions
    from whylogs_spark.ops.events import (funnel, retention_cohorts,
                                          transition_matrix)

    fu = funnel(ev, ["view", "click", "purchase"])
    sections.append((
        "funnel (greedy in-order matcher)", fu,
        {
            "step filter pushed to the scan":
                r"PushedFilters: [^\n]*In\(event_type|"
                r"Filter[\s\S]{0,400}event_type",
            "per-user fold partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "final rollup is a SinglePartition agg":
                r"Arguments: SinglePartition",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    rc = retention_cohorts(ev, grain="day")
    sections.append((
        "retention cohorts", rc,
        {
            "distinct (user, period) partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "cohort sizes joined by broadcast":
                r"BroadcastHashJoin",
            "no window operator (pure joins + aggs)":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    tm = transition_matrix(ev)
    sections.append((
        "transition matrix", tm,
        {
            "single user-partitioned window (keyed, never global)":
                r"windowspecdefinition\(user_id#",
            "matrix aggregation partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "normalization window runs on the aggregated matrix":
                r"HashAggregate[\s\S]*\(\d+\) Window",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5n. weighted sample: codegen key, top-k heap, no global sort
    from whylogs_spark.ops.sampling import weighted_sample

    ws = weighted_sample(docs, 50, "n_chars", ["doc_id"])
    sections.append((
        "weighted sample (Efraimidis-Spirakis)", ws,
        {
            "top-k via TakeOrderedAndProject (never a global sort)":
                r"TakeOrderedAndProject",
            "no exchange at all (per-partition heap + driver merge)":
                r"^(?![\s\S]*\(\d+\) Exchange)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5o. QQ drift: two quantile walks -> broadcast cross join;
    # no partition-less sort of the raw data.  The production walks
    # cut lineage at their entry (core/util.py materialize), which
    # hides the parquet scan behind `Scan ExistingRDD` in explain() —
    # the scan-level assertions are therefore captured with the
    # kill-switch off (same logical plan, compiled into the
    # checkpoint-materializing job in production), and a companion
    # section asserts the production plan's cut/linear shape.
    from whylogs_spark.core.drift import qq_table

    spark.conf.set("spark.whylogs.cutLineage", "false")
    try:
        qq = qq_table(li.filter(F.col("l_returnflag") == "A"),
                      li.filter(F.col("l_returnflag") == "R"),
                      "l_extendedprice", qs=[0.25, 0.5, 0.75])
    finally:
        spark.conf.unset("spark.whylogs.cutLineage")
    sections.append((
        "qq drift table (two exact quantile walks; lineage cut "
        "disabled to expose the scans)", qq,
        {
            "returnflag filter pushed to the scans":
                r"PushedFilters: [^\n]*EqualTo\(l_returnflag",
            "1-row sides joined by broadcast":
                r"BroadcastNestedLoopJoin",
            "no partition-less data sort":
                r"^(?![\s\S]*Sort \[l_extendedprice[^\n]*\], true)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    qq_cut = qq_table(li.filter(F.col("l_returnflag") == "A"),
                      li.filter(F.col("l_returnflag") == "R"),
                      "l_extendedprice", qs=[0.25, 0.5, 0.75])
    sections.append((
        "qq drift table (production lineage cut)", qq_cut,
        {
            "walk inputs arrive checkpointed (collapsed value tables, "
            "not re-derived subtrees)":
                r"Scan ExistingRDD[\s\S]*localCheckpoint",
            "plan stays linear: at most 12 static exchange nodes for "
            "two walks (AQE stage-reuse dedups the per-walk range "
            "exchange's two consumers at runtime)":
                r"^(?!([\s\S]*\(\d+\) Exchange){13})",
            "1-row sides joined by broadcast":
                r"BroadcastNestedLoopJoin",
            "no partition-less data sort":
                r"^(?![\s\S]*Sort \[l_extendedprice[^\n]*\], true)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5p. categorical encoders: bounded code table broadcast back
    from whylogs_spark.ops.encode import target_encode

    te = target_encode(load_table(spark, SF_DIR, "orders"),
                       "o_orderstatus", "o_totalprice")
    sections.append((
        "target encoding (m-estimate)", te,
        {
            "code table partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "code table joined back by broadcast":
                r"BroadcastHashJoin|BroadcastNestedLoopJoin",
            "no window operator":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5q. standardize: one stats agg broadcast, shuffle-free scaling
    from whylogs_spark.core.summaries import standardize

    st = standardize(li, ["l_quantity", "l_discount"])
    sections.append((
        "standardize (z-score, all columns one agg)", st,
        {
            "stats partial-agg before the exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "stats row joined by broadcast":
                r"BroadcastNestedLoopJoin",
            "no data sort":
                r"^(?![\s\S]*Sort \[l_quantity)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5r. join skew report: counts collapse map-side BEFORE the
    # key join; never joins the raw frames
    from whylogs_spark.ops.layout import join_skew_report

    js = join_skew_report(li, load_table(spark, SF_DIR, "orders"),
                          ["l_orderkey"], ["o_orderkey"])
    sections.append((
        "join skew report (pre-flight fanout)", js,
        {
            "both sides partial-agg to key counts before any join":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "top-k via TakeOrderedAndProject":
                r"TakeOrderedAndProject",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5s. Kaplan-Meier: both ordered walks ride the range-
    # partitioned prefix machinery — no single-partition data window
    from whylogs_spark.ops.survival import km_survival

    per_u = (ev.groupBy("user_id")
             .agg((F.unix_timestamp(F.max("ts"))
                   - F.unix_timestamp(F.min("ts"))).cast("double")
                  .alias("dur"),
                  F.max((F.col("event_type") == "purchase")
                        .cast("int")).alias("evf")))
    km = km_survival(per_u, "dur", "evf")
    sections.append((
        "kaplan-meier survival (two prefix passes)", km,
        {
            "distinct-duration collapse partial-aggs first":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "range partitioning drives the ordered walks":
                r"rangepartitioning\(",
            "slice offsets joined by broadcast":
                r"BroadcastHashJoin",
            "windows are slice-local (partitioned by __slice)":
                r"windowspecdefinition\(__slice#",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5t. Gini: tie-folded rank identity over the same prefix plan
    from whylogs_spark.core.summaries import gini_coefficient

    gi = gini_coefficient(li, "l_extendedprice")
    sections.append((
        "gini coefficient (distributed rank identity)", gi,
        {
            "value collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "range partitioning drives the ordered walk":
                r"rangepartitioning\(",
            "no partition-less data sort":
                r"^(?![\s\S]*Sort \[l_extendedprice[^\n]*\], true)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5u. anonymize: pure zero-shuffle projection
    from whylogs_spark.ops.integrity import anonymize

    an = anonymize(load_table(spark, SF_DIR, "customer"),
                   {"c_name": "hash", "c_acctbal": ("bucket", 1000)})
    sections.append((
        "anonymize (de-identification projection)", an,
        {
            "zero shuffle (projection over the scan)":
                r"^(?![\s\S]*\(\d+\) Exchange)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5v. OHLC: ONE partial-aggregated pass, struct-min open/close
    from whylogs_spark.ops.events import ohlc_resample

    oh = ohlc_resample(ev, tiebreak_cols=["event_id"], grain="hour")
    sections.append((
        "ohlc resample (single agg, struct extremes)", oh,
        {
            # struct min/max fall back to sort-based aggregation —
            # still partial -> exchange -> final, and the sorts are
            # PARTITION-LOCAL (by group key), never a global sort
            "partial aggregation before the exchange "
            "(sort-based, struct extremes)":
                r"(Hash|Sort)Aggregate[\s\S]*Exchange"
                r"[\s\S]*(Hash|Sort)Aggregate",
            "no window, no GLOBAL sort":
                r"^(?![\s\S]*(\(\d+\) Window|Arguments: \[[^\n]*\], "
                r"true, 0))",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5w. blocked fuzzy join: equi-join on the block key with the
    # Levenshtein verify inside the condition — NEVER a cross join
    from whylogs_spark.ops.linkage import blocked_fuzzy_join

    cu_l = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("lid"), F.col("c_name").alias("name"))
    cu_r = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("rid"),
        F.expr("substring(c_name, 1, length(c_name) - 1)")
        .alias("name"))
    fj = blocked_fuzzy_join(cu_l, cu_r, "name", block="prefix",
                            block_len=17, max_distance=1)
    sections.append((
        "blocked fuzzy join (entity linkage)", fj,
        {
            "hash equi-join on the block key (never nested loop)":
                r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
            "no cartesian / nested-loop join":
                r"^(?![\s\S]*(CartesianProduct|"
                r"BroadcastNestedLoopJoin))",
            "levenshtein verify inside the join (no materialize-"
            "then-filter of the cross space)":
                r"levenshtein",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5x. percentile rollup: grouped quantile walk keyed by bucket
    from whylogs_spark.ops.events import percentile_rollup

    pr = percentile_rollup(ev, qs=[0.5, 0.95], grain="hour")
    sections.append((
        "percentile rollup (grouped exact quantiles)", pr,
        {
            "value collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "every window carries a partition key":
                r"windowspecdefinition\(__idx#|"
                r"windowspecdefinition\([^\)]*__idx",
            "range partitioning drives the grouped walk":
                r"rangepartitioning\(",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5y. data contract: N single-pass checks share ONE aggregation
    from whylogs_spark.ops.expect import check_dataframe

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
    sections.append((
        "data contract (one shared agg pass)", dc,
        {
            # countDistinct forces Spark's two-stage distinct
            # rewrite: expand -> partial -> exchange -> final adds
            # exchanges of 1-row partials — bounded, never data-sized
            "all checks partial-agg before their exchanges":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "at most three exchanges (the distinct rewrite's "
            "1-row partials, never a per-check job)":
                r"^(?!(?:[\s\S]*\(\d+\) Exchange){4})",
            "single scan for the whole suite":
                r"^(?!(?:[\s\S]*\(\d+\) Scan parquet){2})"
                r"[\s\S]*\(\d+\) Scan parquet",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z5z. frequent sequences: one Window operator despite n-1 leads
    from whylogs_spark.ops.events import frequent_sequences

    fs = frequent_sequences(ev, n=3, k=20)
    sections.append((
        "frequent sequences (event path mining)", fs,
        {
            "ONE Window operator for all the leads":
                r"^(?!(?:[\s\S]*\(\d+\) Window){2})"
                r"[\s\S]*\(\d+\) Window",
            "sequence rollup partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "top-k via TakeOrderedAndProject":
                r"TakeOrderedAndProject",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z6a. A/B test report: one data shuffle (the distinct-value
    # groupBy), grouped two-phase rank walk, broadcast slice rollup
    from whylogs_spark.ops.abtest import ab_test_report

    ab = ab_test_report(
        load_table(spark, SF_DIR, "orders").withColumn(
            "__grp", (F.col("o_custkey") % 2 == 1).cast("int")),
        "__grp", "o_totalprice", 0, 1, ["o_orderstatus"])
    sections.append((
        "A/B test report (Welch + Mann-Whitney)", ab,
        {
            "distinct-value collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "range partitioning drives the grouped rank walk":
                r"rangepartitioning\(",
            "slice rollup joined back by broadcast":
                r"BroadcastHashJoin",
            "every window carries a partition key":
                r"^(?![\s\S]*windowspecdefinition\((__v|__slice)#"
                r"[^,]*, __v)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z6b. autocorrelation: lag spine explode + ONE equi-join (no
    # per-key full-series window), broadcast per-key stats
    from whylogs_spark.ops.events import autocorrelation

    acf = autocorrelation(ev, "ts", "value",
                          key_cols=["event_type"], max_lag=6)
    sections.append((
        "autocorrelation (lag-join ACF + Ljung-Box)", acf,
        {
            "bucket collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "per-key stats joined back by broadcast":
                r"BroadcastHashJoin",
            "lagged pairs via hash equi-join":
                r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
            "no cartesian / nested-loop join":
                r"^(?![\s\S]*(CartesianProduct|"
                r"BroadcastNestedLoopJoin))",
            "the only window runs over the bounded key x lag frame":
                r"^(?!(?:[\s\S]*\(\d+\) Window){2})"
                r"[\s\S]*\(\d+\) Window",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z6c. embedding decontamination + kth-NN outliers: banded LSH
    # equi-joins, exact verify in the condition, no cross products
    from whylogs_spark.ops.similarity import (
        embedding_contamination_pairs, embedding_outliers)

    embt = load_table(spark, SF_DIR, "embeddings")
    ec = embedding_contamination_pairs(
        embt.filter(F.col("vec_id") % 25 != 0),
        embt.filter(F.col("vec_id") % 25 == 0),
        threshold=0.4, planes=2, tables=8)
    sections.append((
        "embedding decontamination (LSH band join + verify)", ec,
        {
            "candidates via hash equi-join on (table, bucket)":
                r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
            "no cartesian / nested-loop join":
                r"^(?![\s\S]*(CartesianProduct|"
                r"BroadcastNestedLoopJoin))",
            # array-typed buffers plan as SortAggregate; the
            # partial-before-exchange shape is what matters
            "pair dedup partial-aggs before its exchange":
                r"(Hash|Sort)Aggregate[\s\S]*Exchange"
                r"[\s\S]*(Hash|Sort)Aggregate",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    eo = embedding_outliers(embt, k=3, planes=2, tables=8)
    sections.append((
        "embedding kth-NN outlier scores", eo,
        {
            "candidates via hash equi-join on (table, bucket)":
                r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
            "no cartesian / nested-loop join":
                r"^(?![\s\S]*(CartesianProduct|"
                r"BroadcastNestedLoopJoin))",
            "per-row top-k via grouped sorted collect_set "
            "(one exchange, no window; skew bound = one row's "
            "candidates)":
                r"collect_set[\s\S]*Exchange",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z6d. association rules: basket collapse + in-plan pair
    # expansion (no self cross-join), broadcast marginals
    from whylogs_spark.ops.basket import association_rules

    ar = association_rules(ev, user_col="user_id",
                           item_col="event_type", min_support=0.01)
    sections.append((
        "association rules (basket affinity)", ar,
        {
            "basket collapse partial-aggs before its exchange":
                r"(Hash|Sort|ObjectHash)Aggregate[\s\S]*Exchange"
                r"[\s\S]*(Hash|Sort|ObjectHash)Aggregate",
            "pair expansion in-plan (explode, not a self-join of "
            "the event table)":
                r"Generate[\s\S]*explode",
            "marginals joined back by broadcast":
                r"BroadcastHashJoin",
            "no cartesian join of the data (the only nested-loop "
            "input is the broadcast 1-row user total)":
                r"^(?![\s\S]*CartesianProduct)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z6e. semantic-type inference: ONE agg pass of rlike probes,
    # bounded single-row explode, no shuffle past the agg
    from whylogs_spark.ops.schema_infer import infer_semantic_types

    sti = infer_semantic_types(
        load_table(spark, SF_DIR, "customer").select(
            F.col("c_mktsegment").alias("seg"),
            F.col("c_name").alias("name"),
            F.col("c_custkey").cast("string").alias("ck")))
    sections.append((
        "semantic-type inference (probe battery)", sti,
        {
            "ONE scan for every column's probes":
                r"^(?!(?:[\s\S]*\(\d+\) Scan parquet){2})"
                r"[\s\S]*\(\d+\) Scan parquet",
            "probe counts partial-agg before their exchange":
                r"(Hash|Sort|ObjectHash)Aggregate[\s\S]*Exchange"
                r"[\s\S]*(Hash|Sort|ObjectHash)Aggregate",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z6f. weighted quantiles: same grouped two-phase walk as the
    # unweighted exact quantiles, weights summed map-side
    from whylogs_spark.core.summaries import weighted_quantiles

    wq = weighted_quantiles(li, "l_extendedprice", "l_quantity",
                            [0.5, 0.95], ["l_returnflag"])
    sections.append((
        "weighted quantiles (grouped prefix-sum walk)", wq,
        {
            "value collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "range partitioning drives the grouped walk":
                r"rangepartitioning\(",
            "slice rollup joined back by broadcast":
                r"BroadcastHashJoin",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z6g. cross-correlation: same lag-join shape as ACF, per-lag
    # moments in one partial-agg pass, NO window at all
    from whylogs_spark.ops.events import cross_correlation

    xc = cross_correlation(
        ev.select("ts",
                  F.when(F.col("event_type") == "click",
                         F.col("value")).alias("x"),
                  F.when(F.col("event_type") == "purchase",
                         F.col("value")).alias("y")),
        "ts", "x", "y", max_lag=6)
    sections.append((
        "cross-correlation (lag-join lead/lag detector)", xc,
        {
            "bucket collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "lagged pairs via hash equi-join":
                r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
            "no cartesian / nested-loop join":
                r"^(?![\s\S]*(CartesianProduct|"
                r"BroadcastNestedLoopJoin))",
            "no window anywhere (pure aggregation)":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z6h. experiment utilities: CUPED broadcast stats, SRM single
    # agg, Poisson bootstrap replicate reduction
    from whylogs_spark.ops.abtest import (cuped_adjust,
                                          poisson_bootstrap_diff,
                                          srm_check)

    ords2 = load_table(spark, SF_DIR, "orders")
    cu2 = cuped_adjust(
        ords2.select("o_orderstatus",
                     F.col("o_totalprice").alias("y"),
                     (F.col("o_totalprice")
                      + (F.col("o_orderkey") % 1000).cast("double"))
                     .alias("x")),
        "y", "x", ["o_orderstatus"])
    sections.append((
        "CUPED adjustment (broadcast theta)", cu2,
        {
            "theta/xbar stats joined back by broadcast":
                r"BroadcastHashJoin",
            "stats partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    srm = srm_check(
        ords2.withColumn(
            "__arm", F.when(F.col("o_custkey") % 10 < 5, F.lit("a"))
            .otherwise(F.lit("b"))),
        "__arm", {"a": 0.5, "b": 0.5}, ["o_orderstatus"])
    sections.append((
        "SRM check (one agg)", srm,
        {
            "counts partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "single scan":
                r"^(?!(?:[\s\S]*\(\d+\) Scan parquet){2})"
                r"[\s\S]*\(\d+\) Scan parquet",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    pb = poisson_bootstrap_diff(
        ords2.withColumn("__grp",
                         (F.col("o_custkey") % 2 == 1).cast("int")),
        "__grp", "o_totalprice", 0, 1, "o_orderkey", n_boot=50)
    sections.append((
        "Poisson bootstrap CI (replicate partial-agg)", pb,
        {
            "replicate sums partial-agg before the exchange "
            "(shuffle bounded by replicates, not data x replicates)":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "replicate spine generated in-plan (explode)":
                r"Generate[\s\S]*explode",
            "bounded CI frame joined by broadcast":
                r"(BroadcastNestedLoopJoin|BroadcastHashJoin)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z6i. log-rank test: distinct-duration collapse + ONE prefix
    # pass, 1-row reduction
    from whylogs_spark.ops.survival import logrank_test

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
    sections.append((
        "log-rank test (survival arm comparison)", lrk,
        {
            "duration collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "range partitioning drives the at-risk walk":
                r"rangepartitioning\(",
            "slice rollup joined back by broadcast":
                r"Broadcast(Hash|NestedLoop)Join",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z6j. n-gram diversity: in-scan expansion, one partial-agg
    # shuffle per order, no window
    from whylogs_spark.ops.text import ngram_diversity

    nd = ngram_diversity(docs, "text", "source", ns=(1, 2))
    sections.append((
        "n-gram diversity (distinct-n / entropy)", nd,
        {
            "gram counts partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "n-gram expansion in-plan (explode)":
                r"Generate[\s\S]*explode",
            "no window anywhere (pure aggregation)":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z6k. candidate keys: one agg (distinct rewrite's bounded
    # expand), bounded combo-frame minimality joins
    from whylogs_spark.ops.integrity import candidate_keys

    ck = candidate_keys(
        load_table(spark, SF_DIR, "customer"),
        columns=["c_custkey", "c_name", "c_nationkey",
                 "c_mktsegment"])
    sections.append((
        "candidate keys (one-agg discovery)", ck,
        {
            "distinct counts partial-agg before their exchanges":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "single scan feeds every combo":
                r"^(?!(?:[\s\S]*\(\d+\) Scan parquet){2})"
                r"[\s\S]*\(\d+\) Scan parquet",
            "minimality is a projection, not a join":
                r"^(?![\s\S]*(SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastHashJoin))",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z6l. seasonal-naive backtest: bucket collapse + lag equi-join,
    # no window
    from whylogs_spark.ops.events import seasonal_naive_backtest

    snb = seasonal_naive_backtest(ev, "ts", "value",
                                  key_cols=["event_type"], period=24)
    sections.append((
        "seasonal-naive backtest (forecast-error baseline)", snb,
        {
            "bucket collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "lagged forecast via hash equi-join":
                r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
            "no window anywhere (pure aggregation)":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z7. round-9 families: fairness / agreement / graph / labelqc /
    # conformal / silhouette
    from whylogs_spark.ops.fairness import fairness_report

    ords9 = load_table(spark, SF_DIR, "orders")
    fr = fairness_report(
        ords9.select(
            (F.col("o_totalprice") > 150000).cast("int").alias("y"),
            (F.col("o_orderkey") % 97 < 30).cast("int").alias("p"),
            F.col("o_orderpriority").alias("grp")),
        "y", "p", "grp")
    sections.append((
        "fairness report (group gaps vs reference)", fr,
        {
            "group rollup partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "reference row joins back by broadcast":
                r"BroadcastNestedLoopJoin|BroadcastHashJoin",
            "no window anywhere":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.agreement import (cohens_kappa,
                                             krippendorff_alpha)

    ck2 = cohens_kappa(
        ords9.select((F.col("o_orderkey") % 5).alias("ra"),
                      (F.col("o_custkey") % 5).alias("rb")),
        "ra", "rb", weights="quadratic")
    sections.append((
        "weighted Cohen's kappa (contingency-bounded)", ck2,
        {
            "contingency table partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "margins/totals broadcast, never shuffled data-sized":
                r"BroadcastNestedLoopJoin|BroadcastHashJoin",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    ka = krippendorff_alpha(ev, "user_id", "event_type")
    sections.append((
        "Krippendorff's alpha (coincidence matrix)", ka,
        {
            "(item, rating) counts partial-agg before the exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no window anywhere":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.graph import pagerank

    pr_edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
        .alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
        .alias("dst"))
    # audit ONE iteration's un-checkpointed plan: the checkpoint in
    # pagerank() erases the join/agg shape from the returned frame.
    # pagerank is stationary_distribution at unit weights, so the step
    # is the shared Markov step with each node's out-degree on the state
    from whylogs_spark.ops.graph import _markov_step

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
    sections.append((
        "pagerank (one power-iteration step)", pr,
        {
            "rank joins edges by hash equi-join (skew bound = "
            "one node's edges)":
                r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
            "contribution sum partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "dangling mass folds in via broadcast":
                r"BroadcastNestedLoopJoin",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.labelqc import confident_joint

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
    sections.append((
        "confident joint (label-noise matrix)", cjo,
        {
            "threshold row broadcasts back":
                r"BroadcastNestedLoopJoin|BroadcastHashJoin",
            "joint cells partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no window anywhere":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.conformal import split_conformal

    cf = split_conformal(
        li.select(
            "l_returnflag",
            F.col("l_extendedprice").cast("double").alias("y"),
            (F.col("l_quantity") * 1050.0).alias("yhat")),
        "y", "yhat", alpha=0.1, group_cols=["l_returnflag"])
    sections.append((
        "split conformal (grouped residual rank walk)", cf,
        {
            "residual counts partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "prefix walk windows carry a partition key":
                r"Window.*partitionBy|\(\d+\) Window",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.cluster import cluster_silhouette, kmeans

    emb_nn = emb.filter(F.col("embedding").isNotNull())
    _, sil_cents = kmeans(emb_nn, k=4, n_iter=1)
    sil = cluster_silhouette(emb_nn, sil_cents)
    sections.append((
        "cluster silhouette (shuffle-free projection + k-row agg)",
        sil,
        {
            "one scan, argmin/second-argmin in the projection":
                r"^(?!(?:[\s\S]*\(\d+\) Scan parquet){2})"
                r"[\s\S]*\(\d+\) Scan parquet",
            "per-cluster rollup partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no join, no window":
                r"^(?![\s\S]*(SortMergeJoin|ShuffledHashJoin|"
                r"\(\d+\) Window))",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z8. round-9 batch 2: schema matching / clustering agreement /
    # Nelson-Aalen
    from whylogs_spark.ops.schema_match import column_matches

    cmj = column_matches(
        load_table(spark, SF_DIR, "customer"),
        load_table(spark, SF_DIR, "supplier"), sample_distinct=100)
    sections.append((
        "schema matching (capped distinct overlap)", cmj,
        {
            "distinct-value dedup partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "per-column md5 rank window carries a partition key":
                r"windowspecdefinition\(__col_",
            # two-phase cap: the local pre-cap rank is keyed by
            # (col, input partition id), so no reducer ranks a full
            # column's distinct set before the bounded global rank
            "local pre-cap window keyed by (col, partition id)":
                r"windowspecdefinition\(__col_[^,)]+, __pid",
            "global rank consumes only pre-capped survivors":
                r"\(\d+\) Window[\s\S]*\(\d+\) Filter[\s\S]*"
                r"\(\d+\) Window",
            "A x B overlap via hash equi-join on the value":
                r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.cluster import clustering_agreement

    cagg = clustering_agreement(
        emb_nn.select(
            "vec_id", "label",
            (F.col("vec_id") % 8).cast("int").alias("cluster")),
        "label")
    sections.append((
        "clustering agreement (contingency-bounded indices)", cagg,
        {
            "contingency table partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "margins/totals broadcast":
                r"BroadcastNestedLoopJoin|BroadcastHashJoin",
            "no window anywhere":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.survival import nelson_aalen

    naa = nelson_aalen(
        ev.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("double").alias("dur"),
            F.max(F.lit(1)).alias("e")),
        "dur", "e")
    sections.append((
        "Nelson-Aalen cumulative hazard (prefix-sum walk)", naa,
        {
            "duration collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "prefix walk is range-partitioned (two-phase)":
                r"rangepartitioning\(",
            "no partition-less data window":
                r"windowspecdefinition\(__slice|\(\d+\) Window",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z9. round-9 batch 3: uplift curves + Markov stationary
    from whylogs_spark.ops.abtest import uplift_curve

    up = uplift_curve(
        ords9.select((F.col("o_custkey") % 2 == 0).alias("t"),
                     (F.col("o_totalprice") > 150000).cast("double")
                     .alias("y"),
                     ((F.col("o_orderkey") % 20).cast("double") / 20.0)
                     .alias("s")),
        "t", "y", "s")
    sections.append((
        "uplift / qini curve (descending prefix walk)", up,
        {
            "distinct-score collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "walk is range-partitioned (two-phase)":
                r"rangepartitioning\(",
            "windows are slice-local (partitioned by __slice)":
                r"windowspecdefinition\(__slice#",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.graph import stationary_distribution

    sd_edges = ev.select(F.col("event_type").alias("src"),
                         F.col("event_type").alias("dst"),
                         F.lit(1.0).alias("probability"))
    # a 1-iteration run's plan is erased by the checkpoint, so assert
    # the construction frame instead: the per-source weight totals
    # joined onto the node-sized initial state (renormalization)
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
    sections.append((
        "markov stationary distribution (edge renormalization)",
        sd_norm,
        {
            "per-source totals partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "renormalization joins by hash equi-join on the source":
                r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 9z10. TextRank keyword graph construction: in-scan pair
    # expansion, no self-join (iteration machinery audited under the
    # stationary-distribution section)
    from whylogs_spark.ops.text import textrank_keywords

    trk = textrank_keywords(docs, window=2, iterations=1, k=10)
    sections.append((
        "textrank keywords (co-occurrence graph build)", trk,
        {
            "edge counts partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "pair expansion is in-scan (no self-join of the corpus)":
                r"^(?![\s\S]*SortMergeJoin[\s\S]*SortMergeJoin"
                r"[\s\S]*SortMergeJoin[\s\S]*SortMergeJoin)",
            "top-k via TakeOrderedAndProject (no global sort)":
                r"TakeOrderedAndProject",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 10a. round-10 batch 1: trend test / sequential mSPRT /
    # off-policy evaluation
    from whylogs_spark.ops.trend import mann_kendall

    mk_daily = (ev.filter(F.col("ts").isNotNull())
                .groupBy("event_type",
                         F.date_trunc("day", "ts").alias("__day"))
                .agg(F.count(F.lit(1)).cast("double").alias("v"))
                .select("event_type",
                        F.col("__day").cast("double").alias("t"), "v"))
    mk = mann_kendall(mk_daily, "t", "v", ["event_type"])
    sections.append((
        "mann-kendall trend + theil-sen (collapsed-series pair walk)",
        mk,
        {
            "series collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "pair expansion joins by hash equi-join on the group key":
                r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
            "per-group report broadcast back for the intercept":
                r"BroadcastHashJoin|BroadcastNestedLoopJoin",
            "no window anywhere":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.abtest import msprt_scan

    ms = msprt_scan(
        ords9.withColumn("__arm", (F.col("o_custkey") % 2).cast("int")),
        "o_orderdate", "__arm", "o_totalprice", 0, 1,
        tau2=10000.0, grain="month")
    sections.append((
        "mSPRT always-valid sequential scan (prefix walk)", ms,
        {
            "bucket collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "cumulative walk is range-partitioned (two-phase)":
                r"rangepartitioning\(",
            "windows are slice-local (partitioned by __slice)":
                r"windowspecdefinition\(__slice#",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.offpolicy import offpolicy_value

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
    sections.append((
        "off-policy evaluation (broadcast policy + baselines)", op,
        {
            "policy map and per-action baselines join by broadcast":
                r"BroadcastHashJoin",
            "estimator agg partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no sort-merge join of the data against itself":
                r"^(?![\s\S]*SortMergeJoin[\s\S]*SortMergeJoin"
                r"[\s\S]*SortMergeJoin)",
            "no window anywhere":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 10b. round-10 batch 2: point-in-time features / CV splits /
    # negative sampling
    from whylogs_spark.ops.features import trailing_features

    tf = trailing_features(
        ev.filter(F.col("user_id").isNotNull()
                  & F.col("ts").isNotNull()),
        "user_id", "ts", "value", windows_sec=(86400 * 7,))
    sections.append((
        "point-in-time trailing features (entity RANGE frames)", tf,
        {
            "windows keyed by the entity (never partition-less)":
                r"windowspecdefinition\(user_id#",
            "exactly one data exchange (the entity key)":
                r"^(?!([\s\S]*hashpartitioning\(){2})"
                r"[\s\S]*hashpartitioning\(user_id#",
            "no join (features come off one sorted run)":
                r"^(?![\s\S]*(SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastHashJoin))",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.sampling import (kfold_assign,
                                            negative_sampling,
                                            rolling_origin_splits)

    kf = kfold_assign(ords9, ["o_orderkey"], 5)
    sections.append((
        "k-fold assignment (pure projection)", kf,
        {
            "zero shuffle, zero join":
                r"^(?![\s\S]*(Exchange|SortMergeJoin|"
                r"BroadcastHashJoin))",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    ro = rolling_origin_splits(ev, "ts", 4, 7 * 86400.0)
    sections.append((
        "rolling-origin splits (broadcast spec, no data shuffle)", ro,
        {
            "split spec joined by broadcast":
                r"BroadcastNestedLoopJoin|BroadcastHashJoin",
            "the data itself never hash-exchanges":
                r"^(?![\s\S]*Exchange hashpartitioning)",
            "no window anywhere":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    ns = negative_sampling(
        ev.select((F.col("user_id") % 500).alias("u"),
                  F.concat(F.lit("i"),
                           (F.col("event_id") % 200).cast("string"))
                  .alias("it")),
        "u", "it", n_neg=2, max_catalog=100)
    sections.append((
        "negative sampling (broadcast catalog + anti join)", ns,
        {
            "pair dedup partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "catalog joined by broadcast":
                r"BroadcastHashJoin",
            "accidental positives removed by anti join":
                r"LeftAnti",
            "no window anywhere":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 10c. round-10 batch 3: label propagation / MMD drift / PCA
    # (label_propagation and embedding_mmd checkpoint/collect their
    # results, which erases plans — audit the construction frames,
    # the pagerank/stationary precedent)
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
    sections.append((
        "label propagation (one synchronous step)", lp_step,
        {
            "message counts partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "label join is a hash equi-join on the node key":
                r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
            "argmax is a struct-min aggregate (no window)":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.core.embeddings import (_rff_constants,
                                               _rff_expr, pca_project)

    rw, rb = _rff_constants(32, 64, 4.0, 11)
    mmd_mean = (emb_nn.filter(F.size("embedding") == 64)
                .select(_rff_expr("embedding", rw, rb).alias("__phi"))
                .agg(F.count(F.lit(1)).alias("n"),
                     *[F.avg(F.col("__phi")[j]).alias(f"m{j}")
                       for j in range(32)]))
    sections.append((
        "MMD drift feature means (one codegen agg pass)", mmd_mean,
        {
            "feature map is a literal-constant projection "
            "(no join, no second scan)":
                r"^(?!(?:[\s\S]*\(\d+\) Scan parquet){2})"
                r"[\s\S]*\(\d+\) Scan parquet",
            "mean partial-aggs before the 1-row exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no window anywhere":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    pca_model = {
        "mean": [0.0] * 64,
        "components": [[1.0 if i == j else 0.0 for i in range(64)]
                       for j in range(4)],
    }
    pca_pl = pca_project(emb_nn, pca_model)
    sections.append((
        "PCA projection (pure codegen, zero shuffle)", pca_pl,
        {
            "zero shuffle, zero join":
                r"^(?![\s\S]*(Exchange|SortMergeJoin|"
                r"BroadcastHashJoin))",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 10d. round-10 batch 4: isotonic calibration / RAKE keyphrases
    # (isotonic collects its bounded distinct-score table — audit the
    # construction aggregate, the PCA/pagerank precedent)
    iso_s = (F.col("o_orderkey") % 97).cast("double") / 97.0
    iso_y = ((F.col("o_orderkey") * 31 + F.col("o_custkey")) % 100
             < 20 + 60 * iso_s).cast("double")
    iso_g = (ords9.select(iso_s.alias("__s"), iso_y.alias("__y"))
             .groupBy("__s")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("__y").alias("__t")))
    sections.append((
        "isotonic calibration (distinct-score collapse)", iso_g,
        {
            "distinct-score table partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no window anywhere":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.text import rake_keywords

    rk = rake_keywords(docs, k=25)
    sections.append((
        "RAKE keyphrases (regex delimiting, one pass)", rk,
        {
            "word/phrase stats partial-agg before their exchanges":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "top-k via TakeOrderedAndProject (no global sort)":
                r"TakeOrderedAndProject",
            "no per-doc window (phrases come from one regex chain)":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))


    # 10e. round-10 batch 2: changepoint / scorecard / concentration /
    # survivorship operators
    from whylogs_spark.ops.trend import cusum_changepoint

    ev10 = load_table(spark, SF_DIR, "events")
    daily10 = (ev10.filter(F.col("ts").isNotNull()
                           & F.col("event_type").isNotNull())
               .groupBy("event_type",
                        F.date_trunc("day", "ts").alias("day"))
               .agg(F.count(F.lit(1)).cast("double").alias("v")))
    cus = cusum_changepoint(daily10, "day", "v", ["event_type"])
    sections.append((
        "CUSUM changepoint (grouped cumulative-deviation walk)", cus,
        {
            "rollup collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "every window carries the group key (no global sort)":
                r"^(?![\s\S]*windowspecdefinition\((?!event_type))",
            "group totals join back by broadcast":
                r"BroadcastHashJoin|BroadcastNestedLoopJoin",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.encode import woe_iv

    ords10 = load_table(spark, SF_DIR, "orders")
    woe = woe_iv(
        ords10.select(F.col("o_totalprice").alias("x"),
                      (F.col("o_orderstatus") == "F").cast("double")
                      .alias("y")), "x", "y", bins=8)
    sections.append((
        "WOE/IV (percentile cuts + map-side array-filter binning)",
        woe,
        {
            "scan reads only the feature+label columns":
                r"ReadSchema:[^\n]*o_totalprice",
            "cuts/totals head joins back by broadcast":
                r"BroadcastNestedLoopJoin|BroadcastHashJoin",
            "bin aggregation partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no window anywhere (bins are a higher-order filter)":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.core.model_perf import (brier_decomposition,
                                               gains_table)

    sl_s = (F.col("o_orderkey") % 97).cast("double") / 97.0
    sl_y = ((F.col("o_orderkey") * 31 + F.col("o_custkey")) % 100
            < 20 + 60 * sl_s).cast("double")
    sl10 = ords10.select(sl_s.alias("s"), sl_y.alias("y"))
    sections.append((
        "Brier decomposition (bounded bin frame, two reduces)",
        brier_decomposition(sl10, "s", "y", 10),
        {
            "bin aggregation partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "totals join back by broadcast":
                r"BroadcastNestedLoopJoin|BroadcastHashJoin",
            "no window anywhere":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))
    sections.append((
        "gains table (bucket cut broadcast, cumulative over <=10 "
        "rows)", gains_table(sl10, "s", "y", 10),
        {
            "cuts/totals head joins back by broadcast":
                r"BroadcastNestedLoopJoin|BroadcastHashJoin",
            "bucket aggregation partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "exactly one window (the bounded per-bucket cumulative)":
                r"^(?!([\s\S]*\(\d+\) Window){2})[\s\S]*\(\d+\) Window",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.stats import (diversity_report,
                                         gini_concentration,
                                         mutual_information)

    mi10 = mutual_information(ords10, "o_orderstatus",
                              "o_orderpriority")
    sections.append((
        "mutual information (one cube pass, all levels)",
        mi10,
        {
            "exactly one parquet scan (cube folds all levels in)":
                r"^(?!([\s\S]*Scan parquet\s+\(\d+\)){2})"
                r"[\s\S]*Scan parquet\s+\(\d+\)",
            "cube counts partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "zero joins (levels separated by grouping_id, not "
            "branches)":
                r"^(?![\s\S]*(SortMergeJoin|BroadcastHashJoin|"
                r"BroadcastNestedLoopJoin))",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    gin = gini_concentration(li, "l_partkey", "l_extendedprice",
                             ["l_returnflag"])
    sections.append((
        "Gini concentration (group-partitioned rank windows)", gin,
        {
            "per-entity collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "every window carries the group key (no global rank)":
                r"^(?![\s\S]*windowspecdefinition\((?!l_returnflag))",
            "scan reads only the three involved columns":
                r"ReadSchema:[^\n]*l_extendedprice",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    div = diversity_report(docs, ["lang", "source"])
    sections.append((
        "diversity report (one stack() unpivot, bounded counts)", div,
        {
            "exactly one parquet scan (stack is in-scan)":
                r"^(?!([\s\S]*Scan parquet\s+\(\d+\)){2})"
                r"[\s\S]*Scan parquet\s+\(\d+\)",
            "value counts partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no window anywhere":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.text import zipf_fit

    zp = zipf_fit(docs, "text", top_v=2000)
    sections.append((
        "Zipf fit (two-phase capped vocabulary rank)", zp,
        {
            "token counts partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "phase-1 rank is partition-local (windowspec pinned to "
            "__pid)": r"windowspecdefinition\(__pid",
            "totals join back by broadcast":
                r"BroadcastNestedLoopJoin",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.events import time_weighted_average

    twa = time_weighted_average(ev10, "ts", "value", ["event_type"])
    sections.append((
        "time-weighted average (grouped lead window)", twa,
        {
            "instant collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "every window carries the group key":
                r"^(?![\s\S]*windowspecdefinition\((?!event_type))",
            "no join anywhere":
                r"^(?![\s\S]*(SortMergeJoin|BroadcastHashJoin|"
                r"BroadcastNestedLoopJoin))",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.linkage import golden_record

    gold = golden_record(ev10, ["user_id"], "ts",
                         ["event_type", "value"])
    sections.append((
        "golden record (N-field survivorship on one exchange)", gold,
        {
            # max_by over a struct with string fields is sort-based
            # (SortAggregate), but the PARTIAL max_by still runs
            # map-side before the exchange - the shape that matters
            "survivorship partial-aggs (partial_max_by) before its "
            "exchange": r"partial_max_by[\s\S]*\(\d+\) Exchange",
            "exactly one exchange (all fields ride one groupBy)":
                r"^(?!([\s\S]*\(\d+\) Exchange){2})"
                r"[\s\S]*\(\d+\) Exchange",
            "no window, no join":
                r"^(?![\s\S]*(\(\d+\) Window|SortMergeJoin|"
                r"BroadcastHashJoin))",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))


    # 10f. round-10 batch 3: pattern profile / ratio CI / Hill / IPF
    from whylogs_spark.ops.schema_infer import pattern_profile

    cust10 = load_table(spark, SF_DIR, "customer")
    pat = pattern_profile(cust10, ["c_name", "c_mktsegment"], top_k=5)
    sections.append((
        "pattern profile (one stack scan, two-phase top-k)", pat,
        {
            "no parquet rescan (both consumers read the "
            "checkpointed mask-count frame)":
                r"^(?!([\s\S]*Scan parquet\s+\(\d+\)){2})",
            "counts materialized once (checkpoint scan in-plan)":
                r"Scan ExistingRDD|LocalTableScan",
            "mask counts partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "phase-1 rank is partition-local (windowspec pinned to "
            "column+__pid)": r"windowspecdefinition\(column[^\n]*__pid",
            "per-column totals join back by broadcast":
                r"BroadcastHashJoin",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.abtest import ratio_delta_ci

    ev10b = load_table(spark, SF_DIR, "events")
    per_user10 = (ev10b.filter(F.col("event_type").isNotNull()
                               & F.col("value").isNotNull())
                  .groupBy("user_id", "event_type")
                  .agg(F.sum("value").alias("x"),
                       F.count(F.lit(1)).cast("double").alias("y")))
    rdc = ratio_delta_ci(per_user10, "x", "y", ["event_type"])
    sections.append((
        "ratio-metric delta CI (one five-moment agg per group)", rdc,
        {
            "unit pre-agg and moment agg both partial-agg":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no window, no join":
                r"^(?![\s\S]*(\(\d+\) Window|SortMergeJoin|"
                r"BroadcastHashJoin))",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.stats import hill_tail_index

    hil = hill_tail_index(li, "l_extendedprice", k=100,
                          group_cols=["l_returnflag"])
    sections.append((
        "Hill tail index (two-phase capped top-k)", hil,
        {
            "phase-1 rank is partition-local (windowspec pinned to "
            "group+__pid)":
                r"windowspecdefinition\(l_returnflag[^\n]*__pid",
            "positive-value filter pushed into the scan":
                r"PushedFilters:[^\n]*GreaterThan\(l_extendedprice",
            "totals ride a partial-agged aggregation":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # IPF collects the BOUNDED contingency table (isotonic/k-means
    # precedent) — audit the cell-construction aggregate
    ipf_cells = (docs.filter(F.col("lang").isNotNull()
                             & F.col("source").isNotNull())
                 .groupBy("lang", "source")
                 .agg(F.count(F.lit(1)).alias("n")))
    sections.append((
        "IPF raking (bounded contingency-cell construction)",
        ipf_cells,
        {
            "cells partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "scan reads only the two category columns":
                r"ReadSchema:[^\n]*lang[^\n]*source|"
                r"ReadSchema:[^\n]*source[^\n]*lang",
            "no window, no join":
                r"^(?![\s\S]*(\(\d+\) Window|SortMergeJoin|"
                r"BroadcastHashJoin))",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))


    # 10g. round-10 batch 4: CvM/AD exact drift, chi2 GOF, QTE
    from whylogs_spark.core.drift import cvm_ad_exact

    cvmad = cvm_ad_exact(li.filter(F.col("l_returnflag") == "A"),
                         li.filter(F.col("l_returnflag") == "R"),
                         "l_quantity")
    sections.append((
        "CvM + Anderson-Darling exact (shared prefix walk)", cvmad,
        {
            "distinct-value combine partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "cumsum windows are slice-partitioned (never global over "
            "the data)": r"windowspecdefinition\(__slice",
            "slice offsets join back by broadcast":
                r"BroadcastHashJoin",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.integrity import chi2_gof

    gof = chi2_gof(ords10, "o_orderpriority",
                   {"1-URGENT": 1.0, "2-HIGH": 2.0, "3-MEDIUM": 3.0,
                    "4-NOT SPECIFIED": 4.0, "5-LOW": 5.0,
                    "9-PHANTOM": 1.0})
    sections.append((
        "chi2 goodness-of-fit (bounded counts, literal shares)", gof,
        {
            "category counts partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no window, no join (shares are a literal CASE)":
                r"^(?![\s\S]*(\(\d+\) Window|SortMergeJoin|"
                r"BroadcastHashJoin|BroadcastNestedLoopJoin))",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.abtest import quantile_treatment_effect

    qte = quantile_treatment_effect(
        ords10.select((F.col("o_custkey") % 2).cast("double")
                      .alias("tr"),
                      F.col("o_totalprice").alias("y")), "tr", "y")
    sections.append((
        "quantile treatment effects (one conditional percentile agg)",
        qte,
        {
            "ONE aggregation computes both arms (single scan, no "
            "split-join)":
                r"^(?!([\s\S]*Scan parquet\s+\(\d+\)){2})"
                r"[\s\S]*Scan parquet\s+\(\d+\)",
            "percentiles partial-agg before their exchange":
                r"(ObjectHashAggregate|SortAggregate|HashAggregate)"
                r"[\s\S]*Exchange",
            "no window, no join":
                r"^(?![\s\S]*(\(\d+\) Window|SortMergeJoin|"
                r"BroadcastHashJoin))",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))


    # 10h. round-10 batch 5: RFM segmentation / relationship report
    from whylogs_spark.ops.features import rfm_segmentation

    rfm = rfm_segmentation(ords10, "o_custkey", "o_orderdate",
                           "o_totalprice", n_bins=5)
    sections.append((
        "RFM segmentation (entity collapse + broadcast cuts)", rfm,
        {
            "per-entity collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "cut arrays join back by broadcast":
                r"BroadcastNestedLoopJoin",
            "no window anywhere (scores are array filters)":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.integrity import relationship_report

    rel = relationship_report(ords10, cust10, "o_custkey",
                              "c_custkey")
    sections.append((
        "relationship report (bounded key-count outer join)", rel,
        {
            "both key collapses partial-agg before their exchanges":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "outer join runs over the collapsed key tables (join "
            "above both aggregates)":
                r"(SortMergeJoin|BroadcastHashJoin)[\s\S]*FullOuter",
            "no window anywhere":
                r"^(?![\s\S]*\(\d+\) Window)",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))


    # 10i. round-10 batch 6: RMST / cumulative incidence
    from whylogs_spark.ops.survival import (cumulative_incidence,
                                            rmst)

    surv_in = ev10.select(
        F.col("value").alias("dur"),
        (F.col("event_type") != "error").cast("int").alias("e"))
    sections.append((
        "RMST (KM walk + slice-partitioned successor)",
        rmst(surv_in, "dur", "e", tau=50.0),
        {
            "time collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "data windows are slice-partitioned (remaining "
            "partition-less windows are slice_rollup's, over the "
            "one-row-per-partition totals frame)":
                r"windowspecdefinition\(__slice",
            "slice offsets join back by broadcast":
                r"BroadcastHashJoin",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    cif_in = ev10.filter(F.col("event_type").isNotNull()).select(
        F.col("value").alias("dur"),
        (F.when(F.col("event_type") == "error", 0)
         .when(F.col("event_type") == "purchase", 1)
         .when(F.col("event_type") == "signup", 2)
         .otherwise(3)).alias("cause"))
    sections.append((
        "cumulative incidence (prefix walks, bounded cause offsets)",
        cumulative_incidence(cif_in, "dur", "cause"),
        {
            "cell collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "data windows are slice-partitioned (the only other "
            "windowspec is the one-row-per-cause offset)":
                r"windowspecdefinition\(__slice",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))


    # 10j. round-10 batch 7: exact effect sizes
    from whylogs_spark.core.drift import effect_sizes

    eff = effect_sizes(li.filter(F.col("l_returnflag") == "A"),
                       li.filter(F.col("l_returnflag") == "R"),
                       "l_quantity")
    sections.append((
        "effect sizes (merged-value walk, one prefix pass)", eff,
        {
            "distinct-value combine partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "cumsum windows are slice-partitioned":
                r"windowspecdefinition\(__slice",
            "slice offsets join back by broadcast":
                r"BroadcastHashJoin",
            "no Python in the plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 10k. round-11: hypothesis tests / causal / forecast / KMV
    from whylogs_spark.ops.hypothesis import (
        anova_oneway, brown_forsythe, kruskal_wallis,
        randomization_test_means,
    )

    ords11 = load_table(spark, SF_DIR, "orders")
    ev11 = load_table(spark, SF_DIR, "events")

    sections.append((
        "one-way ANOVA (single moment pass + 1-row reduce)",
        anova_oneway(ords11, "o_orderpriority", "o_totalprice"),
        {
            "per-level moments partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "scan prunes to the two columns":
                r"ReadSchema:[^\n]*o_orderpriority[^\n]*o_totalprice|"
                r"ReadSchema:[^\n]*o_totalprice[^\n]*o_orderpriority",
            "no join anywhere (centers folded into the same agg)":
                r"^(?![\s\S]*Join)",
            "the ONLY Python is the bounded 1-row p-value attach":
                r"MapInPandas",
        }))

    sections.append((
        "Kruskal-Wallis (two-phase midranks, value-keyed join)",
        kruskal_wallis(ords11, "o_orderstatus", "o_totalprice"),
        {
            "distinct-value collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "rank cumsum windows are slice-partitioned":
                r"windowspecdefinition\(__slice",
            "slice offsets join back by broadcast":
                r"BroadcastHashJoin",
        }))

    sections.append((
        "Brown-Forsythe (broadcast centers + ANOVA reduce)",
        brown_forsythe(li, "l_returnflag", "l_extendedprice"),
        {
            "group centers join back by broadcast (never a shuffle "
            "of the data on the group key for the join)":
                r"BroadcastHashJoin",
            "deviation moments partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
        }))

    sections.append((
        "randomization test (replicate spine partial-agg)",
        randomization_test_means(
            ords11, "o_orderstatus", "o_totalprice", "F",
            "o_orderkey", reps=20),
        {
            "per-replicate sums partial-agg before the replicate "
            "exchange (shuffle = reps x partitions rows, not data "
            "x reps)":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "the observed-share row broadcasts onto the spine":
                r"BroadcastExchange|BroadcastNestedLoopJoin",
            "no Python anywhere (exact tail count in-plan)":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.causal import (
        did_estimator, logistic_score_col,
    )

    did11 = did_estimator(
        ords11.select(
            (F.col("o_custkey") % 2).alias("grp"),
            F.when(F.col("o_orderdate")
                   >= F.lit("1998-01-01 00:00:00").cast("timestamp"),
                   "post").otherwise("pre").alias("period"),
            F.col("o_totalprice").alias("v")),
        "grp", "period", "v", 1, "post")
    sections.append((
        "difference-in-differences (four cells, one pass)",
        did11,
        {
            "ONE conditional-sum pass straight to the 1-row reduce":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no join anywhere":
                r"^(?![\s\S]*Join)",
            "no Python anywhere (z is a literal)":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    fake_model = {"intercept": -0.1, "coef": {"o_totalprice": 0.2},
                  "n": 0, "iterations": 1, "converged": True,
                  "log_likelihood": 0.0}
    scored11 = ords11.withColumn(
        "propensity", logistic_score_col(fake_model))
    sections.append((
        "logistic propensity scoring (pure map-side expression)",
        scored11,
        {
            "no exchange (scoring never shuffles)":
                r"^(?![\s\S]*Exchange)",
            "no Python (sigmoid is JVM codegen)":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.forecast import ses_forecast

    ses_in = (ev11.filter(F.col("ts").isNotNull()
                          & F.col("event_type").isNotNull())
              .groupBy("event_type",
                       F.date_trunc("day", "ts").alias("day"))
              .agg(F.count(F.lit(1)).cast("double").alias("v")))
    # Ungrouped-path note (r11 verdict #4): with no group_cols the
    # window partitions on lit(1) — ONE driver-bounded series whose
    # length the max_points plan-build guard caps; that single
    # partition is the documented contract (ops/forecast.py
    # docstring), not an unbounded global sort.  The audited shape
    # below is the grouped (distributed) path.
    sections.append((
        "SES forecast (per-group closed-form window)",
        ses_forecast(ses_in, "day", "v", ["event_type"], alpha=0.3),
        {
            "series windows are partitioned by the group key "
            "(no global sort)":
                r"windowspecdefinition\(event_type",
            "collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no Python anywhere (closed form, not recursion)":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.setsketch import (
        kmv_distinct, kmv_pairwise_overlap,
    )

    sections.append((
        "KMV distinct sketch (bounded bottom-k per segment)",
        kmv_distinct(li, "l_returnflag", ["l_orderkey"], k=64),
        {
            "distinct-hash collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "bottom-k rank window is partitioned by segment":
                r"windowspecdefinition\(__seg",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.encode import target_encode_oof
    from whylogs_spark.ops.glm import ols_report  # noqa: F401
    from whylogs_spark.ops.stats import spearman_correlation

    te_in = ords11.select(
        "o_orderkey", "o_orderpriority",
        (F.col("o_totalprice") > 150000.0).cast("double").alias("y"))
    sections.append((
        "OOF target encoding (bounded code table, md5 folds)",
        target_encode_oof(te_in, "o_orderpriority", "y",
                          ["o_orderkey"], n_folds=5, out_col="te"),
        {
            "ONE (category x fold) partial-agged aggregation":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "code table joins back by broadcast":
                r"BroadcastHashJoin",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    sections.append((
        "Spearman correlation (two prefix scans + one Pearson agg)",
        spearman_correlation(li, "l_quantity", "l_extendedprice"),
        {
            "distinct-value collapses partial-agg before exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "rank cumsum windows are slice-partitioned":
                r"windowspecdefinition\(__slice",
            "slice offsets join back by broadcast":
                r"BroadcastHashJoin",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    sections.append((
        "KMV pairwise overlap (bounded sketch-table algebra)",
        kmv_pairwise_overlap(li, "l_returnflag", ["l_orderkey"],
                             k=64),
        {
            "pair-to-sketch joins are broadcast (bounded sides)":
                r"BroadcastHashJoin",
            "union top-k rank window is partitioned by the pair":
                r"windowspecdefinition\(__sa",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.encode import quantile_normalize

    sections.append((
        "quantile normalization (profile + code tables via prefix)",
        quantile_normalize(li, ["l_quantity", "l_discount"]),
        {
            "distinct collapses partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "all cumsum windows are slice-partitioned":
                r"windowspecdefinition\(__slice",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # Cox PH: the per-Newton-step plan at beta=0 from the fit's own
    # Gram aggregate (cox_ph itself loops on the driver and returns a
    # dict, so the audit pins the iteration frame the loop materializes;
    # the reduce is rebuilt inline)
    from whylogs_spark.core.prefix import running_sums as _rs

    cox_base = (ev11
                .filter(F.col("value").isNotNull()
                        & ~F.isnan(F.col("value"))
                        & F.col("event_type").isNotNull())
                .select(F.col("value").alias("__t"),
                        (F.col("event_type") != "error")
                        .cast("double").alias("__e"),
                        ((F.col("user_id") % 50).cast("double")
                         / 50.0).alias("__x0")))
    from whylogs_spark.ops.glm import _eta, _gram

    cox_g = cox_base.groupBy("__t").agg(*_gram(
        [F.lit(1.0), F.col("__x0")], F.exp(_eta([0.0], [F.col("__x0")])),
        F.col("__e")))
    cox_r = _rs(cox_g, ["__t"], ["__h0_0", "__h0_1", "__h1_1"])
    cox_s0 = F.col("__g___h0_0") - (F.col("__cum___h0_0")
                                    - F.col("__h0_0"))
    cox_step = cox_r.filter(F.col("__g0") > 0).agg(
        F.sum(F.col("__g0") * F.log(cox_s0)).alias("__dls"))
    sections.append((
        "Cox PH Newton step (groupBy + suffix prefix pass + reduce)",
        cox_step,
        {
            "duration collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "risk-set cumsum windows are slice-partitioned":
                r"windowspecdefinition\(__slice",
            "slice offsets join back by broadcast":
                r"BroadcastHashJoin",
            "no Python in the iteration plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.survival import concordance_index

    ci_in = (ev11.filter(F.col("value").isNotNull()
                         & ~F.isnan(F.col("value"))
                         & F.col("event_type").isNotNull()
                         & F.col("user_id").isNotNull())
             .select(F.round("value", 0).alias("dur"),
                     (F.col("event_type") != "error").cast("double")
                     .alias("e"),
                     ((F.col("user_id") % 20).cast("double") / 20.0)
                     .alias("s")))
    sections.append((
        "concordance index (cell-collapsed pair algebra)",
        concordance_index(ci_in, "dur", "e", "s",
                          max_cells=200_000),
        {
            "cell collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "the pair theta-join runs on broadcast CELLS, not rows":
                r"BroadcastNestedLoopJoin",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # propensity matching: the candidate/argmin plan with a fixed
    # fake model (the IRLS fit itself is the audited fit_logistic
    # shape; matching is what's new here)
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
    from pyspark.sql import Window as _W
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
    sections.append((
        "propensity matching (bucket equi-join + struct-min argmin)",
        psm_cand,
        {
            "candidates come from a bucket EQUI-join (never a "
            "cross/nested-loop join of treated x controls)":
                r"^(?![\s\S]*BroadcastNestedLoopJoin)",
            "hot-bucket cap is a bucket-partitioned rank window":
                r"windowspecdefinition\(__b",
            # struct-min argmax/argmin plans as SortAggregate (the
            # repo-known shape); partial_min still runs map-side
            "argmin partial-aggs (SortAggregate) before its exchange":
                r"SortAggregate[\s\S]*Exchange[\s\S]*SortAggregate",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # Fellegi-Sunter: the one distributed piece is the pattern
    # aggregation (EM is driver-side on <= 2^k rows)
    fs_in = ords11.select(
        (F.col("o_custkey") % 3 == 0).cast("int").alias("__a0"),
        (F.col("o_orderkey") % 2 == 0).cast("int").alias("__a1"))
    fs_pat = fs_in.groupBy("__a0", "__a1").agg(
        F.count(F.lit(1)).cast("double").alias("__n"))
    sections.append((
        "Fellegi-Sunter pattern aggregation (EM input)",
        fs_pat,
        {
            "pattern counts partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no Python in the aggregation (EM happens on the "
            "collected <= 2^k pattern rows)":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.core.embeddings import procrustes_project

    fake_rot = {"rotation": [[0.0, 1.0], [1.0, 0.0]], "n": 0,
                "residual": 0.0, "disparity": 0.0,
                "norm_a": 0.0, "norm_b": 0.0}
    emb2 = emb.select(F.slice("embedding", 1, 2).alias("v2"))
    sections.append((
        "Procrustes projection (literal-matrix codegen)",
        procrustes_project(emb2, fake_rot, "v2"),
        {
            "no exchange (projection never shuffles)":
                r"^(?![\s\S]*Exchange)",
            "no Python (R·x is a literal expression)":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.events import attribution_report

    attr_in = (ev11.filter(F.col("ts").isNotNull()
                           & F.col("user_id").isNotNull()
                           & F.col("event_type").isNotNull())
               .select(F.col("user_id").alias("u"), "ts",
                       F.when(F.col("event_type") != "purchase",
                              F.col("event_type")).alias("ch"),
                       (F.col("event_type") == "purchase")
                       .alias("conv")))
    sections.append((
        "multi-touch attribution (per-user join + conv windows)",
        attribution_report(attr_in, "u", "ts", "ch", "conv",
                           model="position",
                           lookback_sec=7 * 86400.0),
        {
            # the only nested-loop in the plan is the 1-row x 1-row
            # cross that assembles the unattributed remainder
            "touch-to-conversion join is a hash equi-join":
                r"BroadcastHashJoin|SortMergeJoin",
            "rank/count windows are partitioned by the conversion":
                r"windowspecdefinition\(__u",
            "channel reduce partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # Markov attribution: the distributed piece is the path-windowed
    # transition-count pass (chain solves are driver-side on the
    # bounded matrix) — rebuild it inline to pin the plan
    mk_path = attr_in.select(
        "u", F.col("ts").cast("timestamp").cast("double")
        .alias("__ts"),
        F.when(F.col("conv"), F.lit("__CONV__"))
        .otherwise(F.col("ch")).alias("__s"))
    from pyspark.sql import Window as _W2
    mk_w = _W2.partitionBy("u").orderBy(F.col("__ts").asc(),
                                        F.col("__s").asc())
    mk_edges = mk_path.select(
        F.coalesce(F.lag("__s").over(mk_w), F.lit("__START__"))
        .alias("__from"), F.col("__s").alias("__to"))
    mk_counts = mk_edges.groupBy("__from", "__to").agg(
        F.count(F.lit(1)).cast("double").alias("__n"))
    sections.append((
        "Markov attribution transition pass (bounded count table)",
        mk_counts,
        {
            "path windows are partitioned by user (no global sort)":
                r"windowspecdefinition\(u",
            "transition counts partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no Python in the data pass":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.multiclass import multiclass_report

    mc_in = ords11.select(
        F.col("o_orderstatus").alias("tt"),
        F.element_at(F.array(F.lit("F"), F.lit("O"), F.lit("P")),
                     (F.col("o_orderkey") % 3 + 1).cast("int"))
        .alias("pp"))
    sections.append((
        "multiclass report (one cell pass, bounded derivations)",
        multiclass_report(mc_in, "tt", "pp"),
        {
            "cell counts partial-agg before their exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.core.drift import js_divergence

    sections.append((
        "JS divergence (two bounded share tables, one reduce)",
        js_divergence(li.filter(F.col("l_returnflag") == "N"),
                      li.filter(F.col("l_returnflag") == "A"),
                      "l_linenumber"),
        {
            "share tables partial-agg before their exchanges":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "totals broadcast onto the bounded cell table":
                r"BroadcastExchange",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.core.embeddings import zca_project

    fake_w = {"whitener": [[1.0, 0.0], [0.0, 1.0]],
              "mean": [0.0, 0.0], "n": 0, "eps": 1e-6}
    sections.append((
        "ZCA projection (affine HOF, flat literal matrix)",
        zca_project(emb2, fake_w, "v2"),
        {
            "no exchange (projection never shuffles)":
                r"^(?![\s\S]*Exchange)",
            "no Python (zip_with/aggregate are JVM HOFs)":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.forecast import holt_forecast

    holt_in = (ev11.filter(F.col("ts").isNotNull()
                           & F.col("event_type").isNotNull())
               .groupBy("event_type",
                        F.date_trunc("day", "ts").alias("day"))
               .agg(F.count(F.lit(1)).cast("double").alias("v")))
    sections.append((
        "Holt forecast (grouped HOF fold, windowless)",
        holt_forecast(holt_in, "day", "v", ["event_type"]),
        {
            "collapse partial-aggs before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "NO window at all (the recursion folds inside the "
            "aggregate — array_sort + aggregate HOF)":
                r"^(?![\s\S]*windowspecdefinition)",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.stats import kendall_tau

    # kendall_tau collects its one row (releasing its cut) and returns
    # a local frame, so audit the plans of the jobs the call ran
    sections.append((
        "Kendall tau-b (cell-table pair pass, broadcast NL)",
        executed_plans(spark, lambda: kendall_tau(
            li, "l_quantity", "l_linenumber")),
        {
            "pair pass is a broadcast nested-loop over the BOUNDED "
            "cell table (max_cells-guarded), never a shuffle "
            "cross join":
                r"BroadcastNestedLoopJoin",
            "no CartesianProduct (the unbroadcast disaster shape)":
                r"^(?![\s\S]*CartesianProduct)",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    from whylogs_spark.ops.geo import (geo_radius_join, grid_density,
                                       with_geohash)

    geo_cust = cust.select(
        F.col("c_custkey").alias("id"),
        (((F.col("c_custkey") * 37) % 12000).cast("double") / 100.0
         - 60.0).alias("lat"),
        (((F.col("c_custkey") * 91) % 34000).cast("double") / 100.0
         - 170.0).alias("lon"))
    sections.append((
        "Geohash grid density (pure shift/or projection + one agg)",
        grid_density(geo_cust, "lat", "lon", 4),
        {
            "ONE partial-agged aggregation":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no Python (the hash is shift/or codegen)":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))
    supp_geo = load_table(spark, SF_DIR, "supplier").select(
        F.col("s_suppkey").alias("id"),
        (((F.col("s_suppkey") * 37) % 12000).cast("double") / 100.0
         - 60.0).alias("lat"),
        (((F.col("s_suppkey") * 91) % 34000).cast("double") / 100.0
         - 170.0).alias("lon"))
    sections.append((
        "Geo radius join (3x3 neighbor-cell EQUI-join)",
        geo_radius_join(geo_cust, supp_geo, 300.0),
        {
            "the radius join is an equi-join on the cell id, "
            "never a cross product":
                r"^(?![\s\S]*CartesianProduct)",
            "left side explodes to its 9 neighbor cells (Generate)":
                r"\(\d+\) Generate",
            "haversine filter is codegen (no Python)":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))
    from whylogs_spark.ops.geo import geo_nearest_join

    sections.append((
        "Geo nearest join (radius candidates + ONE grouped argmin)",
        geo_nearest_join(
            geo_cust,
            supp_geo.withColumnRenamed("id", "sid"), 300.0),
        {
            "no cross product anywhere":
                r"^(?![\s\S]*CartesianProduct)",
            "argmin is a partial-agged grouped min (struct min "
            "before the exchange)":
                r"partial_min[\s\S]*Exchange",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    sections.append((
        "Geohash projection (zero shuffle)",
        with_geohash(geo_cust, "lat", "lon", 7),
        {
            "no exchange (pure projection)":
                r"^(?![\s\S]*Exchange)",
            "no Python":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # store rolling-quantile series: write a tiny store, audit the
    # read plan — the scan must prune to the kll rows and the merge
    # must be ONE grouped native KLL union, no Python node
    import tempfile as _tf

    import whylogs_spark as _wsp
    from whylogs_spark.io.store import ProfileStore as _PS

    _qs_dir = _tf.mkdtemp(prefix="audit_qstore_")
    _qs = _PS(_qs_dir + "/p")
    import datetime as _dt2

    for _day in (1, 2, 3):
        _qs.write(
            _wsp.profile(li.limit(500).select("l_quantity")),
            "audit",
            _dt2.datetime(2024, 7, _day, tzinfo=_dt2.timezone.utc))
    sections.append((
        "Store rolling KLL quantile series (pruned scan + one "
        "grouped sketch merge)",
        _qs.quantile_series(spark, "audit", "l_quantity", window=2),
        {
            "metric/component filters push into the parquet scan":
                r"PushedFilters: \[[^\]]*(metric|component)",
            "window fan-out is a Generate (explode), x window":
                r"\(\d+\) Generate",
            "one grouped native sketch merge, no Python node":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|MapInPandas|"
                r"MapInArrow|FlatMapGroupsInPandas))[\s\S]*"
                r"ObjectHashAggregate[\s\S]*Functions \[\d+\]: "
                r"\[kll_merge_agg_double",
        }))

    # Huber IRLS: the per-iteration plan at unit weights
    # (huber_regression loops driver-side like cox_ph, so the audit
    # pins the weighted moment aggregate each step runs: the shared
    # Gram aggregate over [1, x, y])
    hb = load_table(spark, SF_DIR, "orders").select(
        (F.month("o_orderdate").cast("double") / 12.0).alias("__x0"),
        ((F.col("o_custkey") % 100).cast("double") / 100.0)
        .alias("__x1"),
        F.col("o_totalprice").cast("double").alias("__y"))
    hub_aggs = _gram([F.lit(1.0), F.col("__x0"), F.col("__x1"),
                      F.col("__y")], F.lit(1.0))
    sections.append((
        "Huber IRLS step (ONE weighted moment aggregate)",
        hb.agg(*hub_aggs),
        {
            "moment matrix partial-aggs before one exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no Python in the iteration plan":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # Bandit posterior: the ONLY data-touching frame is the per-arm
    # count groupBy (posterior math runs on the collected arms x 2
    # table driver-side)
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
    sections.append((
        "Bandit arm counts (the single data pass)",
        bd_counts,
        {
            "ONE partial-agged aggregation":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # round-13: inter-arrival report — entity-partitioned lag (never
    # a global sort), checkpointed gaps consumed by the bounded
    # moment rollup + the grouped exact-quantile walk, broadcast-
    # joined back on the group key
    from whylogs_spark.ops.events import interarrival_stats

    # the gap pass runs BEFORE the operator's localCheckpoint (the
    # checkpoint hides it from the final plan), so audit the same
    # projection inline: the lag window must carry the entity keys
    ev13 = load_table(spark, SF_DIR, "events").filter(
        "ts IS NOT NULL AND user_id IS NOT NULL "
        "AND event_type IS NOT NULL")
    from pyspark.sql import Window as _W13

    _us13 = F.unix_micros(F.col("ts").cast("timestamp"))
    sections.append((
        "Inter-arrival gap pass (entity-partitioned lag)",
        ev13.select(
            "event_type",
            ((_us13 - F.lag(_us13).over(
                _W13.partitionBy("user_id", "event_type")
                .orderBy(F.col("ts").asc())))
             .cast("double") / F.lit(1000000.0)).alias("__gap")),
        {
            "lag window carries the entity partition key":
                r"windowspecdefinition\(user_id",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    ia = interarrival_stats(
        load_table(spark, SF_DIR, "events"),
        ["user_id", "event_type"], "ts",
        group_cols=["event_type"], qs=(0.5, 0.9))
    sections.append((
        "Inter-arrival stats (bounded rollups off the checkpoint)",
        ia,
        {
            "group tables join back by broadcast":
                r"BroadcastHashJoin",
            "moment rollup partial-aggregates before its exchange":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # round-13: reciprocal-rank fusion — every global ordering is a
    # TakeOrderedAndProject (per-list heads + final cut), the re-rank
    # window partitions on the bounded list id
    from whylogs_spark.ops.search import rrf_fuse

    rrf_in = docs.select(
        "doc_id", F.col("n_chars").cast("double").alias("s_len"),
        ((F.col("doc_id") * 2654435761) % 100000).cast("double")
        .alias("s_hash"))
    sections.append((
        "RRF fusion (TakeOrdered heads, list-partitioned re-rank)",
        rrf_fuse(rrf_in, ["doc_id"], ["s_len", "s_hash"],
                 per_list_limit=200, top_k=50),
        {
            "per-list heads and the final cut are TakeOrdered, "
            "never a global Sort-all":
                r"TakeOrderedAndProject[\s\S]*TakeOrderedAndProject",
            "re-rank window partitions on the list id":
                r"windowspecdefinition\(__list",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # round-13: quantile regression — the per-iteration data pass is
    # the SAME weighted moment aggregate huber_regression pins above
    # (shared robust._irls); audit the loss pass it adds
    from whylogs_spark.ops.robust import quantile_regression as _qr  # noqa: F401 (source-level: shares huber's audited moment pass)

    sections.append((
        "Quantile regression final pinball-loss pass (bounded agg)",
        hb.agg(F.avg(
            F.when(F.col("__y") - F.col("__x0") >= 0,
                   F.lit(0.75) * (F.col("__y") - F.col("__x0")))
            .otherwise(F.lit(-0.25) * (F.col("__y") - F.col("__x0"))))
            .alias("l")),
        {
            "ONE partial-agged aggregation to a single row":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # round-13: KNN-Shapley — test side broadcast into the pair
    # build, rank + suffix recursion as test-partitioned windows
    from whylogs_spark.ops.valuation import knn_shapley

    sections.append((
        "KNN-Shapley valuation (broadcast pairs, per-test windows)",
        knn_shapley(emb, emb.filter(F.col("vec_id") % 16 == 0),
                    "vec_id", "embedding", "label", k=5),
        {
            "test side broadcasts into the pair build":
                r"BroadcastNestedLoopJoin|BroadcastExchange",
            "rank/suffix windows carry the test-id partition key":
                r"windowspecdefinition\(__qid",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # round-13: covariate balance — one stack() unpivot in-scan, one
    # partial-agged groupBy on the bounded covariate key
    from whylogs_spark.ops.causal import covariate_balance

    cb_in = load_table(spark, SF_DIR, "orders").select(
        (F.col("o_custkey") % 2 == 0).alias("t"),
        F.col("o_totalprice").cast("double").alias("price"),
        F.month("o_orderdate").cast("double").alias("month"),
        (F.lit(1.0) + (F.col("o_orderkey") % 7).cast("double")
         / F.lit(10.0)).alias("w"))
    sections.append((
        "Covariate balance (stack unpivot + ONE bounded groupBy)",
        covariate_balance(cb_in, "t", ["price", "month"],
                          weight_col="w"),
        {
            "ONE partial-agged aggregation":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "unpivot is an in-plan Generate, not a self-union of "
            "scans (ONE Scan node in the tree)":
                r"\(\d+\) Generate",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # round-13: BBSE label shift — the k x k confusion cell pass is
    # the only data touch (the solve is driver numpy on k x k)
    ls_src = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderstatus").alias("__y"),
        F.when(F.col("o_orderkey") % 10 == 0,
               F.lit("F")).otherwise(F.col("o_orderstatus"))
        .alias("__p"))
    sections.append((
        "BBSE label shift confusion-cell pass (bounded k x k)",
        ls_src.groupBy("__p", "__y").count(),
        {
            "ONE partial-agged aggregation":
                r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # round-13: grid-density clustering — cell collapse + broadcast
    # label maps; the union-find itself is driver-side over the
    # bounded dense-cell set (max_dense_cells guard)
    from whylogs_spark.ops.geo import grid_cluster

    sections.append((
        "Grid clustering (cell collapse + broadcast label join)",
        grid_cluster(geo_cust, cell_deg=4.0, min_pts=5),
        {
            "cluster labels join back by broadcast":
                r"BroadcastHashJoin",
            "no Python anywhere":
                r"^(?![\s\S]*(BatchEvalPython|ArrowEvalPython|"
                r"MapInPandas|FlatMapGroupsInPandas))",
        }))

    # 10. repo-wide global-window audit (SOURCE level): any
    # `Window.orderBy(...)` that is not chained onto a partitionBy is
    # a single-task sort of its input unless that input is
    # declared-bounded. Allowlist the known bounded sites; a new
    # partition-less window anywhere else fails the audit. This closes
    # the recurring blind-spot class (r4: unigram LM; r5: exact AUC)
    # structurally — the audit no longer depends on the builder
    # remembering to add a per-operator assertion.
    import pathlib

    _GLOBAL_WINDOW_ALLOW = {
        # two-phase prefix sum: the partition-less window rolls up the
        # slice-totals frame (exactly one row per shuffle partition)
        "core/prefix.py",
        # phase-2 rank over the phase-1-capped head (<= top_v x
        # partitions rows) — the two-phase shape the audit section
        # "Zipf fit" pins
        "ops/text.py::zipf_fit",
        # cumulative over the <= n_buckets per-bucket frame
        "core/model_perf.py::gains_table",
        # per-cause offset over the one-row-per-cause totals frame
        "ops/survival.py::cumulative_incidence",
        # phase-rank over the max_points-guarded collapsed series
        # (count runs BEFORE the window exists; S-H-ESD is a bounded
        # retrospective fit, same contract as ungrouped ses_forecast)
        "ops/esd.py::seasonal_esd",
    }

    def _enclosing_def(srctxt: str, pos: int) -> str:
        name = ""
        for dm in re.finditer(r"^def (\w+)", srctxt[:pos], re.M):
            name = dm.group(1)
        return name

    pkg_root = pathlib.Path("/root/repo/whylogs_spark")
    window_viol = []
    for p in sorted(pkg_root.rglob("*.py")):
        rel = str(p.relative_to(pkg_root))
        srctxt = p.read_text()
        for mo in re.finditer(r"Window\s*\.\s*orderBy", srctxt):
            fn = _enclosing_def(srctxt, mo.start())
            if rel in _GLOBAL_WINDOW_ALLOW:
                continue
            if f"{rel}::{fn}" in _GLOBAL_WINDOW_ALLOW:
                continue
            ln = srctxt[: mo.start()].count("\n") + 1
            window_viol.append(f"{rel}:{ln}")
    source_checks = [
        ("no partition-less Window.orderBy outside the "
         f"declared-bounded allowlist {sorted(_GLOBAL_WINDOW_ALLOW)}"
         + (f" — VIOLATIONS: {window_viol}" if window_viol else ""),
         not window_viol),
    ]

    lines = [
        "# PLANS — physical-plan audit of headline operators",
        "",
        f"Generated by `scripts/explain_audit.py` at `{SF_DIR}`;",
        "checkboxes are regex assertions over `.explain('formatted')`.",
        "Re-run after plan-shape changes.",
        "",
    ]
    all_ok = True
    for name, df, checks in sections:
        plan, results = audit(name, df, checks)
        lines.append(f"## {name}")
        lines.extend(results)
        if any("[ ]" in r for r in results):
            all_ok = False
            lines.append("")
            lines.append("<details><summary>plan</summary>")
            lines.append("")
            lines.append("```")
            lines.append(plan.strip()[:4000])
            lines.append("```")
            lines.append("</details>")
        lines.append("")

    lines.append("## repo-wide source audit (global windows)")
    for label, ok in source_checks:
        lines.append(f"  - [{'x' if ok else ' '}] {label}")
        if not ok:
            all_ok = False
    lines.append("")

    for title, plan_text in (
            ("streaming profile (runtime microbatch plan)",
             streaming_plan),
            ("streaming model monitor (runtime microbatch plan)",
             model_plan),
            ("streaming frequent items (runtime microbatch plan)",
             frequent_plan),
            ("streaming quantiles (runtime microbatch plan)",
             sketch_plans["quantiles"]),
            ("streaming heavy hitters (runtime microbatch plan)",
             sketch_plans["heavy_hitters"]),
            ("streaming experiment arm counts (runtime microbatch "
             "plan)", armcounts_plan),
            ("streaming fairness decision counts (runtime microbatch "
             "plan)", decision_plan),
            ("native session-window sessions (runtime microbatch plan)",
             session_plan),
            ("streaming fk monitor (runtime microbatch plan)",
             fk_plan)):
        lines.append(f"## {title}")
        sres = []
        checks_here = dict(streaming_checks)
        if title.startswith("streaming fk monitor"):
            # the bounded dimension-side distinct adds one legitimate
            # exchange inside the broadcast subtree; the STREAM still
            # shuffles exactly once (the state key)
            del checks_here["exactly one data exchange (no shuffle "
                            "besides the state key)"]
            checks_here["at most two hash exchanges (state key + "
                        "bounded dim distinct)"] = (
                r"^(?!([\s\S]*Exchange hashpartitioning){3})")
        for label, pattern in checks_here.items():
            ok = re.search(pattern, plan_text) is not None
            sres.append(f"  - [{'x' if ok else ' '}] {label}")
        lines.extend(sres)
        if any("[ ]" in r for r in sres):
            all_ok = False
            lines.append("")
            lines.append("<details><summary>plan</summary>")
            lines.append("")
            lines.append("```")
            lines.append(plan_text.strip()[:4000])
            lines.append("```")
            lines.append("</details>")
        lines.append("")

    lines.append("## streaming transitions (stateful runtime plan)")
    for label, pattern in {
            "watermark attached (state evictable)":
                r"EventTimeWatermark",
            "stateful Arrow kernel (applyInPandasWithState — the "
            "declared per-user state op, 2 scalars per user)":
                r"FlatMapGroupsInPandasWithState",
            "exactly one stream exchange (the state key)":
                r"^(?!([\s\S]*Exchange hashpartitioning){2})"
                r"[\s\S]*Exchange hashpartitioning",
    }.items():
        ok = re.search(pattern, transitions_plan) is not None
        lines.append(f"  - [{'x' if ok else ' '}] {label}")
        if not ok:
            all_ok = False
    lines.append("")

    lines.append("## streaming inter-arrival gaps (stateful runtime "
                 "plan)")
    for label, pattern in {
            "watermark attached (buffer drains + state evicts)":
                r"EventTimeWatermark",
            "stateful Arrow kernel (applyInPandasWithState — "
            "last-ts + unwatermarked buffer per entity)":
                r"FlatMapGroupsInPandasWithState",
            "exactly one stream exchange (the entity key)":
                r"^(?!([\s\S]*Exchange hashpartitioning){2})"
                r"[\s\S]*Exchange hashpartitioning",
    }.items():
        ok = re.search(pattern, cadence_plan) is not None
        lines.append(f"  - [{'x' if ok else ' '}] {label}")
        if not ok:
            all_ok = False
    lines.append("")

    lines.append("## streaming fk monitor (stream-static specifics)")
    for label, pattern in {
            "dimension joined by broadcast (stream never shuffles "
            "for the join)": r"BroadcastHashJoin",
            "dimension reduced to distinct keys before broadcast":
                r"HashAggregate[\s\S]*BroadcastExchange|"
                r"BroadcastExchange[\s\S]*HashAggregate",
    }.items():
        ok = re.search(pattern, fk_plan) is not None
        lines.append(f"  - [{'x' if ok else ' '}] {label}")
        if not ok:
            all_ok = False
    lines.append("")

    # static measured-decision records (survive regeneration)
    lines += [
        '## bench host-state note (round 10, measured)',
        '',
        'Describes the MID-round-10 exploratory bench run of 2026-08-16',
        "~02:00 UTC (not the committed bench_out.json, whose final",
        'adjudications are 5 host-noise + 1 reproduced on different',
        "rows).  That mid-round run carried 6 'reproduced' flags whose",
        '3-rep warm solo A/B task-seconds sat uniformly ~1.5x their',
        'committed records — exclusively on Python/Arrow-kernel rows',
        '(pixel/webp decode, gopher modal-token UDF, quality signals,',
        'Arrow top-k, abtest utils) — while JVM-codegen rows matched',
        'their records in the same run.  None of those modules changed',
        'in round 10 (git diff empty for them).  Conclusion: a',
        'host-state shift in Python-worker throughput, not a code',
        'regression.  The committed bench_out.json record carries its',
        'own per-row A/B arrays; its one real flag',
        '(pagerank_hot10x_uniform) is tracked as a round-11 perf item.',
        'Smoke-suite wall for the identical test set varied 7:25-12:18',
        'across clean runs the same day — same signal.',
        '',
    ]
    lines += [
        '## pagerank_hot10x_uniform re-baseline (round 11, measured)',
        '',
        'The r10 verdict adjudicated this row REPRODUCED (task-sec 163',
        'r9 record -> 224 committed r10, A/B 303-330).  Round-11',
        'bisect evidence says host, not code: (1) `pagerank()` is',
        'byte-identical since r9 (`git diff` across every graph.py',
        'commit touches only stationary_distribution + the new',
        'label_propagation); (2) a dedicated solo probe (4 reps, fresh',
        'session, sf0.1 uniform 6M edges x 3 iters) measured warm',
        'task-sec 199/212/220 (cold first rep 387) on the identical',
        'code path; (3) in the same clean-host run the SKEWED sibling',
        'row improved 302 -> 261 task-sec and the shared-machinery',
        'graph_pagerank row held at its record; (4) an explicit',
        'broadcast-state A/B variant measured 143-213 vs 186-204 for',
        'the current AQE-planned join - no structural win available,',
        'AQE already broadcasts the node-sized rank vector (and a',
        'forced hint would be wrong at cluster scale, where the rank',
        'vector of a 10B-node graph exceeds broadcast limits).',
        'Conclusion: the 163 was a fast-host measurement; the row''s',
        'clean-host operating point is ~190-220 task-sec.  Re-baselined',
        'by the round-11 clean-base bench record (commit 60e68e6).',
        '',
    ]
    lines += [
        "## iterative checkpoint cadence (measured decision, round 10)",
        "",
        "The r9 verdict asked whether the 20-30-step power-iteration",
        "loops (`stationary_distribution`, `textrank_keywords` via the",
        "same machinery) should localCheckpoint every 2-3 steps instead",
        "of every step to cut job-count-bound wall time.  Measured on",
        "the bench workload (sf0.1 events transition chain, 20",
        "iterations, local[32], 3 reps each, numerically identical",
        "outputs asserted at 1e-15):",
        "",
        "| checkpoint_every | walls (s, sorted) |",
        "|---|---|",
        "| 1 (per step)     | 3.55 / 4.07 / 4.47 |",
        "| 2                | 4.12 / 4.16 / 4.90 |",
        "| 3                | 4.40 / 4.93 / 5.13 |",
        "| 4                | 5.14 / 5.22 / 5.29 |",
        "| 5                | 8.99 / 9.11 / 9.53 |",
        "",
        "Per-step checkpointing WINS: each step references its",
        "predecessor three times (dangling agg, contribution join,",
        "carry-through), so the skipped checkpoints must be replaced by",
        "lazy `persist()`s, and the deeper plans + extra broadcast",
        "scheduling cost more than the saved materialization jobs.",
        "Decision: keep `checkpoint_every=1` as the default; the knob",
        "is exposed on `stationary_distribution` for clusters where",
        "scheduler round-trips dominate (real multi-node clusters with",
        "slow driver-executor RPC may invert this — re-measure there).",
        "",
    ]
    out = "\n".join(lines)
    with open("/root/repo/PLANS.md", "w") as f:
        f.write(out)
    print(out)
    print("ALL OK" if all_ok else "SOME CHECKS FAILED")
    spark.stop()


if __name__ == "__main__":
    main()
