"""Self-contained HTML reports over profiles — the engine's answer to
the reference's notebook visualizer
(python/whylogs/viz/notebook_profile_viz.py: profile summary, summary
drift report, histogram comparisons), WITHOUT its template/JS bundle:
plain stdlib string assembly + inline SVG, so a report is one portable
file that renders anywhere (notebook cell via IPython.display.HTML,
file://, CI artifact) with zero dependencies.

All rendering is driver-side over an already-computed ProfileView — a
few KB of summary rows and sketch bytes per column. A profile report
over a view that holds its rows locally (``profile()``, ``read_why1``)
runs no Spark action at all; over a lazy view it runs at most TWO (the
summary and one batched collect of every KLL blob), never a job per
column: a lazy view is a live aggregation plan, and re-executing it per
histogram would turn a 50-column report into 50 profile computations.
"""

from __future__ import annotations

import html as _html
from typing import Dict, List, Optional, Sequence, Tuple


def _kll_histograms(view, n_bins: int = 30) -> Dict[tuple, list]:
    """(segment, column) -> histogram triples, from ONE collect of the
    view's KLL rows — segment-correct (a per-segment card gets its own
    segment's sketch, not the global one)."""
    from .core.sketches import KllSketch

    rows = view.table(metric="distribution", component="kll").select(
        ["segment", "column", "b"]).to_pylist()
    out: Dict[tuple, list] = {}
    for r in rows:
        if r["b"] is None:
            continue
        try:
            sk = KllSketch.deserialize(bytes(r["b"]))
        except Exception:
            continue
        if sk.n == 0:
            continue
        lo, hi = sk.min_value, sk.max_value
        if hi <= lo:
            out[(r["segment"], r["column"])] = [(lo, hi, sk.n)]
            continue
        edges = [lo + (hi - lo) * i / n_bins for i in range(1, n_bins)]
        pmf = sk.pmf(edges)
        bounds = [lo] + edges + [hi]
        out[(r["segment"], r["column"])] = [
            (bounds[i], bounds[i + 1], int(round(p * sk.n)))
            for i, p in enumerate(pmf)
        ]
    return out

_CSS = """
body{font-family:system-ui,sans-serif;margin:24px;color:#1a1a2e}
h1{font-size:20px} h2{font-size:15px;margin:18px 0 6px}
table{border-collapse:collapse;margin:4px 0 12px}
th,td{border:1px solid #d8d8e0;padding:3px 9px;font-size:12px;
text-align:right} th{background:#f0f0f6} td:first-child,
th:first-child{text-align:left}
.cat-DRIFT{color:#b00020;font-weight:600}
.cat-POSSIBLE_DRIFT{color:#b36b00;font-weight:600}
.cat-NO_DRIFT{color:#1a7f37}
.grid{display:flex;flex-wrap:wrap;gap:18px}
.card{border:1px solid #d8d8e0;border-radius:6px;padding:10px}
.small{color:#666;font-size:11px}
"""


def _esc(v) -> str:
    return _html.escape("" if v is None else str(v))


def _fmt(v) -> str:
    if v is None:
        return ""
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def _svg_hist(bins: Sequence[Tuple[float, float, int]],
              width: int = 300, height: int = 80,
              color: str = "#4c6ef5", opacity: float = 1.0,
              peak: Optional[float] = None) -> str:
    """``peak`` fixes the y-scale; without it each SVG normalizes to
    its own max — fine for lone histograms, WRONG for overlays whose
    heights must be comparable (a reliability diagram scaled per-SVG
    would show a miscalibrated model as perfectly calibrated)."""
    if not bins:
        return ""
    if peak is None:
        peak = max(c for _, _, c in bins) or 1
    n = len(bins)
    bw = width / n
    bars = []
    for i, (_, _, c) in enumerate(bins):
        h = (c / peak) * (height - 4)
        bars.append(
            f'<rect x="{i * bw:.1f}" y="{height - h:.1f}" '
            f'width="{max(bw - 1, 1):.1f}" height="{h:.1f}" '
            f'fill="{color}" fill-opacity="{opacity}"/>')
    lo, hi = bins[0][0], bins[-1][1]
    return (
        f'<svg width="{width}" height="{height + 14}" '
        f'xmlns="http://www.w3.org/2000/svg">'
        + "".join(bars)
        + f'<text x="0" y="{height + 11}" font-size="9">{_fmt(lo)}</text>'
        + f'<text x="{width}" y="{height + 11}" font-size="9" '
        f'text-anchor="end">{_fmt(hi)}</text></svg>'
    )


_SUMMARY_ROWS = [
    ("rows", "counts/n"), ("nulls", "counts/null"),
    ("mean", "distribution/mean"), ("stddev", "distribution/stddev"),
    ("min", "distribution/min"), ("median", "distribution/median"),
    ("max", "distribution/max"), ("distinct est", "cardinality/est"),
]


def profile_report_html(view, title: str = "Profile report") -> str:
    """One self-contained HTML page: a per-column card with the headline
    stats and (for sketched numeric columns) an inline-SVG histogram
    from the KLL sketch — the reference's profile_summary report shape."""
    wide = view.to_pandas()
    hists = _kll_histograms(view)
    cards = []
    for _, row in wide.iterrows():
        col = row["column"]
        seg = row.get("segment", "{}")
        stats = []
        for label, key in _SUMMARY_ROWS:
            if key in wide.columns and row.get(key) is not None:
                val = row.get(key)
                try:
                    if val != val:  # NaN
                        continue
                except Exception:
                    pass
                stats.append(
                    f"<tr><td>{_esc(label)}</td>"
                    f"<td>{_esc(_fmt(val))}</td></tr>")
        svg = _svg_hist(hists.get((seg, col), []))
        seg_note = (f'<div class="small">segment {_esc(seg)}</div>'
                    if seg not in (None, "{}") else "")
        cards.append(
            f'<div class="card"><h2>{_esc(col)}</h2>{seg_note}'
            f"<table>{''.join(stats)}</table>{svg}</div>")
    meta = ""
    if getattr(view, "dataset_timestamp", None) is not None:
        meta = (f'<div class="small">dataset timestamp: '
                f"{_esc(view.dataset_timestamp)}</div>")
    return (
        "<!doctype html><html><head><meta charset='utf-8'>"
        f"<title>{_esc(title)}</title><style>{_CSS}</style></head>"
        f"<body><h1>{_esc(title)}</h1>{meta}"
        f'<div class="grid">{"".join(cards)}</div></body></html>'
    )


def drift_report_html(
    target,
    reference,
    title: str = "Drift report",
    columns: Optional[List[str]] = None,
) -> str:
    """Summary-drift report: the sketch-based drift table (KS / chi2,
    statistic, p-value, category) plus overlaid target-vs-reference
    KLL histograms per numeric column — the reference's
    summary_drift_report rendered lib-free."""
    from .core.drift import calculate_drift_scores

    scores = calculate_drift_scores(target, reference)
    if columns:
        scores = [s for s in scores if s.column in columns]
    rows = []
    for s in sorted(scores, key=lambda x: x.column):
        p = "" if s.p_value is None else _fmt(s.p_value)
        rows.append(
            f"<tr><td>{_esc(s.column)}</td><td>{_esc(s.algorithm)}</td>"
            f"<td>{_esc(_fmt(s.statistic))}</td><td>{p}</td>"
            f'<td class="cat-{_esc(s.category)}">{_esc(s.category)}'
            "</td></tr>")
    t_hists = _kll_histograms(target)
    r_hists = _kll_histograms(reference)
    charts = []
    for s in sorted(scores, key=lambda x: x.column):
        if s.algorithm != "ks":
            continue
        tb = t_hists.get(("{}", s.column))
        rb = r_hists.get(("{}", s.column))
        if not tb or not rb:
            continue
        charts.append(
            f'<div class="card"><h2>{_esc(s.column)}</h2>'
            '<div class="small">reference (grey) vs target (blue)</div>'
            + _svg_hist(rb, color="#9aa0b0", opacity=0.8)
            + _svg_hist(tb, opacity=0.8) + "</div>")
    return (
        "<!doctype html><html><head><meta charset='utf-8'>"
        f"<title>{_esc(title)}</title><style>{_CSS}</style></head>"
        f"<body><h1>{_esc(title)}</h1>"
        "<table><tr><th>column</th><th>algorithm</th><th>statistic"
        f"</th><th>p-value</th><th>category</th></tr>{''.join(rows)}"
        f'</table><div class="grid">{"".join(charts)}</div>'
        "</body></html>"
    )


def write_html(path: str, html_text: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write(html_text)


def constraints_report_html(
    report: Sequence[Tuple[str, int, int]],
    title: str = "Constraints report",
) -> str:
    """Pass/fail table for a ``Constraints.report()`` result — the
    reference visualizer's constraints_report, one dependency-free
    page with a headline pass count."""
    n_pass = sum(1 for _, p, _ in report if p == 1)
    rows = []
    for name, passed, failed in report:
        cls = "cat-NO_DRIFT" if passed == 1 else "cat-DRIFT"
        verdict = "PASS" if passed == 1 else "FAIL"
        rows.append(
            f"<tr><td>{_esc(name)}</td>"
            f'<td class="{cls}">{verdict}</td></tr>')
    return (
        "<!doctype html><html><head><meta charset='utf-8'>"
        f"<title>{_esc(title)}</title><style>{_CSS}</style></head>"
        f"<body><h1>{_esc(title)}</h1>"
        f'<div class="small">{n_pass}/{len(report)} constraints pass'
        "</div><table><tr><th>constraint</th><th>result</th></tr>"
        f"{''.join(rows)}</table></body></html>"
    )


def model_report_html(
    df,
    score_col: str,
    label_col: str,
    prediction_col: Optional[str] = None,
    n_bins: int = 10,
    title: str = "Model performance report",
) -> str:
    """One self-contained model-quality page: exact ROC-AUC + average
    precision, ECE/MCE with a reliability diagram (per-bin confidence
    vs observed accuracy), per-class score distributions, and (when
    ``prediction_col`` is given) the confusion matrix — the model-perf
    counterpart of ``profile_report_html``, same lib-free inline-SVG
    rendering. All aggregates are the existing distributed metrics;
    only bin-sized results reach the driver.
    """
    from pyspark.sql import functions as F

    from .core.model_perf import (confidence_bin, confusion_matrix,
                                  pr_auc_exact, roc_auc_exact)

    auc = roc_auc_exact(df, score_col, label_col).first()
    ap = pr_auc_exact(df, score_col, label_col).first()
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    base = df.filter(s.isNotNull() & ~F.isnan(s)
                     & y.isNotNull() & ~F.isnan(y))
    # ONE binned aggregate feeds the reliability diagram, the
    # per-class histograms AND the ECE/MCE numbers (which are pure
    # driver arithmetic over the collected bins) — three scans total
    # with the two walks above, not six
    cls = (base.groupBy(confidence_bin(s, n_bins).alias("bin"),
                        y.alias("y"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(s).alias("s_sum")).collect())
    rel = {}
    for r in cls:
        b = int(r["bin"])
        n_b, acc_n, s_b = rel.get(b, (0, 0.0, 0.0))
        rel[b] = (n_b + r["n"], acc_n + r["n"] * r["y"],
                  s_b + r["s_sum"])
    n_total = sum(v[0] for v in rel.values())
    ece_val = mce_val = 0.0
    for n_b, pos_b, s_b in rel.values():
        gap = abs(pos_b / n_b - s_b / n_b)
        ece_val += n_b / n_total * gap
        mce_val = max(mce_val, gap)

    def bins_of(value_by_bin):
        return [(i / n_bins, (i + 1) / n_bins,
                 float(value_by_bin.get(i, 0.0)))
                for i in range(n_bins)]

    pos_bins = bins_of({int(r["bin"]): r["n"]
                        for r in cls if r["y"] == 1.0})
    neg_bins = bins_of({int(r["bin"]): r["n"]
                        for r in cls if r["y"] == 0.0})
    conf_bins = bins_of({b: s_b / n_b
                         for b, (n_b, _, s_b) in rel.items()})
    acc_bins = bins_of({b: pos_b / n_b
                        for b, (n_b, pos_b, _) in rel.items()})

    headline = (
        "<table>"
        f"<tr><td>ROC-AUC</td><td>{_esc(_fmt(auc['auc']))}</td></tr>"
        f"<tr><td>average precision</td>"
        f"<td>{_esc(_fmt(ap['average_precision']))}</td></tr>"
        f"<tr><td>ECE</td><td>{_esc(_fmt(ece_val))}</td></tr>"
        f"<tr><td>MCE</td><td>{_esc(_fmt(mce_val))}</td></tr>"
        f"<tr><td>positives</td><td>{auc['n_positive']}</td></tr>"
        f"<tr><td>negatives</td><td>{auc['n_negative']}</td></tr>"
        "</table>")
    cards = [
        f'<div class="card"><h2>headline</h2>{headline}</div>',
        '<div class="card"><h2>score by class</h2>'
        '<div class="small">negatives (grey) vs positives (blue)</div>'
        + _svg_hist(neg_bins, color="#9aa0b0", opacity=0.8)
        + _svg_hist(pos_bins, opacity=0.8) + "</div>",
        '<div class="card"><h2>reliability</h2>'
        '<div class="small">confidence (grey) vs observed accuracy '
        "(blue) per bin — shared [0, 1] scale</div>"
        + _svg_hist(conf_bins, color="#9aa0b0", opacity=0.8,
                    peak=1.0)
        + _svg_hist(acc_bins, opacity=0.8, peak=1.0) + "</div>",
    ]
    if prediction_col is not None:
        cm = confusion_matrix(df, label_col, prediction_col).collect()
        rows = "".join(
            f"<tr><td>{_esc(r['target'])}</td>"
            f"<td>{_esc(r['prediction'])}</td><td>{r['cnt']}</td></tr>"
            for r in cm)
        cards.append(
            '<div class="card"><h2>confusion matrix</h2>'
            "<table><tr><th>target</th><th>prediction</th><th>count"
            f"</th></tr>{rows}</table></div>")
    return (
        "<!doctype html><html><head><meta charset='utf-8'>"
        f"<title>{_esc(title)}</title><style>{_CSS}</style></head>"
        f"<body><h1>{_esc(title)}</h1>"
        f'<div class="grid">{"".join(cards)}</div></body></html>'
    )


def corpus_report_html(
    df,
    text_col: str = "text",
    lang_col: Optional[str] = None,
    source_col: Optional[str] = None,
    title: str = "Corpus report",
    quality_bins: int = 20,
) -> str:
    """One-call corpus health report for a documents table: headline
    counts, exact-duplicate rate, token/char volume, quality-score and
    log-length histograms, and (when the columns are named) language /
    source composition.

    Scale shape: ONE corpus scan produces everything except the
    composition tables — every histogram is a fixed set of conditional
    sums inside a single 1-row aggregate (quality has ``quality_bins``
    cells, length has 10 log10 cells), and the duplicate rate rides
    the same pass as ``approx_count_distinct`` over the normalized
    fingerprint. The composition tables are one extra groupBy capped
    with TakeOrderedAndProject. No per-histogram jobs, no collect of
    raw rows.
    """
    from pyspark.sql import functions as F

    from .ops.dedup import normalized_text
    from .ops.text import token_count, with_quality_score

    d = with_quality_score(df, text_col)
    c = F.col(text_col)
    q = F.col("quality_score")
    n_tok = token_count(c)
    loglen = F.floor(F.log10(F.greatest(F.length(c).cast("double"),
                                        F.lit(1.0))))
    qbin = F.least(F.floor(q * quality_bins),
                   F.lit(quality_bins - 1)).cast("int")
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(c.isNull().cast("long")).alias("n_null"),
        F.sum(F.length(c)).alias("total_chars"),
        F.sum(n_tok).alias("total_tokens"),
        F.avg(q).alias("avg_quality"),
        # null-gate the hash: xxhash64(NULL) returns the SEED (a
        # non-null constant), which would count one phantom distinct
        # value and undercount duplicates whenever null text exists
        F.approx_count_distinct(
            F.when(c.isNotNull(), F.xxhash64(normalized_text(c))))
        .alias("n_unique_est"),
    ]
    for i in range(quality_bins):
        aggs.append(F.sum((qbin == i).cast("long")).alias(f"q{i}"))
    for i in range(10):
        aggs.append(
            F.sum((loglen == i).cast("long")).alias(f"l{i}"))
    r = d.agg(*aggs).collect()[0]

    n_docs = r["n_docs"] or 0
    dup_est = max(n_docs - (r["n_null"] or 0) - (r["n_unique_est"] or 0),
                  0)
    # an empty corpus aggregates sums to null -> count as 0
    q_bins = [(i / quality_bins, (i + 1) / quality_bins,
               r[f"q{i}"] or 0) for i in range(quality_bins)]
    l_bins = [(float(10 ** i), float(10 ** (i + 1)), r[f"l{i}"] or 0)
              for i in range(10)]
    while l_bins and l_bins[-1][2] == 0:
        l_bins.pop()

    def tiles(pairs):
        return "<table>" + "".join(
            f"<tr><td>{_esc(k)}</td><td>{_esc(_fmt(v))}</td></tr>"
            for k, v in pairs) + "</table>"

    headline = tiles([
        ("documents", n_docs),
        ("null text", r["n_null"]),
        ("total characters", r["total_chars"]),
        ("total tokens", r["total_tokens"]),
        ("mean quality score", round(r["avg_quality"], 4)
         if r["avg_quality"] is not None else None),
        ("exact duplicates (est)", dup_est),
        ("duplicate fraction (est)",
         round(dup_est / n_docs, 4) if n_docs else None),
    ])
    cards = [
        f'<div class="card"><h2>headline</h2>{headline}</div>',
        '<div class="card"><h2>quality score</h2>'
        '<div class="small">distribution of the composite [0,1] '
        "heuristic</div>" + _svg_hist(q_bins) + "</div>",
        '<div class="card"><h2>document length</h2>'
        '<div class="small">characters, log10 buckets</div>'
        + _svg_hist(l_bins) + "</div>",
    ]
    for col, label in ((lang_col, "language"), (source_col, "source")):
        if col is None:
            continue
        top = (df.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
               .orderBy(F.col("n").desc(), F.col(col).asc())
               .limit(12).collect())
        rows = "".join(
            f"<tr><td>{_esc(t[col])}</td><td>{t['n']}</td>"
            f"<td>{t['n'] / n_docs:.1%}</td></tr>" for t in top)
        cards.append(
            f'<div class="card"><h2>{label} mix</h2>'
            f"<table><tr><th>{_esc(col)}</th><th>docs</th><th>share"
            f"</th></tr>{rows}</table></div>")
    return (
        "<!doctype html><html><head><meta charset='utf-8'>"
        f"<title>{_esc(title)}</title><style>{_CSS}</style></head>"
        f"<body><h1>{_esc(title)}</h1>"
        f'<div class="grid">{"".join(cards)}</div></body></html>'
    )
