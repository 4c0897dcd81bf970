"""Uplift MODELING: the two-model (T-learner) estimator — fit
separate response models on the treatment and control arms and score
``uplift(x) = P(y|x, T=1) − P(y|x, T=0)`` — closing the loop with the
uplift EVALUATION family (``ops/abtest.py`` uplift_curve / Qini /
AUUC evaluate a given score; this produces one).

Beyond-reference extension family (SURVEY.md §2.12).

Scale shape: two :func:`ops.causal.fit_logistic` fits (each Newton
step is ONE bounded gradient/Hessian aggregate over its arm — the
arm filter is pushed into the scan), then scoring is a pure map-side
double-sigmoid expression: zero shuffle, no Python, composable
directly with ``uplift_curve``.
"""

from __future__ import annotations

from functools import partial
from typing import Dict, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["two_model_uplift", "uplift_score_col"]


def two_model_uplift(
    df: DataFrame,
    treat_col: str,
    label_col: str,
    feature_cols: Sequence[str],
    max_iter: int = 25,
) -> Dict:
    """Fit the T-learner: one IRLS logistic response model per arm.
    Returns ``{"treatment": <fit_logistic dict>, "control": <fit
    dict>, "n_treat", "n_ctrl"}``.  ``treat_col`` must cast to 0/1.
    Score new rows with :func:`uplift_score_col`; evaluate the score
    with ``ops.abtest.uplift_curve`` / ``auuc``.
    """
    from whylogs_spark.core.util import run_concurrent
    from whylogs_spark.ops.causal import fit_logistic

    t = F.col(treat_col).cast("double")
    # The two arm fits are independent (disjoint filters of df), and
    # each is a SEQUENTIAL chain of bounded Newton-step aggregates —
    # overlapping them on driver threads (optimization guide §2.6)
    # lets one arm's jobs back-fill executors idled by the other's
    # step barrier. Each fit's own aggregate sequence (and therefore
    # its coefficients) is byte-identical to the sequential form.
    mt, mc = run_concurrent(df.sparkSession, [
        partial(fit_logistic, df.filter(t == arm), label_col,
                feature_cols, max_iter)
        for arm in (1.0, 0.0)])
    return {"treatment": mt, "control": mc,
            "n_treat": mt["n"], "n_ctrl": mc["n"]}


def uplift_score_col(
    model: Dict,
    feature_cols: Optional[Sequence[str]] = None,
) -> Column:
    """Map-side uplift expression for a :func:`two_model_uplift`
    model: ``sigmoid(x·b_T) − sigmoid(x·b_C)``."""
    from whylogs_spark.ops.causal import logistic_score_col

    return (logistic_score_col(model["treatment"], feature_cols)
            - logistic_score_col(model["control"], feature_cols))
