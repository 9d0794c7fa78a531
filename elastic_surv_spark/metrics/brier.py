"""IPCW (integrated) Brier score as distributed aggregations.

≡ reference scoring: ``EvalSurv(...).integrated_brier_score(linspace(t_min,
t_max, 100))`` with Kaplan-Meier censoring estimate (reference
src/elastic_surv/models/base.py:75-81, delegated to pycox). Definition
(Graf et al. 1999, inverse-probability-of-censoring weighting):

    BS(τ) = 1/N · Σ_i [ S_i(τ)² · 1{T_i ≤ τ, E_i = 1} / G(T_i⁻)
                      + (1 − S_i(τ))² · 1{T_i > τ} / G(τ) ]

where G is the KM estimate of the *censoring* distribution (event flipped).
IBS = ∫ BS(τ) dτ / (τ_max − τ_min), trapezoidal over the grid.

Plan shape: two kernels compute the same numbers.

- :func:`integrated_brier_score_local` runs on the driver over the
  collected prediction arrays (:func:`prediction_arrays`), the path ``SurvModel.score`` takes while the
  test split has at most ``concordance.EXACT_THRESHOLD`` rows (the collect
  is bounded at that many rows × |cuts| doubles, 16 MB at 100 cuts). G(τ_k)
  and the cut index of τ_k are looked up once per grid point, G(T_i⁻) once
  per row (``searchsorted``), and each BS(τ_k) is one ``math.fsum`` over
  the rows, so the result does not depend on the row order.
- :func:`brier_curve` / :func:`integrated_brier_score` are the Spark plan
  for larger splits. Only the prediction depends on the model, so the work
  that does not is done once, in Python or per row, never per (row, τ)
  pair: each grid point's G(τ_k) and cut index ship with τ_k in ONE
  SQL-text array-of-structs literal, exploded against the rows; G(T_i⁻)
  is resolved once per row before the explode, so S_i(τ_k) is a plain
  ``element_at(surv, idx_k)``; one global aggregate per grid point
  finishes the job, and its |grid| rows are collected, ordered and
  integrated in Python. The N-row scan and its expansion are map-only;
  the per-τ aggregate is the one shuffle.

The censoring curve G is the same on both paths, and neither computes it:
``SurvModel.score`` takes it, and the τ grid, from the dataset, which
builds both once per test split. G is a risk table of integer counts per
(quantized) time and one driver-side product-limit step
(:func:`~elastic_surv_spark.metrics.km.km_product`). The dataset counts
the table from the test split's collected arrays when it holds them and
with one Spark aggregate otherwise; the counts are exact either way, so
the curve is the same bits. :func:`censoring_km` is the Spark form for
any frame.

Both integrate with the same trapezoid routine. Rows with a NULL time or
NULL curve are dropped up front (the convention of the concordance
kernels): they neither add a term nor count in the 1/N. Terms with G ≤ 0
are dropped (standard IPCW convention).
"""

from __future__ import annotations

import math
from bisect import bisect_right

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from elastic_surv_spark.functions.literals import double_array, double_sql
from elastic_surv_spark.metrics.km import km_product, risk_counts


def step_lookup(ts: list[float], vals: list[float], t: Column, strict: bool = False) -> Column:
    """Right-continuous step function value at t: vals[max {k : ts[k] <= t}]
    (or < t when strict); 1.0 before the first step. Pure JVM expression.

    Each literal appears once in the expression: Spark parses SQL-text
    literals again at every place a column uses them. Hence the leading
    1.0 in the values, which the count of steps indexes directly."""
    ts_lit = double_array(ts)
    vals_lit = double_array([1.0, *vals])
    cond = (lambda c: c < t) if strict else (lambda c: c <= t)
    return F.element_at(vals_lit, F.size(F.filter(ts_lit, cond)) + 1)


def step_value(vals: Column, idx: Column) -> Column:
    """vals[idx] for idx the 1-based count of steps at or before t; 1.0
    when no step is (idx = 0)."""
    return F.when(idx > 0, F.element_at(vals, idx)).otherwise(F.lit(1.0))


def _step_at(ts: list[float], vals: list[float], x: float) -> float:
    """``step_lookup`` (non-strict) at one point, in Python; ``ts`` sorted."""
    idx = bisect_right(ts, x)
    return float(vals[idx - 1]) if idx > 0 else 1.0


def censoring_km(
    df: DataFrame,
    time_col: str,
    event_col: str,
    max_curve_points: int | None = None,
) -> tuple[list[float], list[float]]:
    """KM of the censoring distribution (event indicator flipped), collected
    as ``(ts, gs)`` with ``ts`` ascending: the risk table's integer counts
    (:func:`~elastic_surv_spark.metrics.km.risk_counts`, one aggregate),
    then :func:`~elastic_surv_spark.metrics.km.km_product` on the driver.
    Rows with a NULL or NaN time are dropped.

    With discrete times the table is one row per distinct time — tiny. With
    continuous times it is one row per subject, so pass ``max_curve_points``
    to quantize first and keep the collect O(max_curve_points) at any n.
    """
    flipped = df.withColumn("_cens", 1 - F.col(event_col).cast("int"))
    ts, n, censored = risk_counts(flipped, time_col, "_cens", max_curve_points)
    return ts, km_product(n, censored)


def brier_curve(
    pred: DataFrame,
    time_col: str,
    event_col: str,
    surv_col: str,
    cuts: list[float],
    grid: list[float],
    censoring: tuple[list[float], list[float]],
) -> DataFrame:
    """BS(τ) for each τ in grid: ``(k, tau, brier)``, one row per grid
    point, in no particular order.

    ``surv_col`` holds each subject's predicted survival at the sorted
    ``cuts`` (S(τ) = surv[last cut ≤ τ], 1.0 before the first cut);
    ``censoring`` is the ``(ts, gs)`` pair :func:`censoring_km` returns.
    Rows with a NULL time or NULL curve are dropped before the 1/N.
    """
    ts, gs = censoring
    pred = pred.where(F.col(time_col).isNotNull() & F.col(surv_col).isNotNull())
    points = ", ".join(
        f"named_struct('k', {k}, 'tau', {double_sql(tau)}, "
        f"'g_tau', {double_sql(_step_at(ts, gs, tau))}, "
        f"'sidx', {bisect_right(cuts, tau)})"
        for k, tau in enumerate(grid)
    )
    expanded = pred.select(
        F.col(time_col).alias("_t"),
        F.col(event_col).cast("int").alias("_e"),
        F.col(surv_col).alias("_s"),
        step_lookup(ts, gs, F.col(time_col), strict=True).alias("_g_tminus"),
    ).select("*", F.inline(F.expr(f"array({points})")))

    t, e, tau = F.col("_t"), F.col("_e"), F.col("tau")
    g_tminus, g_tau = F.col("_g_tminus"), F.col("g_tau")
    s_tau = step_value(F.col("_s"), F.col("sidx"))

    term_event = F.when(
        (t <= tau) & (e == 1) & (g_tminus > 0), (s_tau ** 2) / g_tminus
    ).otherwise(F.lit(0.0))
    term_alive = F.when((t > tau) & (g_tau > 0), ((1 - s_tau) ** 2) / g_tau).otherwise(
        F.lit(0.0)
    )
    return expanded.groupBy("k", "tau").agg(
        (F.sum(term_event + term_alive) / F.count("*")).alias("brier")
    )


def integrated_brier_score(
    pred: DataFrame,
    time_col: str,
    event_col: str,
    surv_col: str,
    cuts: list[float],
    grid: list[float],
    censoring: tuple[list[float], list[float]],
) -> float:
    """Trapezoidal IBS over the grid (≡ EvalSurv.integrated_brier_score);
    NaN when the grid spans no time (fewer than two points, or all equal)."""
    rows = sorted(
        brier_curve(pred, time_col, event_col, surv_col, cuts, grid, censoring).collect(),
        key=lambda r: r["k"],
    )
    return _trapezoid([float(r["tau"]) for r in rows], [float(r["brier"]) for r in rows])


def _trapezoid(taus: list[float], bs: list[float]) -> float:
    """∫ BS(τ) dτ / (τ_max − τ_min) over the grid, trapezoidal, summed in
    grid order; NaN when the grid spans no time."""
    if len(bs) < 2 or taus[-1] == taus[0]:
        return float("nan")
    area = 0.0
    for i in range(len(bs) - 1):
        area += 0.5 * (bs[i] + bs[i + 1]) * (taus[i + 1] - taus[i])
    return area / (taus[-1] - taus[0])


def prediction_arrays(
    pdf: pd.DataFrame, time_col: str, event_col: str, surv_col: str, n_cuts: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(t, e, S)`` float arrays of a collected prediction frame, ``S`` of
    shape (rows, ``n_cuts``), without the rows whose time or curve is
    NULL (a NaN time reads as NULL: the collect cannot tell them apart)."""
    keep = pdf[time_col].notna() & pdf[surv_col].notna()
    pdf = pdf[keep]
    t = pdf[time_col].to_numpy(dtype=float)
    e = pdf[event_col].to_numpy(dtype=float)
    if len(pdf):
        S = np.stack([np.asarray(s, dtype=float) for s in pdf[surv_col]])
    else:
        S = np.empty((0, n_cuts))
    return t, e, S


def integrated_brier_score_local(
    t: np.ndarray,
    e: np.ndarray,
    S: np.ndarray,
    cuts: list[float],
    grid: list[float],
    censoring: tuple[list[float], list[float]],
) -> float:
    """:func:`integrated_brier_score` over prediction arrays (times ``t``,
    events ``e``, curves ``S`` of shape (rows, |cuts|), as
    :func:`prediction_arrays` gives them), in numpy: the same terms, each
    BS(τ) an exactly rounded ``math.fsum`` over the rows, so the value does
    not depend on the row order and differs from the Spark kernel only by
    that kernel's summation order."""
    ts, gs = censoring
    n = len(t)
    if n == 0:
        return float("nan")
    # G(T_i⁻): the last censoring step strictly before T_i, 1.0 before any
    g_tminus = np.concatenate([[1.0], gs])[np.searchsorted(ts, t, side="left")]
    event = e == 1
    bs = []
    with np.errstate(divide="ignore", invalid="ignore"):
        for tau in grid:
            sidx = bisect_right(cuts, tau)
            s_tau = S[:, sidx - 1] if sidx > 0 else np.ones(n)
            g_tau = _step_at(ts, gs, tau)
            term_event = np.where(
                (t <= tau) & event & (g_tminus > 0), s_tau**2 / g_tminus, 0.0
            )
            term_alive = np.where((t > tau) & (g_tau > 0), (1 - s_tau) ** 2 / g_tau, 0.0)
            bs.append(math.fsum(term_event + term_alive) / n)
    return _trapezoid(list(grid), bs)


def ipcw_brier_km_by(
    df: DataFrame,
    group_col: str,
    time_col: str,
    event_col: str,
    n_grid: int = 20,
    max_curve_points: int = 512,
    round_to: int | None = 6,
    cache_input: bool = True,
) -> DataFrame:
    """Per-group IPCW Brier of each group's OWN KM predictor over an
    ``n_grid``-point per-group time grid: ``(group, k, tau, brier)``.

    Unlike the population row (which collects two bounded curves to the
    driver), the grouped form stays FULLY in-plan — at a million segments
    there are no driver-side curves to collect:

    - S and G are ``km_curve_by`` outputs (one hash-aggregate + bounded
      group-partitioned windows each; the shared time domain quantizes
      once upfront so every subject time IS a curve point);
    - G(T⁻) is a lag over the group-partitioned censoring curve, attached
      to subjects by a (group, t) equi-join;
    - S(τ)/G(τ) resolve by an in-plan as-of lookup: grid rows join curve
      points at ``t ≤ τ`` and a (group, k) row_number keeps the latest —
      join volume is curve_points × n_grid PER GROUP, bounded by the
      quantization cap regardless of group size;
    - per-τ means use DECIMAL(38,18) sums (order-free, engine-portable).

    Terms with G ≤ 0 drop (standard IPCW convention), matching the
    population row's formula exactly — a single-group input reproduces
    ``ipcw_brier_km_grid``'s values.
    """
    from pyspark.sql.window import Window

    from elastic_surv_spark.metrics.km import km_curve_by, quantize_times

    if n_grid < 2:
        raise ValueError("n_grid must be >= 2 (grid step divides by n_grid - 1)")
    g = group_col
    base = df.select(
        F.col(g),
        F.col(time_col).cast("double").alias("_t"),
        F.col(event_col).cast("int").alias("_e"),
    )
    if cache_input:
        # one source evaluation total: quantize_times' eager stats jobs
        # materialize the checkpoint, and the S curve, G curve, bounds and
        # subject-terms consumers below all read it instead of re-running
        # the source plan (~6 evaluations un-cached — the r13 scan sweep).
        # Callers whose input is already checkpointed (the segmented
        # pipelines' scored frame) pass False.
        base = base.localCheckpoint(eager=False)
    base = quantize_times(base, "_t", max_curve_points)
    s_curve = km_curve_by(base, "_t", "_e", g, round_to=10).select(
        F.col(g), F.col("t"), F.col("survival").alias("_s")
    )
    g_curve = km_curve_by(
        base.withColumn("_c", 1 - F.col("_e")), "_t", "_c", g, round_to=10
    ).select(F.col(g), F.col("t"), F.col("survival").alias("_gs"))
    w_lag = Window.partitionBy(g).orderBy(F.asc("t"))
    gprev = g_curve.select(
        F.col(g),
        F.col("t").alias("_t"),
        F.lag("_gs", 1, 1.0).over(w_lag).alias("_g_tminus"),
    )
    bounds = base.groupBy(g).agg(
        F.min("_t").alias("_tmin"), F.max("_t").alias("_tmax")
    )
    grid = bounds.select(
        F.col(g),
        F.explode(F.sequence(F.lit(0), F.lit(n_grid - 1))).alias("k"),
        "_tmin",
        "_tmax",
    ).select(
        F.col(g),
        "k",
        (
            F.col("_tmin")
            + F.col("k") * (F.col("_tmax") - F.col("_tmin")) / F.lit(float(n_grid - 1))
        ).alias("tau"),
    )

    def lookup(curve: DataFrame, val: str, out: str) -> DataFrame:
        c = curve.select(
            F.col(g).alias("_lg"), F.col("t").alias("_lt"), F.col(val).alias(out)
        )
        wk = Window.partitionBy(g, "k").orderBy(F.desc("_lt"))
        return (
            grid.join(
                c, (F.col(g) == F.col("_lg")) & (F.col("_lt") <= F.col("tau")), "left"
            )
            .withColumn("_rn", F.row_number().over(wk))
            .filter(F.col("_rn") == 1)
            .select(F.col(g), "k", "tau", F.coalesce(out, F.lit(1.0)).alias(out))
        )

    grid_vals = lookup(s_curve, "_s", "_s_tau").join(
        lookup(g_curve, "_gs", "_g_tau").drop("tau"), [g, "k"]
    )
    rows = base.join(gprev, [g, "_t"], "left").withColumn(
        "_g_tminus", F.coalesce("_g_tminus", F.lit(1.0))
    )
    expanded = rows.join(grid_vals, g)
    t, e, tau = F.col("_t"), F.col("_e"), F.col("tau")
    s_tau, g_tminus, g_tau = F.col("_s_tau"), F.col("_g_tminus"), F.col("_g_tau")
    term = (
        F.when(
            (t <= tau) & (e == 1),
            F.when(g_tminus > 0, F.pow(s_tau, 2) / g_tminus).otherwise(0.0),
        )
        .when(t > tau, F.when(g_tau > 0, F.pow(1.0 - s_tau, 2) / g_tau).otherwise(0.0))
        .otherwise(0.0)
    )
    out = (
        expanded.select(F.col(g), "k", tau.alias("tau"), term.alias("_term"))
        .groupBy(g, "k", "tau")
        .agg(
            (
                F.sum(F.col("_term").cast("decimal(38,18)")).cast("double")
                / F.count("*")
            ).alias("brier")
        )
    )
    if round_to is not None:
        out = out.withColumn("tau", F.round("tau", round_to)).withColumn(
            "brier", F.round("brier", round_to)
        )
    return out.select(g, "k", "tau", "brier")

