"""Kaplan-Meier censoring/survival estimator: a risk table of integer
counts, then the product-limit curve.

≡ reference: KM is used inside scoring via pycox ``EvalSurv(...,
censor_surv="km")`` (reference src/elastic_surv/models/base.py:75). Both
forms here count the rows and events at each distinct time, derive the
at-risk counts as a reverse cumulative sum, and take the product-limit
curve as ``exp(Σ log(max(1e-300, 1 − d/n)))`` in time order.

- :func:`km_curve` (and the grouped, Nelson-Aalen, RMST and Greenwood
  curves the registry rows build on it) is a Spark plan: one grouped
  aggregate over the raw rows, then cumulative windows over the
  *aggregated* curve. The curve windows are partitioned on a constant:
  the frame is bounded by construction, so the one-task sort is
  deliberate (and the planner knows the partitioning instead of warning
  about an undefined one).
- :func:`risk_counts` collects only the integer risk table (one aggregate,
  O(curve points) rows), :func:`risk_counts_np` builds the same table from
  driver arrays, and :func:`km_product` multiplies it out on the driver,
  in the windows' operation order. Integers, min/max and the quantized
  times are exact, so the two tables are equal and the curve does not
  depend on which one it came from. Scoring's censoring curve takes this
  form (``brier.censoring_km``, ``SurvDataset``).

With continuous times the curve domain is one row per subject — unbounded
— so ``max_curve_points`` gates an equidistant time quantization BEFORE the
aggregate: it only activates when the distinct-time count exceeds the cap
(value-identical below it), after which the curve, the windows, and any
driver collect are O(max_curve_points) regardless of n.
:func:`quantize_times` is the Spark form and :func:`_np_quantize` its
numpy twin (the same arithmetic, so the same doubles).
"""

from __future__ import annotations

import math
from itertools import accumulate

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def quantize_times(
    df: DataFrame, time_col: str, max_curve_points: int,
    stats: tuple[int, float | None, float | None] | None = None,
) -> DataFrame:
    """Equidistant time coarsening to ≤ max_curve_points+1 distinct values
    (each time maps to its bin's upper edge — the standard life-table
    discretization). No-op when the distinct-time count is already within
    the cap, so small-scale results are bit-identical to the exact form.
    Portable semantics: plain min/max + ceil arithmetic, reproducible in SQL.

    The coarsening needs the time column's distinct count and, above the
    cap, its min and max: two eager jobs on ``df``. ``stats`` passes them
    precomputed as ``(distinct count, min, max)`` instead — for callers
    whose ``df`` is expensive to execute (e.g. carries a model-inference
    mapInPandas stage) but whose raw input shares the time column, such as
    ``SurvDataset.train_time_stats``; then no job runs here.
    """
    if stats is None:
        nd = df.select(F.countDistinct(time_col).alias("nd")).first()["nd"]
        if nd <= max_curve_points:
            return df
        row = df.agg(
            F.min(time_col).cast("double").alias("lo"),
            F.max(time_col).cast("double").alias("hi"),
        ).first()
        stats = (nd, row["lo"], row["hi"])
    nd, lo, hi = stats
    if nd <= max_curve_points:
        return df
    lo, hi = float(lo), float(hi)
    width = (hi - lo) / max_curve_points
    t = F.col(time_col).cast("double")
    # bin index clamped to max_curve_points: IEEE division can put
    # ceil((hi-lo)/width) at max_curve_points+1 for ~1% of (lo, hi) ranges,
    # which would leak an extra distinct value past the cap
    k = F.least(F.lit(float(max_curve_points)), F.ceil((t - F.lit(lo)) / F.lit(width)))
    quant = F.least(F.lit(hi), F.lit(lo) + k * F.lit(width))
    return df.withColumn(time_col, quant)



def _np_quantize(
    t: np.ndarray, cap: int,
    stats: tuple[int, float | None, float | None] | None = None,
) -> np.ndarray:
    """numpy form of :func:`quantize_times` (the same min/max + ceil
    arithmetic, so the same doubles): a no-op at ≤ ``cap`` distinct times.
    ``stats`` passes ``(distinct count, min, max)`` precomputed, as there."""
    if stats is None:
        nd = len(np.unique(t))
        if nd <= cap:
            return t
        stats = (nd, t.min(), t.max())
    nd, lo, hi = stats
    if nd <= cap:
        return t
    lo, hi = float(lo), float(hi)
    width = (hi - lo) / cap
    k = np.minimum(float(cap), np.ceil((t - lo) / width))
    return np.minimum(hi, lo + k * width)


def risk_counts(
    df: DataFrame,
    time_col: str,
    event_col: str,
    max_curve_points: int | None = None,
    stats: tuple[int, float | None, float | None] | None = None,
) -> tuple[list[float], list[int], list[int]]:
    """The risk table's integer counts, collected: ``(ts, n, d)`` with
    ``ts`` the ascending distinct times (as double, quantized by
    ``max_curve_points`` as in :func:`quantize_times`, which ``stats``
    feeds), ``n`` the rows and ``d`` the events (``event_col`` cast to
    long, NULL counting 0) at each. Rows with a NULL or NaN time are
    dropped. One aggregate; the collect is O(max_curve_points) rows."""
    t = F.col(time_col).cast("double")
    df = df.where(t.isNotNull() & ~F.isnan(t)).select(
        t.alias("_t"), F.col(event_col).cast("long").alias("_d")
    )
    if max_curve_points is not None:
        df = quantize_times(df, "_t", max_curve_points, stats=stats)
    rows = sorted(
        df.groupBy("_t")
        .agg(F.count("*").alias("n"), F.sum("_d").alias("d"))
        .collect(),
        key=lambda r: r["_t"],
    )
    return (
        [float(r["_t"]) for r in rows],
        [int(r["n"]) for r in rows],
        [int(r["d"] or 0) for r in rows],
    )


def risk_counts_np(
    t: np.ndarray,
    d: np.ndarray,
    max_curve_points: int | None = None,
    stats: tuple[int, float | None, float | None] | None = None,
) -> tuple[list[float], list[int], list[int]]:
    """:func:`risk_counts` over driver arrays: times ``t`` and event
    indicators ``d`` (truncated to integers as Spark's cast truncates, NaN
    counting 0). Equal to the Spark aggregate's table: NaN times are
    dropped, −0.0 groups with 0.0, and the quantization is
    :func:`_np_quantize`."""
    keep = ~np.isnan(t)
    t = t[keep] + 0.0  # -0.0 + 0.0 is 0.0: Spark groups the two as one key
    if max_curve_points is not None:
        t = _np_quantize(t, max_curve_points, stats)
    ts, inverse = np.unique(t, return_inverse=True)
    n = np.bincount(inverse, minlength=len(ts))
    d = np.bincount(
        inverse, weights=np.nan_to_num(np.trunc(d[keep]), nan=0.0), minlength=len(ts)
    )
    return ts.tolist(), n.tolist(), d.astype(np.int64).tolist()


def km_product(n: list[int], d: list[int]) -> list[float]:
    """Product-limit curve of a risk table's counts (rows ``n`` and events
    ``d`` per ascending time), on the driver: S = exp(Σ log(max(1e-300,
    1 − d/n_risk))), with n_risk the rows at or after each time. The sum
    runs in time order and starts as Spark's running ``sum`` does, so
    this is :func:`_km_survival`'s window arithmetic on the same counts,
    apart from the last bit where the JVM's ``StrictMath`` log/exp and
    the C library's differ."""
    at_risk = list(accumulate(reversed(n)))[::-1]
    acc, curve = 0.0, []
    for dk, nk in zip(d, at_risk):
        acc += math.log(max(1e-300, 1.0 - dk / nk))
        curve.append(math.exp(acc))
    return curve


def _risk_table(
    df: DataFrame,
    time_col: str,
    event_col: str,
    group_col: str | None = None,
    max_curve_points: int | None = None,
):
    """THE curve scaffolding, defined once (the r11 deferral): quantize →
    one (``[group,] t``) hash-aggregate → reverse-cumulative at-risk
    counts. Returns ``(risk_table, w_fwd)`` where the risk table carries
    ``([group,] t, n_total, n_event, n_risk)`` and ``w_fwd`` is the
    forward cumulative window every curve statistic folds over — KM's
    log-product, Nelson-Aalen's hazard sum, Greenwood's variance sum.

    Partitioning: the per-group form partitions every window on the real
    cohort key (cohort cardinality is free); the global form partitions on
    ``pmod(n_total, 1)`` — a constant-VALUED column that is not foldable
    (a bare literal would constant-fold out of the partition spec and the
    window would degrade to the warned unpartitioned one-reducer form).
    The frame is the bounded aggregated curve — one deliberate task.
    """
    if max_curve_points is not None:
        df = quantize_times(df, time_col, max_curve_points)
    keys = ([F.col(group_col)] if group_col else []) + [
        F.col(time_col).alias("t")
    ]
    grouped = df.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum(F.col(event_col).cast("long")).alias("n_event"),
    )
    if group_col is None:
        grouped = grouped.withColumn("_p", F.pmod(F.col("n_total"), F.lit(1)))
        part = "_p"
    else:
        part = group_col
    w_rev = (
        Window.partitionBy(part)
        .orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(part)
        .orderBy(F.asc("t"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grouped = grouped.withColumn(
        "n_risk", F.sum("n_total").over(w_rev).cast("long")
    )
    return grouped, w_fwd


def _km_survival(w_fwd):
    """S(t) = exp(Σ log(1 − d/n)) over the forward window.

    ``log(max(eps, 1 − d/n))`` guards the all-events-at-last-time case
    where the factor is 0 (Spark's ``log(0)`` is NULL, duckdb's is −inf;
    the guard makes both engines produce survival == 0 after rounding)."""
    return F.exp(
        F.sum(
            F.log(
                F.greatest(
                    F.lit(1e-300),
                    F.lit(1.0) - F.col("n_event") / F.col("n_risk"),
                )
            )
        ).over(w_fwd)
    )


def km_curve(
    df: DataFrame,
    time_col: str,
    event_col: str,
    round_to: int | None = 6,
    max_curve_points: int | None = None,
) -> DataFrame:
    """Product-limit estimate.

    Returns one row per distinct time: (t, n_risk, n_event, n_censored,
    survival), ordered semantics: S(t) = prod_{t_i <= t} (1 - d_i / n_i).

    ``max_curve_points`` bounds the curve domain for continuous times (see
    module doc) — pass it whenever the result is collected or windowed and
    n is unbounded.
    """
    grouped, w_fwd = _risk_table(
        df, time_col, event_col, max_curve_points=max_curve_points
    )
    curve = grouped.withColumn("survival", _km_survival(w_fwd)).withColumn(
        "n_censored", (F.col("n_total") - F.col("n_event")).cast("long")
    )
    if round_to is not None:
        curve = curve.withColumn("survival", F.round(F.col("survival"), round_to))
    return curve.select("t", "n_risk", "n_event", "n_censored", "survival")


def km_curve_by(
    df: DataFrame,
    time_col: str,
    event_col: str,
    group_col: str,
    round_to: int | None = 6,
    max_curve_points: int | None = None,
) -> DataFrame:
    """Per-group product-limit curves in ONE pass: ``km_curve`` with every
    window partitioned by the real cohort key instead of the bounded-curve
    constant — (group, t, n_risk, n_event, n_censored, survival).

    The "many survival models" shape (one KM per segment/cohort/stratum):
    a single (group, t) hash-aggregate then group-partitioned cumulative
    windows — no per-group job scheduling, cohort cardinality is free.
    ``max_curve_points`` quantizes the shared time domain first (same
    boundedness contract as ``km_curve``) so each group's curve is capped
    for continuous times.
    """
    grouped, w_fwd = _risk_table(
        df, time_col, event_col, group_col=group_col,
        max_curve_points=max_curve_points,
    )
    curve = grouped.withColumn("survival", _km_survival(w_fwd)).withColumn(
        "n_censored", (F.col("n_total") - F.col("n_event")).cast("long")
    )
    if round_to is not None:
        curve = curve.withColumn("survival", F.round(F.col("survival"), round_to))
    return curve.select(group_col, "t", "n_risk", "n_event", "n_censored", "survival")


def km_survival_at(
    df: DataFrame,
    time_col: str,
    event_col: str,
    t,
    max_curve_points: int | None = None,
) -> float:
    """S(t) lookup — the last curve point at or before t.
    ``max_curve_points`` bounds the curve on continuous times (see rmst)."""
    curve = km_curve(
        df, time_col, event_col, round_to=None,
        max_curve_points=max_curve_points,
    )
    row = (
        curve.filter(F.col("t") <= t)
        .orderBy(F.desc("t"))
        .select("survival")
        .first()
    )
    return 1.0 if row is None else float(row[0])


def na_curve(
    df: DataFrame,
    time_col: str,
    event_col: str,
    round_to: int | None = 6,
    max_curve_points: int | None = None,
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimate: H(t) = Σ_{t_i ≤ t} d_i/n_i.

    Same O(|distinct times|) curve shape as :func:`km_curve` (one
    hash-aggregate to distinct times, constant-partition windows over the
    tiny aggregate). The per-time hazard increment d/n is a single IEEE
    division; its running sum goes through DECIMAL(38,18) so the cumsum is
    exact and engine-portable (a float cumsum would depend on evaluation
    order)."""
    grouped, w_fwd = _risk_table(
        df, time_col, event_col, max_curve_points=max_curve_points
    )
    curve = grouped.withColumn(
        "cum_hazard",
        F.sum(
            (
                F.col("n_event").cast("double") / F.col("n_risk").cast("double")
            ).cast("decimal(38,18)")
        )
        .over(w_fwd)
        .cast("double"),
    )
    if round_to is not None:
        curve = curve.withColumn("cum_hazard", F.round("cum_hazard", round_to))
    return curve.select(
        "t", "n_risk", F.col("n_event").cast("long").alias("n_event"), "cum_hazard"
    )


def rmst(
    df: DataFrame,
    time_col: str,
    event_col: str,
    round_to: int = 6,
    max_curve_points: int | None = None,
) -> DataFrame:
    """Restricted mean survival time: ∫₀^τ S(t) dt with τ = the largest
    observed time — the step-function integral of the KM curve,
    Σ_i S(t_{i-1}) · (t_i − t_{i-1}) with S ≡ 1 before the first time.

    One row (tau, rmst_value). Computed from the ROUNDED survival curve so
    the SQL oracle reproduces it bit-for-bit; the segment products pass
    through DECIMAL(38,18) for an order-free exact sum. Runs on the
    O(|distinct times|) curve table only.

    ``max_curve_points`` passes through to :func:`km_curve` — on
    CONTINUOUS times (one distinct time per subject) the curve's
    constant-partition window otherwise funnels all n times into one
    task's sort; the default stays None because the registry oracles pin
    the exact (uncapped) curve. ``round_to`` rounds the final integral;
    the curve itself stays at km_curve's 6-digit rounding (the
    engine-parity hinge the oracle mirrors)."""
    curve = km_curve(df, time_col, event_col, max_curve_points=max_curve_points)
    curve = curve.withColumn("_p", F.pmod(F.col("n_risk"), F.lit(1)))
    w = Window.partitionBy("_p").orderBy(F.asc("t"))
    seg = curve.select(
        F.col("t"),
        (
            F.lag("survival", 1, 1.0).over(w)
            * (F.col("t") - F.lag("t", 1, 0).over(w)).cast("double")
        ).cast("decimal(38,18)").alias("_seg"),
    )
    return seg.agg(
        F.max("t").cast("double").alias("tau"),
        F.round(
            F.coalesce(F.sum("_seg"), F.lit(0)).cast("double"), round_to
        ).alias("rmst_value"),
    )


def km_ci_curve(
    df: DataFrame,
    time_col: str,
    event_col: str,
    z: float = 1.96,
    round_to: int = 6,
    max_curve_points: int | None = None,
) -> DataFrame:
    """KM curve with Greenwood variance and linear confidence bands.

    Greenwood's formula: Var[S(t)] = S(t)² · Σ_{t_i ≤ t} d_i/(n_i(n_i−d_i));
    bands are the plain linear S ± z·se clamped to [0, 1] (documented
    choice — log-log bands need transcendental parity both engines would
    have to round identically at every step). Terms with n_i == d_i (the
    curve has hit 0) contribute 0 — S is 0 there and stays 0.

    Same scale/parity posture as the other curves: one hash-aggregate to
    distinct times, windows over the tiny curve table, the Greenwood
    increments DECIMAL(38,18)-summed, and variance/bands derived from the
    ROUNDED survival so the SQL oracle is bit-identical.
    """
    if max_curve_points is not None:
        df = quantize_times(df, time_col, max_curve_points)
    curve = km_curve(df, time_col, event_col, round_to=round_to)
    curve = curve.withColumn("_p", F.pmod(F.col("n_risk"), F.lit(1)))
    w_fwd = (
        Window.partitionBy("_p")
        .orderBy(F.asc("t"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    g = F.when(
        F.col("n_risk") > F.col("n_event"),
        F.col("n_event").cast("double")
        / (F.col("n_risk") * (F.col("n_risk") - F.col("n_event"))).cast("double"),
    ).otherwise(F.lit(0.0))
    with_var = curve.withColumn(
        "_gsum",
        F.sum(g.cast("decimal(38,18)")).over(w_fwd).cast("double"),
    ).withColumn(
        "greenwood_var",
        F.round(F.col("survival") * F.col("survival") * F.col("_gsum"), round_to),
    )
    se = F.sqrt(F.col("greenwood_var"))
    return with_var.select(
        "t",
        "n_risk",
        "n_event",
        "survival",
        "greenwood_var",
        F.round(F.greatest(F.col("survival") - F.lit(z) * se, F.lit(0.0)), round_to).alias("ci_lo"),
        F.round(F.least(F.col("survival") + F.lit(z) * se, F.lit(1.0)), round_to).alias("ci_hi"),
    )
