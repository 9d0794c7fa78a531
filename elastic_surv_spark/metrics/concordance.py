"""Concordance index (C-index) as a distributed aggregation.

≡ reference scoring: ``EvalSurv(...).concordance_td()`` (reference
src/elastic_surv/models/base.py:80, delegated to pycox). Two forms:

- ``harrell_cindex``: risk-score concordance (Harrell). A pair (i, j) is
  comparable iff T_i < T_j and E_i = 1; concordant iff risk_i > risk_j;
  risk ties count 0.5. This is the oracle-checkable exact form.
- ``concordance_td``: Antolini time-dependent variant over a survival matrix
  — risk of i at time T_i is 1 - S_i(T_i); used by ``models.base.score``.

Scale: the *pairwise* implementation is a self-join on the comparability
predicate — Spark executes it as a broadcast-nested-loop, O(n²) pairs:
correct and fastest at small evaluation sizes, a scale-killer above ~10⁴
rows. The default is therefore size-gated (``mode="auto"``): below
``exact_threshold`` rows the pairwise join runs; above it the *bucketed*
algorithm runs — still EXACT (bit-identical counts), but O(n·B) work and
linear shuffles, built from three disjoint pair classes:

1. same time-bucket        → per-bucket :func:`harrell_counts` (applyInPandas)
2. diff time, same risk-bucket → per-risk-bucket :func:`harrell_counts`
   with the time bucket as the time (applyInPandas)
3. diff time, diff risk-bucket → bucket-level dominance from a tiny
   (time×risk) count grid (numpy on the driver)

Equal times / equal risks always land in the same bucket (bucket = count
of boundaries ≤ value), so every strict comparison across buckets is
decided by the bucket pair alone — no approximation anywhere; the
approxQuantile boundaries only affect balance, never counts. Pair
*sampling* (``sample_frac``) remains as the estimator for quick sweeps.

Every exact count inside a task or on the driver is ONE numpy core,
:func:`harrell_counts`: dense ranks and ``searchsorted`` over sorted int64
keys, O(n log n · log n_r) with no Python loop over rows or pairs. The
grouped kernels (``harrell_cindex_by``, the bucketed classes 1–2,
``concordance_td_by``, ``models.grouped``) differ only in which slice of
rows they hand it. The Spark self-joins stay as the reference the tests
compare it with. Every kernel that returns a DataFrame derives
``c_index`` from its counts with one Spark expression (:func:`_c_index`),
so the rounding never depends on the kernel.

The time-dependent form is exact at any size the same way: every
comparison made by an event subject at cut index g reads the scalar
``surv[g]``, so the pairs split into one Harrell count per occupied cut.
``concordance_td_exact`` runs all of them as ONE grouped Harrell pass keyed
by cut (each row exploded into the occupied cuts at or before its own), so
its Spark job count does not grow with the number of cuts.
``concordance_td_local`` is the same decomposition in numpy, one core call
per occupied cut — what ``SurvModel.score`` runs on test splits of at most
:data:`EXACT_THRESHOLD` rows, and what ``concordance_td_by`` runs per
group. Rows with a NULL time or curve drop up front in every td kernel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elastic_surv_spark.functions.literals import double_array
from elastic_surv_spark.metrics.brier import step_value

#: the ungrouped auto switch (``harrell_cindex_counts``, ``concordance_td``):
#: the pairwise kernel while the frame has at most this many rows, the
#: linear-shuffle exact kernel above. ``SurvModel.score`` reads it too: up
#: to this many test rows it collects the predictions and scores on the
#: driver (:func:`concordance_td_local`)
EXACT_THRESHOLD = 20_000

#: ``harrell_cindex_by``'s auto switch: grouped_map while the largest group
#: has at most this many rows, bucketed above
GROUPED_EXACT_THRESHOLD = 200_000

def _pairwise_counts(df: DataFrame) -> DataFrame:
    """Self-join form on (t, e, r) columns — O(n²), small-n tool."""
    a = df.select(
        F.col("t").alias("t_i"), F.col("e").alias("e_i"), F.col("r").alias("r_i")
    )
    b = df.select(F.col("t").alias("t_j"), F.col("r").alias("r_j"))
    pairs = a.join(b, (F.col("t_i") < F.col("t_j")) & (F.col("e_i") == 1))
    return pairs.agg(
        F.count("*").alias("n_comparable"),
        F.sum(F.when(F.col("r_i") > F.col("r_j"), 1).otherwise(0)).alias("n_concordant"),
        F.sum(F.when(F.col("r_i") == F.col("r_j"), 1).otherwise(0)).alias("n_tied"),
    )


def _bucket(col, boundaries: list[float]):
    """Monotone bucket id = #boundaries ≤ value (JVM-side; equal values ⇒
    equal bucket, bucket_i > bucket_j ⇒ value_i > value_j)."""
    arr = double_array(boundaries)
    return F.size(F.filter(arr, lambda b: b <= col.cast("double")))


def harrell_counts(
    t: np.ndarray, ev_mask: np.ndarray, r: np.ndarray
) -> tuple[int, int, int]:
    """Exact Harrell ``(comparable, concordant, tied)`` counts over the pairs
    (i, j) with ``ev_mask[i]`` and t_i < t_j: concordant when r_i > r_j,
    tied when r_i == r_j. Rows may come in any order.

    Both columns become dense ranks (``np.unique``), so values compare as
    Spark compares doubles: NaN equals NaN and sorts above every number,
    and −0.0 equals 0.0. Each count is then one ``searchsorted`` of the
    index subjects into a sorted int64 key ``prefix · n_t + time_rank``,
    where the partners with a given prefix and a later time form one key
    range. Ties use the whole risk rank as the prefix. Concordant pairs are
    counted once per bit b of the risk rank, at the highest bit where the
    two ranks differ: i has 1 there, j has 0 and both share the bits
    above, so j's prefix ``rank >> b`` is i's minus one. Work is
    O(n log n · log n_r); memory is a few int64 arrays of n.
    """
    ev = np.flatnonzero(ev_mask)
    if len(ev) == 0:
        return 0, 0, 0
    t_rank = np.unique(np.asarray(t, dtype=float), return_inverse=True)[1].astype(np.int64)
    r_rank = np.unique(np.asarray(r, dtype=float), return_inverse=True)[1].astype(np.int64)
    n_t = int(t_rank.max()) + 1
    t_ev, r_ev = t_rank[ev], r_rank[ev]

    def later(prefix, ev_prefix, ev_t) -> int:
        # rows j with prefix_j == ev_prefix and a time rank above ev_t
        keys = np.sort(prefix * n_t + t_rank)
        lo = np.searchsorted(keys, ev_prefix * n_t + ev_t, side="right")
        hi = np.searchsorted(keys, (ev_prefix + 1) * n_t, side="left")
        return int((hi - lo).sum())

    comparable = later(0, 0, t_ev)
    tied = later(r_rank, r_ev, t_ev)
    concordant = 0
    for b in range(int(r_rank.max()).bit_length()):
        at = ((r_ev >> b) & 1).astype(bool)
        if at.any():
            concordant += later(r_rank >> b, (r_ev[at] >> b) - 1, t_ev[at])
    return comparable, concordant, tied


def _counts_frame(comparable: int, concordant: int, tied: int) -> pd.DataFrame:
    return pd.DataFrame(
        {"n_comparable": [comparable], "n_concordant": [concordant], "n_tied": [tied]}
    )


def _local_harrell(pdf: pd.DataFrame) -> pd.DataFrame:
    """:func:`harrell_counts` of one grouped-map slice — a cohort of
    ``harrell_cindex_by`` or one time bucket of the bucketed kernels
    (class 1) — as a one-row count frame."""
    return _counts_frame(
        *harrell_counts(
            pdf["t"].to_numpy(dtype=float),
            pdf["e"].to_numpy(dtype=float) == 1,
            pdf["r"].to_numpy(dtype=float),
        )
    )


def _local_cross_time(pdf: pd.DataFrame) -> pd.DataFrame:
    """Class 2: rows share ONE risk bucket; count pairs (event i, row j) with
    j in a STRICTLY LATER time bucket and r_j < r_i (concordant) or
    r_j == r_i (tied) — :func:`harrell_counts` with the time bucket as the
    time. Its comparable pairs belong to the grid (class 3), so 0 here."""
    _, concordant, tied = harrell_counts(
        pdf["tb"].to_numpy(dtype=float),
        pdf["e"].to_numpy(dtype=float) == 1,
        pdf["r"].to_numpy(dtype=float),
    )
    return _counts_frame(0, concordant, tied)


def _carry(fn):
    """``fn`` (a slice → one-row count frame kernel) for a grouped map keyed
    by ``_g``: the group value leads the output row."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out = fn(pdf)
        out.insert(0, "_g", pdf["_g"].iloc[0])
        return out

    return run


def _c_index(round_to: int | None = 6):
    """``c_index`` from the count columns: NULL without a comparable pair,
    else (concordant + ½·tied) / comparable, rounded by Spark's ``round``
    (decimal half-up, as DuckDB rounds). Every kernel that returns a
    DataFrame uses it, so the rounding never depends on the kernel."""
    c = F.when(
        F.col("n_comparable") > 0,
        (F.col("n_concordant") + 0.5 * F.col("n_tied")) / F.col("n_comparable"),
    )
    return c if round_to is None else F.round(c, round_to)


def _bucketed_frames(
    df: DataFrame,
    time_col: str,
    event_col: str,
    risk_col: str,
    n_buckets: int = 64,
    cache_input: bool = True,
) -> tuple[DataFrame, DataFrame, int]:
    """The two Spark plans of the bucketed algorithm (exposed for plan-shape
    tests): (grid_counts, local_parts_agg, n_time_buckets). Neither contains
    a row-level join of any kind — only hash aggregates and grouped-map
    sweeps over linear shuffles.

    ``cache_input`` (default): the projected base lazily localCheckpoints
    BEFORE the quantile pass, so the quantile action materializes it once
    and the grid + both grouped-map sweeps read the checkpoint instead of
    each re-running the source plan (4 source evaluations → 1 — the r13
    scan sweep caught the re-reads once a registry row exposed them).
    Callers whose input is ALREADY persisted (the per-cut td
    decompositions) pass False — a checkpoint per cut would pin |cuts|
    corpus-sized copies."""
    base = df.select(
        F.col(time_col).cast("double").alias("t"),
        F.col(event_col).cast("int").alias("e"),
        F.col(risk_col).cast("double").alias("r"),
    ).where(F.col("t").isNotNull() & F.col("r").isNotNull())
    if cache_input:
        base = base.localCheckpoint(eager=False)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    tb_bounds, rb_bounds = (
        base.stat.approxQuantile(["t", "r"], probs, 0.001) if probs else ([], [])
    )
    tb_bounds = sorted(set(tb_bounds))
    rb_bounds = sorted(set(rb_bounds))
    n_tb = len(tb_bounds) + 1
    tagged = base.select(
        "t", "e", "r",
        _bucket(F.col("t"), tb_bounds).alias("tb"),
        _bucket(F.col("r"), rb_bounds).alias("rb"),
    )
    grid = tagged.groupBy("tb", "rb").agg(
        F.count("*").alias("n"), F.sum("e").alias("ne")
    )
    schema = "n_comparable long, n_concordant long, n_tied long"
    part1 = tagged.groupBy("tb").applyInPandas(_local_harrell, schema=schema)
    part2 = tagged.groupBy("rb").applyInPandas(
        _local_cross_time, schema=schema
    )
    local = part1.unionByName(part2).agg(
        F.sum("n_comparable").alias("c1"),
        F.sum("n_concordant").alias("c2"),
        F.sum("n_tied").alias("c3"),
    )
    return grid, local, n_tb


def _grid_dominance(G: np.ndarray, GE: np.ndarray) -> tuple[int, int]:
    """Cross-bucket (class 2+3) counts from the (time-bucket × risk-bucket)
    occupancy grid: ``comparable`` = events × rows in strictly later time
    buckets (any risk bucket), ``concordant`` = events × rows in strictly
    later time AND strictly lower risk buckets (a lower risk BUCKET implies
    a strictly lower risk VALUE — the bucket map is monotone — so no tie
    can cross buckets). ONE kernel shared by the single-population and the
    grouped bucketed paths (as :func:`harrell_counts` is for the slices)."""
    n_tb = G.shape[0]
    rows_per_tb = G.sum(axis=1)
    events_per_tb = GE.sum(axis=1)
    later_rows = np.concatenate([np.cumsum(rows_per_tb[::-1])[::-1][1:], [0]])
    comparable3 = int((events_per_tb * later_rows).sum())
    later_G = np.zeros_like(G)  # later_G[k, c] = Σ_{l>k} G[l, c]
    if n_tb > 1:
        later_G[:-1] = np.cumsum(G[::-1], axis=0)[::-1][1:]
    prefix_later = np.cumsum(later_G, axis=1)  # Σ_{c'<=c}
    conc3 = int((GE[:, 1:] * prefix_later[:, :-1]).sum())  # strictly lower rb
    return comparable3, conc3


def harrell_cindex_counts_bucketed(
    df: DataFrame,
    time_col: str,
    event_col: str,
    risk_col: str,
    n_buckets: int = 64,
    cache_input: bool = True,
) -> DataFrame:
    """Exact Harrell counts with linear shuffles (see module doc). Returns
    the same one-row frame as the pairwise form, computed without any
    nested-loop join — the 100 TB evaluation path. ``cache_input`` per
    :func:`_bucketed_frames` (False when the caller already persisted)."""
    spark = df.sparkSession
    grid_df, local_df, n_tb = _bucketed_frames(
        df, time_col, event_col, risk_col, n_buckets, cache_input=cache_input
    )
    # class 3: bucket-grid dominance (tiny collect: ≤ n_buckets² rows)
    grid = grid_df.collect()
    n_rb = max((row["rb"] for row in grid), default=0) + 1
    G = np.zeros((n_tb, n_rb), dtype=np.int64)
    GE = np.zeros((n_tb, n_rb), dtype=np.int64)
    for row in grid:
        G[row["tb"], row["rb"]] = row["n"]
        GE[row["tb"], row["rb"]] = row["ne"]
    comparable3, conc3 = _grid_dominance(G, GE)

    local = local_df.first()
    comparable = int(local["c1"] or 0) + comparable3
    concordant = int(local["c2"] or 0) + conc3
    tied = int(local["c3"] or 0)
    return spark.createDataFrame(
        [(comparable, concordant, tied)],
        schema="n_comparable long, n_concordant long, n_tied long",
    ).select("*", _c_index().alias("c_index"))


def harrell_cindex_counts(
    df: DataFrame,
    time_col: str,
    event_col: str,
    risk_col: str,
    sample_frac: float | None = None,
    seed: int = 42,
    mode: str = "auto",
    exact_threshold: int = EXACT_THRESHOLD,
    cache_input: bool = True,
) -> DataFrame:
    """One row: (n_comparable, n_concordant, n_tied, c_index rounded 6).

    ``mode``: "pairwise" (O(n²) join), "bucketed" (exact, linear shuffles),
    or "auto" — pairwise below ``exact_threshold`` rows, bucketed above.
    Both modes produce identical counts; auto only picks the cheaper plan.
    Rows with NULL time or risk are excluded up front in EVERY mode (the
    standard missing-risk convention), so the mode switch never changes the
    answer on data with nulls. ``cache_input`` reaches the bucketed
    kernel's checkpoint (:func:`_bucketed_frames`); pass False when the
    input is already persisted.
    """
    if mode not in ("auto", "pairwise", "bucketed"):
        raise ValueError(f"harrell_cindex_counts: unknown mode {mode!r}")
    df = df.where(F.col(time_col).isNotNull() & F.col(risk_col).isNotNull())
    if sample_frac is not None:
        df = df.sample(fraction=sample_frac, seed=seed)
    if mode == "auto":
        # bounded probe: limit(threshold+1) answers "bigger than threshold?"
        # without a full scan of the evaluation frame
        small = df.limit(exact_threshold + 1).count() <= exact_threshold
        mode = "pairwise" if small else "bucketed"
    if mode == "bucketed":
        return harrell_cindex_counts_bucketed(
            df, time_col, event_col, risk_col, cache_input=cache_input
        )
    base = df.select(
        F.col(time_col).alias("t"), F.col(event_col).alias("e"), F.col(risk_col).alias("r")
    )
    return _pairwise_counts(base).select("*", _c_index().alias("c_index"))


def _largest_cohort_exceeds(
    valid: DataFrame, group_col: str, threshold: int
) -> bool:
    """Bounded auto-mode probe for the grouped metrics: does any cohort
    of ``valid`` exceed ``threshold`` rows? The ungrouped auto gates
    bound their probe with ``limit(threshold + 1).count()``; the grouped
    ones paid a FULL ``groupBy().count()`` pass over the entire input
    even when the frame was tiny (ADVICE r12 #3). Probe in two stages:
    the same bounded limit-count first — a frame of ≤ ``threshold`` TOTAL
    rows cannot contain a larger cohort, so only genuinely large inputs
    (where one aggregate pass is noise next to the kernel that follows)
    pay the grouped count."""
    if valid.limit(threshold + 1).count() <= threshold:
        return False
    biggest = (
        valid.groupBy(group_col).count().agg(F.max("count")).first()[0]
    )
    return biggest is not None and biggest > threshold


def harrell_cindex_by(
    df: DataFrame,
    group_col: str,
    time_col: str,
    event_col: str,
    risk_col: str,
    round_to: int | None = 6,
    mode: str = "grouped_map",
    exact_threshold: int = GROUPED_EXACT_THRESHOLD,
) -> DataFrame:
    """Per-group EXACT Harrell C in one grouped-map job: ``(group,
    n_comparable, n_concordant, n_tied, c_index)`` — the discrimination
    leg of the segmented-model metric family (per-cohort KM / td-AUC /
    Brier / now C).

    Each group's counts come from :func:`harrell_counts`, the numpy core
    the bucketed single-population path also runs on its class-1 buckets
    (``_local_harrell`` — exact, tie-correct, O(m log m · log m)), run as
    ONE ``applyInPandas`` task per group: a single shuffle on the group
    key, then embarrassingly parallel counts. Scale contract: one GROUP
    fits one task (the segmented-population shape — many bounded
    segments); a single giant group belongs to the ungrouped size-gated
    ``harrell_cindex_counts``.
    ``c_index`` is NULL for groups with no comparable pair. Rows with
    NULL time or risk are excluded up front — the same EVERY-mode
    convention as ``harrell_cindex_counts`` (they would otherwise enter
    the counts as NaN, the latest time of all).

    ``mode`` (r12, the ungrouped auto-switch mirrored): "grouped_map"
    (default — the registry rows' certified plan shape), "bucketed"
    (:func:`harrell_cindex_by_bucketed`, identical counts, no
    whole-cohort task), or "auto" — probe the LARGEST cohort with one
    grouped count and route to the bucketed kernel when it exceeds
    ``exact_threshold`` rows. Both kernels are exact, so the switch is a
    plan choice, never a semantics change.
    """
    if mode not in ("grouped_map", "bucketed", "auto"):
        raise ValueError(f"harrell_cindex_by: unknown mode {mode!r}")
    if mode == "auto":
        valid = df.where(
            F.col(time_col).isNotNull() & F.col(risk_col).isNotNull()
        )
        mode = (
            "bucketed"
            if _largest_cohort_exceeds(valid, group_col, exact_threshold)
            else "grouped_map"
        )
    if mode == "bucketed":
        return harrell_cindex_by_bucketed(
            df, group_col, time_col, event_col, risk_col, round_to=round_to
        )
    gtype = df.schema[group_col].dataType.simpleString()
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(time_col).cast("double").alias("t"),
        F.col(event_col).cast("int").alias("e"),
        F.col(risk_col).cast("double").alias("r"),
    ).where(F.col("t").isNotNull() & F.col("r").isNotNull())

    counts = base.groupBy("_g").applyInPandas(
        _carry(_local_harrell),
        schema=f"_g {gtype}, n_comparable long, n_concordant long, n_tied long",
    )
    return counts.select(
        F.col("_g").alias(group_col),
        "n_comparable",
        "n_concordant",
        "n_tied",
        _c_index(round_to).alias("c_index"),
    )


def harrell_cindex_by_bucketed(
    df: DataFrame,
    group_col: str,
    time_col: str,
    event_col: str,
    risk_col: str,
    n_buckets: int = 64,
    round_to: int | None = 6,
    cache_input: bool = True,
) -> DataFrame:
    """Per-group EXACT Harrell C for cohorts too big for one task — the
    bucketed decomposition of ``harrell_cindex_counts_bucketed`` grouped:
    ``(group, n_comparable, n_concordant, n_tied, c_index)``, identical
    counts to ``harrell_cindex_by`` (asserted in tests), but NO grouped-map
    task ever holds a whole cohort:

    - class 1 (same time bucket): one ``_local_harrell`` count per
      (group, tb) slice — ~cohort/n_buckets rows per task;
    - class 2 (same risk bucket): one ``_local_cross_time`` count per
      (group, rb) slice — same bound;
    - class 2+3 cross-bucket: the per-group occupancy GRID (≤ n_buckets²
      rows per group BY CONSTRUCTION, independent of cohort size) through
      the shared :func:`_grid_dominance` kernel — distributed as a
      grouped map over the grid, never a driver collect.

    So the scale contract improves from "one GROUP fits one task"
    (``harrell_cindex_by``) to "one group's 1/n_buckets BUCKET SLICE fits
    one task" — raise ``n_buckets`` for bigger cohorts. Bucket boundaries
    are GLOBAL approx-quantiles (one pass); the decomposition is exact for
    ANY boundaries, so per-group skew affects balance, never counts.
    Rows with NULL time or risk are excluded up front (the EVERY-mode
    convention); ``c_index`` is NULL for groups with no comparable pair.
    """
    gtype = df.schema[group_col].dataType.simpleString()
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(time_col).cast("double").alias("t"),
        F.col(event_col).cast("int").alias("e"),
        F.col(risk_col).cast("double").alias("r"),
    ).where(F.col("t").isNotNull() & F.col("r").isNotNull())
    if cache_input:
        # one source evaluation total: the quantile action below
        # materializes the checkpoint, and the two grouped-map sweeps +
        # the grid aggregate read it (the r13 scan sweep found 3 source
        # re-reads once harrell_cindex_cohorts exposed this kernel). The
        # per-cut td decomposition passes False — its base is persisted.
        base = base.localCheckpoint(eager=False)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    tb_bounds, rb_bounds = (
        base.stat.approxQuantile(["t", "r"], probs, 0.001) if probs else ([], [])
    )
    tb_bounds = sorted(set(tb_bounds))
    rb_bounds = sorted(set(rb_bounds))
    n_tb = len(tb_bounds) + 1
    tagged = base.select(
        "_g", "t", "e", "r",
        _bucket(F.col("t"), tb_bounds).alias("tb"),
        _bucket(F.col("r"), rb_bounds).alias("rb"),
    )
    schema = (
        f"_g {gtype}, n_comparable long, n_concordant long, n_tied long"
    )

    part1 = tagged.groupBy("_g", "tb").applyInPandas(
        _carry(_local_harrell), schema=schema
    )
    part2 = tagged.groupBy("_g", "rb").applyInPandas(
        _carry(_local_cross_time), schema=schema
    )
    grid = tagged.groupBy("_g", "tb", "rb").agg(
        F.count("*").alias("n"), F.sum("e").alias("ne")
    )

    def grid_part(pdf: pd.DataFrame) -> pd.DataFrame:
        n_rb = int(pdf["rb"].max()) + 1
        G = np.zeros((n_tb, n_rb), dtype=np.int64)
        GE = np.zeros((n_tb, n_rb), dtype=np.int64)
        G[pdf["tb"], pdf["rb"]] = pdf["n"]
        GE[pdf["tb"], pdf["rb"]] = pdf["ne"]
        comparable3, conc3 = _grid_dominance(G, GE)
        return pd.DataFrame(
            {
                "_g": [pdf["_g"].iloc[0]],
                "n_comparable": [comparable3],
                "n_concordant": [conc3],
                "n_tied": [0],
            }
        )

    part3 = grid.groupBy("_g").applyInPandas(grid_part, schema=schema)
    counts = (
        part1.unionByName(part2)
        .unionByName(part3)
        .groupBy("_g")
        .agg(
            F.sum("n_comparable").alias("n_comparable"),
            F.sum("n_concordant").alias("n_concordant"),
            F.sum("n_tied").alias("n_tied"),
        )
    )
    return counts.select(
        F.col("_g").alias(group_col),
        "n_comparable",
        "n_concordant",
        "n_tied",
        _c_index(round_to).alias("c_index"),
    )


def harrell_cindex(
    df: DataFrame, time_col: str, event_col: str, risk_col: str, **kw
) -> float:
    row = harrell_cindex_counts(df, time_col, event_col, risk_col, **kw).first()
    if row is None or row["c_index"] is None:
        return float("nan")  # no comparable pairs
    return float(row["c_index"])


def concordance_td_exact(
    pred: DataFrame,
    time_col: str,
    event_col: str,
    surv_col: str,
    cuts: list[float],
    mode: str = "auto",
) -> tuple[int, int, int, float | None]:
    """EXACT Antolini time-dependent concordance at ANY population size, in
    one grouped Harrell pass: with curves defined over ``cuts``, every
    comparison made by an event subject whose time maps to cut index g
    reads the scalar column ``surv[g]``, so the pairwise problem
    decomposes into one Harrell count PER OCCUPIED CUT (index events
    restricted to that cut, risk = −surv[g]). Returns ``(n_comparable,
    n_concordant, n_tied, c_index)`` with ``c_index`` None when no pair is
    comparable.

    Plan: the projected ``(t, e, s, cut index)`` base persists (rows with
    a NULL time or curve dropped); one aggregate per cut index (≤ |cuts|+1
    rows, collected) names the occupied cuts and the size of the largest
    per-cut sweep. Each row then explodes into the occupied cut indices at
    or before its own — the only cuts where it can be an index subject or
    a later partner — and ONE :func:`harrell_cindex_by` keyed by cut counts
    every cut at once; the driver sums ≤ |cuts|+1 count rows. The number
    of Spark jobs does not grow with the number of cuts. The before-first-
    cut index (−1) reads S ≡ 1, so its pairs all tie.

    ``mode`` names :func:`harrell_cindex_by`'s kernels: "grouped_map" (one
    task per cut), "bucketed" (no task holds a whole cut's rows), or
    "auto" — grouped_map while the largest cut's sweep holds at most
    :data:`GROUPED_EXACT_THRESHOLD` rows, bucketed above. Both are exact
    and bit-identical to the pairwise form (asserted in tests).
    """
    if mode not in ("grouped_map", "bucketed", "auto"):
        raise ValueError(f"concordance_td_exact: unknown mode {mode!r}")
    cuts_lit = double_array(cuts)
    base = pred.select(
        F.col(time_col).cast("double").alias("t"),
        F.col(event_col).cast("int").alias("e"),
        F.col(surv_col).alias("s"),
        (
            F.size(
                F.filter(cuts_lit, lambda c: c <= F.col(time_col).cast("double"))
            )
            - 1
        ).alias("_gidx"),
    ).where(F.col("t").isNotNull() & F.col("s").isNotNull()).persist()
    try:
        per_cut = (
            base.groupBy("_gidx")
            .agg(
                F.count("*").alias("n"),
                F.sum((F.col("e") == 1).cast("long")).alias("ne"),
            )
            .collect()  # bounded: <= |cuts| + 1 rows
        )
        occupied = sorted(int(r["_gidx"]) for r in per_cut if r["ne"])
        if not occupied:
            return 0, 0, 0, None
        if mode == "auto":
            # the first occupied cut's sweep holds every row at or after it
            largest = sum(r["n"] for r in per_cut if r["_gidx"] >= occupied[0])
            mode = (
                "bucketed" if largest > GROUPED_EXACT_THRESHOLD else "grouped_map"
            )
        occupied_lit = F.expr(f"array({', '.join(map(str, occupied))})")
        cut = F.col("_cut")
        exploded = base.select(
            "*",
            F.explode(F.filter(occupied_lit, lambda c: c <= F.col("_gidx"))).alias(
                "_cut"
            ),
        ).select(
            "_cut",
            "t",
            ((F.col("e") == 1) & (F.col("_gidx") == cut)).cast("int").alias("_eg"),
            # before the first cut S ≡ 1: all tied
            F.when(cut >= 0, -F.element_at("s", cut + 1))
            .otherwise(F.lit(1.0))
            .alias("_r"),
        )
        rows = harrell_cindex_by(
            exploded, "_cut", "t", "_eg", "_r", round_to=None, mode=mode
        ).collect()  # bounded: one row per occupied cut
        comparable = sum(int(r["n_comparable"]) for r in rows)
        concordant = sum(int(r["n_concordant"]) for r in rows)
        tied = sum(int(r["n_tied"]) for r in rows)
        cidx = (
            round((concordant + 0.5 * tied) / comparable, 6) if comparable else None
        )
        return comparable, concordant, tied, cidx
    finally:
        base.unpersist()


def concordance_td_by(
    df: DataFrame,
    group_col: str,
    time_col: str,
    event_col: str,
    surv_col: str,
    cuts: list[float],
    round_to: int | None = 6,
    mode: str = "grouped_map",
    exact_threshold: int = GROUPED_EXACT_THRESHOLD,
) -> DataFrame:
    """Per-group EXACT Antolini time-dependent C-index over a
    survival-curve column: ``(group, n_comparable, n_concordant, n_tied,
    c_index)`` — the last population-only metric grouped (harrell /
    td-AUC / Brier / KM all have per-cohort forms since r9-r10).

    Pair (i, j) comparable iff T_i < T_j and E_i = 1; concordant iff
    S_i(T_i) < S_j(T_i) with S(t) = surv[max {k : cuts[k] <= t}] (1.0
    before the first cut); curve-value ties count 0.5.

    Exact WITHOUT a pairwise join: each group's rows go through
    :func:`concordance_td_local`, the per-cut decomposition the driver
    scoring path runs — one :func:`harrell_counts` call per occupied cut
    (events at cut g, risk = minus the dense rank of surv[:, g]), so no
    O(m²) block is ever built. Same grouped-map scale contract as
    ``harrell_cindex_by`` (one GROUP fits one task; group count is the
    parallelism); ``c_index`` is NULL for groups with no comparable pair.
    NULL times and curves drop in Spark first, so a NaN that reaches the
    task is a real value and compares as Spark compares it.

    ``mode`` (r12): "grouped_map" (default — the registry rows' certified
    plan shape), "exact_by" (:func:`concordance_td_exact_by`, identical
    counts, no whole-cohort task), or "auto" — probe the largest cohort
    and route to the decomposed kernel above ``exact_threshold`` rows.
    """
    if mode not in ("grouped_map", "exact_by", "auto"):
        raise ValueError(f"concordance_td_by: unknown mode {mode!r}")
    if mode == "auto":
        valid = df.where(
            F.col(time_col).isNotNull() & F.col(surv_col).isNotNull()
        )
        mode = (
            "exact_by"
            if _largest_cohort_exceeds(valid, group_col, exact_threshold)
            else "grouped_map"
        )
    if mode == "exact_by":
        return concordance_td_exact_by(
            df, group_col, time_col, event_col, surv_col, cuts,
            round_to=round_to,
        )
    gtype = df.schema[group_col].dataType.simpleString()
    cuts = [float(c) for c in cuts]
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(time_col).cast("double").alias("t"),
        F.col(event_col).cast("int").alias("e"),
        F.col(surv_col).alias("s"),
    ).where(
        # the EVERY-mode missing-value convention: a NULL curve would make
        # np.asarray raise on the ragged input and fail the whole task; a
        # NULL t would corrupt the sort/cut index as NaN
        F.col("t").isNotNull() & F.col("s").isNotNull()
    )

    def td_counts(pdf: pd.DataFrame) -> pd.DataFrame:
        return _counts_frame(
            *concordance_td_local(
                pdf["t"].to_numpy(dtype=float),
                pdf["e"].to_numpy(dtype=float),
                np.asarray(list(pdf["s"]), dtype=float),
                cuts,
            )
        )

    counts = base.groupBy("_g").applyInPandas(
        _carry(td_counts),
        schema=f"_g {gtype}, n_comparable long, n_concordant long, n_tied long",
    )
    return counts.select(
        F.col("_g").alias(group_col),
        "n_comparable",
        "n_concordant",
        "n_tied",
        _c_index(round_to).alias("c_index"),
    )


def concordance_td_exact_by(
    df: DataFrame,
    group_col: str,
    time_col: str,
    event_col: str,
    surv_col: str,
    cuts: list[float],
    n_buckets: int = 64,
    round_to: int | None = 6,
) -> DataFrame:
    """Per-group EXACT Antolini td-concordance at ANY cohort size — the
    per-cut decomposition of :func:`concordance_td_exact` composed with
    the grouped bucketed kernel (:func:`harrell_cindex_by_bucketed`), so
    unlike :func:`concordance_td_by` (one grouped-map task per cohort)
    NO task ever holds a whole cohort: each of the ≤ |cuts|+1 occupied
    cut indices contributes one grouped bucketed pass whose tasks are
    (group, bucket) slices and per-group grids. Returns ``(group,
    n_comparable, n_concordant, n_tied, c_index)`` — integer-identical to
    ``concordance_td_by`` (asserted in tests); ``c_index`` NULL for
    groups with no comparable pair.

    Unlike :func:`concordance_td_exact` this still loops over the cuts in
    Python, one bucketed pass each: folding the cuts into one pass needs a
    ``(group, cut)`` key, and the grouped Harrell kernels carry one scalar
    group key (a struct key fails inside ``applyInPandas``).

    Same EVERY-mode NULL convention as ``concordance_td_by``: rows with a
    NULL time or NULL curve are dropped up front. The input persists
    across the cut passes and releases in ``finally``.
    """
    cuts_lit = double_array(cuts)
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(time_col).cast("double").alias("t"),
        F.col(event_col).cast("int").alias("e"),
        F.col(surv_col).alias("s"),
        (
            F.size(
                F.filter(cuts_lit, lambda c: c <= F.col(time_col).cast("double"))
            )
            - 1
        ).alias("_gidx"),
    ).where(F.col("t").isNotNull() & F.col("s").isNotNull()).persist()
    try:
        occupied = [
            int(r["_gidx"])
            for r in base.filter(F.col("e") == 1)
            .select("_gidx")
            .distinct()
            .collect()  # bounded: <= |cuts| + 1 rows
        ]
        parts = []
        for g in sorted(occupied):
            sub = base.select(
                "_g",
                "t",
                ((F.col("e") == 1) & (F.col("_gidx") == g))
                .cast("int")
                .alias("_eg"),
                (
                    -F.element_at("s", g + 1)
                    if g >= 0
                    else F.lit(1.0)  # before the first cut S ≡ 1: all tied
                ).alias("_r"),
            )
            parts.append(
                harrell_cindex_by_bucketed(
                    sub, "_g", "t", "_eg", "_r",
                    n_buckets=n_buckets, round_to=None,
                    cache_input=False,  # base persisted above: a checkpoint
                    # per cut would pin |cuts| corpus-sized copies
                ).select("_g", "n_comparable", "n_concordant", "n_tied")
            )
        if not parts:
            # no events anywhere: every group still reports a zero-count
            # row with a NULL c_index, exactly like concordance_td_by
            # (an empty frame here would silently drop the cohorts)
            parts = [
                base.select("_g")
                .distinct()
                .select(
                    "_g",
                    F.lit(0).cast("long").alias("n_comparable"),
                    F.lit(0).cast("long").alias("n_concordant"),
                    F.lit(0).cast("long").alias("n_tied"),
                )
            ]
        acc = parts[0]
        for p in parts[1:]:
            acc = acc.unionByName(p)
        counts = acc.groupBy("_g").agg(
            F.sum("n_comparable").alias("n_comparable"),
            F.sum("n_concordant").alias("n_concordant"),
            F.sum("n_tied").alias("n_tied"),
        )
        out = counts.select(
            F.col("_g").alias(group_col),
            "n_comparable",
            "n_concordant",
            "n_tied",
            _c_index(round_to).alias("c_index"),
        )
        # materialize before releasing the persisted base — but keep the
        # return DISTRIBUTED like every sibling metric: an eager
        # localCheckpoint cuts the lineage off `base` without pulling the
        # result through the driver (the previous collect/createDataFrame
        # round-trip funneled every group row driver-side and handed
        # consumers a local table instead of a lazy plan; ADVICE r12 #1)
        return out.localCheckpoint(eager=True)
    finally:
        base.unpersist()


def concordance_td(
    pred: DataFrame,
    time_col: str,
    event_col: str,
    surv_col: str,
    cuts: list[float],
    exact_threshold: int = EXACT_THRESHOLD,
    seed: int = 42,
    mode: str = "auto",
) -> float:
    """Antolini time-dependent C-index over a survival-curve column.

    ``pred`` has one row per subject: (T, E, surv array over ``cuts``).
    Pair (i, j) comparable iff T_i < T_j and E_i = 1; concordant iff
    S_i(T_i) < S_j(T_i) (higher risk at the event time of i), ties 0.5.

    ``mode`` mirrors the Harrell auto-switch (VERDICT r11 stretch #8) —
    population-scale Antolini is EXACT by default, not sampled:

    - ``"auto"`` (default): ≤ ``exact_threshold`` rows → the pairwise
      self-join below (O(n²) pair work, fine at gate size); above it →
      :func:`concordance_td_exact`, the per-cut decomposition run as one
      grouped Harrell pass keyed by cut (linear shuffles, no nested-loop
      join, a job count independent of |cuts|). Both are exact, so the
      gate is a plan choice, not a semantics change.
    - ``"pairwise"`` / ``"exact"``: force one kernel.
    - ``"sample"``: the pre-r12 estimator — uniformly sample to
      ~``exact_threshold`` rows first; kept for quick sweeps where an
      unbiased estimate beats the extra passes.

    Rows with a NULL time or NULL curve drop up front in every mode (the
    missing-value convention of every concordance kernel), so the answer
    does not depend on which side of the switch the frame falls. Outside
    ``"exact"`` (which persists its own base) the projected
    ``(T, E, surv)`` rows persist for the call and are released when it
    returns or raises, so ``pred``'s plan runs once.

    ``SurvModel.score`` (``models.base.score_model``) does not call this:
    it knows the test split's size, so it needs no probe count. Above
    :data:`EXACT_THRESHOLD` test rows it calls
    :func:`concordance_td_exact` on the cached prediction frame directly.
    Below it, it runs the forward pass on the dataset's test arrays on
    the driver (at most that many rows × |cuts| doubles, no Spark job)
    and counts the curves with :func:`concordance_td_local`, which gives
    the pairwise value bit for bit.

    The curve lookup S(t) = surv[max {k : cuts[k] <= t}] is a JVM-side
    higher-order expression evaluated once per event row, at its own T_i;
    the pairwise part is a self-join like Harrell's on those rows, where
    the other side's S_j(T_i) is a plain array index.
    """
    if mode not in ("auto", "pairwise", "exact", "sample"):
        raise ValueError(f"concordance_td: unknown mode {mode!r}")
    pred = pred.where(F.col(time_col).isNotNull() & F.col(surv_col).isNotNull())
    # both sides of the pairwise self-join (and the probe count) read the
    # projected rows: persisted, the input's plan (a model's Python forward
    # pass, say) runs once instead of once per side. The exact kernel
    # persists its own base.
    base = None
    if mode != "exact":
        base = pred = pred.select(time_col, event_col, surv_col).persist()
    try:
        if mode in ("auto", "sample"):
            n = pred.count()
            if n > exact_threshold:
                if mode == "auto":
                    mode = "exact"
                else:
                    pred = pred.sample(fraction=exact_threshold / n, seed=seed)
        if mode == "exact":
            _, _, _, cidx = concordance_td_exact(
                pred, time_col, event_col, surv_col, cuts
            )
            return float("nan") if cidx is None else float(cidx)
        return _pairwise_td(pred, time_col, event_col, surv_col, cuts)
    finally:
        if base is not None:
            base.unpersist()


def _pairwise_td(
    pred: DataFrame, time_col: str, event_col: str, surv_col: str, cuts: list[float]
) -> float:
    """:func:`concordance_td`'s pairwise self-join: O(n²) pair work."""
    # every pair's lookups happen at the index subject's time T_i: resolve
    # its cut index and S_i(T_i) once per event row, so the join only reads
    # S_j(T_i) = s_j[idx_i]
    t_i = F.col(time_col)
    a = (
        pred.filter(F.col(event_col) == 1)
        .select(
            t_i.alias("t_i"),
            F.col(surv_col).alias("s_i"),
            F.size(F.filter(double_array(cuts), lambda c: c <= t_i)).alias("idx_i"),
        )
        .select("t_i", "idx_i", step_value(F.col("s_i"), F.col("idx_i")).alias("si_ti"))
    )
    b = pred.select(F.col(time_col).alias("t_j"), F.col(surv_col).alias("s_j"))
    pairs = a.join(b, F.col("t_i") < F.col("t_j")).select(
        "si_ti", step_value(F.col("s_j"), F.col("idx_i")).alias("sj_ti")
    )
    row = pairs.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("si_ti") < F.col("sj_ti"), 1.0).otherwise(0.0)).alias("conc"),
        F.sum(F.when(F.col("si_ti") == F.col("sj_ti"), 1.0).otherwise(0.0)).alias("tied"),
    ).first()
    if row["n"] == 0:
        return float("nan")
    return float((row["conc"] + 0.5 * row["tied"]) / row["n"])


def concordance_td_local(
    t: np.ndarray, e: np.ndarray, S: np.ndarray, cuts: list[float]
) -> tuple[int, int, int]:
    """:func:`concordance_td` over prediction arrays: times ``t``, events
    ``e`` and curves ``S`` of shape (rows, |cuts|), as
    :func:`~elastic_surv_spark.metrics.brier.prediction_arrays` gives them.
    Returns the exact ``(comparable, concordant, tied)`` Antolini pair
    counts, so ``(concordant + 0.5·tied) / comparable`` is the pairwise
    kernel's value bit for bit. A NaN time or curve value compares as
    Spark compares it (NaN above every number).

    The per-cut decomposition of :func:`concordance_td_exact`: an event
    subject i at cut index g (cuts[g] ≤ T_i < cuts[g+1]; −1 before the
    first cut, where S ≡ 1) compares surv[g] of itself and of each partner,
    and every partner later in time sits at a cut index ≥ g. So each
    occupied cut is one :func:`harrell_counts` call over the rows at cut
    index ≥ g, with the events at g as index subjects and minus the dense
    rank of ``S[:, g]`` as the risk (0 before the first cut). Ranks are
    negated, never values: −NaN would still be NaN and sort on top.
    """
    gidx = np.searchsorted(np.asarray(cuts, dtype=float), t, side="right") - 1
    event = e == 1
    comparable = concordant = tied = 0
    for g in np.unique(gidx[event]):
        rows = gidx >= g
        risk = (
            -np.unique(S[rows, g], return_inverse=True)[1]
            if g >= 0
            else np.zeros(int(rows.sum()))
        )
        c_, co_, ti_ = harrell_counts(t[rows], event[rows] & (gidx[rows] == g), risk)
        comparable += c_
        concordant += co_
        tied += ti_
    return comparable, concordant, tied
