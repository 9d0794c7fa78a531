"""SurvDataset — featurized train/test splits feeding the models.

≡ reference dataflow: ``BasicDataset`` construction → encoder fit → prefix
split → per-batch one-hot + tensor conversion (reference
src/elastic_surv/dataset.py:16-225). Here the featurization is fit ONCE on
the full frame (fixing the reference's refit-per-copy waste), the transform
is a lazy column expression fused into every downstream plan by Catalyst,
and the split DataFrames are cached — the reference re-pulled every batch
from ES every epoch (SURVEY §4 'Caching / reuse').

Everything a model needs from a split alone is computed once per dataset,
not once per model:

- each split's raw ``(X, t, e)`` arrays, collected in one Arrow transfer
  on first use and shared read-only. The local mode runs on them after
  that collect: training (through the frame's label transformer), the
  discrete models' label cuts, CoxPH's Breslow curve, and scoring below
  ``concordance.EXACT_THRESHOLD`` test rows;
- each split's statistics (:meth:`SurvDataset._split_stats`): the time
  column's distinct count, min and max and the rows with a time, and for
  the test split the censoring curve's risk table (rows and censored rows
  per time, quantized above ``CENSORING_CURVE_POINTS``). Scoring reads the
  test split's (the censoring curve, the time grid, the row count); the
  label cuts and the averaged-mode CoxPH's Breslow quantization read the
  train split's.

The statistics come from the split's arrays when the dataset already holds
them, so after a local fit the first score starts no Spark job, and from
one Spark aggregate per split otherwise (plus the risk table's for the
test split). Every value is exact — integer counts, min/max, times
quantized by the same arithmetic (``km._np_quantize`` is the numpy twin
of ``km.quantize_times``) — so both sources give the same bits and the
order of calls changes only the speed. Both finish the censoring curve
through the one driver-side product, ``km.km_product``. Rows with a NULL
or NaN time are left out of every statistic, as the scoring kernels leave
them out.
"""

from __future__ import annotations

import threading

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elastic_surv_spark.frame import SurvFrame
from elastic_surv_spark.functions.featurize import OneHotFeaturizer
from elastic_surv_spark.metrics import km

#: cap on the censoring curve's points (continuous-time safety; a no-op
#: while the test split has fewer distinct times)
CENSORING_CURVE_POINTS = 512


class SurvDataset:
    def __init__(self, frame: SurvFrame, use_hash_split: bool = False, cache: bool = True):
        self.frame = frame
        self.time_column = frame.time_column
        self.event_column = frame.event_column
        self.encoder = OneHotFeaturizer.fit(frame.df, frame.features)
        self.features = self.encoder.features

        train_raw, test_raw = (
            frame.hash_split() if use_hash_split else frame.split()
        )
        roles = [frame.time_column, frame.event_column]
        self.train_df: DataFrame = self.encoder.transform(train_raw, passthrough=roles)
        self.test_df: DataFrame = self.encoder.transform(test_raw, passthrough=roles)
        if cache:
            self.train_df = self.train_df.cache()
            self.test_df = self.test_df.cache()
        # Hyperband trials score concurrently from a thread pool
        self._scoring_lock = threading.Lock()
        # split name -> (distinct times, min, max, rows, censoring curve)
        self._stats: dict[str, tuple] = {}
        # split name -> raw (X, t, e); split name -> (label transformer,
        # the arrays with it applied)
        self._raw: dict[str, tuple[np.ndarray, ...]] = {}
        self._labelled: dict[str, tuple[object, tuple[np.ndarray, ...]]] = {}

    @property
    def in_features(self) -> int:
        return len(self.features)

    def to_numpy(self, df: DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Raw (X, t, e) float arrays of ``df`` (Arrow transfer).

        Valid when the split fits driver memory (harness scale / reference
        parity); the distributed path never calls this.
        """
        pdf = df.toPandas()
        X = pdf[self.features].to_numpy(dtype=float)
        t = pdf[self.time_column].to_numpy(dtype=float)
        e = pdf[self.event_column].to_numpy(dtype=float)
        return X, t, e

    def _split_stats(self, split: str) -> tuple:
        """``(distinct count, min, max, rows)`` of ``split``'s time column
        as double, NULL and NaN times left out, and for the test split the
        censoring KM curve as ``brier.censoring_km``'s ``(ts, gs)`` (None
        for the train split).

        Computed on first use (under the scoring lock, so concurrent fits
        and scorers wait for one computation): from the split's raw arrays
        if the dataset holds them, else in Spark. Either way the values are
        exact, so they do not depend on which source ran.
        """
        with self._scoring_lock:
            stats = self._stats.get(split)
            if stats is None:
                raw = self._raw.get(split)
                censoring = split == "test"
                if raw is not None:
                    *time_stats, counts = _array_stats(raw[1], raw[2], censoring)
                else:
                    df = self.train_df if split == "train" else self.test_df
                    *time_stats, counts = _spark_stats(
                        df, self.time_column, self.event_column, censoring
                    )
                curve = None
                if counts is not None:
                    ts, n, censored = counts
                    curve = (ts, km.km_product(n, censored))
                stats = self._stats[split] = (*time_stats, curve)
        return stats

    def scoring_reference(
        self, n_grid: int = 100
    ) -> tuple[tuple[list[float], list[float]], list[float]]:
        """``(censoring, grid)`` for scoring on the test split: the censoring
        KM curve as ``brier.censoring_km``'s ``(ts, gs)`` and the
        ``linspace(min T, max T, n_grid)`` time grid, both from the test
        split's statistics."""
        _, lo, hi, _, censoring = self._split_stats("test")
        return censoring, np.linspace(float(lo), float(hi), n_grid).tolist()

    def test_rows(self) -> int:
        """Rows of the test split with a time (not NULL, not NaN) — the
        size the scoring kernels see."""
        return self._split_stats("test")[3]

    def train_time_stats(self) -> tuple[int, float | None, float | None]:
        """``(distinct count, min, max)`` of the train split's time column
        as double: the statistics ``km.quantize_times`` coarsens the
        averaged-mode CoxPH's Spark Breslow aggregate by, and whose max
        spans the discrete models' label cuts."""
        return self._split_stats("train")[:3]

    def _split_numpy(
        self, split: str, labelled: bool
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """One split's (X, t, e), raw or with the frame's label transformer
        applied. The raw arrays are collected once, on first use (under the
        scoring lock: Hyperband fits run concurrently); the labelled ones
        are computed from them once per transformer. Every model shares the
        arrays, so they are read-only: a model writing into them fails
        loudly."""
        with self._scoring_lock:
            raw = self._raw.get(split)
            if raw is None:
                df = self.train_df if split == "train" else self.test_df
                raw = self._raw[split] = _read_only(self.to_numpy(df))
            hook = self.frame.label_transformer
            if not labelled or hook is None:
                return raw
            cached = self._labelled.get(split)
            if cached is None or cached[0] is not hook:
                X, t, e = raw
                # ≡ reference dataset.py:213-214 — outcome hook at batch time
                cached = self._labelled[split] = (hook, (X, *_read_only(hook(t, e))))
        return cached[1]

    def raw_numpy(self, split: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """``split``'s ("train" or "test") raw (X, t, e): the time and
        event columns as stored, which the label cuts, the Breslow curve
        and scoring read, as the Spark path reads the columns."""
        return self._split_numpy(split, labelled=False)

    def train_numpy(self):
        """The train split's (X, t, e) as the local trainer sees them (after
        the frame's label transformer)."""
        return self._split_numpy("train", labelled=True)

    def test_numpy(self):
        """The test split's (X, t, e) after the frame's label transformer
        (the local trainer's validation data)."""
        return self._split_numpy("test", labelled=True)


def _array_stats(t: np.ndarray, e: np.ndarray, censoring: bool) -> tuple:
    """:meth:`SurvDataset._split_stats`'s numbers from a split's raw time
    and event arrays (NULL read as NaN), the censoring risk table as
    ``km.risk_counts_np`` gives it (or None)."""
    kept = t[~np.isnan(t)] + 0.0  # -0.0 + 0.0 is 0.0, one value as in Spark
    times = np.unique(kept)
    lo, hi = (float(times[0]), float(times[-1])) if len(times) else (None, None)
    stats = (len(times), lo, hi)
    counts = None
    if censoring:
        # the event flipped as Spark's 1 - cast(e as int) flips it
        counts = km.risk_counts_np(t, 1 - np.trunc(e), CENSORING_CURVE_POINTS, stats)
    return (*stats, len(kept), counts)


def _spark_stats(df: DataFrame, time_col: str, event_col: str, censoring: bool) -> tuple:
    """:func:`_array_stats` in Spark: one aggregate, and for the censoring
    risk table ``km.risk_counts``'s (quantized by the aggregate's
    statistics, so it needs no statistics job of its own)."""
    t = F.col(time_col).cast("double")
    kept = df.where(t.isNotNull() & ~F.isnan(t)).select(
        t.alias("t"), (1 - F.col(event_col).cast("int")).alias("c")
    )
    row = kept.agg(
        F.countDistinct("t").alias("nd"),
        F.min("t").alias("lo"),
        F.max("t").alias("hi"),
        F.count("*").alias("n"),
    ).first()
    stats = (int(row["nd"]), row["lo"], row["hi"])
    counts = None
    if censoring:
        counts = km.risk_counts(kept, "t", "c", CENSORING_CURVE_POINTS, stats)
    return (*stats, int(row["n"]), counts)


def _read_only(arrays):
    for a in arrays:
        a.setflags(write=False)
    return arrays
