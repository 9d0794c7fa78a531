"""SurvDataset — featurized train/test splits feeding the models.

≡ reference dataflow: ``BasicDataset`` construction → encoder fit → prefix
split → per-batch one-hot + tensor conversion (reference
src/elastic_surv/dataset.py:16-225). Here the featurization is fit ONCE on
the full frame (fixing the reference's refit-per-copy waste), the transform
is a lazy column expression fused into every downstream plan by Catalyst,
and the split DataFrames are cached — the reference re-pulled every batch
from ES every epoch (SURVEY §4 'Caching / reuse'). What scoring needs from
the test split alone (the censoring curve, the time grid, the row count),
what the CoxPH baseline-hazard fit needs from the train split alone (the
time column's distinct count and range), and the local training path's
``(X, t, e)`` arrays of each split are computed once per dataset, not once
per model.
"""

from __future__ import annotations

import threading

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elastic_surv_spark.frame import SurvFrame
from elastic_surv_spark.functions.featurize import OneHotFeaturizer
from elastic_surv_spark.metrics import brier

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
        self._scoring_stats: (
            tuple[tuple[list[float], list[float]], float, float, int] | None
        ) = None
        self._train_time_stats: tuple[int, float | None, float | None] | None = None
        # split name -> (label transformer the arrays were made with, arrays)
        self._numpy: dict[str, tuple[object, tuple[np.ndarray, ...]]] = {}

    @property
    def in_features(self) -> int:
        return len(self.features)

    def to_numpy(self, df: DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(X, t, e) arrays — the local training path (Arrow transfer).

        Valid when the split fits driver memory (harness scale / reference
        parity); the distributed path never calls this.
        """
        pdf = df.toPandas()
        X = pdf[self.features].to_numpy(dtype=float)
        t = pdf[self.time_column].to_numpy(dtype=float)
        e = pdf[self.event_column].to_numpy(dtype=float)
        if self.frame.label_transformer is not None:
            # ≡ reference dataset.py:213-214 — outcome hook at batch time
            t, e = self.frame.label_transformer(t, e)
        return X, t, e

    def _test_stats(self) -> tuple[tuple[list[float], list[float]], float, float, int]:
        """``(censoring, min T, max T, rows with a time)`` of the test split:
        the censoring KM and one aggregate, computed on first use (under a
        lock, so concurrent scorers wait for one computation)."""
        with self._scoring_lock:
            if self._scoring_stats is None:
                t = self.time_column
                censoring = brier.censoring_km(
                    self.test_df, t, self.event_column,
                    max_curve_points=CENSORING_CURVE_POINTS,
                )
                row = self.test_df.agg(
                    F.min(t).alias("lo"), F.max(t).alias("hi"), F.count(t).alias("n")
                ).first()
                self._scoring_stats = (
                    censoring, float(row["lo"]), float(row["hi"]), int(row["n"])
                )
        return self._scoring_stats

    def scoring_reference(
        self, n_grid: int = 100
    ) -> tuple[tuple[list[float], list[float]], list[float]]:
        """``(censoring, grid)`` for scoring on the test split: the censoring
        KM curve as ``brier.censoring_km``'s ``(ts, gs)`` and the
        ``linspace(min T, max T, n_grid)`` time grid.

        Both depend on the test split alone: the curve and the time range
        are computed once per dataset and reused by every later call.
        """
        censoring, lo, hi, _ = self._test_stats()
        return censoring, np.linspace(lo, hi, n_grid).tolist()

    def test_rows(self) -> int:
        """Rows of the test split with a non-NULL time — the size the
        scoring kernels see. Counted in the aggregate that gives
        :meth:`scoring_reference` its time range, so it adds no job."""
        return self._test_stats()[3]

    def train_time_stats(self) -> tuple[int, float | None, float | None]:
        """``(distinct count, min, max)`` of the train split's time column
        as double — the statistics ``km.quantize_times`` coarsens by.

        Computed in one aggregate on first use (under the scoring lock, so
        concurrent fits wait for one computation) and reused by every later
        fit on this dataset.
        """
        with self._scoring_lock:
            if self._train_time_stats is None:
                t = F.col(self.time_column).cast("double")
                row = self.train_df.agg(
                    F.countDistinct(t).alias("nd"),
                    F.min(t).alias("lo"),
                    F.max(t).alias("hi"),
                ).first()
                self._train_time_stats = (int(row["nd"]), row["lo"], row["hi"])
        return self._train_time_stats

    def _split_numpy(self, split: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """:meth:`to_numpy` of one split, collected on first use (under the
        scoring lock: Hyperband fits run concurrently) and again only if the
        frame's label transformer changes. Every fit shares the arrays, so
        they are read-only: a model writing into them fails loudly."""
        with self._scoring_lock:
            hook = self.frame.label_transformer
            cached = self._numpy.get(split)
            if cached is None or cached[0] is not hook:
                df = self.train_df if split == "train" else self.test_df
                arrays = self.to_numpy(df)
                for a in arrays:
                    a.setflags(write=False)
                cached = self._numpy[split] = (hook, arrays)
        return cached[1]

    def train_numpy(self):
        return self._split_numpy("train")

    def test_numpy(self):
        return self._split_numpy("test")
