"""SurvDataset — featurized train/test splits feeding the models.

≡ reference dataflow: ``BasicDataset`` construction → encoder fit → prefix
split → per-batch one-hot + tensor conversion (reference
src/elastic_surv/dataset.py:16-225). Here the featurization is fit ONCE on
the full frame (fixing the reference's refit-per-copy waste), the transform
is a lazy column expression fused into every downstream plan by Catalyst,
and the split DataFrames are cached — the reference re-pulled every batch
from ES every epoch (SURVEY §4 'Caching / reuse'). What scoring needs from
the test split alone (the censoring curve, the time grid), and what the
CoxPH baseline-hazard fit needs from the train split alone (the time
column's distinct count and range), are computed once per dataset, not once
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
        self._scoring_stats: tuple[tuple[list[float], list[float]], float, float] | None = None
        self._train_time_stats: tuple[int, float | None, float | None] | None = None

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

    def scoring_reference(
        self, n_grid: int = 100
    ) -> tuple[tuple[list[float], list[float]], list[float]]:
        """``(censoring, grid)`` for scoring on the test split: the censoring
        KM curve as ``brier.censoring_km``'s ``(ts, gs)`` and the
        ``linspace(min T, max T, n_grid)`` time grid.

        Both depend on the test split alone: the curve and the time range
        are computed on first use (under a lock, so concurrent scorers wait
        for one computation) and reused by every later call.
        """
        with self._scoring_lock:
            if self._scoring_stats is None:
                t = self.time_column
                censoring = brier.censoring_km(
                    self.test_df, t, self.event_column,
                    max_curve_points=CENSORING_CURVE_POINTS,
                )
                row = self.test_df.agg(F.min(t).alias("lo"), F.max(t).alias("hi")).first()
                self._scoring_stats = (censoring, float(row["lo"]), float(row["hi"]))
        censoring, lo, hi = self._scoring_stats
        return censoring, np.linspace(lo, hi, n_grid).tolist()

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

    def train_numpy(self):
        return self.to_numpy(self.train_df)

    def test_numpy(self):
        return self.to_numpy(self.test_df)
