"""Discrete-time label transform (duration discretization).

≡ reference ``BasicDataset.discrete_outcome(transformer, num_durations)``
(reference src/elastic_surv/dataset.py:122-132) which fits a pycox
``label_transform(num_durations)`` on the *train* outcomes and applies it per
batch; consumed by DeepHit / LogisticHazard (model_deephit.py:101-111,
model_logistic_hazard.py:95-101).

Semantics implemented (standard discrete-time survival discretization):
cuts are ``num_durations`` points spanning [0, t_max] (equidistant, the pycox
default) or train-quantiles; a duration maps to the index of the last cut
<= t; the stored ``cuts`` seed the model's ``duration_index``.

``LabelTransform.fit`` fits the cuts with ONE distributed aggregate (max or
exact percentiles) on any frame — no data leaves the cluster. A model
trained on a ``SurvDataset`` takes its equidistant cuts from the train
split's time statistics instead (:func:`train_label_transform`), which the
dataset computes once: from the split's collected arrays when it holds
them (always in the local mode, which trains on them), with one Spark
aggregate otherwise. The max is exact either way, so both modes get the
cuts ``fit`` would.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elastic_surv_spark.functions.literals import double_array


class LabelTransform:
    def __init__(self, cuts: np.ndarray):
        self.cuts = np.asarray(cuts, dtype=float)

    @property
    def out_features(self) -> int:
        return len(self.cuts)

    @classmethod
    def fit(
        cls,
        df: DataFrame,
        time_col: str,
        num_durations: int = 10,
        scheme: str = "equidistant",
    ) -> "LabelTransform":
        if scheme == "equidistant":
            row = df.agg(F.max(time_col).alias("hi")).first()
            return cls.equidistant(row["hi"], num_durations)
        if scheme == "quantiles":
            qs = np.linspace(0.0, 1.0, num_durations).tolist()
            # exact percentiles (one pass); approx variant for 100 TB:
            # percentile_approx with tuned accuracy
            row = df.agg(
                F.expr(
                    f"percentile({time_col}, array({','.join(str(q) for q in qs)}))"
                ).alias("qs")
            ).first()
            return cls(np.unique(np.asarray(row["qs"], dtype=float)))
        raise ValueError(f"unknown scheme {scheme!r}")

    @classmethod
    def equidistant(cls, t_max: float, num_durations: int) -> "LabelTransform":
        """``num_durations`` equidistant cuts spanning [0, t_max] (the pycox
        default scheme)."""
        return cls(np.linspace(0.0, float(t_max), num_durations))

    def transform_np(self, t: np.ndarray, e: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(idx_durations, events) — numpy path used inside training batches."""
        idx = np.searchsorted(self.cuts, np.asarray(t, dtype=float), side="right") - 1
        return np.clip(idx, 0, len(self.cuts) - 1), np.asarray(e, dtype=float)

    def transform(self, df: DataFrame, time_col: str, out_col: str = "idx_duration") -> DataFrame:
        """Distributed form: Bucketizer-equivalent via array search (JVM-side)."""
        cuts_lit = double_array(self.cuts)
        idx = F.size(F.filter(cuts_lit, lambda c: c <= F.col(time_col))) - 1
        return df.withColumn(
            out_col, F.greatest(F.lit(0), F.least(F.lit(len(self.cuts) - 1), idx))
        )


def train_label_transform(dataset, num_durations: int, mode: str) -> LabelTransform:
    """Equidistant cuts on a ``SurvDataset``'s TRAIN split (≡ reference
    dataset.py:122-132) for a discrete-time model trained in ``mode``,
    spanning [0, max T] by the split's time statistics (NULL and NaN times
    left out, as Spark's ``max`` skips NULL). The local mode collects the
    train arrays first — its fit trains on them — so the statistics come
    from them and start no Spark job; the averaged mode reads them from
    wherever the dataset has them."""
    if mode != "averaged":
        dataset.raw_numpy("train")
    return LabelTransform.equidistant(dataset.train_time_stats()[2], num_durations)
