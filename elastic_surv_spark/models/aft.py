"""Weibull AFT baseline — MLlib's only built-in survival estimator.

SURVEY §2.9 M1 notes `AFTSurvivalRegression` is a different model family
from the reference's CoxPH/DeepHit/LogisticHazard (reference
src/elastic_surv/models/*) and is kept as a fully-JVM baseline: fit is
distributed L-BFGS inside Spark ML, and the survival curve is a closed-form
column expression — S(t|x) = exp(−exp((ln t − μ(x)) / σ)) with
μ(x) = ln(model prediction) — so predict involves no Python at all.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elastic_surv_spark.functions.literals import double_array
from elastic_surv_spark.metrics.brier import prediction_arrays
from elastic_surv_spark.models.base import score_model
from elastic_surv_spark.models.data import SurvDataset

_EPS = 1e-6


class AFTBaselineModel:
    """Parametric Weibull accelerated-failure-time baseline."""

    def __init__(self, num_durations: int = 10, max_iter: int = 100):
        self.num_durations = num_durations
        self.max_iter = max_iter
        self.model = None
        self.cuts: np.ndarray | None = None
        self._features: list[str] | None = None
        # closed-form Weibull parameters extracted after fit; prediction and
        # persistence depend only on these, never on the MLlib model object
        self.coefficients: np.ndarray | None = None
        self.intercept: float | None = None
        self.scale: float | None = None

    @staticmethod
    def name() -> str:
        return "aft_weibull"

    def _assemble(self, df: DataFrame) -> DataFrame:
        from pyspark.ml.feature import VectorAssembler

        va = VectorAssembler(inputCols=self._features, outputCol="_fx")
        return va.transform(df)

    def train(self, dataset: SurvDataset) -> "AFTBaselineModel":
        from pyspark.ml.regression import AFTSurvivalRegression

        self._features = list(dataset.features)
        t_col, e_col = dataset.time_column, dataset.event_column
        train = dataset.train_df.withColumn(
            "_label", F.greatest(F.col(t_col).cast("double"), F.lit(_EPS))
        ).withColumn("_censor", F.col(e_col).cast("double"))
        aft = AFTSurvivalRegression(
            featuresCol="_fx",
            labelCol="_label",
            censorCol="_censor",
            maxIter=self.max_iter,
        )
        self.model = aft.fit(self._assemble(train))
        # MLlib's AFT prediction is the closed form exp(x·β + intercept);
        # keep (β, intercept, σ) so inference is plain column arithmetic
        # and the trained model is a handful of JSON-serializable floats
        self.coefficients = np.asarray(self.model.coefficients.toArray(), dtype=float)
        self.intercept = float(self.model.intercept)
        self.scale = float(self.model.scale)
        # duration grid: train-split quantiles (≡ discrete models' label cuts)
        probs = list(np.linspace(0.0, 1.0, self.num_durations))
        qs = train.approxQuantile("_label", probs, 0.001)
        self.cuts = np.unique(np.maximum(np.array(qs, dtype=float), _EPS))
        return self

    def predict(self, df: DataFrame, id_cols: list[str], features: list[str]) -> DataFrame:
        """(id_cols..., surv array<double>) — survival at each cut, pure JVM.

        μ(x) = x·β + intercept as a column sum — no VectorAssembler, no
        MLlib model object, so a JSON-loaded model predicts identically to
        the freshly trained one and the whole plan stays in codegen.
        """
        mu = F.lit(float(self.intercept))
        for c, b in zip(self._features, self.coefficients):
            mu = mu + F.col(c).cast("double") * F.lit(float(b))
        sigma = float(self.scale)
        cuts_lit = double_array(self.cuts)
        surv = F.transform(
            cuts_lit,
            lambda c: F.exp(-F.exp((F.log(c) - mu) / F.lit(sigma))),
        )
        return df.select(*id_cols, surv.alias("surv"))

    def _test_predictions(self, dataset: SurvDataset) -> tuple[np.ndarray, ...]:
        """``(t, e, S)`` of the test split for :func:`score_model`'s driver
        path: one JVM predict-and-collect. The closed form stays in Spark
        because its ``exp``/``log`` are not bit-reproducible in numpy."""
        t_col, e_col = dataset.time_column, dataset.event_column
        pred = self.predict(dataset.test_df, id_cols=[t_col, e_col], features=dataset.features)
        return prediction_arrays(pred.toPandas(), t_col, e_col, "surv", len(self.cuts))

    def score(self, dataset: SurvDataset, n_grid: int = 100) -> dict[str, float]:
        return score_model(self, dataset, n_grid)
