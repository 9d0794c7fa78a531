"""LogisticHazard — discrete-time hazard model.

≡ reference ``LogisticHazardModel`` (src/elastic_surv/models/
model_logistic_hazard.py:15-117): MLP over features → K hazard logits,
NLL of the discrete hazard likelihood, label transform with
``num_durations`` cuts (95-101), survival = cumprod(1 - h).

Hazard h_k = sigmoid(z_k); per subject with duration bin m and event e:

    L = -[ Σ_{k<m} log(1 - h_k) + e·log h_m + (1-e)·log(1 - h_m) ]

Gradient wrt logits: dz_k = h_k for k < m; dz_m = h_m - e; 0 beyond —
the standard discrete-time survival NLL (Gensheimer & Narasimhan 2019).
"""

from __future__ import annotations

import numpy as np

from elastic_surv_spark.models.base import SurvModel
from elastic_surv_spark.models.data import SurvDataset
from elastic_surv_spark.models.labels import LabelTransform, train_label_transform
from elastic_surv_spark.models.params import Categorical, Integer, Params


class LogisticHazardModel(SurvModel):
    def __init__(self, in_features: int, num_durations: int = 10, **kw):
        super().__init__(in_features, **kw)
        self.num_durations = num_durations
        self.labtrans: LabelTransform | None = None

    @staticmethod
    def name() -> str:
        return "logistic_hazard"

    @staticmethod
    def hyperparameter_space() -> list[Params]:
        # ≡ reference model_logistic_hazard.py:69-79
        return [
            Categorical("batch_norm", [1, 0]),
            Categorical("dropout", [0, 0.1, 0.2]),
            Categorical("lr", [1e-2, 1e-3, 1e-4]),
            Integer("patience", 10, 50, 10),
        ]

    def _out_features(self, dataset: SurvDataset) -> int:
        if self.labtrans is None:
            self.labtrans = train_label_transform(dataset, self.num_durations, self.mode)
            self.cuts = self.labtrans.cuts
        return self.labtrans.out_features

    def _prepare_targets(self, t, e):
        return self.labtrans.transform_np(t, e)

    def _loss_grad(self, z, targets):
        idx, e = targets
        h = 1.0 / (1.0 + np.exp(-z))
        n, k = z.shape
        cols = np.arange(k)[None, :]
        before = cols < idx[:, None]
        at = cols == idx[:, None]
        eps = 1e-12
        ll = (
            np.where(before, np.log1p(-np.clip(h, eps, 1 - eps)), 0.0).sum(axis=1)
            + e * np.log(np.clip(h[np.arange(n), idx], eps, None))
            + (1 - e) * np.log1p(-np.clip(h[np.arange(n), idx], None, 1 - eps))
        )
        loss = -ll.mean()
        dz = np.where(before, h, 0.0)
        dz += at * (h - e[:, None])
        return loss, dz / n

    def _surv_from_output(self, z):
        h = 1.0 / (1.0 + np.exp(-z))
        return np.cumprod(1.0 - h, axis=1)
