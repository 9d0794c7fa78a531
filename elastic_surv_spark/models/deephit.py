"""DeepHit (single-risk) — discrete-time PMF model with ranking loss.

≡ reference ``DeepHitModel`` (src/elastic_surv/models/model_deephit.py:
15-139): label transform (101-103), DeepHitSingle with alpha/sigma
(105-112), pair-rank matrix enabled on the dataloaders (114-125), fit
(127-129). The pair-rank matrix is batch-local (reference dataset.py:
114-120, 216-221) — recomputed per batch here exactly as there.

Loss (Lee et al. 2018, pycox single-risk form):
    pmf p = softmax(z);  CDF F_k = Σ_{j<=k} p_j;  S = 1 - F
    L_nll  = -mean[ e·log p_m + (1-e)·log S_m ]
    L_rank = mean over acceptable pairs (i,j) of exp((F_j(m_i) - F_i(m_i))/σ)
             with A_ij = 1{t_i < t_j and e_i = 1}
    L      = α·L_nll + (1-α)·L_rank
"""

from __future__ import annotations

import numpy as np

from elastic_surv_spark.models.base import SurvModel
from elastic_surv_spark.models.data import SurvDataset
from elastic_surv_spark.models.labels import LabelTransform, train_label_transform
from elastic_surv_spark.models.params import Categorical, Float, Integer, Params


def pair_rank_mat(idx: np.ndarray, e: np.ndarray) -> np.ndarray:
    """Batch-local acceptability matrix (≡ reference dataset.py:114-120 via
    pycox pair_rank_mat): A[i,j] = 1 iff subject i's event is observed and
    happens strictly before j's time (comparable, i should rank riskier)."""
    ti = idx[:, None]
    tj = idx[None, :]
    return ((ti < tj) & (e[:, None] == 1)).astype(float)


class DeepHitModel(SurvModel):
    def __init__(
        self,
        in_features: int,
        num_durations: int = 10,
        alpha: float = 0.2,
        sigma: float = 0.1,
        **kw,
    ):
        kw.setdefault("patience", 25)  # ≡ model_deephit.py:24
        super().__init__(in_features, **kw)
        self.num_durations = num_durations
        self.alpha = alpha
        self.sigma = sigma
        self.labtrans: LabelTransform | None = None

    @staticmethod
    def name() -> str:
        return "deephit"

    @staticmethod
    def hyperparameter_space() -> list[Params]:
        # ≡ reference model_deephit.py:73-85
        return [
            Categorical("batch_norm", [1, 0]),
            Categorical("dropout", [0, 0.1, 0.2]),
            Categorical("lr", [1e-2, 1e-3, 1e-4]),
            Integer("patience", 10, 50, 10),
            Float("alpha", 0.0, 0.5),
            Float("sigma", 0.0, 0.5),
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
        n, k = z.shape
        zm = z - z.max(axis=1, keepdims=True)
        ez = np.exp(zm)
        p = ez / ez.sum(axis=1, keepdims=True)
        cdf = np.cumsum(p, axis=1)
        surv = 1.0 - cdf
        rows = np.arange(n)
        eps = 1e-12

        # ---- NLL ----
        p_m = np.clip(p[rows, idx], eps, None)
        s_m = np.clip(surv[rows, idx], eps, None)
        nll = -(e * np.log(p_m) + (1 - e) * np.log(s_m)).mean()
        # d nll / d p  (direct term) and / d F (through S_m = 1 - F_m)
        dp = np.zeros_like(p)
        dF = np.zeros_like(p)
        dp[rows, idx] += self.alpha * (-e / p_m) / n
        dF[rows, idx] += self.alpha * ((1 - e) / s_m) / n

        # ---- ranking ----
        rank_loss = 0.0
        sigma = max(self.sigma, 1e-6)
        A = pair_rank_mat(idx, e)
        n_pairs = A.sum()
        if n_pairs > 0:
            F_at_mi = cdf[:, idx].T  # F_at_mi[i, j] = F_j(m_i)
            diag = np.diag(F_at_mi)  # F_i(m_i)
            expterm = A * np.exp((F_at_mi - diag[:, None]) / sigma)
            rank_loss = expterm.sum() / n_pairs
            coeff = (1 - self.alpha) * expterm / (sigma * n_pairs)
            # dF_j(m_i) += coeff[i,j]; dF_i(m_i) -= Σ_j coeff[i,j]
            contrib = np.zeros_like(p)
            for i in range(n):
                if coeff[i].any():
                    contrib[:, idx[i]] += coeff[i]
                    contrib[i, idx[i]] -= coeff[i].sum()
            dF += contrib

        # F_k = Σ_{l<=k} p_l  →  dp_l += Σ_{k>=l} dF_k (reverse cumsum)
        dp += np.cumsum(dF[:, ::-1], axis=1)[:, ::-1]
        # softmax backward
        dz = p * (dp - (dp * p).sum(axis=1, keepdims=True))
        loss = self.alpha * nll + (1 - self.alpha) * rank_loss
        return float(loss), dz

    def _surv_from_output(self, z):
        zm = z - z.max(axis=1, keepdims=True)
        ez = np.exp(zm)
        p = ez / ez.sum(axis=1, keepdims=True)
        return 1.0 - np.cumsum(p, axis=1)
