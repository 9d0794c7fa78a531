"""CoxPH (DeepSurv-style) — proportional hazards with an MLP risk score.

≡ reference ``CoxPHModel`` (src/elastic_surv/models/model_cox_ph.py:15-110):
MLP risk net with no output bias (50-57), Cox partial-likelihood fit (96-98),
Breslow baseline hazards computed after training (100-103), prediction
S(t|x) = exp(-H0(t))^exp(g(x)) (106-110).

Batch partial likelihood (Breslow ties), risk sets within the sorted batch —
the same batch-local semantics as pycox's CoxPH loss:

    L = -(1/D) Σ_{i: e_i=1} [ g_i - log Σ_{j: t_j >= t_i} exp(g_j) ]

Breslow baseline hazards: one row per distinct training time (quantized to
≤ ``max_curve_points`` when there are more) with the event count d_t and
the exp(g) sum, then two cumulative sums over those bounded rows on the
driver: the reverse one for the risk-set sums, h0(t) = d_t /
Σ_{T_j >= t} exp(g_j), and the forward one for H0(t) = Σ_{s <= t} h0(s).
The local mode builds the rows in numpy from the train split's collected
arrays (no Spark job; the grouped per-segment trainer uses the same code);
the averaged mode, whose data stays on the executors, builds them with one
distributed aggregate.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from elastic_surv_spark.metrics.km import quantize_times
from elastic_surv_spark.models.base import SurvModel
from elastic_surv_spark.models.data import SurvDataset
from elastic_surv_spark.models.params import Categorical, Integer, Params


class CoxPHModel(SurvModel):
    def __init__(self, in_features: int, max_curve_points: int = 100, **kw):
        super().__init__(in_features, **kw)
        self.max_curve_points = max_curve_points
        self.baseline_cumhaz: np.ndarray | None = None  # H0 at self.cuts

    @staticmethod
    def name() -> str:
        return "cox_ph"

    @staticmethod
    def hyperparameter_space() -> list[Params]:
        # ≡ reference model_cox_ph.py:67-77
        return [
            Categorical("batch_norm", [1, 0]),
            Categorical("dropout", [0, 0.1, 0.2]),
            Categorical("lr", [1e-2, 1e-3, 1e-4]),
            Integer("patience", 10, 50, 10),
        ]

    def _output_bias(self) -> bool:
        return False  # ≡ model_cox_ph.py:56 output_bias=False

    def _out_features(self, dataset: SurvDataset) -> int:
        return 1

    def _prepare_targets(self, t, e):
        return np.asarray(t, dtype=float), np.asarray(e, dtype=float)

    def _loss_grad(self, z, targets):
        t, e = targets
        g = z[:, 0]
        n = len(g)
        order = np.argsort(t, kind="stable")
        ts, gs, es = t[order], g[order], e[order]
        # risk-set denominators: reverse cumsum of exp(g) over ascending time,
        # shared within tie groups (Breslow)
        m = gs.max() if n else 0.0
        eg = np.exp(gs - m)
        rev = np.cumsum(eg[::-1])[::-1]  # rev[i] = sum_{j>=i} exp(g_j - m)
        # tie groups: first index of each distinct time
        uniq, first_idx = np.unique(ts, return_index=True)
        denom_at = rev[first_idx]  # denom for events at uniq[k]
        group_of = np.searchsorted(uniq, ts)
        denom = denom_at[group_of]
        d_events = es.sum()
        if d_events == 0:
            return 0.0, np.zeros_like(z)
        log_denom = np.log(denom) + m
        loss = -(es * (gs - log_denom)).sum() / d_events
        # gradient: dL/dg_j = -(1/D)[ e_j - exp(g_j) * W_j ],
        # W_j = Σ_{events i with t_i <= t_j} 1/denom_i  (tie-group granular)
        ev_per_group = np.zeros(len(uniq))
        np.add.at(ev_per_group, group_of, es)
        w_groups = np.cumsum(ev_per_group / denom_at)
        W = w_groups[group_of]
        dg_sorted = -(es - eg * W) / d_events
        dg = np.empty_like(dg_sorted)
        dg[order] = dg_sorted
        return float(loss), dg[:, None]

    def _post_fit(self, dataset: SurvDataset) -> None:
        """Breslow baseline hazards (≡ reference compute_baseline_hazards,
        model_cox_ph.py:100-103) on the train split's raw times and events.

        The local mode runs :meth:`fit_baseline` on the split's collected
        arrays. The averaged mode builds the same per-time rows with one
        distributed aggregate: a mapInPandas forward pass for exp(g) feeds
        a ``groupBy(t)`` of the event counts and exp(g) sums, after
        ``quantize_times`` coarsened the times DISTRIBUTEDLY to ≤
        ``max_curve_points`` bins (the life-table discretization
        metrics/km.py uses, a no-op below the cap). Its quantization
        statistics come from ``dataset.train_time_stats()`` (computed once
        per dataset on the raw train split — running them on the scored
        frame would repeat the forward pass, since column pruning cannot
        reach through Python). Either way, the collect and the driver work
        are O(max_curve_points) with continuous float times at any n.
        """
        if self.mode != "averaged":
            self.fit_baseline(*dataset.raw_numpy("train"))
            return
        scored = self.predict_risk(dataset.train_df, dataset)
        t_col, e_col = dataset.time_column, dataset.event_column
        scored = quantize_times(
            scored.withColumn(t_col, F.col(t_col).cast("double")),
            t_col,
            self.max_curve_points,
            stats=dataset.train_time_stats(),
        )
        rows = (
            scored.groupBy(F.col(t_col).alias("t"))
            .agg(
                F.sum(F.col(e_col).cast("double")).alias("d"),
                F.sum("exp_g").alias("sum_eg"),
            )
            .collect()
        )
        self._set_baseline(sorted((r["t"], r["d"], r["sum_eg"]) for r in rows))

    def fit_baseline(self, X: np.ndarray, t: np.ndarray, e: np.ndarray) -> None:
        """Breslow baseline hazards from driver arrays: the trained net's
        forward pass, the times quantized as ``quantize_times`` quantizes
        them (:func:`_np_quantize`), then per distinct time the event count
        and the exp(g) sum, each exactly rounded (``math.fsum``), so the
        curve does not depend on the arrays' row order. The cuts equal the
        Spark aggregate's; H0 differs from it only by that aggregate's
        partition-order sums (and BLAS's batch shapes in exp(g))."""
        eg = np.exp(self.net.forward(X, training=False)[:, 0])
        e = np.asarray(e, dtype=float)
        tq = _np_quantize(np.asarray(t, dtype=float), self.max_curve_points)
        # ≤ max_curve_points + 1 distinct times, so one mask per time is cheap
        self._set_baseline(
            [
                (u, math.fsum(e[tq == u]), math.fsum(eg[tq == u]))
                for u in np.unique(tq).tolist()
            ]
        )

    def _set_baseline(self, curve: list[tuple[float, float | None, float | None]]) -> None:
        """``cuts`` and ``baseline_cumhaz`` from the ``(t, d, Σexp(g))``
        rows in ascending t, with the two running sums on the driver."""
        # bounded by construction: quantization caps the domain at
        # max_curve_points bins (+1 for the lower edge). A hard raise, not
        # an assert — the driver-side collect bound is load-bearing and
        # must hold under `python -O` too.
        if len(curve) > self.max_curve_points + 1:
            raise RuntimeError(
                f"baseline-hazard curve has {len(curve)} points, above the "
                f"max_curve_points={self.max_curve_points} collect bound"
            )
        # risk-set sums: Σ_{T_j >= t} exp(g_j), accumulated from the latest t
        denom = _running_sum([s for _, _, s in reversed(curve)])[::-1]
        h0 = [
            None if d is None or q is None else d / q
            for (_, d, _), q in zip(curve, denom)
        ]
        self.cuts = np.array([float(t) for t, _, _ in curve])
        self.baseline_cumhaz = np.array([float(h) for h in _running_sum(h0)])

    def predict_risk(self, df, dataset: SurvDataset):
        """Adds exp_g (partial hazard) via distributed forward pass."""
        import pandas as pd  # noqa: F401

        model = self
        # full state so eval-mode BN uses the trained running stats remotely
        weights = self.net.get_state()
        feats = dataset.features
        cfg = (self.hidden_nodes, self.batch_norm, self.dropout, self.seed)

        def infer(pdfs):
            from elastic_surv_spark.models.nn import MLP

            hidden, bn, do, seed = cfg
            net = MLP(len(feats), hidden, 1, batch_norm=bn, dropout=do,
                      output_bias=False, seed=seed)
            net.set_state(np.asarray(weights))
            for pdf in pdfs:
                if not len(pdf):
                    continue
                X = pdf[feats].to_numpy(dtype=float)
                g = net.forward(X, training=False)[:, 0]
                out = pdf.copy()
                out["exp_g"] = np.exp(g)
                yield out

        from pyspark.sql import types as T

        schema = T.StructType(
            list(df.schema.fields) + [T.StructField("exp_g", T.DoubleType())]
        )
        return df.mapInPandas(infer, schema=schema)

    def _surv_from_output(self, z):
        # S(t|x) = exp(-H0(t) * exp(g))  (≡ model_cox_ph.py:106-110)
        eg = np.exp(z[:, 0])
        return np.exp(-np.outer(eg, self.baseline_cumhaz))


def _np_quantize(t: np.ndarray, cap: int) -> np.ndarray:
    """numpy form of ``metrics.km.quantize_times`` (the same min/max + ceil
    arithmetic, so the same doubles): a no-op at ≤ ``cap`` distinct times."""
    if len(np.unique(t)) <= cap:
        return t
    lo, hi = float(t.min()), float(t.max())
    width = (hi - lo) / cap
    k = np.minimum(float(cap), np.ceil((t - lo) / width))
    return np.minimum(hi, lo + k * width)


def _running_sum(values: list[float | None]) -> list[float | None]:
    """SQL ``sum`` over a running frame, in order: NULLs are skipped, the
    sum is NULL until the first value, and each step adds to the sum
    exactly as Spark's ``Sum`` does (``coalesce(sum, 0.0) + value``)."""
    out: list[float | None] = []
    acc = None
    for v in values:
        if v is not None:
            acc = (0.0 if acc is None else acc) + v
        out.append(acc)
    return out
