"""Model ABC + training loops + scoring.

≡ reference ``ModelSkeleton`` (src/elastic_surv/models/base.py:11-82):
``hyperparameter_space`` / ``sample_hyperparameters`` / ``name`` / ``train``
/ ``predict`` / ``score``. ``score`` reproduces base.py:61-82: predictions on
the test split → Antolini time-dependent concordance + integrated Brier
score over a 100-point linspace(t_min, t_max) grid, censoring via KM
(:func:`score_model`, shared with the AFT baseline).

Training paths:
- ``local``   — exact reference semantics: sequential mini-batches, Adam,
  early stopping on validation loss with patience (≡ tt.cb.EarlyStopping,
  model_cox_ph.py:62,96-98). Like the reference, which trains and scores
  on driver tensors, it runs on the ``(X, t, e)`` arrays the dataset
  collects once per split (one Arrow transfer each) and shares,
  read-only, with every fit; the label cuts and CoxPH's Breslow curve
  come from the same arrays, so a local fit starts no Spark job after
  those collects.
- ``averaged`` — scale path: per-partition local SGD from broadcast weights,
  size-weighted parameter averaging per round (local-SGD / FedAvg family).
  Each executor sees only its partition; nothing but weight vectors crosses
  the cluster. Loss modules are batch-local by construction (SURVEY §4:
  pair-rank and Cox risk-sets are batch-local), so semantics match the
  reference's batched losses.

Scoring follows the test split's size, whatever the training mode: up to
``concordance.EXACT_THRESHOLD`` rows (20,000) the net's forward pass runs
on the dataset's test arrays and numpy kernels compute both metrics, with
no Spark job per score; larger splits are scored in Spark, through
:meth:`SurvModel.predict` (broadcast weights, ``mapInPandas`` forward pass,
survival curves as array columns).
"""

from __future__ import annotations

import json
from abc import ABC, abstractmethod
from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from elastic_surv_spark.metrics import concordance
from elastic_surv_spark.metrics.brier import (
    integrated_brier_score,
    integrated_brier_score_local,
)
# concordance_td is not called here: perfbench's tracing spans patch it in
# this module's namespace
from elastic_surv_spark.metrics.concordance import concordance_td, concordance_td_local  # noqa: F401
from elastic_surv_spark.models.data import SurvDataset
from elastic_surv_spark.models.nn import MLP, Adam
from elastic_surv_spark.models.params import Params


def _batches(n: int, batch_size: int) -> Iterator[slice]:
    for start in range(0, n, batch_size):
        yield slice(start, min(start + batch_size, n))


class SurvModel(ABC):
    """Base survival model: numpy net, Spark dataflow."""

    def __init__(
        self,
        in_features: int,
        hidden_nodes: list[int] | None = None,
        batch_norm: bool = True,
        dropout: float = 0.1,
        lr: float = 1e-3,
        epochs: int = 200,
        patience: int = 10,
        batch_size: int = 128,
        seed: int = 42,
        verbose: bool = False,
        mode: str = "local",
    ):
        self.in_features = in_features
        self.hidden_nodes = hidden_nodes if hidden_nodes is not None else [32, 32]
        self.batch_norm = batch_norm
        self.dropout = dropout
        self.lr = lr
        self.epochs = epochs
        self.patience = patience
        self.batch_size = batch_size
        self.seed = seed
        self.verbose = verbose
        self.mode = mode
        self.net: MLP | None = None
        self.cuts: np.ndarray | None = None  # duration_index

    # ---- reference surface (base.py:11-59) -------------------------------
    @staticmethod
    @abstractmethod
    def name() -> str: ...

    @staticmethod
    @abstractmethod
    def hyperparameter_space() -> list[Params]: ...

    @classmethod
    def sample_hyperparameters(cls, rng: np.random.Generator | None = None) -> dict[str, Any]:
        rng = rng or np.random.default_rng()
        return {p.name: p.sample(rng) for p in cls.hyperparameter_space()}

    # ---- model-specific pieces ------------------------------------------
    @abstractmethod
    def _out_features(self, dataset: SurvDataset) -> int: ...

    @abstractmethod
    def _prepare_targets(self, t: np.ndarray, e: np.ndarray) -> tuple: ...

    @abstractmethod
    def _loss_grad(self, z: np.ndarray, targets: tuple) -> tuple[float, np.ndarray]: ...

    @abstractmethod
    def _surv_from_output(self, z: np.ndarray) -> np.ndarray:
        """[B, len(cuts)] survival matrix from net output."""

    def _output_bias(self) -> bool:
        return True

    def _post_fit(self, dataset: SurvDataset) -> None:
        """Hook (CoxPH computes baseline hazards here)."""

    # ---- training --------------------------------------------------------
    def train(self, dataset: SurvDataset) -> "SurvModel":
        out = self._out_features(dataset)
        self.net = MLP(
            dataset.in_features,
            self.hidden_nodes,
            out,
            batch_norm=self.batch_norm,
            dropout=self.dropout,
            output_bias=self._output_bias(),
            seed=self.seed,
        )
        if self.mode == "averaged":
            self._fit_averaged(dataset)
        else:
            self._fit_local(dataset)
        self._post_fit(dataset)
        return self

    def _epoch(self, opt: Adam, X, targets_np, training: bool = True) -> float:
        total, count = 0.0, 0
        n = len(X)
        for sl in _batches(n, self.batch_size):
            z = self.net.forward(X[sl], training=training)
            loss, dz = self._loss_grad(z, tuple(tt[sl] for tt in targets_np))
            if training:
                self.net.backward(dz)
                opt.step()
            total += loss * (sl.stop - sl.start)
            count += sl.stop - sl.start
        return total / max(count, 1)

    def _fit_local(self, dataset: SurvDataset) -> None:
        X, t, e = dataset.train_numpy()
        Xv, tv, ev = dataset.test_numpy()
        targets = self._prepare_targets(t, e)
        val_targets = self._prepare_targets(tv, ev)
        opt = Adam(self.net, lr=self.lr)
        best_val, best_weights, since_best = np.inf, None, 0
        for epoch in range(self.epochs):
            train_loss = self._epoch(opt, X, targets, training=True)
            val_loss = self._epoch(opt, Xv, val_targets, training=False)
            if self.verbose:
                print(f"[{self.name()}] epoch {epoch}: train={train_loss:.4f} val={val_loss:.4f}")
            if val_loss < best_val - 1e-12:
                # full state, not just params: the checkpoint must restore
                # the best epoch's BN running stats too (≡ torchtuples
                # EarlyStopping, which snapshots the whole state_dict)
                best_val, best_weights, since_best = val_loss, self.net.get_state(), 0
            else:
                since_best += 1
                if since_best >= self.patience:
                    break
        if best_weights is not None:
            self.net.set_state(best_weights)

    def _fit_averaged(self, dataset: SurvDataset, rounds: int | None = None) -> None:
        """Local-SGD with size-weighted parameter averaging per round."""
        spark = dataset.train_df.sparkSession
        sc = spark.sparkContext
        cfg = dict(
            features=dataset.features,
            time=dataset.time_column,
            event=dataset.event_column,
            hidden=self.hidden_nodes,
            batch_norm=self.batch_norm,
            dropout=self.dropout,
            out=self._out_features(dataset),
            output_bias=self._output_bias(),
            lr=self.lr,
            batch_size=self.batch_size,
            seed=self.seed,
        )
        model = self  # loss/targets are picklable via the instance

        rounds = rounds or self.epochs
        for rnd in range(rounds):
            # full state: partitions resume from the averaged BN running
            # stats instead of re-warming them from init each round
            weights_b = sc.broadcast(self.net.get_state())

            def one_partition(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                net = MLP(
                    len(cfg["features"]), cfg["hidden"], cfg["out"],
                    batch_norm=cfg["batch_norm"], dropout=cfg["dropout"],
                    output_bias=cfg["output_bias"], seed=cfg["seed"],
                )
                net.set_state(weights_b.value)
                opt = Adam(net, lr=cfg["lr"])
                saved, model.net = model.net, net
                n_seen = 0
                try:
                    for pdf in pdfs:
                        if not len(pdf):
                            continue
                        X = pdf[cfg["features"]].to_numpy(dtype=float)
                        t = pdf[cfg["time"]].to_numpy(dtype=float)
                        e = pdf[cfg["event"]].to_numpy(dtype=float)
                        targets = model._prepare_targets(t, e)
                        for sl in _batches(len(X), cfg["batch_size"]):
                            z = net.forward(X[sl], training=True)
                            _, dz = model._loss_grad(z, tuple(tt[sl] for tt in targets))
                            net.backward(dz)
                            opt.step()
                        n_seen += len(X)
                finally:
                    model.net = saved
                if n_seen:
                    yield pd.DataFrame(
                        {"n": [n_seen], "w": [net.get_state().tolist()]}
                    )

            res = dataset.train_df.mapInPandas(
                one_partition, schema="n long, w array<double>"
            ).collect()
            weights_b.unpersist()
            total = sum(r["n"] for r in res)
            # size-weighted average of the full state vector: params AND
            # BN running stats (means/vars average soundly by size weight)
            avg = np.zeros_like(self.net.get_state())
            for r in res:
                avg += (r["n"] / total) * np.asarray(r["w"])
            self.net.set_state(avg)

    # ---- inference -------------------------------------------------------
    def predict(self, df: DataFrame, id_cols: list[str], features: list[str]) -> DataFrame:
        """Distributed survival-curve inference: (ids..., surv array<double>)."""
        model = self
        # ship the full state (params + BN running stats): eval-mode
        # BatchNorm on the executors must normalize with the trained
        # statistics, exactly as local inference would
        weights = self.net.get_state()
        net_out = self.net.layers[-1].W.shape[1]
        cfg = (features, self.hidden_nodes, self.batch_norm, self.dropout,
               net_out, self._output_bias(), self.seed)

        def infer(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            feats, hidden, bn, do, out, ob, seed = cfg
            net = MLP(len(feats), hidden, out, batch_norm=bn, dropout=do,
                      output_bias=ob, seed=seed)
            net.set_state(np.asarray(weights))
            saved, model.net = model.net, net
            try:
                for pdf in pdfs:
                    if not len(pdf):
                        continue
                    X = pdf[feats].to_numpy(dtype=float)
                    surv = model._surv_from_output(net.forward(X, training=False))
                    out_pdf = pdf[id_cols].copy()
                    out_pdf["surv"] = [row.tolist() for row in surv]
                    yield out_pdf
            finally:
                model.net = saved

        id_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.schema.fields
            if f.name in id_cols
        )
        return df.mapInPandas(infer, schema=f"{id_schema}, surv array<double>")

    # ---- scoring (≡ reference base.py:61-82) -----------------------------
    def score(self, dataset: SurvDataset, n_grid: int = 100) -> dict[str, float]:
        """``{"c_index", "brier_score"}`` on the test split: Antolini
        time-dependent concordance and the integrated Brier score over
        ``linspace(t_min, t_max, n_grid)``, censoring by Kaplan-Meier.

        Only the predictions depend on the model. The censoring curve, the
        grid and the test split's size depend on the split alone, so they
        come from the dataset, which computes them once however many models
        (or concurrent Hyperband trials) score on it.

        Up to ``concordance.EXACT_THRESHOLD`` test rows, the curves come
        from :meth:`_test_predictions` (the forward pass on the dataset's
        raw test arrays, no Spark job), and
        :func:`~elastic_surv_spark.metrics.concordance.concordance_td_local`
        and :func:`~elastic_surv_spark.metrics.brier.integrated_brier_score_local`
        score them in numpy: the C-index counts come from one
        :func:`~elastic_surv_spark.metrics.concordance.harrell_counts` call
        per occupied cut and equal the pairwise Spark kernel's, and each
        BS(τ) is an exactly rounded sum, so neither depends on the row
        order. Above it the :meth:`predict` frame is cached for the exact
        Spark C-index (the same per-cut counts, in one grouped pass) and the
        Spark IBS, and released even when one of them raises. Both paths
        divide the integer counts the same way, unrounded, so the C-index
        does not depend on the switch. Rows with a NULL time or curve are
        left out on both paths.
        """
        return score_model(self, dataset, n_grid)

    def _test_predictions(self, dataset: SurvDataset) -> tuple[np.ndarray, ...]:
        """``(t, e, S)`` of the test split as
        :func:`~elastic_surv_spark.metrics.brier.prediction_arrays` gives
        them for a collected prediction frame: the raw times and events,
        and the curves from the forward pass on the dataset's test arrays,
        without the rows whose time is NaN (NULL in the split)."""
        X, t, e = dataset.raw_numpy("test")
        keep = ~np.isnan(t)
        S = self._surv_from_output(self.net.forward(X[keep], training=False))
        return t[keep], e[keep], S

    # ---- misc ------------------------------------------------------------
    def hyperparams_hash(self, params: dict[str, Any]) -> str:
        """≡ reference optimizer.py:71-96 dedup hashing (sorted JSON)."""
        def default(o):
            if isinstance(o, (np.integer,)):
                return int(o)
            if isinstance(o, (np.floating,)):
                return float(o)
            if isinstance(o, np.ndarray):
                return o.tolist()
            raise TypeError
        return json.dumps(params, sort_keys=True, default=default)


def score_model(model, dataset: SurvDataset, n_grid: int = 100) -> dict[str, float]:
    """:meth:`SurvModel.score` for any model with ``cuts``, ``predict`` and
    ``_test_predictions`` (the AFT baseline scores through it too)."""
    t_col, e_col = dataset.time_column, dataset.event_column
    censoring, grid = dataset.scoring_reference(n_grid)
    cuts = [float(c) for c in model.cuts]
    if dataset.test_rows() <= concordance.EXACT_THRESHOLD:
        t, e, S = model._test_predictions(dataset)
        comparable, concordant, tied = concordance_td_local(t, e, S, cuts)
        brier = integrated_brier_score_local(t, e, S, cuts, grid, censoring)
    else:
        pred = model.predict(
            dataset.test_df, id_cols=[t_col, e_col], features=dataset.features
        ).cache()
        try:
            comparable, concordant, tied, _ = concordance.concordance_td_exact(
                pred, t_col, e_col, "surv", cuts
            )
            brier = integrated_brier_score(pred, t_col, e_col, "surv", cuts, grid, censoring)
        finally:
            pred.unpersist()
    c_index = (concordant + 0.5 * tied) / comparable if comparable else float("nan")
    return {"c_index": float(c_index), "brier_score": float(brier)}
