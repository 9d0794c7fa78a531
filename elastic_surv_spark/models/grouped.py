"""Per-group ("many models") survival training in one grouped-map job.

The reference trains ONE model per process (src/elastic_surv/models/
base.py:39-59); production risk modeling usually wants one model per
segment — per region, per product line, per cohort. On Spark that is a
single ``applyInPandas``: each group's rows land on one task, the task
runs the SAME numpy trainer the local mode uses (``SurvModel._fit_local``
— identical math, identical early stopping), and the trained model leaves
the task as its serde JSON document (models/serde.py), loadable anywhere
WITHOUT a SparkSession. Training 10 000 segment models is then one
shuffle + one embarrassingly parallel stage, not 10 000 driver jobs.

Scale contract: one GROUP must fit one task (same contract as every
grouped-apply kernel here — blocked_cosine_pairs, cell_rerank); group
COUNT is the parallelism. Groups below ``min_rows`` emit a NULL
model_json row instead of a degenerate fit.

The discrete-time label transform fits on each group's TRAIN prefix
(``LabelTransform.equidistant``, the cuts ``LabelTransform.fit`` gives,
reference dataset.py:122-132) and CoxPH's Breslow baseline hazards come
from ``CoxPHModel.fit_baseline``, the local mode's own numpy Breslow (same
life-table quantization, same risk-set sums as the averaged mode's Spark
aggregate) — every piece is the group-local form of an operator certified
elsewhere.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from elastic_surv_spark.metrics.concordance import harrell_counts
from elastic_surv_spark.models.base import SurvModel
from elastic_surv_spark.models.nn import Adam
from elastic_surv_spark.models.cox_ph import CoxPHModel, _np_quantize
from elastic_surv_spark.models.deephit import DeepHitModel
from elastic_surv_spark.models.labels import LabelTransform
from elastic_surv_spark.models.logistic_hazard import LogisticHazardModel
from elastic_surv_spark.models.nn import MLP
from elastic_surv_spark.models.serde import model_to_json

__all__ = [
    "fit_per_group",
    "fit_one_local",
    "score_per_group",
    "pseudo_cox_registry",
    "pseudo_logistic_registry",
]

_FAMILIES: dict[str, type[SurvModel]] = {
    "logistic_hazard": LogisticHazardModel,
    "deephit": DeepHitModel,
    "cox_ph": CoxPHModel,
}


class _LocalSplit:
    """Duck-typed SurvDataset stand-in for ``SurvModel._fit_local``:
    deterministic prefix split over rows the caller already ordered."""

    def __init__(self, X: np.ndarray, t: np.ndarray, e: np.ndarray, train_ratio: float):
        n = len(X)
        k = min(max(int(n * train_ratio), 1), n - 1) if n > 1 else 1
        self._train = (X[:k], t[:k], e[:k])
        self._test = (X[k:], t[k:], e[k:]) if n > 1 else (X, t, e)
        self.in_features = X.shape[1]

    def train_numpy(self):
        return self._train

    def test_numpy(self):
        return self._test


def _np_harrell(t: np.ndarray, e: np.ndarray, risk: np.ndarray) -> float | None:
    """Exact, unrounded Harrell C of a group's test split from
    :func:`~elastic_surv_spark.metrics.concordance.harrell_counts`; None
    when no comparable pairs exist.

    The count is O(n log n · log n) and needs no size bound, but
    :func:`fit_one_local` keeps its ``cindex_max_test`` gate and
    even-stride subsample: lifting them would change the C-index that
    ``fit_per_group`` reports, and the rung promotions of the per-segment
    Hyperband, on every segment above 2,000 test rows."""
    comparable, concordant, tied = harrell_counts(t, e == 1, risk)
    if comparable == 0:
        return None
    return float((concordant + 0.5 * tied) / comparable)


def fit_one_local(
    family: str,
    X: np.ndarray,
    t: np.ndarray,
    e: np.ndarray,
    train_ratio: float = 0.9,
    cindex_max_test: int = 2000,
    cindex_subsample: bool = False,
    **hparams: Any,
) -> tuple[SurvModel, int, int, float, float | None]:
    """Train ONE (family, hyperparams) config on a group's arrays — the
    task-local kernel shared by :func:`fit_per_group` and the per-segment
    successive-halving loop (models/grouped_hyperband.py). Returns
    ``(model, n_train, n_test, val_loss, c_index)``; ``c_index`` is None
    above ``cindex_max_test`` test rows (unless ``cindex_subsample``) or
    with no comparable pairs. With ``cindex_subsample=True`` a test split
    above the gate scores on a deterministic even-stride subsample of
    ``cindex_max_test`` rows instead of returning None — the halving loop
    needs a comparable score at ANY group size, or promotion silently
    degenerates to config order (ADVICE r10). Deterministic given the seed
    in ``hparams`` (same math as the reference's local trainer,
    src/elastic_surv/models/base.py:39-59).
    """
    if family not in _FAMILIES:
        raise ValueError(f"unknown model family {family!r}: {sorted(_FAMILIES)}")
    data = _LocalSplit(X, t, e, train_ratio)
    Xtr, ttr, etr = data.train_numpy()
    Xte, tte, ete = data.test_numpy()

    m = _FAMILIES[family](in_features=data.in_features, **hparams)
    if isinstance(m, (LogisticHazardModel, DeepHitModel)):
        # equidistant cuts on the TRAIN prefix ≡ LabelTransform.fit
        m.labtrans = LabelTransform.equidistant(ttr.max(), m.num_durations)
        m.cuts = m.labtrans.cuts
    out = m._out_features(data)  # labtrans already set: no Spark touched
    m.net = MLP(
        data.in_features,
        m.hidden_nodes,
        out,
        batch_norm=m.batch_norm,
        dropout=m.dropout,
        output_bias=m._output_bias(),
        seed=m.seed,
    )
    m._fit_local(data)
    if isinstance(m, CoxPHModel):
        m.fit_baseline(Xtr, ttr, etr)

    val_targets = m._prepare_targets(tte, ete)
    val_loss = m._epoch(Adam(m.net, lr=0.0), Xte, val_targets, training=False)
    cidx = None
    if 0 < len(Xte) <= cindex_max_test:
        surv = m._surv_from_output(m.net.forward(Xte, training=False))
        cidx = _np_harrell(tte, ete, -surv.sum(axis=1))
    elif len(Xte) > cindex_max_test and cindex_subsample:
        # even-stride subsample over the order-sorted test prefix: strictly
        # increasing distinct indices, no RNG, identical across re-runs —
        # the count stays bounded at cindex_max_test rows while every config
        # in the rung scores on the SAME rows (comparable by construction)
        sel = (np.arange(cindex_max_test) * len(Xte)) // cindex_max_test
        surv = m._surv_from_output(m.net.forward(Xte[sel], training=False))
        cidx = _np_harrell(tte[sel], ete[sel], -surv.sum(axis=1))
    return m, len(Xtr), len(Xte), float(val_loss), cidx


def score_per_group(
    df: DataFrame,
    models: "DataFrame | dict[Any, str]",
    group_col: str,
    feature_cols: list[str],
    id_col: str | None = None,
    registry_as_table: bool = False,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Distributed inference half of "many models": score every row under
    ITS group's serde model in one grouped-map pass — ``(group[, id][,
    carry…], risk)`` with ``risk = -Σ S(t)`` (the family-standard ranking
    score the metric quartet consumes). ``carry_cols`` ride through the
    scoring pass unchanged (e.g. the (t, e) outcome columns a downstream
    metric needs) so composed pipelines keep them without a post-scoring
    re-join against the parent frame (VERDICT r11 #3).

    ``models`` is the per-group registry: either a ``(group, model_json)``
    DataFrame (e.g. :func:`fit_per_group`'s output) or a prebuilt dict.
    Two delivery paths, bit-identical outputs (asserted in tests):

    - **closure** (default): the registry collects driver-side (bounded at
      one serde doc per group) and ships in the ``mapInPandas`` closure —
      fine up to thousands of groups.
    - **table** (``registry_as_table=True``, requires a DataFrame): the
      registry broadcast-joins ``model_json`` onto the group key, so the
      JSON never transits the driver or the task closure — the scale path
      for ~10k-1M segments × few-KB docs, where the closure alternative
      serializes tens of MB to GBs per task set (VERDICT r10 #1). The
      fact side takes NO exchange (broadcast hash join + map — asserted
      by plan in tests).

    Rows of groups absent from the registry (or with a NULL model) are
    dropped — a segment without a trained model has no score.

    Scale: ZERO fact-side shuffle on either path — scoring needs no
    co-location: each Arrow batch groups its rows by the group value
    pandas-side and a per-task cache deserializes every referenced model
    at most once. Bit-identical to scoring the group's rows with the
    loaded model locally (asserted in tests).
    """
    from typing import Iterator

    from elastic_surv_spark.models.serde import model_from_json

    gtype = df.schema[group_col].dataType.simpleString()
    feats = list(feature_cols)
    carry = list(carry_cols or [])
    clash = set(carry) & {group_col, id_col, *feats, "risk"}
    if clash:
        raise ValueError(f"score_per_group: carry_cols collide with {clash}")
    passthru = [*([id_col] if id_col else []), *carry]
    cols = [group_col, *passthru, *feats]
    out_cols = [group_col, *passthru, "risk"]
    pass_part = "".join(
        f"{c} {df.schema[c].dataType.simpleString()}, " for c in passthru
    )
    schema = f"{group_col} {gtype}, {pass_part}risk double"

    # ONE scoring closure for both delivery paths (review finding, r11 —
    # two hand-synced copies could drift): `resolve` is the only varying
    # piece — closure dict lookup vs the broadcast-joined model_json
    # column. Returning None skips the group (no model, no score).
    def make_score(resolve):
        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cache: dict[Any, Any] = {}
            for pdf in batches:
                outs = []
                for gval, sl in pdf.groupby(group_col, sort=False):
                    m = cache.get(gval)
                    if m is None:
                        mjson = resolve(gval, sl)
                        if mjson is None:
                            continue
                        m = model_from_json(mjson)
                        cache[gval] = m
                    X = sl[feats].to_numpy(dtype=float)
                    surv = m._surv_from_output(m.net.forward(X, training=False))
                    res = {group_col: sl[group_col], "risk": -surv.sum(axis=1)}
                    for c in passthru:
                        res[c] = sl[c]
                    outs.append(pd.DataFrame(res)[out_cols])
                yield (
                    pd.concat(outs, ignore_index=True)
                    if outs
                    else pd.DataFrame({c: [] for c in out_cols})
                )

        return score

    if registry_as_table:
        if not isinstance(models, DataFrame):
            raise ValueError(
                "registry_as_table=True needs the registry as a DataFrame"
            )
        import pyspark.sql.functions as F

        joined = df.select(*cols).join(
            F.broadcast(
                models.filter(F.col("model_json").isNotNull()).select(
                    group_col, "model_json"
                )
            ),
            group_col,
            "inner",  # groups without a trained model drop, ≡ closure path
        )
        return joined.mapInPandas(
            make_score(lambda gval, sl: sl["model_json"].iloc[0]), schema=schema
        )

    if isinstance(models, DataFrame):
        reg = {
            r[0]: r[1]
            for r in models.select(group_col, "model_json").collect()
            if r[1] is not None
        }
    else:
        reg = {g: mj for g, mj in models.items() if mj is not None}

    return df.select(*cols).mapInPandas(
        make_score(lambda gval, sl: reg.get(gval)), schema=schema
    )


def pseudo_cox_registry(
    df: DataFrame,
    group_col: str,
    id_col: str,
    time_col: str,
    event_col: str,
    feature_cols: list[str],
    max_curve_points: int = 100,
    h0_round: int = 6,
) -> DataFrame:
    """FIXED per-segment linear-CoxPH serde docs — the certification twin
    of :func:`fit_per_group` (the ``doc_quality_model_scores``
    pseudo-weights recipe applied to survival): ``(group, model_json)``
    with, per segment g,

    - β_j = ((((g·n_features + j) · 2654435761) % 2001) − 1000) / 1000 —
      the Knuth-hash spread both engines regenerate arithmetically
      (operators/quality_model.py:pseudo_weights), so no weight literal
      ships anywhere;
    - a Breslow baseline computed from the SEGMENT'S OWN data under that
      β (the arithmetic of CoxPHModel.fit_baseline: life-table
      quantization to ``max_curve_points``, risk-set reverse cumsum) —
      reproducible in plain SQL, which
      is what makes the downstream ``score_per_group`` risk and the
      per-cohort metric quartet oracle-certifiable end to end;
    - H0 rounded to ``h0_round`` digits: the float-parity hinge. The two
      engines build H0 through order-sensitive float sums (~1e-14 apart);
      rounding at 1e-6 makes them agree EXACTLY except for boundary
      events at P ≈ 1e-8/point, and any residual 1e-6-scale H0 wobble is
      invisible to the final risk's own 6-digit round.

    Training itself is not SQL-expressible — the trained path is
    pytest-certified (fit_per_group → score_per_group → metric quartet,
    tests/test_grouped_models.py); this builder certifies every OTHER
    stage of that composition against DuckDB with real serde documents.
    The group column must be integer-typed (it feeds the β recipe).
    """
    gtype = df.schema[group_col].dataType.simpleString()
    feats = list(feature_cols)
    nf = len(feats)
    schema = f"{group_col} {gtype}, model_json string"

    def build_group(pdf: pd.DataFrame) -> pd.DataFrame:
        from elastic_surv_spark.operators.quality_model import pseudo_weights

        gval = pdf[group_col].iloc[0]
        seg = int(gval)
        w = pseudo_weights(nf, offset=seg * nf)  # THE certification spread

        m = CoxPHModel(
            in_features=nf, hidden_nodes=[], batch_norm=False, dropout=0.0,
            seed=0, max_curve_points=max_curve_points,
        )
        m.net = MLP(nf, [], 1, batch_norm=False, dropout=0.0,
                    output_bias=False, seed=0)
        m.net.set_state(w)

        # deterministic float-sum order within the engine (grouped-map row
        # arrival order is not stable across runs).
        # The Breslow body below intentionally mirrors
        # CoxPHModel.fit_baseline INLINE rather than calling it:
        # fit_baseline scores through m.net.forward (an (n,1) GEMM) while
        # the SQL oracle's twin is the vector product X @ w (a GEMV) — BLAS
        # may order those sums differently in the last ulp, and this row is
        # hash-certified at 1e-6 where a boundary flip would be a
        # cross-engine mismatch. The GEMV form is the one the oracle
        # reproduces.
        pdf = pdf.sort_values(id_col, ignore_index=True)
        X = pdf[feats].to_numpy(dtype=float)
        t = pdf[time_col].to_numpy(dtype=float)
        e = pdf[event_col].to_numpy(dtype=float)
        eg = np.exp(X @ w)
        tq = _np_quantize(t, max_curve_points)
        ts = np.unique(tq)
        d = np.array([e[tq == u].sum() for u in ts], dtype=float)
        sum_eg = np.array([eg[tq == u].sum() for u in ts], dtype=float)
        denom = np.cumsum(sum_eg[::-1])[::-1]
        m.cuts = ts
        m.baseline_cumhaz = np.round(np.cumsum(d / denom), h0_round)
        return pd.DataFrame({group_col: [gval], "model_json": [model_to_json(m)]})

    return df.select(group_col, id_col, time_col, event_col, *feats).groupBy(
        group_col
    ).applyInPandas(build_group, schema=schema)


def pseudo_logistic_registry(
    spark,
    groups: list[int],
    feature_count: int,
    num_durations: int = 5,
    t_max: float = 1.0,
    family: str = "logistic_hazard",
) -> DataFrame:
    """FIXED per-segment linear discrete-time serde docs — the companion
    of :func:`pseudo_cox_registry` (same pseudo-weights recipe, but PURELY
    arithmetic: no data-dependent baseline at all, so the docs depend only
    on ``(seg, feature_count, num_durations, family)``).
    Per segment g, logit weight ``W[i, k]`` (feature i, duration bin k)
    is the Knuth spread at flat index ``g·nf·K + i·K + k``; biases are
    zero; cuts are the fixed ``linspace(0, t_max, K)`` grid. Scoring is
    plain SQL either way, which makes the scored output oracle-certifiable
    exactly like the CoxPH row (pytest-certified today; lift into a
    registry row when a certification window slot opens):

    - ``family="logistic_hazard"``: ``risk = −Σ_k Π_{j≤k} (1 − σ(z_j))``
      (sigmoid + running product);
    - ``family="deephit"``: ``risk = −Σ_k (1 − Σ_{j≤k} softmax(z)_j)``
      with the max-subtracted softmax — replicate the SAME max-subtract in
      the SQL mirror or last-ulp parity is lost.
    """
    from elastic_surv_spark.operators.quality_model import pseudo_weights

    nf, K = int(feature_count), int(num_durations)
    classes: dict[str, type[SurvModel]] = {
        "logistic_hazard": LogisticHazardModel,
        "deephit": DeepHitModel,
    }
    if family not in classes:
        raise ValueError(f"family must be one of {sorted(classes)}")
    docs = []
    for seg in groups:
        m = classes[family](
            in_features=nf, num_durations=K, hidden_nodes=[],
            batch_norm=False, dropout=0.0, seed=0,
        )
        m.cuts = np.linspace(0.0, float(t_max), K)
        m.labtrans = LabelTransform(m.cuts)
        m.net = MLP(nf, [], K, batch_norm=False, dropout=0.0,
                    output_bias=True, seed=0)
        # THE certification spread (one definition), in W.ravel() order
        w = pseudo_weights(nf * K, offset=int(seg) * nf * K)
        m.net.set_state(np.concatenate([w, np.zeros(K)]))  # zero biases
        docs.append((int(seg), model_to_json(m)))
    return spark.createDataFrame(docs, "seg int, model_json string")


def fit_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    time_col: str,
    event_col: str,
    feature_cols: list[str],
    model: str = "logistic_hazard",
    train_ratio: float = 0.9,
    min_rows: int = 8,
    cindex_max_test: int = 2000,
    **hparams: Any,
) -> DataFrame:
    """One trained survival model per group: ``(group, model_json, n_train,
    n_test, val_loss, c_index)``.

    ``order_col`` anchors the deterministic prefix split inside each group
    (reference split semantics, dataset.py:64-68 — Spark has no row
    order). ``model`` ∈ {logistic_hazard, deephit, cox_ph}; ``hparams``
    pass through to the family constructor (epochs, lr, num_durations,
    seed, …). ``c_index`` is the exact Harrell C of the group's test
    prefix (NULL above ``cindex_max_test`` rows or with no comparable
    pairs — the n² check is a convenience metric, not the scale path).
    """
    if model not in _FAMILIES:
        raise ValueError(f"unknown model family {model!r}: {sorted(_FAMILIES)}")
    family = model
    gtype = df.schema[group_col].dataType.simpleString()
    schema = (
        f"{group_col} {gtype}, model_json string, n_train long, "
        "n_test long, val_loss double, c_index double"
    )
    feats = list(feature_cols)

    def train_group(pdf: pd.DataFrame) -> pd.DataFrame:
        gval = pdf[group_col].iloc[0]
        pdf = pdf.sort_values(order_col, ignore_index=True)
        X = pdf[feats].to_numpy(dtype=float)
        t = pdf[time_col].to_numpy(dtype=float)
        e = pdf[event_col].to_numpy(dtype=float)
        n = len(pdf)

        def row(mjson, n_train, n_test, val_loss, cidx):
            return pd.DataFrame(
                {
                    group_col: [gval],
                    "model_json": [mjson],
                    "n_train": [n_train],
                    "n_test": [n_test],
                    "val_loss": [val_loss],
                    "c_index": [cidx],
                }
            )

        if n < min_rows:
            return row(None, n, 0, None, None)

        m, n_train, n_test, val_loss, cidx = fit_one_local(
            family, X, t, e, train_ratio, cindex_max_test, **hparams
        )
        return row(model_to_json(m), n_train, n_test, val_loss, cidx)

    return df.select(group_col, order_col, time_col, event_col, *feats).groupBy(
        group_col
    ).applyInPandas(train_group, schema=schema)
