"""≡ reference tests/test_optimizer.py: constructor math sanity + an
end-to-end select_model with max_iter=1 asserting the return type."""

from __future__ import annotations

import pytest

from elastic_surv_spark.frame import SurvFrame
from elastic_surv_spark.models.base import SurvModel
from elastic_surv_spark.models.data import SurvDataset
from elastic_surv_spark.models.logistic_hazard import LogisticHazardModel
from elastic_surv_spark.optimizer import HyperbandOptimizer
from tests.fixtures import gbsg2_like


def test_constructor_math():
    opt = HyperbandOptimizer(max_iter=81, eta=3)
    assert opt.s_max == 4
    assert opt.B == 5 * 81
    assert len(opt.seeds) == 3


def test_select_model_end_to_end(spark):
    frame = SurvFrame.from_pandas(spark, gbsg2_like(300), "time", "cens")
    dataset = SurvDataset(frame)
    opt = HyperbandOptimizer(
        seeds=[LogisticHazardModel], max_iter=1, output_epochs=3, parallelism=2
    )
    model = opt.select_model(dataset)
    assert isinstance(model, SurvModel)
    assert model.epochs == 3
    # returned model is fresh/untrained (≡ reference optimizer.py:176-180)
    assert model.net is None
    model.train(dataset)
    scores = model.score(dataset)
    assert 0 <= scores["c_index"] <= 1
    # seed trim ≡ reference optimizer.py:172-174: seeds becomes the (≤2)
    # best-scoring model family NAMES, best first
    assert opt.seeds == sorted(
        opt.model_best_score, key=opt.model_best_score.get, reverse=True
    )[:2]
    assert opt.seeds[0] == LogisticHazardModel.name()


def test_seed_trim_orders_families(spark):
    from elastic_surv_spark.models.cox_ph import CoxPHModel

    frame = SurvFrame.from_pandas(spark, gbsg2_like(200), "time", "cens")
    dataset = SurvDataset(frame)
    opt = HyperbandOptimizer(
        seeds=[LogisticHazardModel, CoxPHModel],
        max_iter=1,
        output_epochs=2,
        parallelism=2,
    )
    opt.select_model(dataset)
    assert len(opt.seeds) == 2
    assert set(opt.seeds) <= {LogisticHazardModel.name(), CoxPHModel.name()}
    scores = [opt.model_best_score[name] for name in opt.seeds]
    assert scores == sorted(scores, reverse=True)


def test_hyperband_computes_censoring_curve_once_per_dataset(spark, monkeypatch):
    # concurrent trials (parallelism=2) all score on one dataset: the
    # censoring curve depends on its test split alone, so it is built once.
    # Both of the dataset's sources (the split arrays, Spark) finish the
    # curve through km_product, so that is what is counted
    import elastic_surv_spark.metrics.km as km

    calls = []
    real = km.km_product

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(km, "km_product", counting)
    frame = SurvFrame.from_pandas(spark, gbsg2_like(200), "time", "cens")
    dataset = SurvDataset(frame)
    opt = HyperbandOptimizer(
        seeds=[LogisticHazardModel], max_iter=3, eta=3, output_epochs=1, parallelism=2
    )
    opt.select_model(dataset)
    assert len(calls) == 1
