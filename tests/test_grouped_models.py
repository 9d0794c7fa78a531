"""Per-group model training (models/grouped.py): one serde-JSON model per
segment from a single grouped-map job."""

from __future__ import annotations

import numpy as np
import pytest

from elastic_surv_spark.models.grouped import fit_per_group
from elastic_surv_spark.models.serde import model_from_json


def _segments_frame(spark, n_per=240, n_groups=3, seed=5):
    """Synthetic segments with group-specific hazards; risk is informative
    (shorter lifetimes at higher x0) so C > 0.5 is learnable."""
    rng = np.random.default_rng(seed)
    rows = []
    rid = 0
    for g in range(n_groups):
        for _ in range(n_per):
            x0 = rng.normal()
            x1 = rng.normal()
            t = float(np.exp(1.5 - 0.8 * x0 + 0.3 * rng.normal()) * (1 + g))
            e = int(rng.random() < 0.7)
            rows.append((rid, g, float(x0), float(x1), t, e))
            rid += 1
    return spark.createDataFrame(
        rows, "rid long, seg int, x0 double, x1 double, t double, e int"
    )


@pytest.fixture(scope="module")
def seg_df(spark):
    return _segments_frame(spark)


def test_fit_per_group_trains_loadable_informative_models(spark, seg_df):
    res = fit_per_group(
        seg_df, "seg", "rid", "t", "e", ["x0", "x1"],
        model="logistic_hazard", epochs=15, patience=5, hidden_nodes=[16],
    ).collect()
    assert sorted(r.seg for r in res) == [0, 1, 2]
    for r in res:
        assert r.n_train == 216 and r.n_test == 24
        assert r.model_json is not None and np.isfinite(r.val_loss)
        # informative risk: the per-segment model discriminates
        assert r.c_index is not None and r.c_index > 0.5, (r.seg, r.c_index)
        # the JSON doc loads WITHOUT a SparkSession and predicts sanely
        m = model_from_json(r.model_json)
        X = np.array([[0.0, 0.0], [2.0, -1.0]])
        surv = m._surv_from_output(m.net.forward(X, training=False))
        assert surv.shape == (2, len(m.cuts))
        assert np.all(np.diff(surv, axis=1) <= 1e-12)  # monotone curves
        assert np.all((surv >= 0) & (surv <= 1))


def test_fit_per_group_deterministic(spark, seg_df):
    a = {r.seg: r.model_json for r in fit_per_group(
        seg_df, "seg", "rid", "t", "e", ["x0", "x1"],
        model="logistic_hazard", epochs=8, patience=3, hidden_nodes=[8],
    ).collect()}
    b = {r.seg: r.model_json for r in fit_per_group(
        seg_df, "seg", "rid", "t", "e", ["x0", "x1"],
        model="logistic_hazard", epochs=8, patience=3, hidden_nodes=[8],
    ).collect()}
    assert a == b


def test_fit_per_group_cox_breslow(spark, seg_df):
    res = fit_per_group(
        seg_df.filter("seg = 0"), "seg", "rid", "t", "e", ["x0", "x1"],
        model="cox_ph", epochs=10, patience=4, hidden_nodes=[8],
    ).collect()
    assert len(res) == 1
    m = model_from_json(res[0].model_json)
    # Breslow curve fit group-locally: bounded, increasing cumhaz
    assert 0 < len(m.cuts) <= m.max_curve_points + 1
    assert np.all(np.diff(m.baseline_cumhaz) >= -1e-15)
    X = np.array([[0.5, 0.0]])
    surv = m._surv_from_output(m.net.forward(X, training=False))
    assert np.all(np.diff(surv, axis=1) <= 1e-12)


def test_fit_per_group_small_group_skipped(spark):
    df = spark.createDataFrame(
        [(i, 0, float(i), float(i + 1), 1) for i in range(4)],
        "rid long, seg int, x0 double, t double, e int",
    )
    r = fit_per_group(df, "seg", "rid", "t", "e", ["x0"], min_rows=8).collect()[0]
    assert r.model_json is None and r.n_train == 4 and r.n_test == 0


def test_fit_per_group_rejects_unknown_family(spark, seg_df):
    with pytest.raises(ValueError):
        fit_per_group(seg_df, "seg", "rid", "t", "e", ["x0"], model="nope")


def test_per_segment_models_feed_per_segment_metric_quartet(spark, seg_df):
    """End-to-end segmented evaluation: train one model per segment
    (grouped-map), score every segment's rows with its OWN model, and read
    all four per-segment metrics from the distributed one-plan forms —
    C-index (harrell_cindex_by), td-AUC (cumulative_dynamic_auc_by), and
    IPCW Brier (ipcw_brier_km_by); per-cohort KM is exercised by its own
    suite."""
    from elastic_surv_spark.metrics.brier import ipcw_brier_km_by
    from elastic_surv_spark.metrics.concordance import harrell_cindex_by
    from elastic_surv_spark.metrics.td_auc import cumulative_dynamic_auc_by

    from elastic_surv_spark.models.grouped import score_per_group

    fitted_df = fit_per_group(
        seg_df, "seg", "rid", "t", "e", ["x0", "x1"],
        model="logistic_hazard", epochs=15, patience=5, hidden_nodes=[16],
    )
    fitted = fitted_df.collect()
    models = {r.seg: model_from_json(r.model_json) for r in fitted}

    # DISTRIBUTED per-segment scoring (score_per_group), asserted
    # bit-identical to loading each segment's model and scoring locally
    scored = (
        score_per_group(seg_df, fitted_df, "seg", ["x0", "x1"], id_col="rid")
        .join(seg_df.select("rid", "t", "e"), "rid")
        .select("seg", "t", "e", "risk")
    )
    got_risk = {
        r.rid: r.risk
        for r in score_per_group(
            seg_df, fitted_df, "seg", ["x0", "x1"], id_col="rid"
        ).collect()
    }
    pdf = seg_df.toPandas()
    for seg, m in models.items():
        sl = pdf[pdf.seg == seg]
        X = sl[["x0", "x1"]].to_numpy(dtype=float)
        surv = m._surv_from_output(m.net.forward(X, training=False))
        want = -surv.sum(axis=1)
        for rid, w in zip(sl["rid"], want):
            assert got_risk[rid] == w, (seg, rid)

    cs = {r.seg: r.c_index for r in harrell_cindex_by(scored, "seg", "t", "e", "risk").collect()}
    assert set(cs) == {0, 1, 2}
    assert all(c is not None and c > 0.55 for c in cs.values()), cs

    aucs = [
        r for r in cumulative_dynamic_auc_by(scored, "seg", "t", "e", "risk").collect()
    ]
    assert {r.seg for r in aucs} == {0, 1, 2}
    # informative risk discriminates at a solid majority of horizons
    assert sum(r.auc > 0.5 for r in aucs) >= 0.7 * len(aucs)

    briers = ipcw_brier_km_by(scored, "seg", "t", "e", n_grid=10).collect()
    assert {r.seg for r in briers} == {0, 1, 2}
    assert all(0.0 <= r.brier <= 1.0 for r in briers)

    # Antolini leg (r11): per-segment time-dependent C over each model's
    # OWN survival curves. Each segment's label transform fit its OWN cut
    # grid, so concordance_td_by runs per segment with that grid (one call
    # per segment here only because the CUTS differ — the kernel itself is
    # grouped).
    from elastic_surv_spark.metrics.concordance import concordance_td_by

    for seg, m in models.items():
        sl = pdf[pdf.seg == seg]
        X = sl[["x0", "x1"]].to_numpy(dtype=float)
        surv = m._surv_from_output(m.net.forward(X, training=False))
        curves_df = spark.createDataFrame(
            [
                (int(seg), float(t_), int(e_), [float(v) for v in s])
                for t_, e_, s in zip(sl.t, sl.e, surv)
            ],
            "seg int, t double, e int, surv array<double>",
        )
        row = concordance_td_by(
            curves_df, "seg", "t", "e", "surv", list(m.cuts)
        ).collect()[0]
        assert row.c_index is not None and row.c_index > 0.55, (seg, row)


def test_score_per_group_drops_unregistered_groups(spark, seg_df):
    from elastic_surv_spark.models.grouped import score_per_group

    fitted = fit_per_group(
        seg_df.filter("seg < 2"), "seg", "rid", "t", "e", ["x0", "x1"],
        model="logistic_hazard", epochs=5, patience=5, hidden_nodes=[8],
    )
    scored = score_per_group(seg_df, fitted, "seg", ["x0", "x1"], id_col="rid")
    segs = {r.seg for r in scored.select("seg").distinct().collect()}
    assert segs == {0, 1}  # seg 2 has no model -> no scores
    # dict registry form scores identically to the DataFrame form
    reg = {r.seg: r.model_json for r in fitted.collect()}
    a = sorted((r.rid, r.risk) for r in scored.collect())
    b = sorted(
        (r.rid, r.risk)
        for r in score_per_group(seg_df, reg, "seg", ["x0", "x1"], id_col="rid").collect()
    )
    assert a == b


def test_score_per_group_works_on_streams(spark, seg_df, tmp_path):
    """The map-only scoring pass applies unchanged to a file stream — the
    production shape: models trained offline, micro-batches scored online."""
    import uuid

    fitted = fit_per_group(
        seg_df, "seg", "rid", "t", "e", ["x0", "x1"],
        model="logistic_hazard", epochs=5, patience=5, hidden_nodes=[8],
    )
    from elastic_surv_spark.models.grouped import score_per_group

    src = str(tmp_path / "src")
    seg_df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(seg_df.schema).parquet(src)
    sink = f"scored_{uuid.uuid4().hex[:8]}"
    q = (
        score_per_group(stream, fitted, "seg", ["x0", "x1"], id_col="rid")
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r.rid, r.risk) for r in spark.table(sink).select("rid", "risk").collect()
    )
    want = sorted(
        (r.rid, r.risk)
        for r in score_per_group(seg_df, fitted, "seg", ["x0", "x1"], id_col="rid").collect()
    )
    assert got == want and len(got) == seg_df.count()


def test_score_per_group_registry_as_table_parity_and_plan(spark, seg_df):
    """The scale path (VERDICT r10 #1): the registry broadcast-joins
    model_json onto the group key instead of riding the task closure —
    bit-identical scores, BroadcastHashJoin in the plan, and NO exchange
    on the fact side."""
    from elastic_surv_spark.models.grouped import score_per_group

    fitted = fit_per_group(
        seg_df.filter("seg < 2"), "seg", "rid", "t", "e", ["x0", "x1"],
        model="logistic_hazard", epochs=5, patience=5, hidden_nodes=[8],
    ).localCheckpoint(eager=True)  # production shape: registry IS a table,
    # not live training lineage (whose own groupBy exchange would show up
    # inside the broadcast side of the plan)
    closure = score_per_group(seg_df, fitted, "seg", ["x0", "x1"], id_col="rid")
    table = score_per_group(
        seg_df, fitted, "seg", ["x0", "x1"], id_col="rid",
        registry_as_table=True,
    )
    a = sorted((r.seg, r.rid, r.risk) for r in closure.collect())
    b = sorted((r.seg, r.rid, r.risk) for r in table.collect())
    assert a == b and len(a) > 0  # bit-identical incl. dropped seg 2

    plan = table._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    # the fact side never shuffles: broadcast exchange only
    assert "Exchange hashpartitioning" not in plan, plan

    # dict registries cannot take the table path
    reg = {r.seg: r.model_json for r in fitted.collect()}
    with pytest.raises(ValueError):
        score_per_group(
            seg_df, reg, "seg", ["x0", "x1"], registry_as_table=True
        )


@pytest.mark.parametrize(
    "in_features, hidden, out",
    [(2, [], 1), (2, [], 5), (6, [32, 32], 1), (6, [32, 16], 5)],
    ids=["linear-cox", "linear-discrete", "mlp-cox", "mlp-discrete"],
)
def test_inference_forward_is_row_independent(in_features, hidden, out):
    """score_per_group scores whichever rows share an Arrow batch, and its
    risks must equal local scoring of the whole group: a row's inference
    output may not depend on the other rows of its batch. Rows 88-89 of a
    90-row batch are where BLAS's trailing-row rounding showed; every row
    alone, the tail alone and the full matrix must give the same bits, and
    those bits are each dense layer's left-to-right sum Σ_j x[:, j]·W[j]."""
    from elastic_surv_spark.models.nn import MLP, BatchNorm1d, Dense

    rng = np.random.default_rng(17)
    net = MLP(in_features, hidden, out, batch_norm=True, dropout=0.1, seed=3)
    for layer in net.layers:  # trained-looking BN statistics, not the init
        if isinstance(layer, BatchNorm1d):
            layer.running_mean[...] = rng.normal(size=layer.running_mean.shape)
            layer.running_var[...] = rng.uniform(0.5, 2.0, layer.running_var.shape)
    X = rng.normal(size=(90, in_features))

    full = net.forward(X, training=False)
    assert np.array_equal(net.forward(X[88:90], training=False), full[88:90])
    alone = np.vstack([net.forward(X[i : i + 1], training=False) for i in range(90)])
    assert np.array_equal(alone, full)

    want = X
    for layer in net.layers:
        if isinstance(layer, Dense):
            x, want = want, want[:, 0, None] * layer.W[0]
            for j in range(1, layer.W.shape[0]):
                want = want + x[:, j, None] * layer.W[j]
            if layer.b is not None:
                want = want + layer.b
        else:
            want = layer.forward(want, training=False)
    assert np.array_equal(full, want)


def test_pseudo_cox_registry_builds_loadable_linear_models(spark, seg_df):
    """pseudo_cox_registry (the segmented_cox_pipeline certification twin):
    real CoxPH serde docs — pseudo-β regenerated arithmetically, Breslow
    from the segment's own data — that load WITHOUT Spark, score via
    score_per_group bit-identically to local eval, and are deterministic."""
    import json

    from elastic_surv_spark.models.grouped import (
        pseudo_cox_registry,
        score_per_group,
    )

    docs = pseudo_cox_registry(seg_df, "seg", "rid", "t", "e", ["x0", "x1"])
    rows = {r.seg: r.model_json for r in docs.collect()}
    assert set(rows) == {0, 1, 2}
    for seg, mjson in rows.items():
        d = json.loads(mjson)
        assert d["model"] == "cox_ph" and d["params"]["hidden_nodes"] == []
        # β is the pseudo recipe, exactly
        w = d["net"]["state"]
        want = [
            (((seg * 2 + j) * 2654435761) % 2001 - 1000) / 1000.0
            for j in range(2)
        ]
        assert w == want
        m = model_from_json(mjson)
        surv = m._surv_from_output(
            m.net.forward(np.array([[0.5, -0.2]]), training=False)
        )
        assert np.isfinite(surv).all() and np.all((surv >= 0) & (surv <= 1))
        assert np.all(np.diff(surv, axis=1) <= 1e-12)  # monotone curves

    # distributed scoring under the docs == local scoring with the loaded
    # model (both delivery paths)
    for as_table in (False, True):
        scored = {
            r.rid: r.risk
            for r in score_per_group(
                seg_df, docs, "seg", ["x0", "x1"], id_col="rid",
                registry_as_table=as_table,
            ).collect()
        }
        pdf = seg_df.toPandas()
        for seg, mjson in rows.items():
            m = model_from_json(mjson)
            sl = pdf[pdf.seg == seg]
            X = sl[["x0", "x1"]].to_numpy(dtype=float)
            want_r = -m._surv_from_output(
                m.net.forward(X, training=False)
            ).sum(axis=1)
            got_r = np.array([scored[rid] for rid in sl.rid])
            assert np.array_equal(got_r, want_r), (as_table, seg)

    # deterministic across runs (grouped-map row order varies; the builder
    # sorts by id before any float sum)
    again = {r.seg: r.model_json for r in pseudo_cox_registry(
        seg_df, "seg", "rid", "t", "e", ["x0", "x1"]
    ).collect()}
    assert again == rows


def test_score_per_group_table_registry_on_streams(spark, seg_df, tmp_path):
    """The broadcast-join registry path applies to a file stream too — the
    full production shape: models trained offline into a registry TABLE,
    micro-batches scored online via a stream-static broadcast join (no
    driver collect, no closure shipping)."""
    import uuid

    from elastic_surv_spark.models.grouped import score_per_group

    fitted = fit_per_group(
        seg_df, "seg", "rid", "t", "e", ["x0", "x1"],
        model="logistic_hazard", epochs=5, patience=5, hidden_nodes=[8],
    ).localCheckpoint(eager=True)  # registry-as-table: no training lineage

    src = str(tmp_path / "src")
    seg_df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(seg_df.schema).parquet(src)
    sink = f"scored_tbl_{uuid.uuid4().hex[:8]}"
    q = (
        score_per_group(
            stream, fitted, "seg", ["x0", "x1"], id_col="rid",
            registry_as_table=True,
        )
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r.rid, r.risk) for r in spark.table(sink).select("rid", "risk").collect()
    )
    want = sorted(
        (r.rid, r.risk)
        for r in score_per_group(
            seg_df, fitted, "seg", ["x0", "x1"], id_col="rid"
        ).collect()
    )
    assert got == want and len(got) == seg_df.count()


def test_pseudo_logistic_registry_duckdb_parity(spark):
    """The discrete-time pseudo-certification recipe (pseudo_logistic_
    registry): score_per_group under arithmetic LogisticHazard docs
    hash-matches a DuckDB mirror of risk = -sum_k prod_{j<=k}(1-sigmoid(z_j))
    at 6-digit rounding — the ready-made oracle recipe for a future
    registry row (the CoxPH twin is registry-certified already)."""
    import duckdb
    import pandas as pd

    from elastic_surv_spark.models.grouped import (
        pseudo_logistic_registry,
        score_per_group,
    )

    rng = np.random.default_rng(21)
    n, K = 200, 5
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "seg": (np.arange(n) % 3).astype("int32"),
            "x0": np.round(rng.normal(size=n), 3),
            "x1": np.round(rng.normal(size=n), 3),
        }
    )
    df = spark.createDataFrame(pdf)
    docs = pseudo_logistic_registry(spark, [0, 1, 2], feature_count=2,
                                    num_durations=K)
    got = {
        r.rid: round(r.risk, 6)
        for r in score_per_group(
            df, docs, "seg", ["x0", "x1"], id_col="rid",
            registry_as_table=True,
        ).collect()
    }
    assert len(got) == n

    con = duckdb.connect()
    con.register("rows", pdf)
    want = {
        r[0]: r[1]
        for r in con.execute(f"""
            WITH z AS (
                SELECT rid, k,
                       ((((seg * 2 * {K} + 0 * {K} + k) * 2654435761) % 2001) - 1000) / 1000.0 * x0
                     + ((((seg * 2 * {K} + 1 * {K} + k) * 2654435761) % 2001) - 1000) / 1000.0 * x1
                       AS zk
                FROM rows, generate_series(0, {K - 1}) gs(k)
            ), surv AS (
                SELECT rid, k,
                       exp(sum(ln(1.0 - 1.0 / (1.0 + exp(-zk))))
                           OVER (PARTITION BY rid ORDER BY k
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
                FROM z
            )
            SELECT rid, round(-sum(s), 6) AS risk FROM surv GROUP BY rid
        """).fetchall()
    }
    assert got == want


def test_pseudo_deephit_registry_duckdb_parity(spark):
    """DeepHit completes the pseudo-certification family (CoxPH
    registry-certified, LogisticHazard pytest-certified): score_per_group
    under arithmetic DeepHit docs matches a DuckDB mirror of
    risk = -sum_k (1 - cumsum(softmax(z))_k) with the SAME max-subtracted
    softmax, at 6-digit rounding."""
    import duckdb
    import pandas as pd

    from elastic_surv_spark.models.grouped import (
        pseudo_logistic_registry,
        score_per_group,
    )

    rng = np.random.default_rng(29)
    n, K = 200, 4
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "seg": (np.arange(n) % 3).astype("int32"),
            "x0": np.round(rng.normal(size=n), 3),
            "x1": np.round(rng.normal(size=n), 3),
        }
    )
    df = spark.createDataFrame(pdf)
    docs = pseudo_logistic_registry(
        spark, [0, 1, 2], feature_count=2, num_durations=K, family="deephit"
    )
    got = {
        r.rid: round(r.risk, 6)
        for r in score_per_group(
            df, docs, "seg", ["x0", "x1"], id_col="rid",
            registry_as_table=True,
        ).collect()
    }
    assert len(got) == n

    con = duckdb.connect()
    con.register("rows", pdf)
    want = {
        r[0]: r[1]
        for r in con.execute(f"""
            WITH z AS (
                SELECT rid, k,
                       ((((seg * 2 * {K} + 0 * {K} + k) * 2654435761) % 2001) - 1000) / 1000.0 * x0
                     + ((((seg * 2 * {K} + 1 * {K} + k) * 2654435761) % 2001) - 1000) / 1000.0 * x1
                       AS zk
                FROM rows, generate_series(0, {K - 1}) gs(k)
            ), zm AS (
                SELECT rid, k, exp(zk - max(zk) OVER (PARTITION BY rid)) AS ez
                FROM z
            ), p AS (
                SELECT rid, k, ez / sum(ez) OVER (PARTITION BY rid) AS pk
                FROM zm
            ), surv AS (
                SELECT rid, k,
                       1.0 - sum(pk) OVER (PARTITION BY rid ORDER BY k
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
                FROM p
            )
            SELECT rid, round(-sum(s), 6) AS risk FROM surv GROUP BY rid
        """).fetchall()
    }
    assert got == want


def test_score_per_group_mixed_family_registry(spark):
    """ONE registry table can hold heterogeneous model families and ONE
    scoring pass serves them all (the segmented_discrete_pipeline shape):
    LogisticHazard docs at group ids 0-2, DeepHit docs at 3-5, scored in a
    single score_per_group call on either delivery path — per-row risks
    bit-match scoring each group locally with its own deserialized model."""
    import pandas as pd

    from elastic_surv_spark.models.grouped import (
        pseudo_logistic_registry,
        score_per_group,
    )

    rng = np.random.default_rng(33)
    n = 240
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "g": (np.arange(n) % 6).astype("int32"),
            "x0": np.round(rng.normal(size=n), 3),
            "x1": np.round(rng.normal(size=n), 3),
        }
    )
    df = spark.createDataFrame(pdf)
    docs = pseudo_logistic_registry(
        spark, [0, 1, 2], feature_count=2, num_durations=5
    ).unionByName(
        pseudo_logistic_registry(
            spark, [3, 4, 5], feature_count=2, num_durations=4,
            family="deephit",
        )
    ).withColumnRenamed("seg", "g")

    # local mirror: deserialize each group's doc, score its slice directly
    reg = {r.g: r.model_json for r in docs.collect()}
    want = {}
    for g, sl in pdf.groupby("g"):
        m = model_from_json(reg[int(g)])
        X = sl[["x0", "x1"]].to_numpy(dtype=float)
        surv = m._surv_from_output(m.net.forward(X, training=False))
        for rid, risk in zip(sl["rid"], -surv.sum(axis=1)):
            want[int(rid)] = float(risk)
    # families genuinely differ: identical X slices, different risk scales
    assert len({round(v, 9) for v in want.values()}) > 6

    for table in (False, True):
        got = {
            r.rid: r.risk
            for r in score_per_group(
                df, docs if table else reg, "g", ["x0", "x1"], id_col="rid",
                registry_as_table=table,
            ).collect()
        }
        assert got == want, f"registry_as_table={table}"


def test_score_per_group_carry_cols(spark, seg_df):
    """carry_cols ride the scoring pass unchanged (VERDICT r11 #3): the
    scored frame keeps (t, e) without a post-scoring re-join, identical
    on both delivery paths to joining them back afterwards, and name
    clashes fail fast."""
    from elastic_surv_spark.models.grouped import score_per_group

    fitted = fit_per_group(
        seg_df.filter("seg < 2"), "seg", "rid", "t", "e", ["x0", "x1"],
        model="logistic_hazard", epochs=5, patience=5, hidden_nodes=[8],
    ).localCheckpoint(eager=True)

    plain = score_per_group(
        seg_df, fitted, "seg", ["x0", "x1"], id_col="rid"
    )
    joined = {
        (r.seg, r.rid): (r.t, r.e, r.risk)
        for r in plain.join(
            seg_df.select("rid", "t", "e"), "rid"
        ).collect()
    }
    for as_table in (False, True):
        carried = score_per_group(
            seg_df, fitted, "seg", ["x0", "x1"], id_col="rid",
            registry_as_table=as_table, carry_cols=["t", "e"],
        )
        assert carried.columns == ["seg", "rid", "t", "e", "risk"]
        got = {
            (r.seg, r.rid): (r.t, r.e, r.risk) for r in carried.collect()
        }
        assert got == joined, f"as_table={as_table}"

    with pytest.raises(ValueError, match="collide"):
        score_per_group(
            seg_df, fitted, "seg", ["x0", "x1"], carry_cols=["x0"]
        )
