"""Property-based invariants (hypothesis) for the hand-built operators.

Spark-job-per-example is too slow for hypothesis' default profile, so each
property draws a handful of examples and asserts invariants that would catch
the classic implementation mistakes (risk-set off-by-one, tie mishandling,
asof boundary direction, bucket boundary loss).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from elastic_surv_spark.metrics.concordance import harrell_cindex
from elastic_surv_spark.metrics.km import km_curve

_surv_lists = st.lists(
    st.tuples(
        st.floats(0.125, 50.0, allow_nan=False, width=32),
        st.integers(0, 1),
    ),
    min_size=3,
    max_size=40,
)

_SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(data=_surv_lists)
@_SETTINGS
def test_km_is_monotone_nonincreasing_in_unit_interval(spark, data):
    pdf = pd.DataFrame(data, columns=["t", "e"])
    curve = (
        km_curve(spark.createDataFrame(pdf), "t", "e")
        .orderBy("t")
        .toPandas()
    )
    s = curve["survival"].to_numpy()
    assert np.all(s <= 1.0 + 1e-9) and np.all(s >= -1e-9)
    assert np.all(np.diff(s) <= 1e-9)  # non-increasing
    # risk set at the earliest time is everyone
    assert int(curve["n_risk"].iloc[0]) == len(pdf)


@given(data=_surv_lists)
@_SETTINGS
def test_cindex_perfect_and_inverted_risk(spark, data):
    pdf = pd.DataFrame(data, columns=["t", "e"])
    pdf["t"] = pdf["t"] + np.arange(len(pdf)) * 1e-3  # break exact ties
    t, e = pdf["t"].to_numpy(), pdf["e"].to_numpy()
    comparable = any(
        e[i] == 1 and t[i] < t[j] for i in range(len(t)) for j in range(len(t))
    )
    if not comparable:
        return
    sdf_perfect = spark.createDataFrame(pdf.assign(risk=-pdf["t"]))
    sdf_inverted = spark.createDataFrame(pdf.assign(risk=pdf["t"]))
    c_perfect = harrell_cindex(sdf_perfect, "t", "e", "risk")
    c_inverted = harrell_cindex(sdf_inverted, "t", "e", "risk")
    assert c_perfect == pytest.approx(1.0)
    assert c_inverted == pytest.approx(0.0)
    assert c_perfect + c_inverted == pytest.approx(1.0)


@given(
    lefts=st.lists(st.integers(0, 1000), min_size=1, max_size=25),
    rights=st.lists(st.integers(0, 1000), min_size=1, max_size=25),
    window=st.integers(1, 300),
)
@_SETTINGS
def test_range_join_equals_pandas_oracle(spark, lefts, rights, window):
    from elastic_surv_spark.operators.range_join import range_join

    lp = pd.DataFrame({"k": 1, "lid": range(len(lefts)), "lt": [float(x) for x in lefts]})
    rp = pd.DataFrame({"k": 1, "rt": [float(x) for x in rights]})
    got = (
        range_join(
            spark.createDataFrame(lp),
            spark.createDataFrame(rp),
            on="k", left_ts="lt", right_ts="rt",
            lower_seconds=float(window), upper_seconds=0.0,
            bucket_seconds=37.0,  # deliberately unaligned bucket width
        )
        .groupBy("lid")
        .count()
        .toPandas()
        .set_index("lid")["count"]
        .to_dict()
    )
    want = {}
    for lid, lt in zip(lp["lid"], lp["lt"]):
        n = int(((rp["rt"] >= lt - window) & (rp["rt"] <= lt)).sum())
        if n:
            want[lid] = n
    assert got == want


# --- ES mapping translation (pure — no Spark job per example) -----------

_LOSSLESS_DDL = st.sampled_from(
    ["long", "int", "short", "tinyint", "double", "float", "string",
     "boolean", "timestamp", "binary"]
)


def _mk_type(ddl):
    from pyspark.sql import types as T

    return {
        "long": T.LongType(), "int": T.IntegerType(), "short": T.ShortType(),
        "tinyint": T.ByteType(), "double": T.DoubleType(),
        "float": T.FloatType(), "string": T.StringType(),
        "boolean": T.BooleanType(), "timestamp": T.TimestampType(),
        "binary": T.BinaryType(),
    }[ddl]
_FIELD_NAME = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)


@given(
    st.dictionaries(_FIELD_NAME, _LOSSLESS_DDL, min_size=1, max_size=8),
    st.dictionaries(_FIELD_NAME, _LOSSLESS_DDL, min_size=0, max_size=4),
)
@settings(max_examples=200, deadline=None)
def test_es_mapping_round_trip_lossless_types(flat, nested):
    """schema → ES mapping → schema is the identity on the lossless core
    (every scalar type the bulk writer emits), including one level of
    struct nesting; field order normalizes to sorted-by-name (ES mapping
    keys carry no order)."""
    from pyspark.sql import types as T

    from elastic_surv_spark.sources.elastic import (
        mapping_to_schema,
        schema_to_mapping,
    )

    fields = [T.StructField(n, _mk_type(d)) for n, d in flat.items()]
    if nested:
        inner = T.StructType(
            sorted(
                (T.StructField(n, _mk_type(d)) for n, d in nested.items()),
                key=lambda f: f.name,
            )
        )
        name = "zz_nested"  # can't collide with the flat-pool regex? it can — skip if so
        if name not in flat:
            fields.append(T.StructField(name, inner))
    schema = T.StructType(fields)
    back = mapping_to_schema(schema_to_mapping(schema))
    want = {f.name: f.dataType for f in schema.fields}
    got = {f.name: f.dataType for f in back.fields}
    assert got == want
    assert [f.name for f in back.fields] == sorted(want)  # normalized order


_corpus_texts = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=12),
    min_size=1,
    max_size=25,
)


@given(texts=_corpus_texts, split=st.integers(1, 24))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_incremental_dedup_equals_full_dedup_restricted_to_batch(spark, texts, split):
    """Sequential-ingest invariant: history-then-batch incremental dedup
    must equal full-corpus exact dedup restricted to representatives whose
    min-id lives in the batch — for ANY corpus and ANY split point
    (duplicate-heavy tiny alphabets maximize cross-split collisions)."""
    from elastic_surv_spark.operators.dedup import exact_dedup, incremental_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    split = min(split, len(rows))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hist = df.filter(f"doc_id < {split}")
    batch = df.filter(f"doc_id >= {split}")

    inc = {
        (r.text, r.keep_id, r.n_batch_dupes)
        for r in incremental_dedup(
            batch, hist, "text", "doc_id", use_fingerprint=False
        ).collect()
    }
    full = exact_dedup(df, ["text"], "doc_id", normalize=True)
    hist_texts = exact_dedup(hist, ["text"], "doc_id", normalize=True).select("text")
    batch_only = full.join(hist_texts, "text", "left_anti").filter(
        f"keep_id >= {split}"
    )
    want = {
        (r.text, r.keep_id, r.n_dupes) for r in batch_only.collect()
    }
    assert inc == want


@given(
    seed=st.integers(0, 10_000),
    n=st.integers(4, 30),
    dim=st.integers(2, 6),
    tau=st.floats(0.2, 0.95),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_semantic_dedup_laws_hold_on_any_corpus(spark, seed, n, dim, tau):
    """The SemDeDup laws are corpus-independent: for ANY vectors, cells,
    and tau — soundness (every dropped row has a kept cellmate at rounded
    cosine >= tau) and independence (no two kept cellmates reach tau)."""
    from elastic_surv_spark.operators.semdedup import semantic_dedup

    rng = np.random.default_rng(seed)
    rows = [
        (i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, tau=tau, n_cells=3, seed=1).collect()
    assert sorted(r.vec_id for r in out) == list(range(n))
    vecs = {i: np.asarray(v, dtype=float) for i, v in rows}

    def cos(a, b):
        va, vb = vecs[a], vecs[b]
        return round(float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6)

    by_cell: dict[int, list] = {}
    for r in out:
        by_cell.setdefault(r.cell, []).append(r)
    for rows_in_cell in by_cell.values():
        kept = [r.vec_id for r in rows_in_cell if r.keep]
        for r in rows_in_cell:
            if r.keep:
                continue
            assert any(cos(r.vec_id, k) >= tau for k in kept), r.vec_id
        for i, a in enumerate(kept):
            for b in kept[i + 1:]:
                assert cos(a, b) < tau, (a, b)


@given(
    seed=st.integers(0, 10_000),
    n=st.integers(6, 40),
    n_cuts=st.integers(2, 6),
    n_groups=st.integers(1, 3),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_concordance_td_by_matches_bruteforce_property(
    spark, seed, n, n_cuts, n_groups
):
    """Property fuzz for the newest exact kernel (r11): per-group Antolini
    via one harrell_counts call per cut == the O(n²) definitional mirror, over
    random censoring, TIED times (integer draws), tied curve values
    (coarse rounding), and multiple groups."""
    from elastic_surv_spark.metrics.concordance import concordance_td_by

    rng = np.random.default_rng(seed)
    t = rng.integers(1, 12, n).astype(float)          # heavy time ties
    e = rng.integers(0, 2, n)
    cuts = sorted(rng.uniform(0.5, 13.0, n_cuts).tolist())
    S = np.round(
        np.minimum.accumulate(rng.uniform(0.2, 1.0, (n, n_cuts)), axis=1), 1
    )                                                  # heavy curve ties
    g = rng.integers(0, n_groups, n)

    def s_at(i, tau):
        idx = np.searchsorted(cuts, tau, side="right") - 1
        return S[i, idx] if idx >= 0 else 1.0

    want = {}
    for gv in range(n_groups):
        comp = conc = tied = 0
        idxs = np.where(g == gv)[0]
        for i in idxs:
            if e[i] != 1:
                continue
            for j in idxs:
                if t[i] < t[j]:
                    comp += 1
                    si, sj = s_at(i, t[i]), s_at(j, t[i])
                    conc += si < sj
                    tied += si == sj
        if len(idxs):
            want[gv] = (comp, conc, tied)

    pdf = pd.DataFrame(
        {"g": g.astype("int32"), "t": t, "e": e.astype("int32"),
         "surv": [row.tolist() for row in S]}
    )
    got = {
        r.g: (r.n_comparable, r.n_concordant, r.n_tied)
        for r in concordance_td_by(
            spark.createDataFrame(pdf), "g", "t", "e", "surv", cuts
        ).collect()
    }
    assert got == want


def _spark_order(x: float) -> tuple[int, float]:
    # Spark's double order: NaN equal to itself and above every number;
    # -0.0 == 0.0 holds for Python floats already
    return (1, 0.0) if math.isnan(x) else (0, x)


def _bruteforce_harrell(t, ev, r) -> tuple[int, int, int]:
    comp = conc = tied = 0
    for i in range(len(t)):
        if not ev[i]:
            continue
        for j in range(len(t)):
            if _spark_order(t[i]) < _spark_order(t[j]):
                comp += 1
                conc += _spark_order(r[i]) > _spark_order(r[j])
                tied += _spark_order(r[i]) == _spark_order(r[j])
    return comp, conc, tied


@pytest.mark.parametrize(
    "t, ev, r",
    [
        ([], [], []),  # empty input
        ([1.0], [True], [0.5]),  # a single row
        ([1.0, 2.0, 3.0], [False] * 3, [3.0, 2.0, 1.0]),  # no events
        ([float("nan")] * 2, [True] * 2, [1.0, 2.0]),  # NaN never precedes NaN
        ([1.0, float("nan")], [True, False], [0.0, 1.0]),  # NaN time is latest
        ([1.0, 2.0, 3.0], [True] * 3, [float("nan"), 1.0, float("nan")]),
        ([-0.0, 0.0, 1.0], [True] * 3, [0.0, -0.0, 0.0]),  # -0.0 == 0.0
    ],
)
def test_harrell_counts_edge_cases_equal_bruteforce(t, ev, r):
    from elastic_surv_spark.metrics.concordance import harrell_counts

    t, r = np.asarray(t, dtype=float), np.asarray(r, dtype=float)
    assert harrell_counts(t, np.asarray(ev, dtype=bool), r) == _bruteforce_harrell(t, ev, r)


@given(st.integers(0, 10_000))
@settings(max_examples=200, deadline=None)
def test_harrell_counts_equals_bruteforce(seed):
    """The one exact Harrell core behind every grouped and driver-side
    C-index kernel: on rows in any order, with time ties, risk ties, NaN
    times, NaN risks and −0.0, its (comparable, concordant, tied) equal the
    O(n²) count under Spark's comparison of doubles."""
    from elastic_surv_spark.metrics.concordance import harrell_counts

    rng = np.random.default_rng(seed)
    n = int(rng.integers(0, 30))
    values = np.array([-0.0, 0.0, 1.0, 2.5, 3.0, np.nan])

    def column():
        if rng.random() < 0.5:
            return rng.choice(values, n)  # heavy ties
        x = rng.normal(size=n)
        x[rng.random(n) < 0.1] = np.nan
        return x

    t, r = column(), column()
    ev = rng.random(n) < rng.random()
    assert harrell_counts(t, ev, r) == _bruteforce_harrell(t, ev, r)


@given(st.integers(0, 10_000))
@settings(max_examples=60, deadline=None)
def test_grid_dominance_equals_bruteforce(seed):
    """_grid_dominance (the shared cross-bucket kernel behind BOTH the
    single-population and the r12 grouped bucketed Harrell paths): on any
    occupancy grid its (comparable, concordant) counts equal the O(cells²)
    brute force over cell pairs — comparable = events × rows in strictly
    later time buckets; concordant additionally strictly lower risk
    buckets."""
    from elastic_surv_spark.metrics.concordance import _grid_dominance

    rng = np.random.default_rng(seed)
    n_tb = int(rng.integers(1, 7))
    n_rb = int(rng.integers(1, 7))
    G = rng.integers(0, 5, size=(n_tb, n_rb)).astype(np.int64)
    GE = np.minimum(G, rng.integers(0, 5, size=(n_tb, n_rb))).astype(np.int64)
    comp, conc = _grid_dominance(G, GE)
    want_comp = want_conc = 0
    for k in range(n_tb):
        for c in range(n_rb):
            if not GE[k, c]:
                continue
            for l in range(k + 1, n_tb):
                for c2 in range(n_rb):
                    want_comp += int(GE[k, c] * G[l, c2])
                    if c2 < c:
                        want_conc += int(GE[k, c] * G[l, c2])
    assert (comp, conc) == (want_comp, want_conc)


@given(st.integers(0, 10_000))
@settings(max_examples=60, deadline=None)
def test_tie_aware_rank_auc_equals_pairwise_definition(seed):
    """The rank-AUC formula behind certified_quality_eval_by (min-rank +
    (ties−1)/2 average ranks, AUC = (Σ_pos r − m(m+1)/2) / (m·n)) equals
    the pairwise definition P(s_pos > s_neg) + ½·P(s_pos = s_neg) on any
    score/label multiset with heavy ties."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(2, 60))
    s = np.round(rng.uniform(0, 1, n), 1)  # heavy ties
    y = rng.integers(0, 2, n)
    m = int(y.sum())
    if m == 0 or m == n:
        return  # one-class: AUC undefined (NULL in the operators)
    order = np.argsort(s, kind="stable")
    ranks = np.empty(n)
    ss = s[order]
    i = 0
    while i < n:
        j = i
        while j < n and ss[j] == ss[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0
        i = j
    auc_rank = (ranks[y == 1].sum() - m * (m + 1) / 2.0) / (m * (n - m))
    pos, neg = s[y == 1], s[y == 0]
    wins = (pos[:, None] > neg[None, :]).sum()
    ties = (pos[:, None] == neg[None, :]).sum()
    auc_pair = (wins + 0.5 * ties) / (m * (n - m))
    assert abs(auc_rank - auc_pair) < 1e-12


@given(st.integers(0, 10_000))
@settings(max_examples=25, deadline=None)
def test_batched_gd_sql_chain_equals_sequential_mirror(seed):
    """The generated batch-CTE chain (fixed_point_gd_batched_sql) is a LAW,
    not a fixture artifact: on random frames (gapped/duplicate ids, varied
    nf/n_batches/epochs/lr, empty batches included) DuckDB's integers equal
    a local numpy mirror of the sequential recipe exactly, and the
    trajectory view's last epoch equals the plain chain's final weights."""
    import math

    import duckdb

    from elastic_surv_spark.operators.quality_model import (
        _BATCH_KNUTH,
        _BATCH_MOD_P,
        _BATCH_SHIFT,
        fixed_point_gd_batched_sql,
        fixed_point_gd_batched_trajectory_sql,
    )

    rng = np.random.default_rng(seed)
    n = int(rng.integers(2, 80))
    nf = int(rng.integers(1, 4))
    n_batches = int(rng.integers(1, 6))
    epochs = int(rng.integers(1, 4))
    lr = int(rng.choice([250_000, 500_000, 1_000_000]))
    ids = rng.integers(0, 10_000, n)  # gaps and duplicates allowed
    feats = [f"x{j}" for j in range(nf)]
    pdf = pd.DataFrame({"rid": ids})
    for f in feats:
        pdf[f] = np.round(rng.normal(scale=rng.uniform(0.1, 20), size=n), 3)
    pdf["y"] = rng.integers(0, 2, n)

    bid = (
        (pdf["rid"].to_numpy() % _BATCH_MOD_P) * _BATCH_KNUTH // _BATCH_SHIFT
    ) % n_batches
    X = pdf[feats].to_numpy(dtype=float)
    yv = pdf["y"].to_numpy(dtype=float)
    w = np.zeros(nf, dtype=np.int64)
    b = 0
    for _e in range(epochs):
        for k in range(n_batches):
            m = bid == k
            nb = int(m.sum())
            if nb == 0:
                continue
            z = X[m] @ (w / 1e6) + b / 1e6
            p = 0.5 + 0.5 * z / (1 + np.abs(z))
            g = p - yv[m]
            for j in range(nf):
                G = int(
                    np.floor(g * X[m][:, j] * 1e9 + 0.5).astype(np.int64).sum()
                )
                w[j] -= math.floor((G / (nb * 1e9)) * lr + 0.5)
            Gb = int(np.floor(g * 1e9 + 0.5).astype(np.int64).sum())
            b -= math.floor((Gb / (nb * 1e9)) * lr + 0.5)

    con = duckdb.connect()
    con.register("rows", pdf)
    got = con.execute(
        fixed_point_gd_batched_sql(
            feats, "y", "rid", n_batches=n_batches, epochs=epochs, lr_micro=lr
        )
    ).fetchone()
    assert list(got) == [*w.tolist(), b]

    traj = con.execute(
        fixed_point_gd_batched_trajectory_sql(
            feats, "y", "rid",
            n_batches=n_batches, visible_from=0, lr_micro=lr,
        )
        + " ORDER BY epoch"
    ).df()
    if epochs == 1:
        # trajectory at epochs=1 over the same schedule: its LAST epoch row
        # must equal the plain chain's final weights
        last = traj.iloc[-1]
        assert [int(last[f"w{j}_micro"]) for j in range(nf)] == w.tolist()
        assert int(last["bias_micro"]) == b


@given(st.integers(0, 10_000))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_duplicate_span_stats_equals_bruteforce(spark, seed):
    """doc_duplicate_span_stats is a LAW against a brute-force mirror:
    on random small-vocabulary corpora (heavy accidental repeats), the
    per-document duplicated-token budget equals a dict-based k-gram
    counter + interval-merge reimplementation exactly."""
    from elastic_surv_spark.operators.spans import doc_duplicate_span_stats

    rng = np.random.default_rng(seed)
    k = int(rng.integers(2, 5))
    docs = {
        int(i): [f"t{int(v)}" for v in rng.integers(0, 8, rng.integers(0, 15))]
        for i in range(int(rng.integers(2, 12)))
    }

    # brute force: count every k-gram (as a tuple) with its doc set
    from collections import defaultdict

    occs = defaultdict(list)
    for d, toks in docs.items():
        for p in range(len(toks) - k + 1):
            occs[tuple(toks[p : p + k])].append((d, p))
    dup = {
        g
        for g, oc in occs.items()
        if len(oc) >= 2 and len({d for d, _ in oc}) >= 2
    }
    want = {}
    for d, toks in docs.items():
        flagged = sorted(
            p
            for p in range(len(toks) - k + 1)
            if tuple(toks[p : p + k]) in dup
        )
        spans = []
        for p in flagged:
            if spans and p - spans[-1][1] <= k:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        dup_tokens = sum(e + k - s for s, e in spans)
        want[d] = (len(toks), len(spans), dup_tokens)

    pdf = pd.DataFrame(
        [(d, " ".join(toks)) for d, toks in docs.items()],
        columns=["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_dup_spans, r.dup_tokens)
        for r in doc_duplicate_span_stats(
            spark.createDataFrame(pdf), k=k
        ).collect()
    }
    assert got == want, (k, got, want)


@given(st.integers(0, 10_000))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_cut_duplicate_spans_equals_bruteforce(spark, seed):
    """cut_duplicate_spans is a LAW against a brute-force mirror on random
    small-vocabulary corpora: per-doc maximal spans, keep-first survivor =
    min((id, start)) over occurrences of each exact span TEXT, rebuild by
    dropping covered tokens — both keep_first modes, exact text and count
    equality. Guards the r14 min-struct rewrite (the keep-first choice
    must stay the same total order the rank produced)."""
    from elastic_surv_spark.operators.spans import cut_duplicate_spans

    rng = np.random.default_rng(seed + 77)
    k = int(rng.integers(2, 5))
    docs = {
        int(i): [f"t{int(v)}" for v in rng.integers(0, 7, rng.integers(0, 14))]
        for i in range(int(rng.integers(2, 10)))
    }

    from collections import defaultdict

    occs = defaultdict(list)
    for d, toks in docs.items():
        for p in range(len(toks) - k + 1):
            occs[tuple(toks[p : p + k])].append((d, p))
    dup = {
        g
        for g, oc in occs.items()
        if len(oc) >= 2 and len({d for d, _ in oc}) >= 2
    }
    spans_by_doc = {}
    for d, toks in docs.items():
        flagged = sorted(
            p
            for p in range(len(toks) - k + 1)
            if tuple(toks[p : p + k]) in dup
        )
        spans = []
        for p in flagged:
            if spans and p - spans[-1][1] <= k:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        # inclusive token ranges [start, last_gram_start + k - 1]
        spans_by_doc[d] = [(s, e + k - 1) for s, e in spans]

    def rebuild(keep_first):
        by_text = defaultdict(list)
        for d, ranges in spans_by_doc.items():
            for s, e in ranges:
                by_text[tuple(docs[d][s : e + 1])].append((d, s, e))
        out = {}
        for d, toks in docs.items():
            cuts = []
            for s, e in spans_by_doc[d]:
                if keep_first:
                    first = min(
                        (dd, ss) for dd, ss, _ in by_text[tuple(toks[s : e + 1])]
                    )
                    if first == (d, s):
                        continue
                cuts.append((s, e))
            kept = [
                t
                for i, t in enumerate(toks)
                if not any(s <= i <= e for s, e in cuts)
            ]
            out[d] = (" ".join(kept), len(toks) - len(kept))
        return out

    pdf = pd.DataFrame(
        [(d, " ".join(toks)) for d, toks in docs.items()],
        columns=["doc_id", "text"],
    )
    df = spark.createDataFrame(pdf)
    for keep_first in (True, False):
        got = {
            r.doc_id: (r.text, r.n_tokens_removed)
            for r in cut_duplicate_spans(df, k=k, keep_first=keep_first).collect()
        }
        assert got == rebuild(keep_first), (k, keep_first, got)
