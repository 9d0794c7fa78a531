"""Lifecycle tests for the module-level persisted-frame caches in
plans/queries.py (_shared_frames and its four instances: _DOC_SHINGLES,
_VOCAB_COUNTS, _EXACT_PAIRS, _SIMHASH_SHARED).

ADVICE r6 found a real bug here (dict.popitem() evicts LIFO, pinning the
oldest persisted frames forever) that no test covered; these pin the
contract: same-session calls reuse the cached frames, a stale-session
entry under the same key is released before overwrite, and eviction is
oldest-first with every frame in the evicted entry unpersisted.
"""

from __future__ import annotations

from elastic_surv_spark.plans import queries as Q

SF_SMOKE = "/root/testdata/sf0.001"


class _StubFrame:
    def __init__(self, released: list, tag: str):
        self._released, self._tag = released, tag

    def unpersist(self):
        self._released.append(self._tag)


class _StubSession:
    pass


def _stub_entry(released, tag, n_frames=1):
    return (_StubSession(), *[_StubFrame(released, f"{tag}:{i}") for i in range(n_frames)])


def _drain(cache):
    for entry in cache.values():
        for frame in entry[1:]:
            frame.unpersist()
    cache.clear()


def test_shared_frames_same_session_reuse():
    cache: dict = {}
    spark, built = object(), []

    def build():
        built.append(1)
        return (_StubFrame([], "fresh"),)

    (a,) = Q._shared_frames(cache, 4, spark, "k", build)
    (b,) = Q._shared_frames(cache, 4, spark, "k", build)
    assert a is b and built == [1]  # cache hit, build ran once


def test_shared_frames_stale_session_released_before_overwrite():
    cache: dict = {}
    released: list[str] = []
    cache["k"] = _stub_entry(released, "stale", n_frames=2)
    fresh = _StubFrame([], "fresh")
    (got,) = Q._shared_frames(cache, 4, object(), "k", lambda: (fresh,))
    assert released == ["stale:0", "stale:1"]
    assert got is fresh and cache["k"][1] is fresh


def test_shared_frames_eviction_is_oldest_first():
    cache: dict = {}
    released: list[str] = []
    for i in range(4):
        cache[f"k{i}"] = _stub_entry(released, f"k{i}")
    Q._shared_frames(cache, 4, object(), "new", lambda: (_StubFrame([], "n"),))
    # one slot freed, and it was the OLDEST entry, not the newest
    assert released == ["k0:0"]
    assert list(cache) == ["k1", "k2", "k3", "new"]


def test_vocab_counts_wiring(spark):
    Q._VOCAB_COUNTS.clear()
    a = Q._vocab_counts(spark, SF_SMOKE)
    b = Q._vocab_counts(spark, SF_SMOKE)
    assert a is b  # cache hit, no second persist
    assert list(Q._VOCAB_COUNTS) == [SF_SMOKE]
    _drain(Q._VOCAB_COUNTS)


def test_doc_shingles_wiring(spark):
    Q._DOC_SHINGLES.clear()
    a = Q._doc_shingles(spark, SF_SMOKE)
    b = Q._doc_shingles(spark, SF_SMOKE)
    assert a is b
    assert set(a.columns) == {"doc_id", "_sh"}
    _drain(Q._DOC_SHINGLES)


def test_simhash_shared_wiring(spark):
    Q._SIMHASH_SHARED.clear()
    Q._EXACT_PAIRS.clear()
    Q._DOC_SHINGLES.clear()
    sigs, toks, exact = Q._simhash_shared(spark, SF_SMOKE)
    # the verification shingles come from the family-wide _DOC_SHINGLES and
    # the truth set from the family-wide _EXACT_PAIRS — each held once
    assert toks is Q._DOC_SHINGLES[SF_SMOKE][1]
    assert exact is Q._EXACT_PAIRS[SF_SMOKE][1]
    # same-session reuse returns the identical frames
    sigs2, toks2, exact2 = Q._simhash_shared(spark, SF_SMOKE)
    assert (sigs2 is sigs) and (toks2 is toks) and (exact2 is exact)
    # simhash cache holds only (spark, sigs) — toks/exact not double-held
    assert len(Q._SIMHASH_SHARED[SF_SMOKE]) == 2
    _drain(Q._SIMHASH_SHARED)
    _drain(Q._EXACT_PAIRS)
    _drain(Q._DOC_SHINGLES)


def test_exact_pairs_wiring(spark):
    Q._EXACT_PAIRS.clear()
    Q._DOC_SHINGLES.clear()
    a = Q._exact_dup_pairs(spark, SF_SMOKE)
    b = Q._exact_dup_pairs(spark, SF_SMOKE)
    assert a is b
    assert set(a.columns) == {"id_a", "id_b", "jaccard"}
    # ngram_jaccard_dupes IS this frame — same object, no rebuild
    assert Q.REGISTRY["ngram_jaccard_dupes"].fn(spark, SF_SMOKE) is a
    _drain(Q._EXACT_PAIRS)
    _drain(Q._DOC_SHINGLES)


def test_release_shared_caches_unpersists_and_clears():
    """The bench-harness reset: every cache emptied, every cached frame
    unpersisted (entry[0], the owning session, must NOT be released), and
    non-frame payloads like _BPE_MERGES' merge list tolerated."""
    released: list[str] = []
    Q._DOC_SHINGLES["sfA"] = _stub_entry(released, "shingles", n_frames=1)
    Q._EXACT_PAIRS["sfA"] = _stub_entry(released, "pairs", n_frames=1)
    Q._SIMHASH_SHARED["sfA"] = _stub_entry(released, "sigs", n_frames=2)
    Q._VOCAB_COUNTS["sfA"] = _stub_entry(released, "vocab", n_frames=1)
    Q._BPE_MERGES["sfA"] = (_StubSession(), [("a", "b")])  # plain list payload
    Q.release_shared_caches()
    assert sorted(released) == [
        "pairs:0", "shingles:0", "sigs:0", "sigs:1", "vocab:0",
    ]
    for cache in (
        Q._DOC_SHINGLES, Q._EXACT_PAIRS, Q._SIMHASH_SHARED,
        Q._VOCAB_COUNTS, Q._BPE_MERGES,
    ):
        assert cache == {}


def test_release_shared_caches_rejects_foreign_entry_layout():
    """A cache entry that is not (session, *unpersistables) must fail
    LOUDLY at release time — a future cache with a different layout would
    otherwise silently skip its unpersists inside a measurement loop,
    resurrecting the r7 cache-hit-as-cold-number artifact."""
    import pytest

    Q._VOCAB_COUNTS["bad"] = "not-a-tuple"  # type: ignore[assignment]
    try:
        with pytest.raises(TypeError, match=r"\(session, \*unpersistables\)"):
            Q.release_shared_caches()
    finally:
        Q._VOCAB_COUNTS.clear()
    Q._BPE_MERGES["bad"] = (_StubSession(),)  # session alone: no payload slot
    try:
        with pytest.raises(TypeError):
            Q.release_shared_caches()
    finally:
        Q._BPE_MERGES.clear()
    Q.release_shared_caches()  # clean state releases fine


def test_family_stages_decomposition_builders(spark):
    """family_stages (the solo harness's family-cold decomposition) names
    only registry rows, returns ordered stage builders that actually
    populate the shared caches, and [] for cache-free rows."""
    from elastic_surv_spark.plans.queries import REGISTRY, family_stages

    assert family_stages("pricing_summary") == []
    for name in (
        "ngram_jaccard_dupes", "minhash_lsh_dupes", "simhash_near_dupes",
        "simhash_near_dupes_wide", "doc_bpe_learned_merges",
        "doc_bpe_tokenize_stats", "doc_vocab_coverage",
    ):
        assert name in REGISTRY and family_stages(name)
    Q.release_shared_caches()
    labels = []
    for label, build in family_stages("simhash_near_dupes"):
        build(spark, SF_SMOKE)
        labels.append(label)
    assert labels == ["tokenize", "exact_pairs", "signatures"]
    # every stage landed in its cache — the decomposition measures real work
    assert Q._DOC_SHINGLES and Q._EXACT_PAIRS and Q._SIMHASH_SHARED
    Q.release_shared_caches()


def test_ann_exact_shared_wiring_and_parity(spark):
    """The ANN family's shared brute-force baseline (r15): same-session
    reuse, release clears it, and the certification row computed off the
    shared frame is value-identical to the inline build it replaced."""
    from pyspark.sql import functions as F

    from elastic_surv_spark.operators.similarity import (
        ann_recall_summary,
        cosine_topk_fast,
        lsh_topk,
    )
    from elastic_surv_spark.sources.parquet import load_table

    Q._ANN_EXACT.clear()
    a = Q._ann_exact_topk(spark, SF_SMOKE)
    assert Q._ann_exact_topk(spark, SF_SMOKE) is a  # same-session reuse
    e = load_table(spark, SF_SMOKE, "embeddings")
    ann = lsh_topk(e, k=5, n_planes=4, n_tables=16)
    shared_row = ann_recall_summary(
        e, ann, n_queries=50, k=5, floor=0.85, exact=a
    ).collect()
    inline_row = ann_recall_summary(
        e, ann, n_queries=50, k=5, floor=0.85
    ).collect()
    assert shared_row == inline_row
    # the shared frame IS the inline computation, row for row
    inline_exact = cosine_topk_fast(
        e, e.filter(F.col("vec_id") < 50), k=5
    )
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, inline_exact.collect())
    )
    Q.release_shared_caches()
    assert Q._ANN_EXACT == {}
    b = Q._ann_exact_topk(spark, SF_SMOKE)
    assert b is not a  # fresh build after release
    _drain(Q._ANN_EXACT)


def test_release_shared_caches_forces_family_rebuild(spark):
    """After a release, the next family call rebuilds (no stale reuse) —
    the property that makes bench board repeats structurally cold."""
    Q._DOC_SHINGLES.clear()
    a = Q._doc_shingles(spark, SF_SMOKE)
    Q.release_shared_caches()
    assert Q._DOC_SHINGLES == {}
    b = Q._doc_shingles(spark, SF_SMOKE)
    assert b is not a  # a fresh build, not the released frame
    _drain(Q._DOC_SHINGLES)


def test_quality_feats_wiring_and_parity(spark):
    """r15: the certified-GD family's shared featurize pass — cache hit
    on same-session calls, registered for release, and value-identical
    to the per-row quality_feature_frame build it replaces."""
    from pyspark.sql import functions as F

    from elastic_surv_spark.operators.quality_model import (
        quality_feature_frame,
    )
    from elastic_surv_spark.sources.parquet import load_table

    Q._QUALITY_FEATS.clear()
    a = Q._quality_feats(spark, SF_SMOKE)
    b = Q._quality_feats(spark, SF_SMOKE)
    assert a is b  # cache hit, one persist
    assert list(Q._QUALITY_FEATS) == [SF_SMOKE]
    # the shared frame == the per-row build (same tokenizer/hash/label),
    # modulo the carried segment column the trainers project away
    d = load_table(spark, SF_SMOKE, "documents").withColumn(
        "label", F.when(F.col("lang") == "en", 1).otherwise(0)
    )
    solo = quality_feature_frame(
        d, "doc_id", "text", label_col="label", n_buckets=16
    )
    cols = sorted(solo.columns)
    rows_shared = sorted(
        tuple(r) for r in a.select(*cols).collect()
    )
    rows_solo = sorted(tuple(r) for r in solo.select(*cols).collect())
    assert rows_shared == rows_solo
    Q.release_shared_caches()
    assert Q._QUALITY_FEATS == {}


def test_certified_gd_family_stage_declared():
    """The four certified-GD rows declare the shared featurize stage so
    the solo harness can split the fill from the training loop."""
    from elastic_surv_spark.plans.queries import family_stages

    for name in (
        "certified_quality_training",
        "certified_quality_eval",
        "certified_quality_training_batched",
        "certified_fold_run",
    ):
        assert [label for label, _ in family_stages(name)] == ["quality_feats"]


def test_every_shared_cache_reader_declares_family_stages():
    """ADVICE r15: bench.py's plan_cache reuses a row's DataFrame across
    board runs UNLESS family_stages(name) is non-empty — so a registry fn
    that reads a session-shared cache builder without declaring its
    family would get its DataFrame cached while release_shared_caches()
    unpersists the backbone between runs, silently moving the family
    rebuild inside the timed region. Pin the invariant for EVERY registry
    row by scanning each fn's source for the builder call sites."""
    import inspect

    from elastic_surv_spark.plans.queries import REGISTRY, family_stages

    builders = (
        "_doc_shingles(",
        "_exact_dup_pairs(",
        "_band_rows(",
        "_simhash_shared(",
        "_vocab_counts(",
        "_bpe_merges_shared(",
        "_quality_feats(",
        "_ann_exact_topk(",
    )
    missing = []
    for name, spec in REGISTRY.items():
        src = inspect.getsource(spec.fn)
        if any(b in src for b in builders) and not family_stages(name):
            missing.append(name)
    assert missing == [], (
        "registry rows reading a shared-cache builder without a "
        f"family_stages declaration: {missing}"
    )


class _RaisingFrame:
    def __init__(self, exc: Exception):
        self._exc = exc

    def unpersist(self):
        raise self._exc


def test_unpersist_all_skips_only_py4j_errors():
    """A frame of a stopped session raises a py4j error from ``unpersist``
    and is skipped; the objects after it are still released. Any other
    error is a bug and propagates, from both release paths."""
    import pytest
    from py4j.protocol import Py4JError

    released: list[str] = []
    Q._unpersist_all([
        _RaisingFrame(Py4JError("stopped session")),
        [("a", "b")],  # no unpersist: ignored
        _StubFrame(released, "live"),
    ])
    assert released == ["live"]

    with pytest.raises(ValueError, match="boom"):
        Q._unpersist_all([_RaisingFrame(ValueError("boom")), _StubFrame(released, "x")])
    assert released == ["live"]

    cache = {"old": (_StubSession(), _RaisingFrame(ValueError("evict")))}
    with pytest.raises(ValueError, match="evict"):
        Q._shared_frames(cache, 1, object(), "new", lambda: (_StubFrame([], "n"),))
    Q._VOCAB_COUNTS["sfA"] = (_StubSession(), _RaisingFrame(Py4JError("gone")))
    Q.release_shared_caches()
    assert Q._VOCAB_COUNTS == {}
    Q._VOCAB_COUNTS["sfA"] = (_StubSession(), _RaisingFrame(ValueError("loud")))
    try:
        with pytest.raises(ValueError, match="loud"):
            Q.release_shared_caches()
    finally:
        Q._VOCAB_COUNTS.clear()
