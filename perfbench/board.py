"""``registry_board``: registry rows timed as a caller waits for them.

Each row is timed as ``fn(spark, sf_dir)`` plus a noop write of the frame
it returns: plan construction (including the driver loops and streaming
queries some rows run inside ``fn``) and execution are both what a caller
waits for. ``bench.py`` times only the write; this board does not replace
it. Shared subplan caches are released before every pass, so each pass
pays the family builds a fresh session would. The seed makes the tables;
the rows run in the fixed order below, so a row's place in the pass (JIT
and GC state left by the rows before it) does not vary with the seed.

The seven rows cover the query-engine layers: the shared-subplan families
(shingle and exact-pair dedup builds, vocabulary counts, the certified
quality features and the certified driver loop), the flagship pipeline,
survival SQL and a streaming twin. Set-up runs every row once untimed and checks its rows against the
row's DuckDB oracle with ``scripts/oracle_check.py``'s comparison (row
count, columns and every value after canonical sorting).
"""

from __future__ import annotations

import os
import sys
import time

from perfbench.gen import write_tables

#: (row, group), in the order each pass runs them
ROWS = (
    ("ngram_jaccard_dupes", "dedup"),
    ("doc_vocab_coverage", "vocab"),
    ("certified_quality_eval", "certified"),
    ("km_user_lifetimes", "surv_sql"),
    ("harrell_cindex_lifetimes", "surv_sql"),
    ("events_dedup_stream", "stream"),
    ("llm_data_pipeline_e2e", "flagship"),
)
TABLES = ("documents", "embeddings", "events")
#: rows of documents / embeddings / events: sf0.01 and sf0.001 shapes
SIZES = {"full": (500, 500, 10_000), "smoke": (500, 500, 1_000)}


class Board:
    def __init__(self, h) -> None:
        self.h = h
        self.spark = h.spark
        self.sf_dir = os.path.join(h.work, "data")

    # -- set-up ------------------------------------------------------------
    def setup(self) -> tuple[list[float], float]:
        from elastic_surv_spark.plans.queries import REGISTRY, release_shared_caches
        from elastic_surv_spark.sources.parquet import load_table

        docs, embs, events = SIZES["smoke" if self.h.smoke else "full"]
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            write_tables(self.sf_dir, self.h.seed, docs=docs, events=events, embeddings=embs)
            reps.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        for name in TABLES:
            load_table(self.spark, self.sf_dir, name).count()
        self.h.layer["sources.table_warm_s"] = time.perf_counter() - t0

        # warm-up pass: every row once, collected for the oracle check
        outputs, cold = {}, []
        for name, _ in ROWS:
            r0 = time.perf_counter()
            ok, pdf = self.h.op(
                f"check.{name}", lambda: REGISTRY[name].fn(self.spark, self.sf_dir).toPandas())
            cold.append(f"{name}={time.perf_counter() - r0:.3f}")
            if ok:
                outputs[name] = pdf
        print("perfbench: warm-up rows: " + " ".join(cold), file=sys.stderr)
        release_shared_caches()
        warm_s = time.perf_counter() - t0
        self._check(outputs)
        return reps, warm_s

    def _check(self, outputs: dict) -> None:
        """Compare each warm-up result with the row's DuckDB oracle."""
        import duckdb

        from elastic_surv_spark.plans.queries import REGISTRY
        from elastic_surv_spark.sources.parquet import table_path
        from scripts.oracle_check import compare

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{table_path(self.sf_dir, t)}')")
        for name, pdf in outputs.items():
            oracle = REGISTRY[name].oracle
            self.h.check(oracle is not None, f"{name}: no oracle")
            if oracle is None:
                continue
            problems = compare(name, pdf, con.execute(oracle).fetchdf())
            self.h.check(not problems, f"{name} vs DuckDB oracle: {problems}")
        con.close()

    # -- one pass ------------------------------------------------------------
    def run_pass(self) -> list[tuple[str, float]]:
        from elastic_surv_spark.plans.queries import (
            REGISTRY,
            family_stages,
            release_shared_caches,
        )

        h, calls, built = self.h, [], set()
        release_shared_caches()
        for name, group in ROWS:
            h.gc()
            with h.phase(group):
                if h.trace:
                    # traced run only: build the row's shared subplans first,
                    # so each stage's cost shows as its own span
                    for label, build in family_stages(name):
                        if label not in built:
                            built.add(label)
                            with h.tracer.span(f"family.{label}"):
                                h.op(f"family.{label}", lambda: build(self.spark, self.sf_dir))
                def row():
                    with h.tracer.span(f"plans.construct.{group}"):
                        df = REGISTRY[name].fn(self.spark, self.sf_dir)
                    with h.tracer.span(f"plans.execute.{group}"):
                        df.write.format("noop").mode("overwrite").save()

                t0 = time.perf_counter()
                ok, _ = h.op(name, row)
                if ok:
                    calls.append((name, time.perf_counter() - t0))
        if h.trace:
            h.layer["storage.cached_mb"] = max(
                h.layer.get("storage.cached_mb", 0.0), h.counters.cached_mb())
        return calls

    # -- traced run ------------------------------------------------------------
    def install_spans(self) -> None:
        """Rows are traced by the spans ``run_pass`` opens around
        construction, execution and family builds."""

    def layer_values(self, n: int) -> dict[str, float]:
        spans, v = self.h.tracer.totals(), {}
        groups = {g for _, g in ROWS}
        for g in groups:
            v[f"plans.construct_s.{g}"] = spans.get(f"plans.construct.{g}", {}).get("total", 0.0) / n
            v[f"plans.execute_s.{g}"] = spans.get(f"plans.execute.{g}", {}).get("total", 0.0) / n
        for name, agg in spans.items():
            if name.startswith("family."):
                v[f"{name}_s"] = agg["total"] / n
        return v
