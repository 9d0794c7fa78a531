"""Run loop, failure accounting, phases and the metric catalogue.

A workload object (``surv.SurvLocal`` or ``board.Board``) provides
``setup()`` (returns the seconds of its repeatable input step, measured
several times, and of its warm-up) and ``run_pass()`` (returns the timed
user-visible calls of one pass as ``(name, seconds)`` pairs). The harness
times the session start, loops passes for ``--seconds``, and turns the
passes into the end-to-end metrics, or, in a traced run, the spans and
Spark counters into the per-layer metrics.
"""

from __future__ import annotations

import math
import statistics
import sys
import time
import types
from collections import defaultdict
from contextlib import contextmanager

from perfbench.tracing import SparkCounters, Tracer

#: end-to-end metrics: emitted by every workload with ``--trace 0``
END_TO_END = (
    ("setup_s", "s"),
    ("total_s", "s"),
    ("call_geomean_s", "s"),
)

#: counter groups: phases of the surv workloads, row groups of the board
SURV_GROUPS = ("prepare", "fit", "score", "select")
BOARD_GROUPS = ("dedup", "vocab", "certified", "surv_sql", "stream", "flagship")
FAMILIES = ("cox_ph", "deephit", "logistic_hazard")
TRAIN_KINDS = FAMILIES + ("averaged",)
STAGES = ("tokenize", "exact_pairs", "quality_feats", "vocab_counts")


def per_layer_catalogue() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    m: list[tuple[str, str, str]] = [
        ("session.start_s", "s", "lower"),
        ("sources.table_warm_s", "s", "lower"),
        ("frame.from_pandas_s", "s", "lower"),
        ("functions.onehot_fit_s", "s", "lower"),
        ("models.dataset_cache_s", "s", "lower"),
        ("models.to_numpy_s", "s", "lower"),
    ]
    m += [(f"models.train_s.{k}", "s", "lower") for k in TRAIN_KINDS]
    m += [(f"models.epochs.{f}", "count", "lower") for f in FAMILIES]
    m += [
        ("models.post_fit_s", "s", "lower"),
        ("models.avg_rounds", "count", "lower"),
        ("models.avg_round_s", "s", "lower"),
        ("models.predict_s", "s", "lower"),
        ("metrics.concordance_td_s", "s", "lower"),
        ("metrics.ctd_pairwise_calls", "count", "lower"),
        ("metrics.ctd_exact_calls", "count", "lower"),
        ("metrics.ibs_s", "s", "lower"),
        ("metrics.censoring_km_s", "s", "lower"),
        ("optimizer.trials", "count", "lower"),
        ("optimizer.trial_s_p50", "s", "lower"),
        ("optimizer.trial_overlap", "ratio", "higher"),
    ]
    m += [(f"pipeline.{p}_s", "s", "lower") for p in SURV_GROUPS]
    for g in BOARD_GROUPS:
        m += [(f"plans.construct_s.{g}", "s", "lower"), (f"plans.execute_s.{g}", "s", "lower")]
    m += [(f"family.{s}_s", "s", "lower") for s in STAGES]
    for g in SURV_GROUPS + BOARD_GROUPS:
        m += [
            (f"spark.jobs.{g}", "count", "lower"),
            (f"spark.stages.{g}", "count", "lower"),
            (f"codegen.compiles.{g}", "count", "lower"),
            (f"codegen.compile_ms.{g}", "ms", "lower"),
            (f"jvm.gc_ms.{g}", "ms", "lower"),
        ]
    m += [
        ("jvm.rss_hwm_mb", "MB", "lower"),
        ("storage.cached_mb", "MB", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("trace.spans", "count", "lower"),
        ("run.failed_frac", "ratio", "lower"),
    ]
    return m


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


class Harness:
    def __init__(self, args, work: str, cpus: int) -> None:
        self.args = args
        self.work = work
        self.cpus = cpus
        self.seed = args.seed
        self.smoke = args.scale == "smoke"
        self.trace = bool(args.trace)
        self.tracer = Tracer(enabled=self.trace)
        self.counters: SparkCounters | None = None
        self.group_stats: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.layer: dict[str, float] = {}
        self.counter_s = 0.0  # time spent reading Spark counters
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None

    # -- operations and checks --------------------------------------------
    def op(self, name: str, fn):
        """Run one counted operation. A raise is counted in ``failed`` and
        reported on stderr; the run goes on. Returns (ok, value)."""
        self.attempted += 1
        try:
            if name == self.args.fail:
                raise RuntimeError(f"injected failure in {name}")
            return True, fn()
        except Exception as exc:  # noqa: BLE001 - counted, reported, not swallowed
            self.failed += 1
            print(f"perfbench: FAILED {name}: {type(exc).__name__}: {exc}"[:2000],
                  file=sys.stderr)
            return False, None

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)
            print(f"perfbench: CHECK FAILED {what}", file=sys.stderr)

    # -- traced phases -----------------------------------------------------
    @contextmanager
    def phase(self, group: str):
        """Tag the Spark jobs of a phase with its group; in a traced run,
        add the phase's job/stage/codegen/GC deltas to the group."""
        if not self.trace:
            self.spark.sparkContext.setJobGroup(group, group)
            yield
            return
        c0 = time.perf_counter()
        self.counters.set_group(group)
        before = self.counters.snapshot()
        self.counter_s += time.perf_counter() - c0
        try:
            yield
        finally:
            c0 = time.perf_counter()
            for k, v in self.counters.delta(before).items():
                self.group_stats[group][k] += v
            self.counter_s += time.perf_counter() - c0

    def gc(self) -> None:
        self.spark.sparkContext._jvm.System.gc()

    # -- the run -----------------------------------------------------------
    def run(self) -> dict:
        from elastic_surv_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus)
        session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.counters = SparkCounters(self.spark)

        if self.args.workload == "surv_local":
            from perfbench.surv import SurvLocal as Workload
        else:
            from perfbench.board import Board as Workload
        workload = Workload(self)
        input_reps, warm_s = workload.setup()
        print(f"perfbench: session {session_s:.3f}s inputs {input_reps} warm-up {warm_s:.3f}s",
              file=sys.stderr)
        setup_s = session_s + statistics.median(input_reps) + warm_s

        if self.trace:
            self.tracer.spans.clear()  # per-layer figures cover the timed passes only
            workload.install_spans()
        passes: list[list[tuple[str, float]]] = []
        start = time.perf_counter()
        while True:
            passes.append(workload.run_pass())
            print("perfbench: pass %d: %s" % (len(passes), " ".join(
                f"{name}={secs:.3f}" for name, secs in passes[-1])), file=sys.stderr)
            if time.perf_counter() - start >= self.args.seconds:
                break
        self.tracer.restore()

        if self.trace:
            metrics = self._per_layer(session_s, workload, len(passes))
        else:
            metrics = self._end_to_end(setup_s, passes)
        self.spark.stop()
        return {
            "correct": not self.problems and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def _end_to_end(self, setup_s: float, passes) -> dict:
        totals, geos = [], []
        for calls in passes:
            secs = [s for _, s in calls]
            if secs:
                totals.append(sum(secs))
                geos.append(geomean(secs))
        values = {
            "setup_s": setup_s,
            "total_s": statistics.median(totals) if totals else float("nan"),
            "call_geomean_s": statistics.median(geos) if geos else float("nan"),
        }
        return {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}

    def _per_layer(self, session_s: float, workload, n_passes: int) -> dict:
        values: dict[str, float] = {name: 0.0 for name, _, _ in per_layer_catalogue()}
        values["session.start_s"] = session_s
        values.update(self.layer)
        values.update(workload.layer_values(n_passes))
        for g, stats in self.group_stats.items():
            values[f"spark.jobs.{g}"] = stats["jobs"] / n_passes
            values[f"spark.stages.{g}"] = stats["stages"] / n_passes
            values[f"codegen.compiles.{g}"] = stats["compiles"] / n_passes
            values[f"codegen.compile_ms.{g}"] = stats["compile_ms"] / n_passes
            values[f"jvm.gc_ms.{g}"] = stats["gc_ms"] / n_passes
        values["jvm.rss_hwm_mb"] = self.counters.rss_hwm_mb()
        n_spans = len(self.tracer.closed())
        values["trace.spans"] = n_spans
        values["trace.overhead_s"] = (
            self.counter_s + n_spans * _span_cost()
        ) / n_passes
        values["run.failed_frac"] = self.failed / max(self.attempted, 1)
        unit = {name: u for name, u, _ in per_layer_catalogue()}
        return {name: {"value": values[name], "unit": unit[name]} for name in unit}


def _span_cost(n: int = 2000) -> float:
    """Seconds one recorded span adds to a call, measured on a no-op."""
    owner = types.SimpleNamespace(noop=lambda: None)
    Tracer().wrap(owner, "noop", "noop")
    t0 = time.perf_counter()
    for _ in range(n):
        owner.noop()
    return (time.perf_counter() - t0) / n
