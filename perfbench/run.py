"""Benchmark entry point.

    python3 perfbench/run.py --workload <surv_local|registry_board> \
        --seed <n> --seconds <s> --trace <0|1>

Builds a local Spark session with ``elastic_surv_spark.session.get_spark``
(``local[nproc]``, driver memory sized to the machine), makes the
workload's inputs from ``--seed``, runs one untimed warm-up, then measures
whole passes of the workload until ``--seconds`` have elapsed (at least
one pass) and reports medians over passes. Output checks run on every
pass; a raising operation is counted in ``failed`` and never aborts the
run. The last stdout line is the JSON result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics under ``--trace 0`` and the per-layer metrics under ``--trace 1``.

Every file the run writes (inputs, Spark scratch, the span dump) lives
under ``perfbench/.work/`` in the checkout and is removed at exit, except
the span dump ``perfbench/.work/spans-<workload>-<seed>.json`` of a traced
run. Exits 2 without a result when the program's sources are missing.

Before it exits, on every path, the run stops the Spark JVM it started and
waits until every process started under it has ended: it makes itself the
child subreaper, so the JVM's Python workers, orphaned when the JVM exits,
become its children and are waited for too. SIGTERM ends the run the same
way.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("surv_local", "registry_board")


def _machine() -> tuple[int, str]:
    """(usable cores, driver heap): a quarter of physical memory, 1g to 4g."""
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1, cpus or 1), f"{max(1, min(4, total // 2**30 // 4))}g"


def _prepare_env(work: str) -> int:
    """Launcher hygiene: the repo root on PYTHONPATH for Python workers,
    scratch directories inside the checkout, ``local[nproc]`` and a driver
    heap sized to the machine (the library default is 48g)."""
    cpus, mem = _machine()
    scratch = os.path.join(work, "tmp")
    os.makedirs(scratch, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = mem
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = scratch
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={scratch} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        "pyspark-shell"
    )
    os.environ["ELASTIC_SURV_SPARK_NO_CERT_ROTATION"] = "1"
    # import the benchmark as the ``perfbench`` package, not its modules
    # as top-level names from the script's own directory
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    return cpus


def _become_subreaper() -> None:
    """Make descendants orphaned by their parent children of this process
    (Linux ``PR_SET_CHILD_SUBREAPER``), so that they can be waited for."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me, kids = str(os.getpid()), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat.rsplit(")", 1)[1].split()[1] == me:
            kids.append(int(entry))
    return kids


def _stop_jvm(grace: float = 30.0) -> None:
    """Stop the Spark context, close the py4j gateway and wait for the JVM
    (it exits when its stdin closes); kill it if it has not ended in
    ``grace`` seconds."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception as exc:  # noqa: BLE001 - the JVM is stopped below either way
            print(f"perfbench: SparkContext.stop: {exc}", file=sys.stderr)
    gateway = SparkContext._gateway
    if gateway is None:
        return
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - already closed
        pass
    proc = getattr(gateway, "proc", None)
    if proc is None or proc.stdin is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=grace)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()


def _reap(grace: float = 30.0) -> None:
    """Wait until this process has no children left: SIGTERM those still
    running after ``grace`` seconds, SIGKILL them ``grace`` seconds later."""
    start, sent = time.monotonic(), None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        kids = _children()
        if not kids:
            return
        waited = time.monotonic() - start
        sig = (signal.SIGKILL if waited >= 2 * grace
               else signal.SIGTERM if waited >= grace else None)
        if sig is not None and sig != sent:
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full",
                    help="smoke: sf0.001 tables and a ~2k-row survival table")
    ap.add_argument("--fail", default="",
                    help="name of one operation made to raise (failure-path test)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "elastic_surv_spark", "__init__.py")):
        print("perfbench: elastic_surv_spark sources not found next to perfbench/",
              file=sys.stderr)
        return 2

    _become_subreaper()
    signal.signal(signal.SIGTERM, _on_sigterm)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cpus = _prepare_env(work)
    try:
        from perfbench.harness import Harness

        harness = Harness(args, work, cpus)
        result = harness.run()
        if args.trace:
            harness.tracer.dump(
                os.path.join(HERE, ".work", f"spans-{args.workload}-{args.seed}.json")
            )
    finally:
        t0 = time.perf_counter()
        _stop_jvm()
        _reap()
        print(f"perfbench: JVM and workers ended in {time.perf_counter() - t0:.2f}s",
              file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
