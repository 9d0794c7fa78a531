"""Two-phase grouped top-k ≡ the single-window form on any layout."""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from elastic_surv_spark.operators.topk import grouped_topk


def _window_topk(df, keys, order_cols, asc, k):
    order = [F.asc(c) if a else F.desc(c) for c, a in zip(order_cols, asc)]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


@pytest.mark.parametrize("parts,k", [(1, 2), (7, 3), (16, 1)])
def test_grouped_topk_equals_window_form(spark, parts, k):
    rng = random.Random(parts * 31 + k)
    rows = [
        (f"g{rng.randrange(12)}", rng.randrange(1000), i)  # ties in v are real
        for i in range(3000)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["g", "v", "id"])
    ).repartition(parts)
    got = grouped_topk(df, ["g"], ["v", "id"], k, ascending=[False, True])
    want = _window_topk(df, ["g"], ["v", "id"], [False, True], k)
    key = lambda r: (r["g"], r["rnk"])
    assert sorted(map(tuple, got.collect()), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, want.collect()), key=lambda t: (t[0], t[3])
    )


def test_grouped_topk_handles_null_keys_and_small_groups(spark):
    pdf = pd.DataFrame(
        {"g": ["a", "a", None, None, "b"], "v": [5, 7, 1, 9, 3], "id": range(5)}
    )
    df = spark.createDataFrame(pdf).repartition(3)
    got = grouped_topk(df, ["g"], ["v", "id"], 1, ascending=[False, True]).collect()
    by_g = {r["g"]: r for r in got}
    assert by_g["a"]["v"] == 7 and by_g["b"]["v"] == 3
    assert by_g[None]["v"] == 9  # null group kept, like the window form
    with pytest.raises(ValueError):
        grouped_topk(df, ["g"], ["v"], 0)


def test_grouped_topk_null_and_nan_order_keys_match_window(spark):
    import math

    pdf = pd.DataFrame(
        {
            "g": ["a", "a", "a", "b", "b"],
            "v": [None, 5.0, 1.0, math.nan, 2.0],
            "id": range(5),
        }
    )
    df = spark.createDataFrame(pdf).repartition(2)
    for asc in ([True, True], [False, True]):
        got = grouped_topk(df, ["g"], ["v", "id"], 1, ascending=asc)
        want = _window_topk(df, ["g"], ["v", "id"], asc, 1)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), f"ascending={asc}"


def test_local_topk_closure_imports_the_package(tmp_path):
    """The phase-1 closure imports the package when it runs, so a Python
    worker that runs only this closure still installs the package's
    zipimport fix (elastic_surv_spark._zipcache). Checked in a fresh
    interpreter: unpickle the closure as a worker would, run it on one
    batch, and look for the package in ``sys.modules``."""
    import os
    import subprocess
    import sys
    from types import SimpleNamespace

    from pyspark import cloudpickle

    class _Captured(Exception):
        pass

    def capture(fn, schema):
        raise _Captured(fn)

    stub = SimpleNamespace(schema=SimpleNamespace(fields=[]), mapInPandas=capture)
    with pytest.raises(_Captured) as exc:
        grouped_topk(stub, ["g"], ["v"], 1)
    path = tmp_path / "local_topk.pkl"
    path.write_bytes(cloudpickle.dumps(exc.value.args[0]))
    script = (
        "import pickle, sys\n"
        "import pandas as pd\n"
        f"fn = pickle.loads(open({str(path)!r}, 'rb').read())\n"
        "before = 'elastic_surv_spark' in sys.modules\n"
        "pdf = pd.DataFrame({'g': ['a', 'a', 'b'], 'v': [1, 3, 2]})\n"
        "(out,) = fn(iter([pdf]))\n"
        "print(before, 'elastic_surv_spark' in sys.modules, sorted(out['v']))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root}
    res = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path), env=env,
                         capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr
    assert res.stdout.split() == ["False", "True", "[2,", "3]"], res.stdout
