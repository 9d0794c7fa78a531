"""Two-phase grouped top-k.

``Window.partitionBy(keys).orderBy(...) + row_number <= k`` shuffles EVERY
row to the key's reducer and sorts it there. For top-k-per-group over a
corpus, the classic fix is partial top-k before the shuffle (the grouped
analog of Spark's own TakeOrdered): each input partition keeps at most k
rows per key it has seen, so the exchange carries ≤ partitions·k rows per
key instead of all of them — at 100 TB that is the difference between a
bounded shuffle and a skew hazard on hot keys.

Phase 1 runs as an Arrow-batched ``mapInPandas`` maintaining per-key
candidate sets across the partition's batches; phase 2 is the exact window
on the surviving rows. The result is bit-identical to the single-window
form whenever the ordering is total (callers must include a tiebreak
column), because every group's true top-k rows survive phase 1 in
whichever partition they sit.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def grouped_topk(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    k: int,
    ascending: bool | list[bool] = False,
    rank_col: str = "rnk",
) -> DataFrame:
    """Top ``k`` rows per ``keys`` group ordered by ``order_cols``
    (``ascending`` as in pandas; include a unique tiebreak column for a
    deterministic result). Adds ``rank_col`` (1-based)."""
    if k < 1:
        raise ValueError(f"k must be >= 1: got {k}")
    asc = ascending if isinstance(ascending, list) else [ascending] * len(order_cols)

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Null/NaN ORDER keys sort differently in pandas (always last) than
        # in the phase-2 Spark window (nulls first ascending, NaN greatest),
        # so rows with a null/NaN order key are never pruned here — phase 2
        # ranks them exactly. Pruning stays tight when order keys are clean.
        # The package import installs its zipimport fix in the worker (see
        # _zipcache): this closure references nothing else of the library.
        import elastic_surv_spark  # noqa: F401

        best: pd.DataFrame | None = None
        dirty: list[pd.DataFrame] = []
        for pdf in batches:
            mask = pdf[order_cols].isna().any(axis=1)
            if mask.any():
                dirty.append(pdf[mask])
                pdf = pdf[~mask]
            pool = pdf if best is None else pd.concat([best, pdf], ignore_index=True)
            best = (
                pool.sort_values(order_cols, ascending=asc, kind="mergesort")
                .groupby(keys, sort=False, dropna=False)
                .head(k)
            )
        out = [b for b in [best, *dirty] if b is not None and len(b)]
        if out:
            yield pd.concat(out, ignore_index=True)

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    survivors = df.mapInPandas(local_topk, schema)
    order_exprs = [
        F.asc(c) if a else F.desc(c) for c, a in zip(order_cols, asc)
    ]
    w = Window.partitionBy(*keys).orderBy(*order_exprs)
    return (
        survivors.withColumn(rank_col, F.row_number().over(w).cast("long"))
        .filter(F.col(rank_col) <= k)
    )
