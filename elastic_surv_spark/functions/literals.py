"""Array literals built from ONE SQL-text expression.

``F.array(*[F.lit(v) for v in values])`` costs one py4j round-trip per
value; at a few hundred values per literal and several literals per plan
that round-trip overhead dominates building the plan. ``F.expr`` parses the
whole array in a single call instead. Each value is written as
``repr(float)`` plus the ``D`` suffix: ``repr`` is the shortest string that
round-trips the double, and the suffix types it DOUBLE (a bare ``0.1``
would parse as DECIMAL and change the arithmetic), so every finite double
comes back bit-exact.

Spark parses the text again each time a DataFrame operation uses the
column, once per place it appears in the expression (≈0.15 ms per value on
4 vCPU), so an expression should reference each literal once.
"""

from __future__ import annotations

import math
from typing import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def double_sql(value: float) -> str:
    """SQL text of one DOUBLE literal; NaN and ±inf have none (ValueError)."""
    v = float(value)
    if not math.isfinite(v):
        raise ValueError(f"no exact SQL literal for the double {v!r}")
    return f"{v!r}D"


def double_array(values: Iterable[float]) -> Column:
    """``array<double>`` literal holding ``values`` exactly, in one py4j call."""
    items = [double_sql(v) for v in values]
    if not items:
        return F.expr("CAST(array() AS array<double>)")
    return F.expr(f"array({', '.join(items)})")
