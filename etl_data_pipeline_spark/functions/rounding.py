"""Cross-engine deterministic rounding.

``F.round`` (JVM: BigDecimal HALF_UP on the shortest decimal
representation) and DuckDB/numpy rounding (binary-value based) disagree
on exact ``.xx5`` ties, which breaks oracle value-hash comparison for
row-level computed doubles. ``hround`` instead uses

    floor(x * 10^s + 0.5) / 10^s

— composed of IEEE-754 ops (*, +, floor, /) that every engine executes
bit-identically, so Spark, DuckDB and numpy all produce the same
double. Semantics: HALF_UP toward +infinity. Use it for every rounded
double that feeds an oracle comparison; ``sql_round`` emits the same
formula for the DuckDB side, ``np_round`` for pandas UDFs and
``_round6_py`` for scalars on the driver.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def hround(col: Column | str, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    factor = 10**scale
    return F.floor(c * factor + F.lit(0.5)) / F.lit(factor)


def sql_round(expr: str, scale: int = 2) -> str:
    factor = 10**scale
    return f"floor(({expr}) * {factor} + 0.5) / {factor}"


def np_round(series, scale: int = 2):
    import numpy as np

    factor = 10**scale
    return np.floor(series * factor + 0.5) / factor


def _round6_py(x: float) -> float:
    """Driver-side hround(x, 6): floor(x·10⁶ + 0.5)/10⁶ in Python
    floats — the identical IEEE-754 op sequence hround emits in the
    JVM (np_round's formula), so a model step computed on the driver
    is bit-equal to one computed on an executor."""
    return math.floor(x * 1000000 + 0.5) / 1000000
