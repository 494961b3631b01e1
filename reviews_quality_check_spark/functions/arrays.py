"""Single-call literal-array constructors.

``F.array([F.lit(x) for x in xs])`` costs one py4j round trip PER
ELEMENT — ~20 ms for a 45-phrase list, and the sentiment/language/ANN
expression builders construct dozens of such arrays per query, which
made DRIVER-SIDE plan construction (not execution) the dominant cost of
several registry queries (r6 measured 3.5 s of py4j build time out of
sentiment_validation's 4.2 s total). One ``F.expr("array(...)")`` call
builds the same literal array ~60x faster; doubles round-trip exactly
via repr (shortest-round-trip) + the ``D`` suffix.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def lit_array_str(values) -> Column:
    """Literal array<string> in one py4j call."""
    vals = list(values)
    if not vals:
        return F.array().cast("array<string>")
    return F.expr("array(" + ",".join(_sql_str(v) for v in vals) + ")")


def lit_array_double(values) -> Column:
    """Literal array<double> in one py4j call; values must be finite
    (repr round-trips IEEE doubles exactly, so the literal is
    bit-identical to the F.lit path)."""
    vals = [float(v) for v in values]
    if not vals:
        return F.array().cast("array<double>")
    if not all(math.isfinite(v) for v in vals):  # inf/nan have no SQL literal
        return F.array(*[F.lit(v) for v in vals])
    return F.expr("array(" + ",".join(repr(v) + "D" for v in vals) + ")")


