"""Vector math over ArrayType(FloatType) embedding columns.

Embeddings stay plain ``array<float>`` (cast to double for math) — no
custom types, pure PySpark (SURVEY §4c). Dot products use
``aggregate``/``zip_with`` builtins: JVM-side, codegen'd, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (left-to-right sum, portable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def double_array(xs) -> Column:
    """A literal ``array<double>`` of ``xs``, parsed by the JVM in ONE
    call. ``F.array(*[F.lit(x) for x in xs])`` makes one Py4J round trip
    per element, which for a 64-wide weight or centroid vector costs
    more than the rest of the plan's construction. Each element is
    written as its shortest round-trip ``repr`` with the ``D`` suffix,
    so the parsed double is the Python float bit for bit. A decimal
    literal cannot carry -0.0 (the parser folds it to 0.0), NaN or
    ±inf: -0.0 is spelled as a negation, and NaN and ±inf as a string
    cast, which types the array's elements as nullable."""
    import math

    def sql(x: float) -> str:
        if not math.isfinite(x):
            return f"CAST('{x!r}' AS DOUBLE)"
        if x == 0.0 and math.copysign(1.0, x) < 0:
            return "-(0.0D)"
        return f"{x!r}D"

    return F.expr("array(" + ", ".join(sql(float(x)) for x in xs) + ")")


def round_half_away(x, decimals: int = 6):
    """Round half away from zero — the mode Spark ``F.round`` and DuckDB
    ``ROUND`` share. numpy's ``np.round`` / Python's ``round`` use
    banker's rounding, a latent parity flake for values landing exactly
    on a .5 tie at the rounded digit; every numpy/Arrow kernel in the
    repo must round through this helper instead. Accepts scalars or
    ndarrays; preserves ±inf.
    """
    import numpy as np

    m = 10.0 ** decimals
    return np.sign(x) * np.floor(np.abs(x) * m + 0.5) / m
