"""The repo money rule as one Spark expression.

Every registered money total folds EXACT integer cents: the per-row
cent quantization is lossless on 2-dp money columns, the BIGINT sum is
associative in ANY accumulation order — Spark partial aggregation,
DuckDB scan order, a streaming state-store merge — and SQL-sum NULL
semantics ride through (the sum of zero non-null rows is NULL). The
DuckDB oracles spell the same fold inline as
``ROUND(CAST(sum(CAST(round(x * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sum_money_cents(col: str) -> Column:
    """ROUND-2 money total via an exact integer-cent fold (Spark side)."""
    cents = F.round(F.col(col) * 100).cast("long")
    return F.round(F.sum(cents).cast("double") / 100.0, 2)

