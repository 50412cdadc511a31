"""Money arithmetic helpers.

The reference stores all amounts as ``Double`` and rounds with
``Math.round(x*100)/100`` (reference: dws/OrderWideApp.scala:162-164,
ads/TrademarkStatApp.scala:94,127). ``F.round`` is HALF_UP which matches
``Math.round`` on the positive amounts the pipelines carry. For exact
cross-engine parity with the DuckDB oracle we sum in DECIMAL (exact,
order-insensitive) and round at the end.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def money(col: Column | str) -> Column:
    """Cast an amount to DECIMAL(18,2) — exact summation at any scale."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


def revenue(extendedprice: Column, discount: Column) -> Column:
    """extendedprice * (1 - discount), the standard line-revenue term."""
    return extendedprice * (F.lit(1.0) - discount)
