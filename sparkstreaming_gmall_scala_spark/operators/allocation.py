"""Proportional payment allocation with residual correction (实付分摊).

The reference allocates each order's ``final_total_amount`` across its
details proportional to ``sku_price*sku_num / original_total_amount``,
rounding each share to 2 dp, and gives the LAST detail the residual
``final_total_amount - Σ(shares so far)`` so the shares sum exactly
(reference: dws/OrderWideApp.scala:134-178; last-detail test :161,
residual :162, proportional share :164). The reference keeps the running
sums in Redis with a 600 s TTL and is arrival-order dependent.

Batch/Spark-first formulation (SURVEY.md A4-b): window functions over a
deterministic detail order — no external state, order-insensitive, and the
invariant Σ share == total holds exactly. Shares are computed in integer
CENTS so the arithmetic is exact and engine-portable:

    cents(x)   = floor(x*100 + 0.5)            # Math.round, in both engines
    share_i    = cents(total * amount_i / orig_total)   for i < last
    share_last = cents(total) - Σ_{i<last} share_i

The streaming exact-parity variant (per-arrival running state) lives in
``streaming/allocation.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _cents(x: Column) -> Column:
    """round-half-up to cents as BIGINT — floor(x*100+0.5) is pure IEEE
    double math, bit-identical across engines (unlike round(), whose
    half-way tie handling differs subtly between implementations)."""
    return F.floor(x * 100 + F.lit(0.5)).cast("long")


def allocate(
    details: DataFrame,
    order_key: str,
    detail_order: str | list[str],
    amount: str,
    total: str,
    out_col: str = "final_detail_amount",
) -> DataFrame:
    """Allocate ``total`` (an order-level column repeated on each detail row)
    across the order's detail rows proportional to ``amount``.

    ``detail_order`` should be a TOTAL order of the details (pass extra
    tiebreaker columns if the primary key can repeat) so "which row is
    last" — and thus which takes the residual — is the same under any
    engine/partitioning. For rows identical in every projected column the
    choice doesn't matter: the output multiset is the same either way.

    One shuffle on ``order_key`` serves all three windows (same
    partitioning); at scale the per-order group is tiny (1-7 rows) so no
    skew concern.
    """
    order_cols = (
        [detail_order] if isinstance(detail_order, str) else list(detail_order)
    )
    w = Window.partitionBy(order_key)
    w_last = w.orderBy(*[F.col(c).desc() for c in order_cols])

    # Exact (decimal) per-order sum of the proportioning basis — order-
    # insensitive, unlike a double sum.
    orig_total = F.sum(F.col(amount).cast("decimal(18,2)")).over(w).cast("double")
    share_cents = _cents(F.col(total) * F.col(amount) / orig_total)
    total_cents = _cents(F.col(total))

    with_share = details.withColumn("_rn_last", F.row_number().over(w_last)).withColumn(
        "_share_cents", share_cents
    )
    sum_share = F.sum("_share_cents").over(
        Window.partitionBy(order_key)
    )
    final_cents = F.when(
        F.col("_rn_last") == 1, total_cents - (sum_share - F.col("_share_cents"))
    ).otherwise(F.col("_share_cents"))
    return (
        with_share.withColumn(out_col, final_cents.cast("double") / 100.0)
        .drop("_rn_last", "_share_cents")
    )


def equal_split_exact(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    amount_col: str,
    out_col: str = "split_amount",
) -> DataFrame:
    """Split an integer ``amount_col`` (repeated on every row of a group)
    EQUALLY across the group's rows, exactly: each row gets
    ``floor(amount / n)`` and the ``pmod(amount, n)`` remainder units go
    one each to the first rows in ``order_cols`` order — so the per-group
    sum reproduces the amount to the unit, under any partitioning
    (``order_cols`` must totally order the group) and for ANY sign of
    the amount (round-9 advice: the old ``amt % n`` arithmetic silently
    under-distributed negative amounts, e.g. refunds — pmod keeps the
    remainder in [0, n) so ``n·base + rem == amount`` always). The floor
    division is written ``(amt − pmod) div n``: the numerator is exactly
    divisible, so truncating ``div`` equals floor in both engines and no
    double arithmetic touches the units.

    The equal-weight sibling of :func:`allocate` (proportional with
    last-row residual); one shuffle on ``group_col`` serves both the
    count and the row_number."""
    w = Window.partitionBy(group_col)
    wo = w.orderBy(*order_cols)
    return (
        df.withColumn("_n", F.count(F.lit(1)).over(w))
        .withColumn("_rn", F.row_number().over(wo))
        .withColumn("_pm", F.pmod(F.col(amount_col), F.col("_n")))
        .withColumn(
            out_col,
            F.expr(f"(`{amount_col}` - _pm) div _n")
            + F.when(F.col("_rn") <= F.col("_pm"), F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
        .withColumn(out_col, F.col(out_col).cast("long"))
        .drop("_n", "_rn", "_pm")
    )
