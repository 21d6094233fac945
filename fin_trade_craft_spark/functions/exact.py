"""Exact (order-independent) aggregate arithmetic.

Floating-point addition is not associative, so a double SUM depends
on partial-aggregation order — Spark's distributed fold and an
oracle's single-threaded fold may disagree in the last ulps, and at
1000 executors the same query can even disagree with itself run to
run. Every money/quantity aggregate in this engine therefore runs
through exact DECIMAL arithmetic and only converts back to DOUBLE at
the end: bit-identical on 1 core or 1000 executors.

The reference gets this for free because Postgres NUMERIC is exact
(SURVEY §7.3 risk 2); this module is the Spark-side equivalent.
"""

from __future__ import annotations

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F

# DECIMAL(18,s) sums expand to DECIMAL(38,s) internally in Spark —
# no overflow until ~1e20 absolute sum, far beyond 100 TB of money
# columns; inputs above 1e16 would need a wider input precision.


def dsum(col: Column | str, scale: int = 2, precision: int = 18) -> Column:
    """Order-independent SUM: exact decimal accumulate, double out."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


def davg(
    col: Column | str, scale: int = 2, precision: int = 18, over: WindowSpec | None = None
) -> Column:
    """Order-independent AVG: exact decimal sum, one double divide.
    With ``over``, both the sum and the count run over that window."""
    c = F.col(col) if isinstance(col, str) else col
    total, n = F.sum(c.cast(f"decimal({precision},{scale})")), F.count(c)
    if over is not None:
        total, n = total.over(over), n.over(over)
    return total.cast("double") / n


def with_share_of_total(df, cnt_col: str, out: str = "pct", ndigits: int | None = None):
    """Attach 100·cnt/total: the global total comes from an
    aggregate broadcast back onto the frame (one 1-row crossJoin →
    BroadcastNestedLoop), NOT an empty-partition window — a
    ``SUM() OVER ()`` plans an unpartitioned WindowExec that funnels
    the frame through one task, which the plan lint bans. Division
    chain (lit(100.0) · cnt / total) is unchanged, so values are
    bit-identical to the window form."""
    tot = df.agg(F.sum(F.col(cnt_col)).alias("__tot"))
    share = F.lit(100.0) * F.col(cnt_col) / F.col("__tot")
    if ndigits is not None:
        share = F.round(share, ndigits)
    return df.crossJoin(F.broadcast(tot)).withColumn(out, share).drop("__tot")
