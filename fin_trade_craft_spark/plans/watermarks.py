"""Incremental-processing framework — the watermark ledger
(SURVEY §2.9, §4.1; ``transforms/transformation_watermark_manager.py``).

The reference's "watermark" is a bookkeeping LEDGER, not a Spark
event-time watermark: one row per (symbol × transform group)
recording last successful run, processed date range, and a
consecutive-failure counter with a 3-strikes circuit breaker
(`:272-324`). Work discovery selects symbols that are eligible,
under the failure limit, and stale (`:198-270`), stalest first
(NULLS FIRST). Incremental discovery of unprocessed rows is an
anti-join (J7) — `transform_balance_sheet.py:118-134`.

Here the ledger is a small parquet table managed through TableIO;
selection and commit are DataFrame ops, so the whole control loop
stays declarative. At scale the ledger is tiny (one row per
symbol×group) and always broadcast.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..sources.io import TableIO

LEDGER_SCHEMA = StructType(
    [
        StructField("symbol_id", LongType(), False),
        StructField("transform_group", StringType(), False),
        StructField("last_successful_run", TimestampType()),
        StructField("first_date_processed", TimestampType()),
        StructField("last_date_processed", TimestampType()),
        StructField("consecutive_failures", IntegerType()),
        StructField("eligible", StringType()),  # 'yes' | 'no'
    ]
)

MAX_FAILURES = 3  # circuit breaker (`:306-311`)


class WatermarkLedger:
    def __init__(self, io: TableIO, table: str = "transforms/transformation_watermarks"):
        self.io = io
        self.table = table

    def _empty(self) -> DataFrame:
        return self.io.spark.createDataFrame([], LEDGER_SCHEMA)

    def read(self) -> DataFrame:
        return self.io.read(self.table) if self.io.exists(self.table) else self._empty()

    def ensure_rows(self, symbols: DataFrame, group: str) -> None:
        """Seed ledger rows for new symbols (never-run state)."""
        seed = symbols.select(F.col("symbol_id").cast("long")).distinct().select(
            "symbol_id",
            F.lit(group).alias("transform_group"),
            F.lit(None).cast("timestamp").alias("last_successful_run"),
            F.lit(None).cast("timestamp").alias("first_date_processed"),
            F.lit(None).cast("timestamp").alias("last_date_processed"),
            F.lit(0).alias("consecutive_failures"),
            F.lit("yes").alias("eligible"),
        )
        existing = self.read().filter(F.col("transform_group") == group).select("symbol_id")
        new = seed.join(existing, "symbol_id", "left_anti")
        if new.isEmpty():
            return  # the daily steady state: no ledger rewrite
        # upsert keeps non-colliding old rows itself — passing the
        # whole ledger back in would scan it twice more for nothing
        self.io.upsert(new, self.table, ["symbol_id", "transform_group"])

    def select_work(
        self, group: str, staleness_hours: float = 168.0, limit: int | None = None,
        now: datetime | None = None,
    ) -> DataFrame:
        """Symbols needing a run: eligible, under the failure cap,
        never-run or stale; stalest first with NULLS FIRST (O2)."""
        now = now or datetime.now(timezone.utc)
        # seconds granularity: int(hours) would silently truncate
        # fractional staleness (0.5h → 0 → every symbol always stale)
        cutoff = F.lit(now).cast("timestamp") - F.expr(
            f"INTERVAL {int(staleness_hours * 3600)} SECONDS"
        )
        led = self.read().filter(F.col("transform_group") == group)
        work = led.filter(
            (F.col("eligible") == "yes")
            & (F.col("consecutive_failures") < MAX_FAILURES)
            & (F.col("last_successful_run").isNull() | (F.col("last_successful_run") < cutoff))
        ).orderBy(F.col("last_successful_run").asc_nulls_first(), "symbol_id")
        # `is not None`: limit=0 legitimately means "no capacity"
        return work.limit(limit) if limit is not None else work

    def commit_success(self, group: str, ranges: DataFrame, now: datetime | None = None) -> None:
        """Bulk watermark commit from a per-symbol min/max aggregate
        (J9; transform_time_series_daily_adjusted.py:868-889).
        ranges: (symbol_id, first_date, last_date)."""
        now = now or datetime.now(timezone.utc)
        updated = ranges.select(
            F.col("symbol_id").cast("long"),
            F.lit(group).alias("transform_group"),
            F.lit(now).cast("timestamp").alias("last_successful_run"),
            F.col("first_date").cast("timestamp").alias("first_date_processed"),
            F.col("last_date").cast("timestamp").alias("last_date_processed"),
            F.lit(0).alias("consecutive_failures"),
            F.lit("yes").alias("eligible"),
        )
        self.io.upsert(updated, self.table, ["symbol_id", "transform_group"])

    def commit_failure(self, group: str, symbol_ids: list[int]) -> None:
        """Increment failure counters; trip the breaker at 3
        (`:272-324`)."""
        led = self.read()
        hit = (F.col("transform_group") == group) & F.col("symbol_id").isin(symbol_ids)
        bumped = led.withColumn(
            "consecutive_failures",
            F.when(hit, F.col("consecutive_failures") + 1).otherwise(F.col("consecutive_failures")),
        ).withColumn(
            "eligible",
            F.when(
                hit & (F.col("consecutive_failures") >= MAX_FAILURES), F.lit("no")
            ).otherwise(F.col("eligible")),
        )
        self.io.upsert(bumped, self.table, ["symbol_id", "transform_group"])


def discover_unprocessed(raw: DataFrame, done: DataFrame, keys: list[str]) -> DataFrame:
    """J7 anti-join: raw rows whose key is absent from the transform
    output (the `processed_at IS NULL` idiom without mutable state
    — `transform_trading_signals.py:930-946`)."""
    return raw.join(done.select(*keys).distinct(), keys, "left_anti")
