"""Daily transform pipeline — Spark re-expression of
``transforms/run_daily_transform.py`` (§3.1 lifecycle).

The reference runs one SUBPROCESS per transform script, sharing
nothing but the database (`:118-127`); groups execute in dict order
fundamentals → quality → insider → market → economic → earnings
(`:57-82`), with ``market`` excluded by default (the 21k-symbol
pass). Here the groups are ordered stages of DataFrame jobs inside
ONE SparkSession — lineage replaces the database hand-off, the
subprocess boundary disappears, and per-transform failure isolation
becomes try/except around lazy plans.

Every transform reads from / writes to the parquet warehouse via
TableIO, so a user can run any subset incrementally and inspect
intermediate tables exactly like the reference's ``transforms.*``
schema.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import TableIO

DEFAULT_GROUP_ORDER = ["fundamentals", "quality", "insider", "market", "economic", "earnings"]


@dataclass
class TransformResult:
    group: str
    name: str
    ok: bool
    rows: int = 0
    error: str = ""


@dataclass
class TransformPipeline:
    """Registry + runner. Transforms are (name, fn) where fn takes
    the TableIO and returns the output DataFrame; the runner
    persists it to ``transforms/<name>`` and records the row count
    its write returns (no re-read) — the analog of the reference's
    per-script exit codes."""

    io: TableIO
    groups: dict[str, list[tuple[str, Callable[[TableIO], DataFrame]]]] = field(default_factory=dict)

    def register(self, group: str, name: str, fn: Callable[[TableIO], DataFrame]) -> None:
        self.groups.setdefault(group, []).append((name, fn))

    def run(
        self, include_market: bool = False, only_groups: list[str] | None = None
    ) -> list[TransformResult]:
        """Dependency-ordered run; ``market`` opt-in like the
        reference (`:204-218`). Any failure is recorded and the
        pipeline continues with the next transform; the caller
        checks results (exit-code-1 analog)."""
        if only_groups is not None:
            # [] is a real selection meaning "run nothing" (e.g. --skip
            # removed every group) — falling back to the default order
            # would run everything the caller excluded
            # re-sort the caller's selection into dependency order —
            # running `--only quality fundamentals` verbatim would
            # compute quality from STALE fundamentals tables
            known = [g for g in DEFAULT_GROUP_ORDER if g in only_groups]
            extra = [g for g in only_groups if g not in DEFAULT_GROUP_ORDER]
            order = known + extra
        else:
            order = [g for g in DEFAULT_GROUP_ORDER if include_market or g != "market"]
        results: list[TransformResult] = []
        for group in order:
            for name, fn in self.groups.get(group, []):
                try:
                    out = fn(self.io)
                    out = out.withColumn("processed_at", F.current_timestamp())
                    rows = self.io.overwrite(out, f"transforms/{name}")
                    results.append(TransformResult(group, name, True, rows))
                except Exception as e:  # failure isolation per transform
                    results.append(TransformResult(group, name, False, 0, str(e)[:500]))
        return results


def build_default_pipeline(io: TableIO) -> TransformPipeline:
    """The reference's TRANSFORM_GROUPS wired to our domain
    transforms over the raw.* warehouse tables."""
    from ..domain import fundamentals as FD
    from ..domain import insider as INS
    from ..domain import macro as MAC
    from ..domain import sentiment as SEN
    from ..domain.indicators import compute_indicators
    from ..domain.quality_scores import compute_quality_scores
    from ..domain.trading_signals import all_signals

    def _with_sector(df: DataFrame, io: TableIO) -> DataFrame:
        overview = io.read("raw/company_overview").select("symbol_id", "sector", "industry")
        return df.join(F.broadcast(overview), "symbol_id", "left")

    p = TransformPipeline(io)
    p.register(
        "fundamentals",
        "balance_sheet",
        lambda io: FD.balance_sheet_features(_with_sector(io.read("raw/balance_sheet"), io)),
    )
    p.register(
        "fundamentals",
        "cash_flow",
        lambda io: FD.cash_flow_features(_with_sector(io.read("raw/cash_flow"), io)),
    )
    p.register(
        "fundamentals",
        "income_statement",
        lambda io: FD.income_statement_features(_with_sector(io.read("raw/income_statement"), io)),
    )

    def quality(io: TableIO) -> DataFrame:
        keys = ["symbol_id", "symbol", "fiscal_date_ending"]
        bs = io.read("transforms/balance_sheet")
        cf = io.read("transforms/cash_flow")
        inc = io.read("transforms/income_statement")
        joined = (
            bs.select(*keys, "sector", "industry", *[c for c in bs.columns if c.startswith("fbs_")])
            .join(inc.select(*keys, *[c for c in inc.columns if c.startswith("fis_")]), keys, "left")
            .join(cf.select(*keys, *[c for c in cf.columns if c.startswith("fcf_")]), keys, "left")
        )
        return compute_quality_scores(joined)

    p.register("quality", "fundamental_quality_scores", quality)
    p.register(
        "insider", "insider_transactions", lambda io: INS.detail_table(io.read("raw/insider_transactions"))
    )
    p.register(
        "insider",
        "insider_transactions_agg",
        lambda io: INS.daily_agg(io.read("raw/insider_transactions")),
    )

    def market_features(io: TableIO) -> DataFrame:
        return compute_indicators(io.read("raw/time_series_daily_adjusted"))

    def market_signals(io: TableIO) -> DataFrame:
        return all_signals(io.read("transforms/time_series_daily_adjusted"))

    p.register("market", "time_series_daily_adjusted", market_features)
    p.register("market", "trading_signals", market_signals)
    p.register(
        "economic",
        "economic_indicators",
        lambda io: MAC.economic_indicator_features(
            MAC.dedup_latest_load(io.read("raw/economic_indicators"), "indicator")
        ),
    )
    p.register(
        "economic",
        "commodities",
        lambda io: MAC.commodity_features(
            MAC.dedup_latest_load(io.read("raw/fred_commodities"), "commodity")
        ),
    )
    p.register(
        "earnings",
        "earnings_sentiment_agg",
        lambda io: SEN.sentiment_agg(io.read("raw/earnings_call_transcript")),
    )
    return p


def consistency_check(io: TableIO) -> DataFrame:
    """The ``rebuild_signals_from_scratch.py --check-only`` analog:
    row/symbol counts and date ranges across raw → transforms →
    signals stacked into one report (S13/A8)."""
    spark = io.spark
    reports = []
    specs = [
        ("raw/time_series_daily_adjusted", "symbol_id", "date"),
        ("transforms/time_series_daily_adjusted", "symbol_id", "date"),
        ("transforms/trading_signals", "symbol_id", "date"),
        # daily-run outputs (plans/daily_run.py) — present only after
        # an orchestrated run; exists() below skips them otherwise
        ("transforms/daily_screener", "symbol", "signal_date"),
        ("transforms/top25_chart_input", "symbol", "date"),
    ]
    for table, key, datecol in specs:
        if not io.exists(table):
            continue
        df = io.read(table)
        reports.append(
            df.agg(
                F.lit(table).alias("table_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(key).alias("n_symbols"),
                F.min(datecol).cast("string").alias("min_date"),
                F.max(datecol).cast("string").alias("max_date"),
            )
        )
    if not reports:
        # fresh warehouse: an empty report, not an IndexError — this
        # is exactly the --check-only-on-new-install case
        return io.spark.createDataFrame(
            [],
            "table_name string, n_rows long, n_symbols long,"
            " min_date string, max_date string",
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out
