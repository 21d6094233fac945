"""Orchestrated daily market run — entry point A of the reference
(``transforms/run_daily_transform.py:57-82`` group semantics wired to
``transforms/transformation_watermark_manager.py:198-270`` work
discovery): incremental discovery → indicator engine → signals →
screener → chart input, in ONE SparkSession with the watermark
ledger active.

The per-query registry proves each stage's values in isolation; this
module is the PIPELINE record — the reference user's actual daily
invocation (`python -m fin_trade_craft_spark.cli --daily-market
<sf_dir>`), producing a per-stage wall-clock breakdown and the
``rebuild_signals_from_scratch.py --check-only`` consistency report.

Incremental semantics (the reference's, re-expressed):

- The feed is resampled to daily bars and refreshed into
  ``raw/time_series_daily_adjusted`` (the reference's extractors own
  raw.*; here the tick→bar resample stands in for the fetch).
- The ledger selects WORK at symbol grain: eligible, under the
  3-strikes failure cap, never-run or staler than
  ``staleness_hours`` (`:198-270`). A fresh ledger selects
  everything (the initial build); a warm ledger selects nothing (the
  daily no-op) or exactly the stale subset.
- Indicators need full per-symbol history (every window/EWM runs
  over the whole series, like the reference's per-symbol loops), so
  work symbols recompute their entire series and UPSERT by
  (symbol_id, date). The COMPUTE is ∝ work; the WRITE is not: both
  feature tables are unpartitioned, so each upsert reads and
  rewrites the whole table (untouched symbols' rows are carried
  through the merge) — ∝ market. A ``symbol_bucket`` layout with a
  partition-scoped upsert (``TableIO.upsert(partition_by=...)``)
  would bound the rewrite by the work symbols' buckets.
- Signals upsert by (symbol_id, date, trade_strategy), computed from
  the same materialized indicator batch the feature upsert wrote.
- Screener + chart input are market-wide ranks (they must see every
  symbol, stale or not — a percentile rank over a subset is wrong),
  so they always recompute, reading the sf_dir tables their oracles
  read; outputs land in the warehouse like any transform. The rank
  pipeline runs once: its 25 picks feed both outputs.

Each frame is computed once and no table is re-read to count it:
stage row counts are the counts the writes return (from the written
files' footers), and the unprocessed-bar count is the feature table's
growth across its upsert.

At 100 TB: the ledger is one row per symbol×group (broadcast
always; the work ids are collected into a local relation, bounded
by the symbol universe); the screener's rank pipeline is the
two-phase distributed total order proven in `queries/reporting.py`.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources.io import TableIO
from .watermarks import WatermarkLedger

RAW_BARS = "raw/time_series_daily_adjusted"
T_FEATURES = "transforms/time_series_daily_adjusted"
T_SIGNALS = "transforms/trading_signals"
T_SCREENER = "transforms/daily_screener"
T_CHART = "transforms/top25_chart_input"
GROUP = "market"


@dataclass
class StageRecord:
    name: str
    wall_sec: float
    rows: int
    note: str = ""


@dataclass
class DailyRunReport:
    stages: list[StageRecord] = field(default_factory=list)
    work_symbols: int = 0
    new_bar_rows: int = 0
    total_wall_sec: float = 0.0
    consistency: list = field(default_factory=list)

    def lines(self) -> list[str]:
        out = [
            f"work_symbols={self.work_symbols} new_bar_rows={self.new_bar_rows}"
        ]
        for s in self.stages:
            note = f" ({s.note})" if s.note else ""
            out.append(f"  {s.name:<12} {s.wall_sec:7.2f}s rows={s.rows}{note}")
        out.append(f"  {'TOTAL':<12} {self.total_wall_sec:7.2f}s")
        for r in self.consistency:
            out.append(
                f"  check {r.table_name}: rows={r.n_rows} symbols={r.n_symbols}"
                f" dates=[{r.min_date} .. {r.max_date}]"
            )
        return out


def _staged(report: DailyRunReport, name: str):
    class _Ctx:
        def __enter__(self):
            self.t0 = time.time()
            return self

        def done(self, rows: int, note: str = ""):
            self.rows, self.note = rows, note

        def __exit__(self, *exc):
            report.stages.append(
                StageRecord(
                    name,
                    round(time.time() - self.t0, 3),
                    getattr(self, "rows", 0),
                    getattr(self, "note", ""),
                )
            )
            return False

    return _Ctx()


def run_daily_market(
    spark: SparkSession,
    sf_dir: str,
    io: TableIO,
    staleness_hours: float = 168.0,
    now: datetime | None = None,
) -> DailyRunReport:
    """One daily run. Returns the stage breakdown + consistency
    report; see module docstring for the incremental contract."""
    from ..domain.indicators import compute_indicators
    from ..domain.trading_signals import all_signals
    from ..queries.fin_domain import market_bars
    from ..queries.reporting import _screener_top25, chart_input_for_picks
    from .pipeline import consistency_check

    rep = DailyRunReport()
    t_start = time.time()
    ledger = WatermarkLedger(io)

    # ---- stage 1: ingest (feed → raw bars; the extract stand-in) ----
    with _staged(rep, "ingest") as st:
        st.done(io.overwrite(market_bars(spark, sf_dir), RAW_BARS))
        raw = io.read(RAW_BARS)

    # ---- stage 2: discovery (ledger: eligible, stale, under cap) ----
    with _staged(rep, "discovery") as st:
        ledger.ensure_rows(raw.select("symbol_id"), GROUP)
        work = ledger.select_work(GROUP, staleness_hours=staleness_hours, now=now)
        # the ledger is one row per symbol×group — collecting the work
        # ids is bounded by the symbol universe, not the data
        ids = [(r.symbol_id,) for r in work.select("symbol_id").collect()]
        rep.work_symbols = len(ids)
        work_ids = spark.createDataFrame(ids, "symbol_id long")
        bars_work = raw.join(F.broadcast(work_ids), "symbol_id", "semi")
        st.done(rep.work_symbols)

    # ---- stage 3+4: indicators → signals over the work set ----
    if rep.work_symbols == 0:
        rep.stages.append(StageRecord("indicators", 0.0, 0, "skipped: no stale symbols"))
        rep.stages.append(StageRecord("signals", 0.0, 0, "skipped: no stale symbols"))
    else:
        with _staged(rep, "indicators") as st:
            # materialized once: the feature upsert, the signals and
            # the ledger ranges all read this batch, so the EWM island
            # runs once per refresh
            feats = (
                compute_indicators(bars_work)
                .withColumn("processed_at", F.current_timestamp())
                .localCheckpoint()
            )
            # (symbol_id, date) is unique in the table and in the
            # batch, so the table grows by exactly the bars it lacked
            held = io.count_rows(T_FEATURES)
            rows = io.upsert(feats, T_FEATURES, ["symbol_id", "date"])
            rep.new_bar_rows = rows - held
            st.done(rows, note=f"{rep.new_bar_rows} unprocessed bar rows")
        with _staged(rep, "signals") as st:
            sig = all_signals(feats).withColumn("processed_at", F.current_timestamp())
            st.done(io.upsert(sig, T_SIGNALS, ["symbol_id", "date", "trade_strategy"]))

    # ---- stage 5+6: screener (market-wide rank — always recomputes)
    # and the chart input for its picks, from ONE rank pipeline ----
    picks = _screener_top25(spark, sf_dir).persist()
    try:
        with _staged(rep, "screener") as st:
            st.done(io.overwrite(picks.drop("pick_key"), T_SCREENER))
        with _staged(rep, "chart_input") as st:
            st.done(io.overwrite(chart_input_for_picks(spark, sf_dir, picks), T_CHART))
    finally:
        picks.unpersist()

    # ---- stage 7: ledger commit (per-symbol processed ranges) ----
    with _staged(rep, "commit") as st:
        if rep.work_symbols:
            ranges = feats.groupBy("symbol_id").agg(
                F.min("date").alias("first_date"), F.max("date").alias("last_date")
            )
            ledger.commit_success(GROUP, ranges, now=now)
        st.done(rep.work_symbols)

    # ---- stage 8: consistency report (--check-only analog) ----
    with _staged(rep, "check") as st:
        rep.consistency = consistency_check(io).collect()
        st.done(len(rep.consistency))

    rep.total_wall_sec = round(time.time() - t_start, 3)
    return rep
