"""Orchestrated daily market run (plans/daily_run.py) — the
reference's `run_daily_transform.py` entry point A chained with the
watermark ledger: initial build processes every symbol, a fresh
ledger makes the next run a discovery no-op, a backdated subset
recomputes exactly that subset, and the warehouse stays consistent
(idempotent upsert of a deterministic recompute)."""

from __future__ import annotations

import sys
import uuid
from datetime import datetime, timedelta, timezone
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from fin_trade_craft_spark.plans.daily_run import (  # noqa: E402
    GROUP,
    RAW_BARS,
    T_CHART,
    T_FEATURES,
    T_SCREENER,
    T_SIGNALS,
    run_daily_market,
)
from fin_trade_craft_spark.plans.watermarks import WatermarkLedger  # noqa: E402
from fin_trade_craft_spark.sources.io import TableIO  # noqa: E402

SF = "/root/testdata/sf0.001"


def _counts(rep):
    return {r.table_name: (r.n_rows, r.n_symbols) for r in rep.consistency}


def test_daily_run_initial_incremental_and_stale_subset(spark, tmp_path):
    io = TableIO(spark, str(tmp_path / "wh"))
    t0 = datetime.now(timezone.utc)

    # ---- run 1: fresh ledger → every symbol is work ----
    rep1 = run_daily_market(spark, SF, io, now=t0)
    stages1 = {s.name: s for s in rep1.stages}
    n_symbols = io.read(T_FEATURES).select("symbol_id").distinct().count()
    assert rep1.work_symbols == n_symbols > 0
    assert rep1.new_bar_rows == stages1["ingest"].rows  # nothing processed yet
    assert stages1["indicators"].rows == stages1["ingest"].rows
    assert stages1["signals"].rows > 0
    # sf0.001 qualifies 24 picks (< the LIMIT 25 cap)
    assert 0 < stages1["screener"].rows <= 25
    # every pick survives the chart left-join, even bar-less
    assert stages1["chart_input"].rows >= stages1["screener"].rows
    c1 = _counts(rep1)
    assert set(c1) >= {T_FEATURES, T_SIGNALS, T_SCREENER, T_CHART}

    # ---- run 2: warm ledger, within staleness → discovery no-op ----
    rep2 = run_daily_market(spark, SF, io, now=t0 + timedelta(hours=1))
    stages2 = {s.name: s for s in rep2.stages}
    assert rep2.work_symbols == 0
    assert rep2.new_bar_rows == 0
    assert "skipped" in stages2["indicators"].note
    assert "skipped" in stages2["signals"].note
    assert _counts(rep2)[T_FEATURES] == c1[T_FEATURES]
    assert _counts(rep2)[T_SIGNALS] == c1[T_SIGNALS]

    # ---- run 3: backdate a subset → exactly that subset recomputes ----
    ledger = WatermarkLedger(io)
    stale_ids = [
        r.symbol_id
        for r in io.read(T_FEATURES).select("symbol_id").distinct().collect()
        if r.symbol_id % 10 == 0
    ]
    assert stale_ids
    ranges = (
        io.read(T_FEATURES)
        .filter(F.col("symbol_id").isin(stale_ids))
        .groupBy("symbol_id")
        .agg(F.min("date").alias("first_date"), F.max("date").alias("last_date"))
    )
    ledger.commit_success(GROUP, ranges, now=t0 - timedelta(days=365))
    rep3 = run_daily_market(spark, SF, io, now=t0 + timedelta(hours=1))
    assert rep3.work_symbols == len(stale_ids)
    # recompute of unchanged inputs is idempotent: same warehouse counts
    assert _counts(rep3)[T_FEATURES] == c1[T_FEATURES]
    assert _counts(rep3)[T_SIGNALS] == c1[T_SIGNALS]
    # and the ledger moved those symbols' watermarks forward again
    led = ledger.read().filter(F.col("symbol_id").isin(stale_ids))
    assert all(
        r.last_successful_run.replace(tzinfo=timezone.utc) >= t0
        for r in led.collect()
    )


# Spark jobs one incremental refresh may launch at sf0.001 on the test
# session (local[4], 4 shuffle partitions): 62 measured once the
# refresh stopped re-reading tables to count them and started sharing
# its frames (114 before). The slack absorbs AQE plan variation, not a
# new pass over a table (a re-read plus count() costs 3 jobs).
REFRESH_JOB_BUDGET = 66


def test_incremental_refresh_job_budget_and_write_counts(spark, tmp_path):
    """A backdated-subset refresh stays within its job budget (jobs
    counted through a job group), and every stage's row count — the
    count its write returned — equals a re-read of the table."""
    io = TableIO(spark, str(tmp_path / "wh"))
    t0 = datetime(2024, 3, 1, tzinfo=timezone.utc)
    run_daily_market(spark, SF, io, now=t0)
    ids = sorted(r.symbol_id for r in io.read(T_FEATURES).select("symbol_id").distinct().collect())
    stale = ids[::10]
    ranges = (
        io.read(T_FEATURES)
        .filter(F.col("symbol_id").isin(stale))
        .groupBy("symbol_id")
        .agg(F.min("date").alias("first_date"), F.max("date").alias("last_date"))
    )
    WatermarkLedger(io).commit_success(GROUP, ranges, now=t0 - timedelta(days=365))

    sc = spark.sparkContext
    group = f"daily-refresh-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one incremental refresh")
    try:
        rep = run_daily_market(spark, SF, io, now=t0 + timedelta(hours=1))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= REFRESH_JOB_BUDGET, f"{jobs} jobs > budget {REFRESH_JOB_BUDGET}"

    assert rep.work_symbols == len(stale)
    assert rep.new_bar_rows == 0  # the feed is unchanged: every bar was processed
    stages = {s.name: s.rows for s in rep.stages}
    for stage, table in (
        ("ingest", RAW_BARS),
        ("indicators", T_FEATURES),
        ("signals", T_SIGNALS),
        ("screener", T_SCREENER),
        ("chart_input", T_CHART),
    ):
        assert stages[stage] == io.read(table).count(), stage


def test_indicators_upsert_evaluates_the_batch_once(spark, tmp_path, monkeypatch):
    """The upsert plan holds the batch once: an indicator batch (with
    its EWM pandas island) upserted into an existing table plans
    exactly one MapInPandas, where the anti-join+union upsert planned
    two."""
    from fin_trade_craft_spark.domain.indicators import compute_indicators
    from fin_trade_craft_spark.queries.fin_domain import market_bars

    io = TableIO(spark, str(tmp_path / "wh"))
    bars = market_bars(spark, SF)
    io.overwrite(compute_indicators(bars.filter(F.col("symbol_id") % 2 == 0)), T_FEATURES)

    plans = []
    write = TableIO._write

    def recording(self, df, path, *args, **kwargs):
        plans.append(df._jdf.queryExecution().sparkPlan().toString())
        return write(self, df, path, *args, **kwargs)

    monkeypatch.setattr(TableIO, "_write", recording)
    batch = bars.filter(F.col("symbol_id") % 3 == 0)
    held = io.count_rows(T_FEATURES)
    got = io.upsert(compute_indicators(batch), T_FEATURES, ["symbol_id", "date"])
    assert len(plans) == 1
    assert plans[0].count("MapInPandas") == 1
    assert got == io.read(T_FEATURES).count()
    # the batch's even symbols were in the table already; the odd ones are new
    assert got - held == batch.filter(F.col("symbol_id") % 2 == 1).count()
