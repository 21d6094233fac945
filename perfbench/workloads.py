"""The benchmark's workloads: closed loop, one client, one process.

Each workload has an untimed ``setup`` and a list of ops per pass.
An op does its untimed preparation, runs its timed section inside
``ctx.timed`` (which is also the op's root span when tracing), and
then checks the engine's output against the DuckDB oracle results
computed once per process. An op that raises or mismatches its
oracle is a failed op.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta, timezone

# Read-only registry queries of the research workload. Every one has a
# DuckDB oracle. dedup_clusters is the corpus-curation member: the
# session memos are released before each pass, so it runs its
# connected-components loop cold once per pass.
RESEARCH_QUERIES = [
    "backtest_sma_events",
    "asof_enrichment",
    "asof_nearest_match",
    "cusum_event_filter",
    "triple_barrier_labels",
    "purged_walkforward_splits",
    "frac_diff_features",
    "dollar_bars",
    "vpin_dollar_buckets",
    "order_flow_imbalance",
    "ema_features",
    "rsi_zone_signals",
    "shipping_priority",
    "market_share",
    "product_profit",
    "promo_revenue_share",
    "dedup_clusters",
]

STALE_SHARE = 0.10
BASE_NOW = datetime(2024, 3, 1, tzinfo=timezone.utc)


def stale_draw(seed: int, op_index: int, symbols: list[int]) -> list[int]:
    """The symbols one refresh op backdates: a seeded 10% sample."""
    rng = random.Random(f"{seed}:stale:{op_index}")
    k = max(1, round(len(symbols) * STALE_SHARE))
    return sorted(rng.sample(sorted(symbols), k))


def query_order(seed: int, pass_index: int) -> list[str]:
    """The order of one pass over the research queries."""
    order = list(RESEARCH_QUERIES)
    random.Random(f"{seed}:order:{pass_index}").shuffle(order)
    return order


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class DailyRefresh:
    """Backfill and one warm-up refresh once, then per op: backdate a
    seeded 10% of symbols in the watermark ledger (untimed) and run the
    daily market refresh (timed)."""

    name = "daily_refresh"
    oracle_names = ["fin_signals_pipeline", "daily_screener", "top25_chart_input"]

    def __init__(self, ctx):
        from fin_trade_craft_spark.plans import daily_run
        from fin_trade_craft_spark.sources.io import TableIO

        self.ctx = ctx
        self.dr = daily_run
        self.warehouse = os.path.join(ctx.run_dir, "warehouse")
        self.io = TableIO(ctx.spark, self.warehouse)
        self.symbols: list[int] = []

    def instrument(self, tracer) -> None:
        from fin_trade_craft_spark.domain import indicators, trading_signals
        from fin_trade_craft_spark.plans.watermarks import WatermarkLedger
        from fin_trade_craft_spark.queries import fin_domain, reporting
        from fin_trade_craft_spark.sources.io import TableIO

        def written(io, df, table, *args, **kwargs):
            files, size = _dir_size(io.path(table))
            tracer.count("io.files_written", files)
            tracer.count("io.mb_written", size / 1e6)

        for attr in ("upsert", "overwrite"):
            tracer.wrap(TableIO, attr, "io", f"TableIO.{attr}", after=written)
        tracer.wrap(TableIO, "read", "io", "TableIO.read")
        for attr in ("select_work", "commit_success"):
            tracer.wrap(WatermarkLedger, attr, "watermarks", f"WatermarkLedger.{attr}")
        # run_daily_market imports these inside its body, so the module
        # attributes are looked up on every call
        tracer.wrap(fin_domain, "market_bars", "queries", "construct:market_bars")
        tracer.wrap(reporting, "daily_screener", "queries", "construct:daily_screener")
        tracer.wrap(reporting, "top25_chart_input", "queries", "construct:top25_chart_input")
        tracer.wrap(indicators, "compute_indicators", "domain")
        tracer.wrap(trading_signals, "all_signals", "domain")

    def _check(self) -> tuple[bool, str]:
        dr = self.dr
        for table, oracle in (
            (dr.T_SIGNALS, "fin_signals_pipeline"),
            (dr.T_SCREENER, "daily_screener"),
            (dr.T_CHART, "top25_chart_input"),
        ):
            df = self.io.read(table)
            if "processed_at" in df.columns:
                df = df.drop("processed_at")
            ok, msg = self.ctx.compare(df.toPandas(), self.ctx.oracles[oracle])
            if not ok:
                return False, f"{table}: {msg}"
        return True, "ok"

    def setup(self) -> tuple[bool, str]:
        """The checked backfill, then one warm-up refresh: the backfill
        runs other plans than an incremental refresh, whose code is
        otherwise generated and compiled inside the first timed op.
        Every timed op checks the whole output, so the warm-up skips
        that check."""
        self.dr.run_daily_market(self.ctx.spark, self.ctx.data_dir, self.io, now=BASE_NOW)
        feats = self.io.read(self.dr.T_FEATURES).select("symbol_id").distinct()
        self.symbols = sorted(r.symbol_id for r in feats.collect())
        ok, msg = self._check()
        if not ok:
            return False, f"backfill: {msg}"
        ok, msg = self._refresh(-1, 0, check=False)
        return ok, msg if ok else f"warm-up refresh: {msg}"

    def before_pass(self, pass_index: int) -> None:
        pass

    def ops(self, pass_index: int):
        return [("refresh", lambda op_id: self._refresh(op_id, pass_index + 1))]

    def _refresh(self, op_id: int, op_index: int, check: bool = True) -> tuple[bool, str]:
        from pyspark.sql import functions as F

        from fin_trade_craft_spark.plans.watermarks import WatermarkLedger

        ctx, dr = self.ctx, self.dr
        stale = stale_draw(ctx.seed, op_index, self.symbols)
        ranges = (
            self.io.read(dr.T_FEATURES)
            .filter(F.col("symbol_id").isin(stale))
            .groupBy("symbol_id")
            .agg(F.min("date").alias("first_date"), F.max("date").alias("last_date"))
        )
        WatermarkLedger(self.io).commit_success(dr.GROUP, ranges, now=BASE_NOW - timedelta(days=365))
        now = BASE_NOW + timedelta(hours=op_index + 1)
        with ctx.timed("run_daily_market", "daily_run"):
            rep = dr.run_daily_market(ctx.spark, ctx.data_dir, self.io, now=now)
        ctx.last_detail = {s.name: s.wall_sec for s in rep.stages}
        if ctx.tracing_op(op_id):
            for s in rep.stages:
                ctx.tracer.count(f"daily.{s.name}_s", s.wall_sec)
            ctx.tracer.count("daily.work_frac", rep.work_symbols / len(self.symbols))
            ctx.tracer.count("io.warehouse_mb", _dir_size(self.warehouse)[1] / 1e6)
        if rep.work_symbols != len(stale):
            return False, f"ledger selected {rep.work_symbols} symbols, {len(stale)} were backdated"
        return self._check() if check else (True, "ok")


class ResearchMix:
    """Seeded-order passes over read-only registry queries; each op
    builds one query's DataFrame and collects it."""

    name = "research_mix"
    oracle_names = RESEARCH_QUERIES

    def __init__(self, ctx):
        from fin_trade_craft_spark.queries import all_queries

        self.ctx = ctx
        registry = all_queries()
        self.fns = {q: registry[q] for q in RESEARCH_QUERIES}

    def instrument(self, tracer) -> None:
        from fin_trade_craft_spark.operators import dedup

        for attr in ("connected_components", "connected_components_star",
                     "connected_components_minlabel"):
            tracer.wrap(dedup, attr, "dedup")

    def setup(self) -> tuple[bool, str]:
        """One untimed, checked warm-up run of every query."""
        for q in RESEARCH_QUERIES:
            ok, msg = self.ctx.compare(self.fns[q](self.ctx.spark, self.ctx.data_dir).toPandas(),
                                       self.ctx.oracles[q])
            if not ok:
                return False, f"{q}: {msg}"
        return True, "ok"

    def before_pass(self, pass_index: int) -> None:
        from fin_trade_craft_spark.operators.memo import release_all_memos

        release_all_memos()
        self.ctx.spark.catalog.clearCache()

    def ops(self, pass_index: int):
        return [(q, lambda op_id, q=q: self._query(op_id, q))
                for q in query_order(self.ctx.seed, pass_index)]

    def _query(self, op_id: int, q: str) -> tuple[bool, str]:
        from spans import catalyst_phases

        ctx = self.ctx
        with ctx.timed(q, "queries"):
            with ctx.tracer.span(f"construct:{q}", "queries"):
                df = self.fns[q](ctx.spark, ctx.data_dir)
            with ctx.tracer.span(f"exec:{q}", "queries"):
                pdf = df.toPandas()
        if ctx.tracing_op(op_id):
            phases = catalyst_phases(df)
            for phase in ("analysis", "optimization", "planning"):
                ctx.tracer.count(f"catalyst.{phase}_s", phases.get(phase, 0.0))
        return ctx.compare(pdf, ctx.oracles[q])


WORKLOADS = {w.name: w for w in (DailyRefresh, ResearchMix)}
