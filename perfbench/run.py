"""Run one benchmark workload in this process and print its metrics.

    python3 perfbench/run.py --workload daily_refresh --seed 1 --seconds 10 --trace 0

Run from the repository root (any directory works: paths are resolved
from this file). The run generates its input tables (always with
the same table seed), starts a Spark session on ``local[2]``, computes the DuckDB
oracle results, sets the workload up, then runs whole passes of ops
until ``--seconds`` have passed. Every op is checked against its
oracle. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is the run's record (seed, sf, cores, Spark version, per-op times
and, for a refresh, its stage times,
and the ``/proc/stat`` steal ticks and wall window of the timed
section). ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics of a separate traced run and writes its spans
to ``.perfbench_traces/``. All scratch state (inputs, warehouse,
Spark local dirs) lives in a per-run directory under ``.perfbench_run/``
that is removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from datetime import datetime, timezone  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The input tables are the same market in every run (the engine's test
# tables use seed 42 too); --seed picks the stale-symbol draws and the
# query order.
TABLE_SEED = 42
# Two task threads leave the other cores of a small shared host to the
# Python driver, the py4j threads and the JVM's own threads, so a core
# taken by a co-tenant stalls fewer of the op's steps. The inputs are
# small: more task threads only add scheduling. The JVM runs with the
# C1 compiler alone (-XX:TieredStopAtLevel=1): its code is compiled
# within the warm-up, where C2 would keep recompiling, and speeding
# ops up, for minutes after the set-up ends.
SPARK_CORES = 2

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "pass_s": "s",
}


def per_layer_units() -> dict[str, str]:
    u = {
        "spark.jobs": "count", "spark.tasks": "count", "spark.driver_gap_s": "s",
        "spark.executor_cpu_s": "s", "spark.executor_run_s": "s", "spark.gc_s": "s",
        "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
        "queries.construct_s": "s", "queries.construct_jobs": "count", "queries.exec_s": "s",
        "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
        "daily.work_frac": "ratio",
        "io.upsert_s": "s", "io.upsert_calls": "count", "io.overwrite_s": "s",
        "io.overwrite_calls": "count", "io.read_s": "s", "io.read_calls": "count",
        "io.files_written": "count", "io.mb_written": "MB", "io.warehouse_mb": "MB",
        "watermarks.select_work_s": "s", "watermarks.commit_s": "s",
        "dedup.cc_calls": "count", "dedup.cc_s": "s", "dedup.cc_jobs": "count",
        "memo.entries": "count", "proc.peak_rss_mb": "MB", "trace.overhead_frac": "ratio",
    }
    for stage in ("ingest", "discovery", "indicators", "signals", "screener",
                  "chart_input", "commit", "check"):
        u[f"daily.{stage}_s"] = "s"
    for layer in ("daily_run", "queries", "domain", "io", "watermarks", "dedup"):
        u[f"self.{layer}_s"] = "s"
    return u


PER_LAYER = per_layer_units()


def hd_median(xs: list[float]) -> float:
    """Harrell-Davis estimate of the median: the mean of the order
    statistics weighted by the Beta((n+1)/2, (n+1)/2) mass of their
    slots, here by a midpoint rule. A research pass is 17 different
    queries with gaps between their times, so the middle value alone
    jumps when two queries near the middle swap places."""
    x = sorted(xs)
    n, k = len(x), 200
    a = (n + 1) / 2
    log_beta = 2 * math.lgamma(a) - math.lgamma(2 * a)

    def pdf(t: float) -> float:
        return math.exp((a - 1) * (math.log(t) + math.log1p(-t)) - log_beta)

    w = [sum(pdf((i + (j + 0.5) / k) / n) for j in range(k)) for i in range(n)]
    return sum(wi * xi for wi, xi in zip(w, x)) / sum(w)


def _proc_stat_cpu() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _descendants() -> set[int]:
    """Pids of every live descendant of this process."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, grew = {os.getpid()}, True
    while grew:
        new = {p for p, pp in parent.items() if pp in tree} - tree
        tree |= new
        grew = bool(new)
    return tree - {os.getpid()}


def _tree_peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of this process and all
    its live descendants (the JVM and the Python workers)."""
    kb = 0
    for p in _descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


def _stop_spark(spark) -> None:
    """Stop the session, the JVM it runs in and the Python workers,
    and wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = _descendants()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except Exception:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + 30
    while children & _descendants():
        if time.monotonic() > deadline:
            for p in children & _descendants():
                os.kill(p, 9)
        time.sleep(0.1)


class Context:
    def __init__(self, args, spark, data_dir, run_dir, tracer, oracles, compare):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.spark = spark
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.tracer = tracer
        self.oracles = oracles
        self.compare = compare
        self.traced_pass = False
        self.last_s = 0.0
        self.last_detail: dict | None = None
        self.passes: list[dict] = []

    def tracing_op(self, op_id: int) -> bool:
        return self.traced_pass and op_id in self.tracer.traced_ops

    @contextmanager
    def timed(self, name: str, layer: str):
        """The op's timed section; its root span on a traced pass."""
        tr = self.tracer
        tr.enabled = self.traced_pass
        if tr.enabled:
            tr.traced_ops.add(tr.op_id)
        t0 = time.perf_counter()
        try:
            with tr.span(name, layer):
                yield
        finally:
            self.last_s = time.perf_counter() - t0
            tr.enabled = False


def layer_metrics(ctx: Context, ops: list[dict]) -> dict[str, float]:
    """Per-layer metrics of the traced ops, each a mean per op."""
    from spans import self_times, spark_jobs, subtree_ids, union_length

    tr = ctx.tracer
    jobs = spark_jobs(ctx.spark.sparkContext)
    selfs = self_times(tr.spans)
    traced = [o for o in ops if o["traced"]]
    totals = {k: 0.0 for k in PER_LAYER}
    for o in traced:
        spans = [s for s in tr.spans if s["op"] == o["id"]]
        root = next(s for s in spans if s["parent"] is None)
        by_id = {s["id"]: s for s in spans}
        mine = [j for j in jobs if j["op"] == o["id"]]

        def jobs_under(ids: set[int]) -> int:
            sub = subtree_ids(spans, ids)
            return sum(1 for j in mine if j["span"] in sub)

        totals["spark.jobs"] += len(mine)
        totals["spark.tasks"] += sum(j["tasks"] for j in mine)
        busy = [(max(j["start"], root["start"]), min(j["end"], root["end"])) for j in mine]
        totals["spark.driver_gap_s"] += (root["end"] - root["start"]) - union_length(
            [(a, b) for a, b in busy if b > a]
        )
        for key, field in (("executor_cpu_s", "cpu_s"), ("executor_run_s", "run_s"),
                           ("gc_s", "gc_s"), ("shuffle_write_mb", "shuffle_write_mb"),
                           ("spill_mb", "spill_mb")):
            totals[f"spark.{key}"] += sum(j[field] for j in mine)
        construct = {s["id"] for s in spans if s["name"].startswith("construct:")}
        totals["queries.construct_jobs"] += jobs_under(construct)
        # outermost dedup spans: one per connected-components call
        cc = {s["id"] for s in spans if s["layer"] == "dedup"
              and (s["parent"] is None or by_id[s["parent"]]["layer"] != "dedup")}
        totals["dedup.cc_calls"] += len(cc)
        totals["dedup.cc_jobs"] += jobs_under(cc)
        for s in spans:
            d = s["end"] - s["start"]
            name = s["name"]
            if name.startswith("construct:"):
                totals["queries.construct_s"] += d
            elif name.startswith("exec:"):
                totals["queries.exec_s"] += d
            elif name.startswith("TableIO."):
                totals[f"io.{name[8:]}_s"] += d
                totals[f"io.{name[8:]}_calls"] += 1
            elif name == "WatermarkLedger.select_work":
                totals["watermarks.select_work_s"] += d
            elif name == "WatermarkLedger.commit_success":
                totals["watermarks.commit_s"] += d
            if s["id"] in cc:
                totals["dedup.cc_s"] += d
            totals[f"self.{s['layer']}_s"] += selfs[s["id"]]
        for k, v in tr.counts.get(o["id"], {}).items():
            totals[k] += v
        totals["memo.entries"] += o["memo_entries"]
    n = max(1, len(traced))
    out = {k: v / n for k, v in totals.items()}
    passes_on = [p["s"] for p in ctx.passes if p["traced"]]
    passes_off = [p["s"] for p in ctx.passes if not p["traced"]]
    out["trace.overhead_frac"] = (
        statistics.median(passes_on) / statistics.median(passes_off) - 1.0
        if passes_on and passes_off else 0.0
    )
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="input scale factor")
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "fin_trade_craft_spark"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check_correctness.py"))):
        print(f"perfbench: no engine sources next to {HERE}; run it from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        return _run(args, WORKLOADS[args.workload], run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still uses it


def _oracle_results(data_dir: str, sql: dict[str, str]) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
        return {q: con.sql(text).df() for q, text in sql.items()}
    finally:
        con.close()


def _run(args, workload_cls, run_dir: str) -> int:
    # Spark's Python workers import the engine; scratch files stay in run_dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    import tempfile

    tempfile.tempdir = tmp

    import datagen
    from check_correctness import compare

    from spans import Tracer

    data_dir = os.path.join(run_dir, "data")
    datagen.generate(data_dir, args.sf, TABLE_SEED)
    marks = {"inputs": time.perf_counter()}

    import pyspark

    from fin_trade_craft_spark.queries import all_oracles
    from fin_trade_craft_spark.session import _BASE_CONF, get_spark

    oracle_sql = all_oracles()
    # the DuckDB oracle results are computed while the JVM starts
    pool = ThreadPoolExecutor(1)
    oracles_done = pool.submit(
        _oracle_results, data_dir, {q: oracle_sql[q] for q in workload_cls.oracle_names}
    )
    pool.shutdown(wait=False)
    cores = min(SPARK_CORES, len(os.sched_getaffinity(0)))
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": _BASE_CONF["spark.driver.extraJavaOptions"]
                + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        marks["session"] = time.perf_counter()
        oracles = oracles_done.result()
        marks["oracles"] = time.perf_counter()

        tracer = Tracer(spark.sparkContext)
        ctx = Context(args, spark, data_dir, run_dir, tracer, oracles, compare)
        wl = workload_cls(ctx)
        if ctx.trace:
            wl.instrument(tracer)
        setup_ok, setup_msg = wl.setup()
        if not setup_ok:
            print(f"perfbench: set-up check failed: {setup_msg}", file=sys.stderr)
        marks["workload"] = time.perf_counter()
        setup_s = marks["workload"] - T_PROCESS
        ends = [T_PROCESS] + list(marks.values())
        setup_phases = {k: round(b - a, 3) for k, a, b in zip(marks, ends, ends[1:])}

        from fin_trade_craft_spark.operators.memo import _REGISTRY as memos

        ops: list[dict] = []
        cpu0, wall0, t0 = _proc_stat_cpu(), datetime.now(timezone.utc), time.perf_counter()
        pass_index = 0
        while True:
            # traced runs interleave untraced, traced, untraced, ... passes
            # so warm-up drift does not bias trace.overhead_frac
            ctx.traced_pass = ctx.trace and pass_index % 2 == 1
            wl.before_pass(pass_index)
            pass_ops = []
            for name, fn in wl.ops(pass_index):
                op_id = len(ops)
                tracer.op_id = op_id
                ctx.last_s, ctx.last_detail = 0.0, None
                try:
                    ok, msg = fn(op_id)
                except Exception as e:  # an op that raises is a failed op
                    ok, msg = False, f"{type(e).__name__}: {e}"
                if not ok:
                    print(f"perfbench: op {op_id} {name} failed: {msg}", file=sys.stderr)
                op = {"id": op_id, "name": name, "s": ctx.last_s, "detail": ctx.last_detail, "ok": ok,
                      "traced": ctx.tracing_op(op_id), "memo_entries": sum(len(m) for m in memos)}
                ops.append(op)
                pass_ops.append(op)
            ctx.passes.append({"s": sum(o["s"] for o in pass_ops), "traced": ctx.traced_pass})
            pass_index += 1
            if time.perf_counter() - t0 >= args.seconds and (not ctx.trace or pass_index >= 3):
                break
        cpu1, wall1 = _proc_stat_cpu(), datetime.now(timezone.utc)

        failed = sum(not o["ok"] for o in ops)
        samples = [o["s"] for o in ops if not o["traced"]]
        record = {
            "workload": wl.name, "seed": args.seed, "sf": args.sf, "cores": cores,
            "trace": args.trace, "spark_version": pyspark.__version__,
            "window": [wall0.isoformat(), wall1.isoformat()],
            "steal_ticks": cpu1[7] - cpu0[7], "cpu_ticks": sum(cpu1) - sum(cpu0),
            "ops": [[o["name"], round(o["s"], 4)] + ([o["detail"]] if o["detail"] else [])
                    for o in ops],
            "samples": len(samples),
            "setup_phases_s": setup_phases, "setup_check": setup_msg,
        }
        if ctx.trace:
            values = layer_metrics(ctx, ops)
            values["proc.peak_rss_mb"] = _tree_peak_rss_mb()
            units = PER_LAYER
            tracer.dump(os.path.join(ROOT, ".perfbench_traces", f"{wl.name}-seed{args.seed}.json"))
        else:
            values = {
                "setup_s": setup_s,
                "op_p50_s": hd_median(samples),
                "pass_s": statistics.median(p["s"] for p in ctx.passes),
            }
            units = END_TO_END
        tracer.unwrap()
    finally:
        _stop_spark(spark)
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": setup_ok and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
