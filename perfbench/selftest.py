"""Self-test of the benchmark at sf 0.001.

    python3 perfbench/selftest.py

Checks, without Spark, that a seed fixes the stale-symbol draws and
the query order, then runs every workload once untraced (one pass)
and once traced (three passes, the middle one traced) and asserts
that every named metric is present with its unit and that no op
failed. Takes about eight minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS, query_order, stale_draw  # noqa: E402


def check_seeding() -> None:
    symbols = list(range(150))
    for seed in (1, 2):
        assert stale_draw(seed, 0, symbols) == stale_draw(seed, 0, symbols)
        assert query_order(seed, 0) == query_order(seed, 0)
        assert len(stale_draw(seed, 3, symbols)) == 15
    assert stale_draw(1, 0, symbols) != stale_draw(2, 0, symbols)
    assert stale_draw(1, 0, symbols) != stale_draw(1, 1, symbols)
    assert query_order(1, 0) != query_order(2, 0)


def run_once(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    record, result = json.loads(lines[-2])["record"], json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0, (workload, trace, out.stderr[-3000:])
    assert result["attempted"] >= 1
    assert record["seed"] == 7 and record["workload"] == workload
    units = PER_LAYER if trace else END_TO_END
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == units, (workload, trace, set(got) ^ set(units))
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)
    return result


def main() -> int:
    check_seeding()
    print("seeding: ok", flush=True)
    for workload in WORKLOADS:
        for trace in (0, 1):
            m = run_once(workload, trace)["metrics"]
            shown = {k: round(v["value"], 3) for k, v in list(m.items())[:6]}
            print(f"{workload} trace={trace}: ok {shown}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
