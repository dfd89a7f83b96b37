"""Single-threaded baseline: ``replay_bulk`` at ``local[1]`` and
``local[2]``, one fresh process each, separately from the regular runs.

    python3 perfbench/scaling.py

Runs three interleaved pairs (the order alternates, so a slow stretch
of a shared host lands on both levels) and prints events/s of every
run, each pair's 1->2 scaling efficiency (events/s at 2 threads over
twice events/s at 1 thread) and the efficiency of the two medians.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PAIRS = 3
SEED = 1
SECONDS = 15  # BENCHMARK.json's run_seconds


def events_per_s(threads: int) -> float:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "replay_bulk", "--seed", str(SEED), "--seconds", str(SECONDS),
         "--trace", "0", "--master", f"local[{threads}]"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"local[{threads}] run failed (exit {p.returncode})")
    return json.loads(lines[-1])["metrics"]["events_per_s"]["value"]


def main() -> int:
    rate: dict[int, list[float]] = {1: [], 2: []}
    for i in range(PAIRS):
        for threads in ((1, 2) if i % 2 == 0 else (2, 1)):
            rate[threads].append(events_per_s(threads))
    one, two = statistics.median(rate[1]), statistics.median(rate[2])
    print(json.dumps({
        "events_per_s_local1": rate[1],
        "events_per_s_local2": rate[2],
        "pair_efficiency": [b / (2 * a) for a, b in zip(rate[1], rate[2])],
        "efficiency_1_to_2": two / (2 * one),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
