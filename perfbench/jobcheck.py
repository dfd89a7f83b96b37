"""Self-check: two traced runs of each workload must report identical
per-layer Spark job counts (and call/batch counts).

    python3 perfbench/jobcheck.py

Each traced run is a fresh process running the fixed traced schedule, so
any difference is nondeterminism in how many jobs a layer launches.
Exits 1 on a mismatch or a failed run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("replay_bulk", "serve_mor")
SEED = 1


def counted(name: str) -> bool:
    return name.endswith((".jobs", ".calls", ".batches", ".retries")) or name in (
        "jobs.total", "trace.spans",
    )


def traced_run(workload: str) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload}: traced run failed (exit {p.returncode})")
    return json.loads(lines[-1])["metrics"]


def main() -> int:
    ok = True
    for wl in WORKLOADS:
        a, b = traced_run(wl), traced_run(wl)
        for name in sorted(k for k in a if counted(k)):
            x, y = a[name]["value"], b.get(name, {}).get("value")
            same = x == y
            ok &= same
            print(f"{wl:12s} {name:32s} {x:>8} {y:>8} {'ok' if same else 'DIFFERS'}")
    print("job counts repeat exactly" if ok else "job counts DIFFER")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
