"""Plan-shape regression gate (VERDICT r4 #7): the wall-clock band on
this host (±40% under steal-time bursts) can hide a plan regression —
an extra shuffle or a lost broadcast changes wall by less than the
noise at sf0.001 but is exactly the thing that breaks at 100 TB. The
plan SHAPE is noise-free: this tool runs every ``queries()`` entry at
sf0.001, counts the load-bearing physical operators in the returned
frame's executed plan, and diffs against the committed manifest.

    python tools/plan_audit.py            # compare vs tools/plan_manifest.json
    python tools/plan_audit.py --write    # regenerate the manifest
    python tools/plan_audit.py name ...   # restrict to named entries

Counted per entry:
  exchanges   "Exchange hashpartitioning"/"Exchange rangepartitioning"/
              "Exchange SinglePartition" (shuffles; "BroadcastExchange"
              contains the bare substring "Exchange", so bare-substring
              counting would lie)
  broadcasts  "BroadcastExchange"
  expands     "Expand" (unpivot/rollup row multiplication)

Counting stops at the first InMemoryRelation: a persisted frame's plan
string embeds the cached child's ALREADY-MATERIALIZED plan, exchanges
included, which the live query does not re-run (CLAUDE.md).

Drift policy: a count increase in `exchanges` FAILS; a decrease prints
as an improvement (update the manifest deliberately). broadcast/expand
changes fail in either direction — a silently vanished broadcast
usually means a guard flipped regimes.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

MANIFEST = os.path.join(os.path.dirname(__file__), "plan_manifest.json")
SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.001")


def plan_counts(df) -> dict[str, int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    live = plan.split("InMemoryRelation")[0]
    return {
        "exchanges": (
            live.count("Exchange hashpartitioning")
            + live.count("Exchange rangepartitioning")
            + live.count("Exchange SinglePartition")
        ),
        "broadcasts": live.count("BroadcastExchange"),
        "expands": live.count("Expand"),
    }


def main() -> int:
    write = "--write" in sys.argv
    only = {a for a in sys.argv[1:] if not a.startswith("--")}

    import __spark_entry__ as entrymod
    from etl_spark.session import get_session

    spark = get_session(
        "plan_audit", master="local[8]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    got: dict[str, dict[str, int]] = {}
    errs: list[str] = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got[name] = plan_counts(fn(spark, SF_DIR))
        except Exception as e:  # an entry that cannot BUILD is a failure
            errs.append(f"{name}: {type(e).__name__}: {e}")
            print(f"ERR  {name}: {e}")

    if write:
        base = {}
        if only and os.path.exists(MANIFEST):
            with open(MANIFEST) as fh:
                base = json.load(fh)
        base.update(got)
        with open(MANIFEST, "w") as fh:
            json.dump(dict(sorted(base.items())), fh, indent=1)
        print(f"wrote {len(got)} plan shapes -> {MANIFEST}")
        return 1 if errs else 0

    with open(MANIFEST) as fh:
        want = json.load(fh)
    failed = list(errs)
    improved = []
    for name, counts in got.items():
        if name not in want:
            failed.append(f"{name}: not in manifest (run --write)")
            continue
        w = want[name]
        if counts == w:
            continue
        if (
            counts["exchanges"] < w["exchanges"]
            and counts["broadcasts"] == w["broadcasts"]
            and counts["expands"] == w["expands"]
        ):
            improved.append(f"{name}: exchanges {w['exchanges']} -> "
                            f"{counts['exchanges']} (update manifest)")
            continue
        failed.append(f"{name}: {w} -> {counts}")
    for line in improved:
        print(f"BETTER {line}")
    for line in failed:
        print(f"DRIFT  {line}")
    print(f"{len(got)} audited, {len(failed)} drifted, "
          f"{len(improved)} improved")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
