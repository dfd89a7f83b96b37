"""In-memory span tracer for the benchmark's traced pass.

Spans wrap public engine functions at the names their callers look up
(``etl_spark.streaming.stream.apply_batch``, ``LakeTable.merge``, ...)
plus the benchmark's own operation boundaries. Each span records name,
start, end, parent and run id, and runs under its own Spark job group so
its job count comes from ``statusTracker().getJobIdsForGroup`` — the
group is a thread-local property, so spans opened inside ``foreachBatch``
(the stream thread) are attributed as exactly as those on the main
thread. Self time is a span's duration minus its children's.

Nothing here is active unless ``install`` is called; the untraced pass
never imports this module.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

_GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._seq = 0
        # spans are recorded only inside ``switched(True)`` — the
        # measured operations — never during set-up, warm-up or checks
        self.enabled = False

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str):
        """Record one span; yields its attribute dict for counters."""
        attrs: dict = {}
        if not self.enabled:
            yield attrs
            return
        self._seq += 1
        group = f"perfbench-{self.run_id}-{self._seq}"
        prev = self.sc.getLocalProperty(_GROUP_KEY)
        self.sc.setLocalProperty(_GROUP_KEY, group)
        rec = {
            "id": self._seq,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "attrs": attrs,
        }
        self._stack.append(self._seq)
        self.spans.append(rec)
        t0 = time.perf_counter()
        try:
            yield attrs
        except BaseException:
            rec["error"] = True
            raise
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            rec["start"], rec["end"] = t0, t1
            rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.sc.setLocalProperty(_GROUP_KEY, prev)

    @contextmanager
    def switched(self, enabled: bool):
        """Turn span recording on or off for the enclosed block."""
        was, self.enabled = self.enabled, enabled
        try:
            yield
        finally:
            self.enabled = was

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a traced wrapper. ``on_result(attrs,
        args, result)`` may add counters to the span from the call's
        arguments and return value."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as attrs:
                out = orig(*args, **kwargs)
                if on_result is not None and tracer.enabled:
                    on_result(attrs, args, out)
                return out

        setattr(owner, attr, traced)

    # ---------------------------------------------------------- output
    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")

    def finished(self) -> list[dict]:
        return [s for s in self.spans if "end" in s]


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer boundaries."""
    from etl_spark.cdc.metrics import MetricsTable
    from etl_spark.cdc.state import CommitLog, WatermarkStore
    from etl_spark.lake.derived import IncrementalAggView
    from etl_spark.lake.table import LakeTable
    from etl_spark.streaming import stream
    from workloads import commit_bytes

    def apply_result(attrs, args, stats):
        attrs["batch_id"] = stats.get("batch_id")
        attrs["rows_in"] = int(stats.get("rows_in") or 0)
        attrs["rows_applied"] = int(stats.get("rows_applied") or 0)

    def merge_result(attrs, args, out):
        snap, stats = out
        attrs["bytes_written"] = commit_bytes(args[0], snap)
        attrs["rewritten_buckets"] = int(stats.get("rewritten_buckets") or 0)

    def compact_result(attrs, args, snap):
        attrs["bytes_rewritten"] = commit_bytes(args[0], snap)

    def derived_result(attrs, args, stats):
        attrs["groups_updated"] = int(stats.get("groups_updated") or 0)

    tracer.wrap(stream.CdcStream, "_apply", "streaming.batch")
    tracer.wrap(stream, "apply_batch", "cdc.apply", apply_result)
    tracer.wrap(CommitLog, "commit", "cdc.state.commit")
    tracer.wrap(WatermarkStore, "advance", "cdc.state.advance")
    tracer.wrap(MetricsTable, "record", "cdc.metrics.record")
    tracer.wrap(LakeTable, "snapshot", "lake.snapshot")
    tracer.wrap(LakeTable, "merge", "lake.merge", merge_result)
    tracer.wrap(LakeTable, "compact", "lake.compact", compact_result)
    tracer.wrap(LakeTable, "table_changes", "lake.table_changes")
    tracer.wrap(IncrementalAggView, "refresh", "lake.derived", derived_result)


# recentProgress duration keys that make up the framework share of a
# trigger (everything but the foreachBatch sink itself)
_FRAMEWORK_KEYS = {
    "latestOffset": "streaming.latest_offset_s",
    "getBatch": "streaming.get_batch_s",
    "queryPlanning": "streaming.query_planning_s",
    "walCommit": "streaming.wal_commit_s",
    "commitOffsets": "streaming.commit_offsets_s",
}


def layer_metrics(tracer: Tracer, triggers: list[dict]) -> dict[str, float]:
    """Per-layer totals over the traced schedule. ``triggers`` are the
    ``durationMs`` maps of every trigger the write operations ran."""
    spans = tracer.finished()
    by_id = {s["id"]: s for s in spans}
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] in by_id:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + (
                s["end"] - s["start"]
            )
    incl_jobs: dict[int, int] = {}
    for s in sorted(spans, key=lambda s: -s["id"]):  # children first
        incl_jobs[s["id"]] = incl_jobs.get(s["id"], 0) + s["jobs"]
        if s["parent"] in by_id:
            incl_jobs[s["parent"]] = (
                incl_jobs.get(s["parent"], 0) + incl_jobs[s["id"]]
            )

    def under(s: dict, name: str) -> bool:
        p = s["parent"]
        while p in by_id:
            if by_id[p]["name"] == name:
                return True
            p = by_id[p]["parent"]
        return False

    def pick(name: str, outside: str | None = None) -> list[dict]:
        return [
            s for s in spans
            if s["name"] == name and not (outside and under(s, outside))
        ]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def jobs(ss):
        return sum(incl_jobs[s["id"]] for s in ss)

    def attr(ss, key):
        return sum(s["attrs"].get(key, 0) for s in ss)

    m: dict[str, float] = {}
    trig_s = sum(t.get("triggerExecution", 0) for t in triggers) / 1e3
    add_s = sum(t.get("addBatch", 0) for t in triggers) / 1e3
    m["streaming.batches"] = len(triggers)
    m["streaming.trigger_s"] = trig_s
    m["streaming.framework_s"] = trig_s - add_s
    for key, name in _FRAMEWORK_KEYS.items():
        m[name] = sum(t.get(key, 0) for t in triggers) / 1e3
    # query (re)start and shutdown around the triggers of each write
    m["streaming.restart_s"] = dur(pick("op.write")) - trig_s

    apply = pick("cdc.apply")
    ok = [s for s in apply if not s.get("error")]
    m["cdc.apply.self_s"] = sum(
        s["end"] - s["start"] - child_s.get(s["id"], 0.0) for s in apply
    )
    m["cdc.apply.jobs"] = sum(s["jobs"] for s in apply)  # self jobs
    m["cdc.apply.rows_in"] = attr(ok, "rows_in")
    m["cdc.apply.applied_per_row_in"] = (
        attr(ok, "rows_applied") / m["cdc.apply.rows_in"]
        if m["cdc.apply.rows_in"] else 0.0
    )
    m["cdc.apply.retries"] = len(apply) - len(ok)
    m["cdc.state.commit_s"] = dur(pick("cdc.state.commit"))
    m["cdc.state.advance_s"] = dur(pick("cdc.state.advance"))
    m["cdc.metrics.record_s"] = dur(pick("cdc.metrics.record"))

    snaps = pick("lake.snapshot")
    m["lake.snapshot.s"] = dur(snaps)
    m["lake.snapshot.calls"] = len(snaps)
    m["lake.snapshot.jobs"] = jobs(snaps)

    # the view's own merges are part of the derived layer's work
    merges = pick("lake.merge", outside="lake.derived")
    m["lake.merge.s"] = dur(merges)
    m["lake.merge.jobs"] = jobs(merges)
    m["lake.merge.bytes_written"] = attr(merges, "bytes_written")
    m["lake.merge.rewritten_buckets"] = attr(merges, "rewritten_buckets")

    compacts = pick("lake.compact")
    m["lake.compact.s"] = dur(compacts)
    m["lake.compact.calls"] = len(compacts)
    m["lake.compact.jobs"] = jobs(compacts)
    m["lake.compact.bytes_rewritten"] = attr(compacts, "bytes_rewritten")

    for layer in ("lake.read", "lake.key_frame", "lake.table_changes",
                  "lake.derived"):
        ss = pick(layer)
        m[f"{layer}.s"] = dur(ss)
        m[f"{layer}.jobs"] = jobs(ss)
    reads = pick("lake.read")
    m["lake.read.delta_files"] = attr(reads, "delta_files")
    physical = attr(reads, "physical_rows")
    m["lake.read.live_per_physical_row"] = (
        attr(reads, "live_rows") / physical if physical else 0.0
    )
    m["lake.derived.groups_updated"] = attr(pick("lake.derived"),
                                            "groups_updated")

    m["jobs.total"] = sum(s["jobs"] for s in spans)
    m["trace.spans"] = len(spans)
    return m
