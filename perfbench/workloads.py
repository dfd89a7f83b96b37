"""The benchmark's workloads: closed loops over the public etl_spark API.

Every workload cycles through the same four operations, so every
end-to-end metric exists on every workload:

- write: one ``CdcStream.run_to_completion()`` over newly arrived WAL
  segments (the engine's only trigger is ``availableNow``, so each
  operation starts when the previous one ends — a closed loop, one
  client);
- view: ``IncrementalAggView.refresh()`` (turns per conversation);
- point: ``read_for_key_frame`` of the keys the write just applied;
- scan: ``read()`` materialized with a no-op write.

``replay_bulk`` replays a whole backlog into an empty copy-on-write
table (the BASELINE catch-up; its reads see a table with no
merge-on-read backlog). ``serve_mor`` tails one churn segment per write into a full
merge-on-read table and lets the engine's backlog policy compact, so
its reads pay the delta backlog that mor writes leave behind.

The traced pass runs a fixed schedule twice in one process, once with
span recording off and once with it on (``Run.tracing``), interleaved in
ABBA order; the difference of the two measured times is the tracing
overhead.

Inputs come from ``generate_changelog`` with the run's seed and are
written during set-up; the engine receives nothing else.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager, nullcontext

import numpy as np
import pandas as pd

import oracle

KEY = ["conv_id", "turn_idx"]


class Run:
    """One benchmark run: timings, trigger progress, op accounting."""

    def __init__(self, spark, work: str, seed: int, seconds: float | None,
                 tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {
            k: [] for k in ("setup", "write", "trigger", "view", "point", "scan")
        }
        self.triggers: list[dict] = []
        # per write sample: whether the engine compacted in it
        self.compacting: list[bool] = []
        self.attempted = 0
        self.failed = 0
        self.events_applied = 0
        self.bytes_written = 0
        self.checks: list[str] = []
        # traced pass: whether the current loop unit runs traced, and the
        # measured seconds of the untraced (False) and traced (True) units
        self.tracing = False
        self.unit_s = {False: 0.0, True: 0.0}
        # wall seconds per run phase (set-up, warm-up, measured loop,
        # checks), reported beside the metrics
        self.phases: dict[str, float] = {}
        self._n = 0

    def fresh(self, prefix: str) -> str:
        """A new directory path under the run's scratch directory."""
        self._n += 1
        return os.path.join(self.work, f"{prefix}{self._n}")

    @property
    def measured_s(self) -> float:
        return sum(
            sum(self.samples[k]) for k in ("write", "view", "point", "scan")
        )

    @contextmanager
    def op(self, kind: str, span: str, record: bool = True):
        """Time one operation; an exception counts it as failed and
        aborts the run (the state after a failed operation is unknown)."""
        traced = self.tracer is not None and record and self.tracing
        if record:
            self.attempted += 1
        t0 = time.perf_counter()
        try:
            with (
                self.tracer.switched(True) if traced else nullcontext()
            ), (self.tracer.span(span) if traced else nullcontext({})) as attrs:
                yield attrs
        except BaseException:
            if record:
                self.failed += 1
            raise
        if record:
            dt = time.perf_counter() - t0
            self.samples[kind].append(dt)
            self.unit_s[traced] += dt

    @contextmanager
    def quiet(self):
        """Oracle checks and accounting run outside every layer span."""
        with self.phase("checks"), (
            self.tracer.switched(False)
            if self.tracer is not None
            else nullcontext()
        ):
            yield

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = (
                self.phases.get(name, 0.0) + time.perf_counter() - t0
            )

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.checks.append(what)


# ---------------------------------------------------------------- pieces
def write(run: Run, stream, record: bool = True, compact_rows: int = 0) -> bool:
    """One write operation; returns whether the engine's backlog policy
    (``compact_when_delta_rows=compact_rows``) compacted in it."""
    with run.op("write", "op.write", record):
        stats = stream.run_to_completion()
    compacted = bool(compact_rows) and any(
        st.get("delta_backlog_rows", 0) >= compact_rows for st in stats
    )
    if record:
        run.compacting.append(compacted)
    for p in stream.query.recentProgress:
        d = dict(p["durationMs"])
        if record and "addBatch" in d:
            run.samples["trigger"].append(d["triggerExecution"] / 1e3)
            if run.tracing:
                run.triggers.append(d)
    return compacted


def serve(run: Run, table, view, keys: pd.DataFrame, want: pd.DataFrame,
          reads: tuple[int, int], record: bool = True) -> None:
    """View refresh, then ``reads`` = (point reads of ``keys``, full
    scans) against the same table state, as a reader between two writes
    would. Point reads are checked against the oracle."""
    spark = run.spark
    with run.op("view", "op.view", record):
        view.refresh()
    with run.quiet():
        key_df = spark.createDataFrame(keys[KEY].drop_duplicates())
        snap = table.snapshot()
        expect = oracle.digest(oracle.rows_for_keys(want, keys))
    for _ in range(reads[0]):
        with run.op("point", "lake.key_frame", record):
            got = table.read_for_key_frame(key_df).toPandas()
        with run.quiet():
            run.check(oracle.digest(got) == expect,
                      "point read differs from the oracle rows")
    for _ in range(reads[1]):
        with run.op("scan", "lake.read", record) as attrs:
            table.read().write.format("noop").mode("overwrite").save()
        attrs["delta_files"] = len(snap.delete_source_files)
        attrs["physical_rows"] = snap.total_rows
        attrs["live_rows"] = int(want.shape[0])


def check_final(run: Run, table, view, want: pd.DataFrame) -> None:
    """The final table against the oracle; the view against a groupBy
    over ``read()`` (view state is cumulative, so a wrong refresh stays
    visible here)."""
    with run.quiet():
        got = table.read().toPandas()
        run.check(oracle.digest(got) == oracle.digest(want),
                  "final table differs from expected_final_state")
        run.check(
            view_counts(view) == oracle.turn_counts(got),
            "view differs from groupBy over read()",
        )


def view_counts(view) -> dict[str, int]:
    return {r["conv_id"]: r["turns"] for r in view.read().collect()}


def commit_bytes(table, snap) -> int:
    """Bytes of the data files one commit wrote (the entries stamped with
    the committing version's schema id)."""
    if snap is None:
        return 0
    sid = str(snap.version)
    return sum(
        os.path.getsize(os.path.join(table.path, f["path"]))
        for f in snap.files
        if f.get("sid") == sid
    )


def new_file_bytes(table, after_version: int) -> tuple[int, int]:
    """Bytes of data files committed after ``after_version``, read from
    the snapshot history; returns (bytes, current version)."""
    cur = table.current_version()
    total = 0
    for v in range(after_version + 1, cur + 1):
        try:
            total += commit_bytes(table, table.snapshot(v))
        except FileNotFoundError:
            pass  # expired before it could be read
    return total, cur


def segment_of(pdf: pd.DataFrame, n_segments: int) -> np.ndarray:
    """WAL segment index of every event, as ``write_changelog`` splits
    each partition (LSN-contiguous ``array_split``)."""
    seg = np.empty(len(pdf), dtype=np.int64)
    for _, idx in pdf.groupby("source_partition", sort=True).indices.items():
        sizes = [len(a) for a in np.array_split(np.arange(len(idx)), n_segments)]
        seg[idx] = np.repeat(np.arange(n_segments), sizes)
    return seg


def make_view(spark, path: str, table):
    from etl_spark.lake.derived import IncrementalAggView

    return IncrementalAggView(
        spark, path, table, ["conv_id"], {"turns": ("count", "*")},
        n_buckets=8,
    )


def timed_setup(run: Run, build, repeats: int):
    """Run the workload's set-up ``repeats`` times on fresh directories;
    setup_s is the median. Returns every instance, in build order."""
    out = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        out.append(build())
        run.samples["setup"].append(time.perf_counter() - t0)
    run.phases["setup"] = sum(run.samples["setup"])
    return out


# ----------------------------------------------------------- replay_bulk
BULK_SPEC = dict(n_conversations=20_000, churn=1.5, skew=1.1,
                 n_partitions=8, segments_per_partition=8)
BULK_READS = (5, 4)


def replay_bulk(run: Run, fixed_ops: int | None) -> None:
    """Backlog catch-up into an empty 32-bucket copy-on-write table: one
    adaptive-coalesced micro-batch, text normalization after the LWW
    dedup. Each operation replays the whole WAL into a new table, then
    serves from it."""
    from etl_spark.cdc import ChangelogSpec, generate_changelog, write_changelog
    from etl_spark.cdc.changelog import TRANSCRIPTS_SCHEMA, expected_final_state
    from etl_spark.functions.text import normalize_transcripts_expr
    from etl_spark.lake import LakeTable
    from etl_spark.streaming import CdcStream

    spark = run.spark

    def wal_for(spec_kw: dict):
        spec = ChangelogSpec(**spec_kw, seed=run.seed)
        pdf = generate_changelog(spec)
        wal = run.fresh("wal")
        write_changelog(pdf, wal, spec)
        return pdf, wal

    def one(pdf, wal, want, record=True):
        table = LakeTable.create(
            spark, run.fresh("table"), TRANSCRIPTS_SCHEMA, key=KEY,
            n_buckets=32,
        )
        view = make_view(spark, run.fresh("view"), table)
        stream = CdcStream(
            spark, wal, table, run.fresh("state"),
            transform=normalize_transcripts_expr, transform_stage="post",
            adaptive_trigger_rows=2_000_000,
        )
        write(run, stream, record)
        # the point read asks for the keys of the WAL's newest segment
        n_seg = BULK_SPEC["n_partitions"] * BULK_SPEC["segments_per_partition"]
        last = pdf[pdf["source_partition"] == 0].tail(max(1, len(pdf) // n_seg))
        serve(run, table, view, last, want, BULK_READS, record)
        return table, view

    *others, (pdf, wal) = timed_setup(run, lambda: wal_for(BULK_SPEC), 3)
    for _, other in others:
        shutil.rmtree(other, ignore_errors=True)
    want = oracle.normalize(expected_final_state(pdf))
    # one full-size operation warms the JVM (JIT, codegen) first: a small
    # one leaves the first measured replay visibly slower
    with run.phase("warmup"):
        table, _ = one(pdf, wal, want, record=False)

    while True:
        shutil.rmtree(table.path, ignore_errors=True)
        n = len(run.samples["write"])
        # traced pass: untraced and traced operations in ABBA order
        run.tracing = fixed_ops is not None and n % 4 in (1, 2)
        t_op = run.measured_s
        table, view = one(pdf, wal, want)
        run.events_applied += len(pdf)
        n += 1
        step = run.measured_s - t_op
        if fixed_ops is not None:
            if n >= 2 * fixed_ops:
                break
        elif n >= 2 and run.measured_s + step > run.seconds:
            break
    with run.quiet():
        b, _ = new_file_bytes(table, 0)
        run.bytes_written = b * n
    check_final(run, table, view, want)


# ------------------------------------------------------------- serve_mor
SERVE_SPEC = dict(n_conversations=10_000, churn=1.0, skew=1.1,
                  n_partitions=4, segments_per_partition=20)
SERVE_READS = (1, 1)


def serve_mor(run: Run, fixed_cycles: int | None) -> None:
    """Reads and an incremental view beside a merge-on-read tail. Set-up
    seeds a copy-on-write table from the insert half of the WAL (bulk
    ``replay``) and builds the view; each round then moves the next
    churn segment of every WAL partition in, runs a mor ``CdcStream``
    whose ``compact_when_delta_rows`` policy folds the backlog every
    fifth write, and serves: one view refresh, one point read, one
    scan. Rounds run in whole compaction cycles."""
    from types import SimpleNamespace

    from etl_spark.cdc import (
        ChangelogSpec, generate_changelog, replay, write_changelog,
    )
    from etl_spark.cdc.changelog import TRANSCRIPTS_SCHEMA, expected_final_state
    from etl_spark.lake import LakeTable
    from etl_spark.streaming import CdcStream

    spark = run.spark
    n_part = SERVE_SPEC["n_partitions"]
    n_seg = SERVE_SPEC["segments_per_partition"]
    half = n_seg // 2

    def seg_file(root: str, p: int, s: int) -> str:
        return os.path.join(root, f"source_partition={p}", f"seg-{s:05d}.parquet")

    def build(spec_kw: dict):
        spec = ChangelogSpec(**spec_kw, seed=run.seed)
        pdf = generate_changelog(spec)
        inst = SimpleNamespace(
            pdf=pdf, seg=segment_of(pdf, n_seg), stage=run.fresh("stage"),
            wal=run.fresh("wal"), state=run.fresh("state"), version=0,
        )
        write_changelog(pdf, inst.stage, spec)
        inst.table = LakeTable.create(
            spark, run.fresh("table"), TRANSCRIPTS_SCHEMA, key=KEY,
            n_buckets=8,
        )
        # bootstrap: one bulk LWW replay of the insert half's segments;
        # the tail's WAL then receives only the churn half
        seed = [seg_file(inst.stage, p, s)
                for p in range(n_part) for s in range(half)]
        replay(spark, spark.read.option("mergeSchema", "true")
               .option("basePath", inst.stage).parquet(*seed), inst.table)
        inst.view = make_view(spark, run.fresh("view"), inst.table)
        inst.view.refresh()
        inst.version = inst.table.current_version()
        return inst

    def drop(inst) -> None:
        for d in (inst.stage, inst.wal, inst.state, inst.table.path,
                  inst.view.path):
            shutil.rmtree(d, ignore_errors=True)

    def round_(inst, r: int, compact_rows: int, record: bool = True) -> bool:
        s = half + r
        for p in range(n_part):
            os.makedirs(os.path.dirname(seg_file(inst.wal, p, s)), exist_ok=True)
            os.rename(seg_file(inst.stage, p, s), seg_file(inst.wal, p, s))
        stream = CdcStream(
            spark, inst.wal, inst.table, inst.state, merge_mode="mor",
            compact_when_delta_rows=compact_rows,
        )
        compacted = write(run, stream, record, compact_rows)
        want = expected_final_state(inst.pdf[inst.seg <= s])
        serve(run, inst.table, inst.view,
              inst.pdf.loc[inst.seg == s, KEY], want, SERVE_READS, record)
        if record:
            with run.quiet():
                b, inst.version = new_file_bytes(inst.table, inst.version)
            run.bytes_written += b
            run.events_applied += int((inst.seg == s).sum())
        return compacted

    # warm every code path the run measures on a small instance first
    with run.phase("warmup"):
        tiny = build(dict(SERVE_SPEC, n_conversations=300))
        round_(tiny, 0, 0, record=False)
        tiny.table.compact()
        drop(tiny)

    other, inst = timed_setup(run, lambda: build(SERVE_SPEC), 2)
    if fixed_cycles is None:
        drop(other)
        lanes = [(inst, False)]
    else:
        # traced pass: the two set-up instances hold the same data and
        # take the same rounds, one untraced and one traced, in ABBA order
        lanes = [(other, False), (inst, True)]
    # the backlog after a mor write holds one row per distinct key it
    # applied; a threshold halfway between the backlog after the fourth
    # and after the fifth churn round makes the engine compact every
    # fifth write. The median of a cycle's five samples of an operation
    # is then its third: a plain write, a read over a backlog (the
    # compaction write and the read after it are the extremes), and one
    # disturbed sample cannot move it off that case
    k = [len(inst.pdf.loc[inst.seg == s, KEY].drop_duplicates())
         for s in range(half, half + 5)]
    compact_rows = sum(k[:4]) + k[4] // 2

    cycles, r, t_cycle = 0, 0, run.measured_s
    while half + r < n_seg:
        for lane, traced in (lanes if r % 2 == 0 else lanes[::-1]):
            run.tracing = traced
            compacted = round_(lane, r, compact_rows)
        r += 1
        if compacted:
            cycles += 1
            step = run.measured_s - t_cycle
            t_cycle = run.measured_s
            if fixed_cycles is not None:
                if cycles >= fixed_cycles:
                    break
            elif run.measured_s + step > run.seconds:
                break
    want = expected_final_state(inst.pdf[inst.seg < half + r])
    for lane, _ in lanes:
        check_final(run, lane.table, lane.view, want)


WORKLOADS = {"replay_bulk": replay_bulk, "serve_mor": serve_mor}
