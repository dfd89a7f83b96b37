"""Outbound change-feed export: the lake table as a Debezium PRODUCER.

The reference is strictly a CDC *consumer* — it tails a database and
loads destinations (/root/reference/etl.go:95-140, 463-477). A lake
table that downstream systems subscribe to needs the inverse: publish
its own row-level history as a changelog other pipelines (including a
second instance of this engine) can tail. That is CDC *chaining* —
Debezium's outbox / Delta's Change Data Feed consumption pattern — and
this module closes the loop using only pieces the engine already has:

    primary.table_changes(v0, v1)            # bucket-pruned CDF diff
      -> to_debezium_json(...)               # envelope encode, pure JVM
      -> seg-{v0}-{v1}/ JSONL directory      # the outbound WAL
      -> parse_debezium(...) on the replica  # envelope decode
      -> apply_batch(...)                    # exactly-once LWW MERGE

Scale shape: each export window reads ONLY the buckets some commit in
(v0, v1] rewrote (change-feed bucket pruning), encodes with codegen
expressions, and writes once — O(changed data), never O(table). The
replica side is the engine's normal ingest: one key shuffle + bucketed
MERGE per window.

Exactly-once, both directions:

- **Producer**: a window is exported at most once. The segment directory
  is written to a hidden ``.inprogress`` temp and atomically renamed to
  its final ``seg-<from>-<to>`` name; the cursor (last exported version)
  advances only after the rename. A crash before the rename leaves an
  invisible temp (re-export overwrites it); a crash after the rename but
  before the cursor advance finds the segment already present and only
  advances the cursor — the window is never encoded twice.
- **Consumer**: windows apply in ascending ``to_version`` order, each as
  one ``apply_batch`` keyed ``batch_id = to_version`` in the replica's
  commit log — a replayed or re-listed segment is skipped. Within a
  window every key appears once (it is a snapshot diff), so LWW dedup is
  a no-op and MERGE idempotence covers crash replays.

Ordering contract: windows are totally ordered by version, and a later
window's rows supersede an earlier window's for the same key by merge
order alone — consumers need no cross-window LWW column. The envelope
``lsn`` is the window's ``to_version`` (monotonic), ``ts_ms`` the
commit wall-clock, so Debezium-speaking consumers that DO sort by
(lsn) get the same total order.

Retention coupling: an incremental window needs BOTH snapshots'
manifests (``table_changes``), so the cursor version must stay
retained. By default the exporter PINS its cursor with a named ref
(``feed<tag>-v<version>``, tag = hash of the feed dir — two feeds on
one table never touch each other's pins), advanced pin-first so
``expire_snapshots`` — and, on replicator feeds, ``Catalog.expire``
releasing a table pin the feed still needs — can never reclaim the
diff's base: a lagging feed costs bounded extra retention instead of a
broken chain. (Two exporters racing on one feed dir share the tag; the
loser's stale-pin sweep can transiently unpin the winner's newer
cursor, which the winner's next advance re-pins — the window equals
the pre-pinning exposure and heals itself.) If a pin is dropped
out-of-band, a cursor below the retention floor raises with the
recovery spelled out —
``reset_cursor(0)`` — since a cursor at 0 exports the CURRENT snapshot
directly as an all-inserts full-load window (no diff, no dependence on
retained history), valid at any retention state. Full loads are
upsert-only: they re-bootstrap FRESH consumers exactly; a stale
replica that may have missed deletes in the pruned gap should be
truncated (or recreated) first.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.cdc.apply import apply_batch
from etl_spark.cdc.state import CommitLog
from etl_spark.lake.table import LakeTable, maintenance_only
from etl_spark.sources.debezium import parse_debezium, split_rejects, to_debezium_json

_SEG_PREFIX = "seg-"


class ChangeFeedExporter:
    """Publish a :class:`LakeTable`'s change feed as Debezium-envelope
    JSONL segments under ``out_dir`` — one ``seg-<from>-<to>`` directory
    per exported version window, plus a ``_cursor.json`` marker (hidden
    from Spark file listings by the leading underscore)."""

    def __init__(
        self,
        table: LakeTable,
        out_dir: str,
        *,
        table_name: str | None = None,
    ):
        self.table = table
        self.out_dir = os.path.abspath(out_dir)
        os.makedirs(self.out_dir, exist_ok=True)
        self.table_name = table_name or os.path.basename(table.path)
        # feed-dir-unique ref prefix: two feeds exporting one table must
        # not reconcile away each other's cursor pins (same pattern as
        # Catalog._tag)
        self._pin_tag = hashlib.sha1(self.out_dir.encode()).hexdigest()[:8]

    # ----------------------------------------------------------- cursor
    def _cursor_file(self) -> str:
        return os.path.join(self.out_dir, "_cursor.json")

    def cursor(self) -> int:
        """Last exported table version (0 = nothing exported yet; version
        0 is the empty create snapshot, so the first window is the full
        initial load)."""
        try:
            with open(self._cursor_file()) as fh:
                return int(json.load(fh)["exported_version"])
        except FileNotFoundError:
            return 0

    def reset_cursor(self, version: int = 0) -> None:
        """Deliberate rewind (the re-bootstrap recovery): the ``reset``
        flag suppresses crash reconciliation for the next window, so a
        stale full-load segment on disk cannot bounce the cursor forward
        past history the table no longer retains."""
        self._advance_cursor(version, force=True, reset=True)

    def _advance_cursor(
        self, version: int, force: bool = False, reset: bool = False
    ) -> None:
        if not force and version <= self.cursor():
            return
        pref = f"feed{self._pin_tag}-v"
        if version > 0:
            # pin FIRST: the cursor file must never point at a version
            # expiry could still reclaim (a crash here leaves an extra
            # pin the next advance's sweep drops)
            try:
                self.table.create_ref(f"{pref}{version}", version)
            except FileExistsError:
                pass  # same-version pin already present — already done
            except FileNotFoundError:
                pass  # version already expired (pre-pinning feed or an
                # out-of-band ref drop) — export_once raises the loud
                # retention error with the re-bootstrap recovery
        tmp = self._cursor_file() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "exported_version": version,
                    "updated_at": time.time(),
                    "reset": reset,
                },
                fh,
            )
        os.replace(tmp, self._cursor_file())
        # sweep stale pins (reset_cursor(0) drops them all: a full load
        # needs no retained history)
        for ref, rv in self.table.refs().items():
            if ref.startswith(pref) and rv != version:
                try:
                    self.table.drop_ref(ref)
                except FileNotFoundError:
                    pass

    def _cursor_state(self) -> dict:
        try:
            with open(self._cursor_file()) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {"exported_version": 0, "reset": False}

    def _seg_dir(self, from_v: int, to_v: int) -> str:
        return os.path.join(
            self.out_dir, f"{_SEG_PREFIX}{from_v:012d}-{to_v:012d}"
        )

    def _committed_to(self, from_v: int) -> int:
        """Highest ``to_version`` of any rename-committed segment whose
        window starts at ``from_v`` (driver-side name listing, no I/O)."""
        pref = f"{_SEG_PREFIX}{from_v:012d}-"
        best = from_v
        for n in os.listdir(self.out_dir):
            if n.startswith(pref):
                try:
                    best = max(best, int(n[len(pref):]))
                except ValueError:
                    continue
        return best

    # ----------------------------------------------------------- export
    def export_once(self, to_version: int | None = None) -> dict:
        """Export the window (cursor, current_version] as one segment.

        ``to_version`` pins the window's upper bound below the live head
        — the catalog-replication shape: a replicator exports each table
        to its CATALOG-pinned version, never to a head that may carry a
        concurrent transaction's unpublished (or mid-flip) commits, so
        every exported window is a published consistency point. Catalog
        pins (named refs) keep that snapshot alive for the diff.

        Returns ``{"skipped": True}`` when the table has no new version.
        One diff scan + one write per call — no row-count action (text
        files carry no footer counts; consumers account on apply)."""
        cur = (
            self.table.current_version() if to_version is None
            else int(to_version)
        )
        state = self._cursor_state()
        last = int(state.get("exported_version", 0))
        # Crash reconciliation: the atomic segment RENAME is the real
        # commit — the cursor file is a lagging cache. If a committed
        # window starting at `last` already exists on disk (a crash or a
        # racing exporter landed between rename and cursor advance),
        # resume AFTER it instead of exporting an overlapping window: two
        # overlapping full loads would silently resurrect rows deleted
        # between them on a fresh consumer. A DELIBERATE reset_cursor
        # (the re-bootstrap recovery) carries the ``reset`` flag and is
        # never reconciled — a stale full-load segment must not bounce
        # the cursor past history the table no longer retains.
        committed = (
            last if state.get("reset") else self._committed_to(last)
        )
        if committed > last:
            self._advance_cursor(committed)
            if cur is None or cur <= committed:
                return {
                    "skipped": False, "reconciled": True,
                    "from_version": last, "to_version": committed,
                    "segment": self._seg_dir(last, committed),
                }
            last = committed
        if cur is None or cur <= last:
            return {"skipped": True, "from_version": last, "to_version": last}
        if last > 0 and maintenance_only(self.table, last, cur):
            # compaction/rebucket/DDL rewrote files but no logical row:
            # advance the cursor WITHOUT the diff — a compaction rewrites
            # every bucket, so the bucket-pruned diff would otherwise
            # degrade to an O(table) scan that emits zero envelopes.
            # (A mixed window — data commits AND a compaction — still
            # pays the full diff; export cadence per data commit avoids
            # mixed windows by construction.)
            self._advance_cursor(cur)
            return {
                "skipped": True, "maintenance_only": True,
                "from_version": last, "to_version": cur,
            }
        seg = self._seg_dir(last, cur)
        if not os.path.exists(seg):
            # header-only: only schema + ts are read off this snapshot
            snap = self.table.snapshot(cur, buckets=set())
            payload_cols = [f.name for f in snap.schema.fields]
            if last == 0:
                # full-load window: read the current snapshot directly as
                # all-inserts — no diff against the (possibly expired)
                # empty create snapshot, and no join. This is what makes
                # reset_cursor(0) a valid recovery at ANY retention state.
                chg = self.table.read(version=cur)
                dbz_op = F.lit("c")
            else:
                try:
                    chg = self.table.table_changes(last, cur)
                except FileNotFoundError as e:
                    raise RuntimeError(
                        f"export cursor {last} is below the retention "
                        f"floor (snapshot expired): {e}. Re-bootstrap "
                        "consumers with reset_cursor(0) — the next window "
                        "is a full-table initial load."
                    ) from e
                dbz_op = (
                    F.when(F.col("_change_type") == "insert", F.lit("c"))
                    .when(F.col("_change_type") == "delete", F.lit("d"))
                    .otherwise(F.lit("u"))
                )
            df = (
                chg.withColumn("_dbz_op", dbz_op)
                .withColumn("_lsn", F.lit(int(cur)).cast("long"))
                # envelope event time = commit wall-clock; the payload
                # carries the table's own time columns untouched, so the
                # round trip is lossless (ts_ms would truncate sub-ms)
                .withColumn(
                    "_ets", F.timestamp_millis(F.lit(int(snap.ts * 1000)))
                )
            )
            js = to_debezium_json(
                df,
                payload_cols,
                lsn_col="_lsn",
                ts_col="_ets",
                dbz_op_col="_dbz_op",
                table_name=self.table_name,
            )
            # writer-unique temp: two exporters racing on the same window
            # never share a staging dir; the loser's rename finds the
            # segment already present (identical content — same snapshot
            # diff) and discards its copy
            tmp = os.path.join(
                self.out_dir,
                f".inprogress-{last:012d}-{cur:012d}-{os.getpid()}",
            )
            shutil.rmtree(tmp, ignore_errors=True)
            js.write.mode("overwrite").text(tmp)
            try:
                os.rename(tmp, seg)
            except OSError:
                if not os.path.exists(seg):
                    raise
                shutil.rmtree(tmp, ignore_errors=True)
        self._advance_cursor(cur)
        return {
            "skipped": False,
            "from_version": last,
            "to_version": cur,
            "segment": seg,
        }


def pending_segments(
    export_dir: str, commit_log: CommitLog, source: str
) -> list[tuple[int, int, str]]:
    """Unapplied ``(from_version, to_version, path)`` windows in ascending
    ``(to_version, from_version)`` order — driver-side listing of
    O(#segments) names, no I/O. The tie rule matters after a
    ``reset_cursor(0)`` re-bootstrap: the full-load window ``(0, v)``
    shares its ``to_version`` (= commit-log batch id) with the last
    incremental window ``(v-1, v)``; applying the WIDER window first
    makes the narrow one a committed no-op, so a fresh consumer gets the
    complete state and an up-to-date one skips both."""
    out = []
    for name in os.listdir(export_dir):
        if not name.startswith(_SEG_PREFIX):
            continue
        try:
            from_s, to_s = name[len(_SEG_PREFIX):].split("-")
            from_v, to_v = int(from_s), int(to_s)
        except ValueError:
            continue
        if not commit_log.is_committed(source, to_v):
            out.append((from_v, to_v, os.path.join(export_dir, name)))
    return sorted(out, key=lambda t: (t[1], t[0]))


def applied_through(commit_log: CommitLog, source: str = "cdf-replica") -> int:
    """Highest contiguously-applied ``to_version`` for one consumer — the
    version every segment at or below which it has durably merged. Used
    as the retention floor for ``prune_feed`` (take the MIN across all
    consumers' commit logs before pruning a shared feed)."""
    # exact-source match: the suffix after the prefix must be the
    # 12-digit batch id — a prefix test alone would let consumer
    # "cdf-replica-b"'s markers inflate "cdf-replica"'s floor and
    # prune_feed would retire windows the shorter-named consumer
    # never applied
    pat = re.compile(
        rf"^commit-{re.escape(source.replace('/', '_'))}-(\d{{12}})\.json$"
    )
    applied = [
        int(m.group(1))
        for n in os.listdir(commit_log.path)
        if (m := pat.match(n))
    ]
    # windows are produced by one monotonic cursor and applied in
    # ascending order, so the max commit IS the contiguous high point
    return max(applied, default=0)


def prune_feed(
    export_dir: str,
    applied_version: int,
    *,
    archive_dir: str | None = None,
    keep_last: int = 1,
    dry_run: bool = False,
) -> dict:
    """Retire feed segments every consumer has applied: a segment
    ``seg-<from>-<to>`` is retirable when ``to <= applied_version`` (pass
    the MIN of ``applied_through(...)`` over all consumers). ``keep_last``
    newest retirable segments stay — a consumer bootstrapping mid-stream
    can still see where the feed currently ends. Driver-side renames
    only; the producer's cursor is untouched, so export continuity is
    unaffected. A consumer that lost its state CANNOT replay pruned
    windows — re-bootstrap it via ``ChangeFeedExporter.reset_cursor(0)``
    (full-load window), the same recovery as snapshot-expiry underrun."""
    segs = []
    for name in sorted(os.listdir(export_dir)):
        if not name.startswith(_SEG_PREFIX):
            continue
        try:
            _from_s, to_s = name[len(_SEG_PREFIX):].split("-")
            segs.append((int(to_s), name))
        except ValueError:
            continue
    segs.sort()
    retirable = [
        (v, n) for v, n in segs[: max(0, len(segs) - keep_last)]
        if v <= applied_version
    ]
    pruned = []
    for _v, name in retirable:
        src = os.path.join(export_dir, name)
        if not dry_run:
            if archive_dir:
                os.makedirs(archive_dir, exist_ok=True)
                os.replace(src, os.path.join(archive_dir, name))
            else:
                shutil.rmtree(src)
        pruned.append(name)
    return {
        "pruned_segments": len(pruned),
        "pruned_names": pruned,
        "kept_segments": len(segs) - len(pruned),
        "dry_run": dry_run,
    }


def replicate_available(
    spark: SparkSession,
    export_dir: str,
    table: LakeTable,
    state_dir: str,
    *,
    source: str = "cdf-replica",
    merge_mode: str = "cow",
    check_rejects: bool = True,
    payload_schema=None,
) -> list[dict]:
    """Apply every pending export segment to ``table``, exactly once.

    Each window is one ``apply_batch`` (commit-log batch id = the
    window's ``to_version``): parse the envelopes, split malformed lines
    to ``state_dir/rejects/batch=N``, key-validate, MERGE. Ascending
    window order makes later windows supersede earlier ones by merge
    sequence alone. ``check_rejects=False`` drops the per-window rejects
    count action when the producer is this engine (trusted encode).

    ``payload_schema`` is the PRODUCER's schema when it may have evolved
    ahead of the replica (columns the parse schema omits are silently
    dropped by ``from_json``); the replica's MERGE then evolves its own
    schema on the first window carrying the new column."""
    commit_log = CommitLog(os.path.join(state_dir, "commits"))
    schema = payload_schema if payload_schema is not None else table.schema
    key = table.key
    stats: list[dict] = []
    for _from_v, to_v, seg in pending_segments(export_dir, commit_log, source):
        raw = spark.read.text(seg)
        # envelope ts aliases to a scratch column: the payload carries the
        # table's own time columns, so the merge sees them byte-exact
        parsed = parse_debezium(raw, schema, ts_col="_env_ts")
        clean, rejects = split_rejects(parsed)
        if check_rejects:
            n_bad = rejects.count()
            if n_bad:
                rejects.write.mode("overwrite").parquet(
                    os.path.join(state_dir, "rejects", f"batch={to_v}")
                )
        clean = clean.drop("_env_ts")
        s = apply_batch(
            spark,
            clean,
            table,
            batch_id=to_v,
            source=source,
            commit_log=commit_log,
            validators=[
                (
                    "key_not_null",
                    F.expr(
                        " AND ".join(f"{c} IS NOT NULL" for c in key)
                    ),
                )
            ],
            merge_mode=merge_mode,
        )
        stats.append(s)
    return stats


def replicate(
    spark: SparkSession,
    src: LakeTable,
    dst: LakeTable,
    work_dir: str,
    *,
    table_name: str | None = None,
    merge_mode: str = "cow",
) -> dict:
    """One replication tick: export ``src``'s newest window, apply every
    pending window to ``dst``. Call on a cadence (or after each upstream
    commit) for continuous primary -> replica chaining; both halves are
    idempotent, so overlapping ticks and crash replays converge."""
    exporter = ChangeFeedExporter(
        src, os.path.join(work_dir, "feed"), table_name=table_name
    )
    ex = exporter.export_once()
    applied = replicate_available(
        spark,
        exporter.out_dir,
        dst,
        os.path.join(work_dir, "replica-state"),
        merge_mode=merge_mode,
        check_rejects=False,
        payload_schema=src.schema,
    )
    return {"export": ex, "applied": applied}
