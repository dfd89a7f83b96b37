"""Structured Streaming CDC tail: WAL directory -> foreachBatch(_apply).

The Spark-native re-expression of the reference's v2 pipeline
(`Run`, /root/reference/v2/etl.go:66-234): its source goroutines + bounded
channels + worker pool + batcher + loader pool collapse into ONE streaming
query — `readStream` over the WAL, column-expression transforms, and a
`foreachBatch` sink that runs the exactly-once apply. Thread boundaries
become executor partitions; channel backpressure becomes
`maxFilesPerTrigger` source rate limiting (/root/reference/v2/etl.go:90-93);
retry-with-backoff (/root/reference/v2/etl.go:15-28) becomes Spark task
retries + idempotent MERGE; checkpoint-resume
(/root/reference/v2/etl.go:67-74) becomes the streaming checkpointLocation
plus our commit-log/watermark state.

That query is built in exactly one place, :class:`WalTail` — the driver
that opens the state directory (commit log, metrics, checkpoint,
``batch_stats``), discovers the WAL schema, sizes the trigger, runs the
``availableNow`` query over ``_apply`` and keeps the applied-batch count
the every-N cadences read. Each stream contributes only its ``_apply``
and its own maintenance:

* :class:`CdcStream` — ``apply_batch`` (LWW MERGE to the latest state),
  plus fan-out, near-dup index, views, export, compaction/retention and
  catalog publication;
* :class:`Scd2Stream` — ``apply_scd2`` (one SCD2 version row per state),
  with its payload taken from the discovered WAL schema;
* :class:`~etl_spark.cdc.router.RoutedCdcStream` — ``route_batch`` (one
  heterogeneous WAL to N catalog tables, one catalog commit per batch),
  plus views and per-destination maintenance.

Schema evolution mid-stream: a Structured Streaming source has a fixed
schema for the lifetime of a query. The engine therefore discovers the
current WAL schema at (re)start — early segments lacking `tool` read as
NULL under the superset schema; when brand-new columns appear in the WAL a
restart picks them up and the lake table evolves on the next MERGE. This
stop-evolve-resume contract is exactly how production CDC pipelines handle
DDL, and resume safety is what the commit log + watermarks guarantee.
"""

from __future__ import annotations

import os
import random
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import ClassVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from etl_spark.cdc.apply import _checkpoint, apply_batch
from etl_spark.cdc.metrics import MetricsTable
from etl_spark.cdc.state import CommitLog, WatermarkStore
from etl_spark.lake import LakeTable


def retry_with_backoff(fn, attempts: int = 3, base_delay: float = 0.1):
    """Exponential backoff with +/-20% jitter around a sink operation —
    the reference's retry loop (/root/reference/v2/etl.go:15-28). Safe to
    wrap around ``apply_batch``: the commit log makes a replay of an
    already-committed batch a no-op, and a re-MERGE of the same deduped
    batch converges to the same snapshot."""
    last: Exception | None = None
    for i in range(attempts):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - sink errors are heterogeneous
            last = e
            if i == attempts - 1:
                break
            time.sleep(base_delay * (2**i) * random.uniform(0.8, 1.2))
    raise last  # type: ignore[misc]


def discover_wal_schema(spark: SparkSession, wal_dir: str) -> T.StructType:
    """Union schema of the WAL segments as of now. Reads the FIRST and LAST
    segment footer per partition dir rather than mergeSchema over every
    file: binlog schema changes are ordered (a column appears at a cut-over
    LSN and stays), so the endpoints bound the schema set — and footer-
    reading all of a 10^5-segment WAL just to (re)learn 2 schemas is a
    startup-time tax on every resume."""
    sample: list[str] = []
    for part in sorted(os.listdir(wal_dir)):
        pdir = os.path.join(wal_dir, part)
        if not os.path.isdir(pdir):
            continue
        segs = sorted(n for n in os.listdir(pdir) if n.endswith(".parquet"))
        for n in {segs[0], segs[-1]} if segs else ():
            sample.append(os.path.join(pdir, n))
    if not sample:
        raise FileNotFoundError(f"no parquet segments under {wal_dir}")
    df = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", wal_dir)
        .parquet(*sample)
    )
    return df.schema


def adaptive_files_per_trigger(
    wal_dir: str,
    target_rows: int,
    floor: int,
    sample_cap: int = 64,
) -> int:
    """Row-sized trigger: estimate rows/segment from a sample of parquet
    FOOTERS (driver metadata reads, no data I/O) and return the
    files-per-trigger that puts ~``target_rows`` in each micro-batch —
    never below ``floor`` (the static configuration acts as a minimum
    so adaptive mode can only coalesce, never slow down). A WAL of many
    tiny segments then replays in a few driver actions instead of one
    per ``floor`` files, which is the measured per-batch driver-floor
    tax at sandbox scale (BENCH.md, skew replay). Sampling is capped so
    a 10^5-segment WAL costs 64 footer reads, not 10^5."""
    import pyarrow.parquet as papq

    segs: list[str] = []
    for root, _dirs, names in os.walk(wal_dir):
        segs.extend(
            os.path.join(root, n) for n in names if n.endswith(".parquet")
        )
    # spread the sample across the listing so one partition's segment
    # size doesn't dominate the estimate
    segs.sort()
    step = max(1, len(segs) // sample_cap)
    sampled = segs[::step][:sample_cap]
    rows = 0
    for p in sampled:
        try:
            rows += papq.read_metadata(p).num_rows
        except Exception:  # unreadable footer: fall back to the floor
            return floor
    avg = max(1.0, rows / max(1, len(sampled)))
    return max(int(floor), int(target_rows // avg) or 1)


class WalTail:
    """The one WAL-tail driver behind ``CdcStream``, ``Scd2Stream`` and
    ``RoutedCdcStream``: the only code that turns their WAL directory
    into a micro-batch stream.

    A mixin over the streams' dataclasses (it declares no fields, so their
    positional field order is untouched). It reads ``spark``, ``wal_dir``,
    ``state_dir``, ``max_files_per_trigger`` and ``adaptive_trigger_rows``
    and calls the stream's ``_apply(batch_df, batch_id)`` per micro-batch.
    An ``_apply`` records its stats with ``_record`` and asks ``_due`` for
    its every-N-applied-batches cadences."""

    def __post_init__(self) -> None:
        os.makedirs(self.state_dir, exist_ok=True)
        self.commit_log = CommitLog(os.path.join(self.state_dir, "commits"))
        self.metrics = MetricsTable(os.path.join(self.state_dir, "metrics"))
        self.checkpoint_dir = os.path.join(self.state_dir, "checkpoint")
        self.batch_stats: list[dict] = []
        self._applied = 0

    def _on_wal_schema(self, schema: T.StructType) -> None:
        """Called with the WAL schema discovered at each (re)start."""

    def start(self):
        schema = discover_wal_schema(self.spark, self.wal_dir)
        self._on_wal_schema(schema)
        per_trigger = self.max_files_per_trigger
        if self.adaptive_trigger_rows is not None:
            per_trigger = adaptive_files_per_trigger(
                self.wal_dir,
                int(self.adaptive_trigger_rows),
                floor=self.max_files_per_trigger,
            )
        self.query = (
            self.spark.readStream.schema(schema)
            .option("basePath", self.wal_dir)
            .option("maxFilesPerTrigger", per_trigger)
            .parquet(self.wal_dir)
            .writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        return self.query

    def run_to_completion(self) -> list[dict]:
        """Process every currently-available WAL segment, then stop
        (availableNow trigger). Re-invoking after new segments arrive — or
        after a crash — resumes from the streaming checkpoint, with the
        commit log (+ watermarks) making any replayed batch a no-op."""
        self.start().awaitTermination()
        return self.batch_stats

    def _record(self, stats: dict) -> None:
        """Append one batch's stats; a batch that was not a commit-log
        skip counts toward the applied-batch cadences."""
        self.batch_stats.append(stats)
        if not stats.get("skipped"):
            self._applied += 1

    def _due(self, stats: dict, every: int) -> bool:
        """The every-N-applied-batches check for the batch just recorded
        (``every`` = 0 disables)."""
        return (
            bool(every)
            and not stats.get("skipped")
            and self._applied % every == 0
        )

    def _refresh_views(self, stats: dict) -> None:
        """Refresh the stream's ``views`` after every applied batch. Each
        refresh is exactly-once on its own watermark, so a crashed refresh
        just catches up at the next batch."""
        if self.views and not stats.get("skipped"):
            stats["view_refreshes"] = [
                retry_with_backoff(v.refresh) for v in self.views
            ]


@dataclass
class CdcStream(WalTail):
    # commit-log stream name: existing state dirs' markers carry it
    source_name: ClassVar[str] = "wal"
    spark: SparkSession
    wal_dir: str
    table: LakeTable
    state_dir: str
    transform: Callable[[DataFrame], DataFrame] | None = None
    # "post" defers a row-wise payload transform to after the LWW dedup —
    # ~churn x less transform work per batch (see apply_batch)
    transform_stage: str = "pre"
    max_files_per_trigger: int = 8
    # Adaptive micro-batch coalescing (VERDICT r4 #3): when set, each
    # start() sizes the trigger at ~this many rows per micro-batch:
    # files-per-trigger = this target / a rows-per-segment estimate from
    # sampled parquet footers (driver-side metadata only, at most 64
    # files), with `max_files_per_trigger` as the floor. A WAL of many
    # tiny segments then replays in a few driver actions instead of one
    # per `max_files_per_trigger` files (the per-batch driver floor is
    # the measured residual of the skew replay, BENCH.md). Coalescing
    # MORE same-partition segments into one batch is always order-safe —
    # the per-batch LWW dedup resolves intra-batch order by (ts, lsn),
    # the mtime/watermark contract only governs CROSS-batch delivery.
    # None = static max_files_per_trigger.
    adaptive_trigger_rows: int | None = None
    salted_dedup: bool = False
    # Out-of-order tolerant sink (LakeTable.merge lww_by): order columns
    # stored in the table and compared against incoming events; stale
    # events lose, deletes leave tombstones. Use when the WAL can replay
    # or reorder across the per-partition LSN contract (e.g. a key
    # migrating between source partitions).
    merge_lww_by: list[str] | None = None
    # "mor" commits each micro-batch merge-on-read: O(batch) bytes per
    # commit instead of rewriting every touched bucket (LakeTable.merge
    # mode="mor") — the high-frequency shape; the compact_every cadence
    # below then also bounds the read-side delta backlog (compaction
    # folds equality-deletes/shadowed copies back into plain buckets).
    merge_mode: str = "cow"
    # Partial-update WAL (cdc.patch): update events set only the columns
    # named in this array<string> column; others keep their stored value.
    # Switches apply_batch to the column-wise fold + bucket-pruned
    # resolution (and patch-aware default validators). None = full rows.
    patch_touched_col: str | None = None
    # Change detection (LakeTable.changed_only): drop state-no-op rows
    # (re-sent identical full images, deletes of absent keys) before the
    # merge, so all-unchanged buckets are never rewritten and the change
    # feed carries no phantom updates. Costs one bucket-pruned stored-row
    # read + one recount action per batch — opt in for full-row-image
    # upstreams (snapshot re-reads, at-least-once producers).
    skip_unchanged: bool = False
    # Multi-destination fan-out: the same batch is applied to each extra
    # table after the primary (reference re-runs the whole ETL per
    # destination, /root/reference/etl.go:463-477; here the batch is
    # persisted once and each sink has its own commit-log stream so a
    # crash between sinks replays only the unapplied ones). Each extra
    # destination also gets its OWN watermark store: sharing the
    # primary's would drop whole batches under crash-replay (the primary
    # advances it before the extras run), while no store at all would
    # let intra-batch stale re-emissions from an at-least-once producer
    # overwrite newer state in the secondaries.
    extra_tables: list[LakeTable] = field(default_factory=list)
    # Maintenance cadence: every N applied batches, rewrite each bucket's
    # accumulated per-commit files into one (LakeTable.compact) and drop
    # snapshots/files older than the newest `expire_keep_last`. A merge
    # commit writes one survivor + one upsert file per affected bucket, so
    # an unmaintained month of micro-batches turns the survivors scan into
    # thousands of tiny reads — this bounds it. 0 disables (tests /
    # short-lived streams).
    compact_every: int = 0
    expire_keep_last: int = 3
    # Age horizon composed with expire_keep_last on the same maintenance
    # tick (LakeTable.expire_snapshots(older_than_s=...)): snapshots
    # younger than this survive beyond keep_last, guaranteeing
    # change-feed / time-travel consumers a history window while a hot
    # stream's frequent compactions don't erode it. None = count-only.
    expire_older_than_s: float | None = None
    # Reclaim unreferenced data files (lost commit races, crashed
    # pre-commit writes) on the same maintenance tick, with vacuum's
    # mtime age guard. None disables — vacuum walks the table's data
    # dir, so it belongs on the compaction cadence, never per batch.
    vacuum_older_than_s: float | None = None
    # Row-level data-age retention (TTL) on the same maintenance tick:
    # delete rows whose `ttl_col` falls more than `ttl_age_s` behind the
    # table's own maximum — computed from manifest zone-map maxima (zero
    # I/O) so the horizon is DATA time, not wall-clock: a paused-and-
    # resumed replay deletes exactly the same rows. Runs BEFORE the
    # compaction so expired whole files leave the manifest metadata-only
    # instead of being rewritten first (delete_where's three file
    # dispositions). Requires `ttl_col` in the table's stats_cols;
    # timestamp and integral columns supported. None disables.
    ttl_col: str | None = None
    ttl_age_s: float | None = None
    # Growth-aware bucket evolution: when live rows per bucket (manifest
    # sums, zero I/O) exceed this, DOUBLE the bucket count until back
    # under (LakeTable.rebucket, one atomic commit). Doubling makes the
    # rewrites amortized O(1) per row — each row is rewritten at most
    # ~2x across ALL doublings (the dynamic-array argument), so a table
    # that grows 1000x under a create-time bucket count never lets the
    # copy-on-write unit (one bucket) outgrow executor memory. Checked
    # AFTER compaction so the count reflects folded state. 0 disables.
    rebucket_when_bucket_rows: int = 0
    # Backlog-aware compaction for merge_mode="mor": fold the delta/
    # equality-delete backlog once its ROW COUNT (manifest footer sums,
    # zero I/O) reaches this threshold. Complements compact_every's
    # batch cadence; 0 disables. Size it at/below the mor read path's
    # broadcast guard so shadow joins stay map-side between folds.
    compact_when_delta_rows: int = 0
    # Ingest-time near-dup detection (the training-data-pipeline stage):
    # after each applied batch, the batch's post-dedup upsert TEXTS (the
    # `text` column) are probed against and appended to a persisted
    # MinHash band index under state_dir/dedup
    # (operators.incremental_dedup). Candidate pairs land
    # in dedup/pairs/batch=N, and dedup/keys/batch=N maps the internal
    # 64-bit doc ids (xxhash64 of the table key) back to key columns.
    # Exactly-once via its own commit-log stream + idempotent index MERGE:
    # a crash-replayed batch re-probes but never duplicates band rows or
    # pair files. ``dedup_threshold`` additionally exact-verifies
    # WITHIN-batch pairs (index-side text is not stored).
    dedup_index: bool = False
    dedup_threshold: float | None = None
    # With ``dedup_verify`` (requires dedup_threshold), INDEX-side pairs
    # are exact-verified too: matched doc ids resolve back to key
    # columns through dedup/keys, the CURRENT stored text is fetched
    # from the target table, and candidates below the threshold — LSH
    # collisions and stale band rows of since-updated keys — are
    # filtered before pairs/batch=N is written. Off by default: the
    # verify joins the table read into every batch's dedup stage.
    dedup_verify: bool = False
    # Corpus-delete feed into the index (VERDICT r4 #6): when a batch's
    # final state for a key is a DELETE, retire that doc's band rows
    # from the index on the same commit-log-gated cadence (MinHashIndex
    # .prune) — the index then tracks the LIVE corpus instead of
    # growing monotonically and wasting probe/verify work on docs the
    # verify would drop anyway.
    dedup_prune_deletes: bool = False
    # Downstream incremental materialized views (lake.derived.*View over
    # THIS table): refreshed after every applied batch. Each refresh is
    # exactly-once on its own (the applied-through source version commits
    # atomically with the view data), so a crash between table apply and
    # view refresh just catches up at the next batch — views may lag the
    # table by one batch but can never double-apply.
    views: list = field(default_factory=list)
    # Outbound change-feed publication (lake.export): after every applied
    # batch, export the table's newest change window as Debezium-envelope
    # JSONL segments under `replicate_to` (crash-safe cursor, idempotent —
    # downstream replicas tail with lake.export.replicate_available).
    # Runs BEFORE the maintenance cadence so the export cursor always
    # advances ahead of expire_snapshots' retention floor. None disables.
    replicate_to: str | None = None
    # Consumer-visibility checkpoints (lake.catalog): every N applied
    # batches — and once more when the replay drains — advance the
    # catalog's pointer for `catalog_name` to the table's newest snapshot
    # (Catalog.publish: one driver-side JSON link-create, zero Spark
    # jobs; no-op when the pointer is already current). Catalog readers
    # then see CONSISTENT PUBLISHED CHECKPOINTS instead of every
    # micro-batch commit — the visibility decoupling that lets a
    # downstream join two streamed tables at matched points. A crash
    # between table commit and publish just publishes a fresher version
    # at the next cadence; catalog pins keep published versions safe
    # from the expire tick. None disables.
    catalog: object = None
    catalog_name: str | None = None
    publish_every: int = 1
    query: object = field(default=None, init=False)

    def __post_init__(self) -> None:
        if self.dedup_verify and self.dedup_threshold is None:
            # Surface the config error at CONSTRUCTION — the old check
            # sat behind `os.path.isdir(keys_dir)`, so batch 0 committed
            # with verification silently off and the error only raised
            # mid-stream once the index existed (ADVICE r4).
            raise ValueError("dedup_verify requires dedup_threshold")
        super().__post_init__()
        self.watermarks = WatermarkStore(os.path.join(self.state_dir, "watermarks"))
        self.extra_watermarks = [
            WatermarkStore(
                os.path.join(self.state_dir, f"watermarks_dest{i + 1}")
            )
            for i in range(len(self.extra_tables))
        ]
        self.dead_letter_dir = os.path.join(self.state_dir, "dead_letter")
        self.exporter = None
        if self.replicate_to:
            from etl_spark.lake.export import ChangeFeedExporter

            self.exporter = ChangeFeedExporter(self.table, self.replicate_to)

    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        # the primary table, then each extra destination under its own
        # commit-log stream and watermark store; metrics and dead letters
        # are recorded for the primary only
        sinks = [(
            self.table, self.source_name, self.watermarks, self.metrics,
            self.dead_letter_dir,
        )] + [
            (t, f"{self.source_name}:dest{i}", wm, None, None)
            for i, (t, wm) in enumerate(
                zip(self.extra_tables, self.extra_watermarks), 1
            )
        ]
        per_sink = [
            retry_with_backoff(
                lambda: apply_batch(
                    self.spark,
                    batch_df,
                    table,
                    batch_id=batch_id,
                    source=source,
                    transform=self.transform,
                    transform_stage=self.transform_stage,
                    commit_log=self.commit_log,
                    watermark_store=wm,
                    metrics=metrics,
                    dead_letter_dir=dead_letter_dir,
                    salted_dedup=self.salted_dedup,
                    merge_lww_by=self.merge_lww_by,
                    merge_mode=self.merge_mode,
                    patch_touched_col=self.patch_touched_col,
                    skip_unchanged=self.skip_unchanged,
                ),
            )
            for table, source, wm, metrics, dead_letter_dir in sinks
        ]
        stats = per_sink[0]
        if self.dedup_index:
            stats["near_dup_pairs"] = retry_with_backoff(
                lambda: self._dedup_ingest(batch_df, batch_id)
            )
        self._record(stats)
        self._refresh_views(stats)
        if self.exporter is not None and not stats.get("skipped"):
            stats["export"] = retry_with_backoff(self.exporter.export_once)
        cadence_due = self._due(stats, self.compact_every)
        # Backlog-aware trigger for merge-on-read: compact when the
        # accumulated delta/equality-delete rows (the shadow-key set every
        # read joins against) exceed the threshold — a pure manifest-sum
        # check, zero I/O. Cadence counts batches; this counts actual
        # read-side debt, so a quiet stream never compacts and a hot one
        # compacts exactly when the broadcast guard is about to tip.
        backlog_due = False
        backlog_buckets: set[int] = set()
        if self.compact_when_delta_rows and not stats.get("skipped"):
            snap = self.table.snapshot()
            # patch deltas count toward the backlog too: they carry the
            # same read-amplification (per-read fold) until compacted
            shadow = snap.delete_source_files + snap.patch_files
            backlog = sum(f.get("rows", 0) for f in shadow)
            backlog_buckets = {f["bucket"] for f in shadow}
            stats["delta_backlog_rows"] = backlog
            backlog_due = backlog >= self.compact_when_delta_rows
        if (cadence_due or backlog_due) and self.ttl_col is not None:
            stats["ttl"] = self._ttl_tick()
        if cadence_due:
            self.table.compact()
        elif backlog_due:
            # MINOR compaction: the fold debt lives entirely in the
            # buckets that hold delta/patch entries — rewrite only those
            # (every other bucket's manifest is re-referenced verbatim).
            # At 10^10 rows with skewed churn this is the difference
            # between folding a few hot buckets and rewriting the table.
            self.table.compact(buckets=backlog_buckets)
        if cadence_due or backlog_due:
            if self.expire_keep_last:
                self.table.expire_snapshots(
                    keep_last=self.expire_keep_last,
                    older_than_s=self.expire_older_than_s,
                )
            if self.vacuum_older_than_s is not None:
                stats["vacuumed_files"] = self.table.vacuum(
                    older_than_s=self.vacuum_older_than_s
                )
        if self.rebucket_when_bucket_rows and not stats.get("skipped"):
            snap = self.table.snapshot()
            total, n = snap.total_rows, snap.n_buckets
            if total > self.rebucket_when_bucket_rows * n:
                new_n = n * 2
                while total > self.rebucket_when_bucket_rows * new_n:
                    new_n *= 2
                retry_with_backoff(lambda: self.table.rebucket(new_n))
                stats["rebucketed"] = {"from": n, "to": new_n, "rows": total}
        if (
            self.exporter is not None
            and (cadence_due or backlog_due or "rebucketed" in stats)
        ):
            # advance the export cursor through the maintenance commits
            # NOW (zero-cost maintenance-only skip) so the next data
            # batch's window never mixes a compaction/rebucket with real
            # changes — a mixed window cannot bucket-prune its diff
            stats["export_after_maintenance"] = self.exporter.export_once()
        if self.catalog is not None and self._due(stats, self.publish_every):
            # AFTER maintenance so the published checkpoint includes any
            # compaction/retention commits of this tick
            stats["catalog_version"] = retry_with_backoff(
                lambda: self.catalog.publish(self.catalog_name)
            )

    def _ttl_tick(self) -> dict:
        """One retention sweep: horizon = manifest max(ttl_col) −
        ttl_age_s, applied through ``delete_where`` (zone-map file
        dispositions — on an ingest-time-ordered table the sweep drops
        whole expired files with zero data I/O). No-op (no commit) when
        nothing is expired."""
        import datetime as dt

        from etl_spark.lake.table import _stat_key

        snap = self.table.snapshot()
        col = self.ttl_col
        if self.ttl_age_s is None:
            raise ValueError("ttl_col requires ttl_age_s")
        his = [
            e["stats"][col][1]
            for e in snap.data_files
            if (e.get("stats") or {}).get(col) is not None
        ]
        if not his:
            return {"rows_deleted": 0, "skipped": "no zone stats"}
        hi = max(_stat_key(x) for x in his)
        t = snap.schema[col].dataType.typeName()
        if t == "timestamp":
            horizon = (
                dt.datetime(1970, 1, 1)
                + dt.timedelta(microseconds=int(hi))
                - dt.timedelta(seconds=self.ttl_age_s)
            )
            where = f"{col} < '{horizon.isoformat()}'"
        elif t in ("byte", "short", "integer", "long"):
            where = f"{col} < {int(hi - self.ttl_age_s)}"
        else:
            raise ValueError(
                f"ttl_col must be a timestamp or integral column; {col!r} "
                f"is {t} (string/date stats cannot express an age horizon)"
            )
        _snap, dstats = self.table.delete_where(where)
        dstats["horizon"] = where
        return dstats

    def _dedup_ingest(self, batch_df: DataFrame, batch_id: int) -> int:
        """Probe + extend the persisted near-dup index with this batch's
        post-dedup upsert texts; returns the candidate-pair count.

        Runs AFTER the table apply under its own commit-log stream: a
        crash between the table's commit marker and this stage replays the
        batch, the table apply short-circuits, and this stage re-runs with
        ``idempotent=True`` (index MERGE on the full band key) — no
        duplicate band rows, pair/key files rewritten in place. Updated
        keys re-ingest under the SAME doc id (xxhash64 of the key), so a
        hot conversation never multiplies docs; its superseded band rows
        remain as extra candidates, which the downstream exact verify
        filters (append-only index contract — intra-batch stale
        re-emissions an at-least-once producer replays land under the
        same contract: old text for a doc id the index already carries).

        The indexed frame mirrors the table apply's pipeline — transform
        (at its configured stage) and the validator split — so the index
        describes the text the table actually STORES: with a
        normalization transform configured, indexing raw text would
        compute signatures over different strings than the stored rows,
        and dead-lettered rows must never enter the index at all."""
        from pyspark.sql import functions as F

        from etl_spark.cdc.apply import (
            _fold_validators,
            _select_validators,
            dedup_last_writer_wins,
        )
        from etl_spark.operators.incremental_dedup import MinHashIndex

        src = f"{self.source_name}:dedup"
        if self.commit_log.is_committed(src, batch_id):
            return 0
        key = self.table.key
        raw = batch_df
        if self.transform is not None and self.transform_stage == "pre":
            raw = self.transform(raw)
        valid_pred, _err = _fold_validators(_select_validators(
            None, raw.columns, key, "op", self.patch_touched_col
        ))
        rows = raw.filter(valid_pred).filter(
            (F.col("op") != "D") & F.col("text").isNotNull()
        )
        rows = dedup_last_writer_wins(rows, key=key, salted=self.salted_dedup)
        if self.transform is not None and self.transform_stage == "post":
            rows = self.transform(rows)
        docs = rows.select(
            F.xxhash64(*key).alias("__doc_id"),
            F.col("text").alias("__text"),
            *key,
        )
        dedup_dir = os.path.join(self.state_dir, "dedup")
        idx = MinHashIndex(self.spark, os.path.join(dedup_dir, "index"))
        corpus = None
        keys_dir = os.path.join(dedup_dir, "keys")
        if self.dedup_verify and os.path.isdir(keys_dir):
            if self.dedup_threshold is None:
                raise ValueError("dedup_verify requires dedup_threshold")
            # resolver: candidate doc ids -> key columns via the (narrow,
            # column-pruned) key-map scan, then the CURRENT stored text
            # BUCKET-PRUNED from the table (read_for_key_frame — never a
            # full text scan per batch; the id restriction broadcasts)
            mapping = (
                self.spark.read.parquet(keys_dir)
                .select("__doc_id", *key)
                .dropDuplicates(["__doc_id"])
            )
            table, kcols = self.table, list(key)

            def corpus(ids_df):
                keys_f = mapping.join(
                    F.broadcast(ids_df), on="__doc_id", how="left_semi"
                )
                stored = table.read_for_key_frame(keys_f.select(*kcols))
                return keys_f.join(
                    stored.select(*kcols, F.col("text").alias("__text")),
                    on=kcols,
                ).select("__doc_id", "__text")
        pairs = idx.ingest(
            docs.select("__doc_id", "__text"),
            id_col="__doc_id",
            text_col="__text",
            jaccard_threshold=self.dedup_threshold,
            idempotent=True,
            corpus=corpus,
        )
        n_pairs = pairs.count()
        if self.dedup_prune_deletes:
            # keys whose FINAL state in this batch is a delete: their doc
            # ids (xxhash64 of the key — same id scheme as the ingest)
            # leave the index. Gated by the same commit marker, so a
            # crash-replay re-prunes already-absent keys: a no-op merge.
            final = dedup_last_writer_wins(
                raw.filter(valid_pred),
                key=key, salted=self.salted_dedup,
            )
            del_ids = final.filter(F.col("op") == "D").select(
                F.xxhash64(*key).alias("doc_id")
            )
            # one tiny existence probe on the (batch-sized) delete set
            # saves the index scan + merge jobs on delete-free batches
            if del_ids.first() is not None:
                idx.prune(del_ids)
        (
            pairs.withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("overwrite")
            .parquet(os.path.join(dedup_dir, "pairs", f"batch={batch_id}"))
        )
        docs.drop("__text").write.mode("overwrite").parquet(
            os.path.join(dedup_dir, "keys", f"batch={batch_id}")
        )
        pairs.unpersist()
        self.commit_log.commit(src, batch_id, {"near_dup_pairs": n_pairs})
        return n_pairs

    def run_to_completion(self) -> list[dict]:
        super().run_to_completion()
        if self.catalog is not None:
            # final checkpoint: a drained replay is never left with its
            # tail batches unpublished (no-op when already current)
            self.catalog.publish(self.catalog_name)
        return self.batch_stats


def run_stream(
    spark: SparkSession,
    wal_dir: str,
    table: LakeTable,
    state_dir: str,
    **kwargs,
) -> list[dict]:
    """One-call convenience: tail everything available and apply it."""
    return CdcStream(spark, wal_dir, table, state_dir, **kwargs).run_to_completion()


@dataclass
class Scd2Stream(WalTail):
    """History-preserving streaming CDC: WAL tail -> foreachBatch(apply_scd2).

    Where ``CdcStream`` converges the lake table to the LATEST state per
    key (last-writer-wins MERGE), this target keeps EVERY state as an
    SCD2 version row — inserts/updates mint versions, deletes close them,
    reopens continue the numbering (``cdc.scd2.apply_scd2``).

    The validity axis defaults to ``lsn``, not ``ts``: the binlog
    deliberately coarsens timestamps (distinct events share a tick), but
    a key's events all land in one source partition where the LSN is
    strictly increasing — so per key the LSN is the total order the
    late-data guard needs across micro-batch boundaries. The wall-clock
    event time rides along per version via ``carry_cols``.

    Exactly-once is two independent layers: the commit log skips a
    replayed batch outright, and apply_scd2's per-key last_seen guard
    makes a half-applied replay (crash between MERGE and marker) a
    no-op row-wise. Both are probed in tests/test_streaming.py.
    """

    source_name: ClassVar[str] = "wal:scd2"
    spark: SparkSession
    wal_dir: str
    table: LakeTable
    state_dir: str
    time_col: str = "lsn"
    op_col: str = "op"
    delete_op: str = "D"
    carry_cols: list[str] = field(default_factory=lambda: ["ts"])
    tiebreak: list[str] | None = None
    max_files_per_trigger: int = 8
    # row-sized trigger coalescing, same contract as CdcStream
    # (apply_scd2 is whole-batch windowed, so intra-batch order is
    # resolved by (time_col, tiebreak) regardless of segment grouping)
    adaptive_trigger_rows: int | None = None
    query: object = field(default=None, init=False)

    def __post_init__(self) -> None:
        super().__post_init__()
        self.payload_cols: list[str] | None = None

    def _on_wal_schema(self, wal_schema: T.StructType) -> None:
        """Stop-evolve-resume: the payload is the table's payload UNION
        any brand-new WAL column (minus key/time/op/carry and the binlog
        meta columns) — so a restart after a WAL DDL evolves the SCD2
        table through the next MERGE, exactly like ``CdcStream``'s
        contract. Columns the old segments lack read as NULL under the
        superset schema and are observed as NULL states."""
        from etl_spark.cdc.apply import META_COLS
        from etl_spark.cdc.scd2 import SCD2_ENGINE_COLS

        bkey = [k for k in self.table.key if k != "version"]
        reserved = (
            set(bkey) | set(SCD2_ENGINE_COLS) | set(self.carry_cols)
            | set(self.tiebreak or []) | set(META_COLS)
            | {self.time_col, self.op_col}
        )
        payload = [
            f.name for f in self.table.schema.fields
            if f.name not in set(bkey) | set(SCD2_ENGINE_COLS)
            | set(self.carry_cols)
        ]
        payload += [
            f.name for f in wal_schema.fields
            if f.name not in reserved and f.name not in payload
        ]
        self.payload_cols = payload

    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        from etl_spark.cdc.scd2 import apply_scd2

        t0 = time.time()
        if self.commit_log.is_committed(self.source_name, batch_id):
            self._record(
                {"batch_id": batch_id, "skipped": True, "events_applied": 0}
            )
            return
        _, stats = retry_with_backoff(
            lambda: apply_scd2(
                self.table,
                batch_df,
                self.time_col,
                tiebreak=self.tiebreak,
                op_col=self.op_col,
                delete_op=self.delete_op,
                carry_cols=self.carry_cols,
                payload_cols=self.payload_cols,
            ),
        )
        stats = {"batch_id": batch_id, "skipped": False, **stats}
        self._record(_checkpoint(
            self.spark, stats, t0, source=self.source_name,
            batch_id=batch_id, commit_log=self.commit_log,
            metrics=self.metrics,
            metric_rows=[{
                "source": self.source_name,
                "rows_in": stats["source_rows"],
                "rows_applied": stats["events_applied"],
                "rows_failed": stats["late_rows"],
            }],
        ))
