"""Anti-entropy table sync: fingerprint → diff → repair.

The change-feed replication chain (``lake.export``) keeps a replica
converged as long as every segment applies exactly once. Anti-entropy is
the safety net for everything else — lost feed windows, out-of-band
writes, a replica restored from an old backup, plain bit rot: detect
divergence cheaply, then repair ONLY what differs. (The reference has no
replication story; this extends the engine's own export chain with the
Merkle-style divergence check Dynamo/Cassandra repair uses, re-shaped
for bucketed lake tables.)

Scale shape at 100 TB:

- **Fingerprints**: one full scan per side, but the aggregate is fully
  map-side combinable — 3 numbers per bucket (row count, bit-XOR and
  modular sum of per-row hashes), commutative and associative, so the
  shuffle carries O(n_buckets) rows no matter the data size, and the
  driver compares two bucket->triple maps (a few thousand entries).
- **Diff**: reads ONLY the divergent buckets on both sides
  (manifest-pruned, the ``read_for_keys`` path) and full-outer-joins
  them on the table key. Both sides hash-partition by the same key, so
  the join input is O(divergent data), never O(table).
- **Repair**: one idempotent MERGE of the diff into the replica —
  bucket-pruned copy-on-write, O(changed buckets) rewrite. Running
  repair twice is a no-op (the second diff is empty).

The per-row hash covers every column plus an is-null flag per column
(``xxhash64`` skips NULL inputs, so without the flags a NULL shifting
between columns could collide); XOR+sum+count over 64-bit hashes makes
an undetected divergent bucket need a deliberate collision, not luck.
"""

from __future__ import annotations

import hashlib
import json
import re
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake.table import (
    LakeTable,
    align_to_schema,
    last_note_match,
    maintenance_only,
    retraction_weight,
)

_OP_COL = "__op"


def _row_fingerprint(cols: list[str]) -> Column:
    parts: list[Column] = []
    for c in sorted(cols):
        parts.append(F.col(c))
        parts.append(F.col(c).isNull())
    return F.xxhash64(*parts)


def bucket_fingerprints(
    df: DataFrame, bucket_expr: Column, cols: list[str]
) -> DataFrame:
    """(bucket, n_rows, xor_fp, sum_fp) — the O(n_buckets)-row summary a
    divergence check ships to the driver. Partial-aggregates map-side;
    the only shuffled rows are the per-bucket triples."""
    return (
        df.select(
            bucket_expr.alias("bucket"),
            _row_fingerprint(cols).alias("__fp"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(__fp)").alias("xor_fp"),
            F.sum(F.col("__fp").cast("decimal(38,0)")).alias("sum_fp"),
        )
    )


def _state_fp(schema: T.StructType, n_buckets: int, bucket_by: list[str]) -> str:
    """Hash of everything the stored triples depend on: the COLUMN SET
    (null-flagged row hashes change when a column appears) and the
    BUCKET LAYOUT (triples are keyed by bucket — a rebucket re-keys
    every row even though no row content changed). A refresh whose
    pinned hash no longer matches must rebuild, never fast-forward."""
    blob = json.dumps(
        [
            sorted((f.name, f.dataType.simpleString()) for f in schema.fields),
            n_buckets,
            list(bucket_by),
        ]
    )
    return hashlib.sha1(blob.encode()).hexdigest()[:12]


_FP_NOTE_RE = re.compile(r"refresh:(\d+)\.([0-9a-f]{12})(?:$|[^0-9a-f])")

_FP_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("xor_fp", T.LongType()),
        T.StructField("sum_fp", T.DecimalType(38, 0)),
    ]
)


class FingerprintView:
    """Per-bucket fingerprint triples maintained INCREMENTALLY from the
    source's pre-image change feed — anti-entropy detection with ZERO
    source scans in steady state.

    The triple (count, xor, sum) is a group under row insert/delete:
    count and sum add/subtract, and XOR is its own inverse, so a change
    row retracts or applies by XOR-ing its fingerprint exactly once —
    an update's pre-image+post-image pair nets out to a swap. Each
    refresh therefore reads only the bucket-pruned change window,
    aggregates it to O(changed buckets) delta triples, and merges them
    into the view (the same exactly-once ``refresh:<v>`` watermark
    discipline as ``lake.derived``: the applied-through version commits
    atomically WITH the data).

    Fingerprints depend on the column set, so the refresh note also pins
    the source schema hash; a schema evolution (new column => every
    row's null-flagged hash changes) triggers one automatic rebuild
    instead of silently diverging from a fresh scan. Compaction /
    rebucket / DDL-only windows advance the watermark with a tag — the
    row content is provably unchanged.

    At 10^10 rows this turns divergence DETECTION from "scan both
    tables" into "read two O(n_buckets) views": continuous anti-entropy
    at change-feed cost. The repair path (diff of divergent buckets)
    is unchanged.
    """

    def __init__(self, spark: SparkSession, path: str, source: LakeTable):
        self.spark = spark
        self.source = source
        if LakeTable.exists(spark, path):
            self.table = LakeTable.load(spark, path)
        else:
            self.table = LakeTable.create(
                spark, path, _FP_SCHEMA, key=["bucket"], n_buckets=1
            )

    # ------------------------------------------------------------ watermark
    def last_applied(self) -> tuple[int, str] | None:
        m = last_note_match(self.table, _FP_NOTE_RE)
        return (int(m.group(1)), m.group(2)) if m else None

    def _note(self, cur: int) -> str:
        snap = self.source.snapshot(cur, buckets=set())
        return (
            f"refresh:{cur}."
            f"{_state_fp(snap.schema, snap.n_buckets, snap.bucket_by)}"
        )

    # -------------------------------------------------------------- refresh
    def fingerprints(self) -> DataFrame:
        return self.table.read()

    def refresh(self) -> dict[str, Any]:
        cur = self.source.current_version()
        if cur is None:
            raise FileNotFoundError("source table has no snapshots")
        snap = self.source.snapshot(cur, buckets=set())
        cols = [f.name for f in snap.schema.fields]
        cur_hash = _state_fp(snap.schema, snap.n_buckets, snap.bucket_by)
        last = self.last_applied()
        if last is not None and last[1] != cur_hash:
            # column set changed (every row hash changed) OR bucket
            # layout changed (every triple re-keyed) -> rebuild; checked
            # BEFORE the maintenance shortcut, since rebucket is
            # row-content-maintenance but re-keys the triples
            return self.rebuild(cur)
        if last is not None and last[0] >= cur:
            return {"refreshed_through": last[0], "buckets_updated": 0,
                    "no_op": True}
        if last is not None and maintenance_only(self.source, last[0], cur):
            self.table.tag(self._note(cur))
            return {"refreshed_through": cur, "buckets_updated": 0,
                    "maintenance_only": True}
        if last is None:
            return self.rebuild(cur)
        try:
            changes = self.source.table_changes(last[0], cur, pre_images=True)
        except FileNotFoundError:
            # retention outran the view -> one bounded self-heal
            return self.rebuild(cur)
        bexpr = self.source._bucket_expr(snap)
        # +1/-1 fold weights come from the single definition next to the
        # change-feed label producer (lake.table.retraction_weight)
        w = retraction_weight()
        fp = _row_fingerprint(cols)
        delta = (
            changes.select(
                bexpr.alias("bucket"), fp.alias("__fp"), w.alias("__w")
            )
            .groupBy("bucket")
            .agg(
                F.sum(F.col("__w")).cast("long").alias("__dn"),
                F.expr("bit_xor(__fp)").alias("__dx"),
                F.sum(
                    F.col("__fp").cast("decimal(38,0)") * F.col("__w")
                ).cast("decimal(38,0)").alias("__ds"),
            )
        )
        old = self.table.read()
        combined = (
            delta.join(old, on="bucket", how="left")
            .select(
                F.col("bucket"),
                (F.coalesce(F.col("n_rows"), F.lit(0)) + F.col("__dn"))
                .cast("long").alias("n_rows"),
                F.coalesce(F.col("xor_fp"), F.lit(0))
                .bitwiseXOR(F.col("__dx")).cast("long").alias("xor_fp"),
                (
                    F.coalesce(
                        F.col("sum_fp"), F.lit(0).cast("decimal(38,0)")
                    )
                    + F.col("__ds")
                ).cast("decimal(38,0)").alias("sum_fp"),
            )
            .withColumn(
                _OP_COL, F.when(F.col("n_rows") == 0, "D").otherwise("U")
            )
        )
        msnap, stats = self.table.merge(
            combined, op_col=_OP_COL, op_note=self._note(cur)
        )
        if msnap is None:  # empty change window -> watermark-only commit
            self.table.tag(self._note(cur))
        return {
            "refreshed_through": cur,
            "buckets_updated": stats.get("source_rows", 0),
        }

    def rebuild(self, version: int | None = None) -> dict[str, Any]:
        cur = (
            self.source.current_version() if version is None else version
        )
        snap = self.source.snapshot(cur, buckets=set())
        cols = [f.name for f in snap.schema.fields]
        state = bucket_fingerprints(
            self.source.read(cur), self.source._bucket_expr(snap), cols
        ).select(
            F.col("bucket").cast("int"),
            F.col("n_rows").cast("long"),
            F.col("xor_fp").cast("long"),
            F.col("sum_fp").cast("decimal(38,0)"),
        )
        vsnap = self.table.overwrite(state, op_note=self._note(cur))
        return {"refreshed_through": cur, "rebuilt": True,
                "buckets_updated": vsnap.total_rows}


def _view_fps(side: LakeTable, view: "FingerprintView", name: str) -> list:
    """Validate a maintained FingerprintView is current for ``side`` and
    return its triples — the zero-scan detection path."""
    if view.source.path != side.path:
        raise ValueError(f"{name} fingerprint view tracks a different table")
    last = view.last_applied()
    cur = side.current_version()
    snap = side.snapshot(cur, buckets=set())
    if last is None or last[0] < cur or last[1] != _state_fp(
        snap.schema, snap.n_buckets, snap.bucket_by
    ):
        raise ValueError(
            f"{name} fingerprint view is stale (applied {last}, table at "
            f"{cur}) — call refresh() first"
        )
    return view.fingerprints().collect()


def diff_tables(
    primary: LakeTable,
    replica: LakeTable,
    primary_version: int | None = None,
    replica_version: int | None = None,
    primary_fps: "FingerprintView | None" = None,
    replica_fps: "FingerprintView | None" = None,
) -> tuple[DataFrame, dict[str, Any]]:
    """Row-level diff of ``replica`` against ``primary``.

    Returns ``(diff, info)``: ``diff`` has the primary's schema plus an
    ``__op`` column — ``U`` rows (missing from or different in the
    replica; payload is the primary's) and ``D`` rows (present only in
    the replica; payload NULL) — exactly the MERGE source that converges
    the replica. ``info`` reports the divergent bucket set and totals.

    Bucket comparison uses the PRIMARY's bucket layout evaluated as an
    expression on both sides, so it works even when the replica's
    physical bucketing differs (after a ``rebucket``); file-level pruning
    then applies to the primary always, and to the replica only when its
    layout matches (otherwise its divergent rows are row-filtered out of
    a full scan — the metadata told us *that* it diverged either way).

    ``primary_fps`` / ``replica_fps``: feed-maintained
    ``FingerprintView``s replace that side's detection SCAN with an
    O(n_buckets) view read (must be refreshed through the side's current
    version; both tables must share the bucket layout, since each view
    fingerprints under its own source's layout). With both views, a
    converged pair is verified with zero data reads.
    """
    psnap = primary.snapshot(primary_version, buckets=set())
    rsnap = replica.snapshot(replica_version, buckets=set())
    if psnap.key != rsnap.key:
        raise ValueError(
            f"key mismatch: primary {psnap.key} vs replica {rsnap.key}"
        )
    schema = psnap.schema
    cols = [f.name for f in schema.fields]
    key = psnap.key
    bexpr = primary._bucket_expr(psnap)
    layouts_equal = (rsnap.n_buckets, rsnap.bucket_by) == (
        psnap.n_buckets,
        psnap.bucket_by,
    )
    if (primary_fps is not None or replica_fps is not None) and not layouts_equal:
        raise ValueError(
            "fingerprint views require identical bucket layouts "
            f"(primary {psnap.n_buckets}/{psnap.bucket_by}, "
            f"replica {rsnap.n_buckets}/{rsnap.bucket_by})"
        )
    if primary_fps is not None and primary_version is not None:
        raise ValueError("primary_fps implies the current version")
    if replica_fps is not None and replica_version is not None:
        raise ValueError("replica_fps implies the current version")

    # r_full opens every replica bucket manifest at plan-build time —
    # construct it only on the paths that actually scan the replica
    # (never on the advertised zero-read converged-pair path)
    r_full: DataFrame | None = None
    if primary_fps is None and replica_fps is None:
        # both sides need full detection scans: union them under a side
        # tag and collect ONCE, so wall-clock is max(scan_p, scan_r) —
        # the two scans schedule as one job — instead of scan_p + scan_r
        r_full = align_to_schema(replica.read(replica_version), schema)
        both = (
            bucket_fingerprints(primary.read(primary_version), bexpr, cols)
            .withColumn("__side", F.lit("p"))
            .unionByName(
                bucket_fingerprints(r_full, bexpr, cols)
                .withColumn("__side", F.lit("r"))
            )
            .collect()
        )
        pf = [r for r in both if r["__side"] == "p"]
        rf = [r for r in both if r["__side"] == "r"]
    else:
        if primary_fps is not None:
            pf = _view_fps(primary, primary_fps, "primary")
        else:
            pf = bucket_fingerprints(
                primary.read(primary_version), bexpr, cols
            ).collect()
        if replica_fps is not None:
            rf = _view_fps(replica, replica_fps, "replica")
        else:
            r_full = align_to_schema(replica.read(replica_version), schema)
            rf = bucket_fingerprints(r_full, bexpr, cols).collect()
    pmap = {r["bucket"]: (r["n_rows"], r["xor_fp"], r["sum_fp"]) for r in pf}
    rmap = {r["bucket"]: (r["n_rows"], r["xor_fp"], r["sum_fp"]) for r in rf}
    divergent = {
        b for b in set(pmap) | set(rmap) if pmap.get(b) != rmap.get(b)
    }
    info = {
        "divergent_buckets": sorted(divergent),
        "primary_buckets": len(pmap),
        "replica_buckets": len(rmap),
    }
    spark = primary.spark
    if not divergent:
        empty = T.StructType(
            list(schema.fields) + [T.StructField(_OP_COL, T.StringType())]
        )
        return spark.createDataFrame([], empty), info

    p_rows = primary._read_buckets(divergent, primary_version)
    if layouts_equal:
        r_rows = align_to_schema(
            replica._read_buckets(divergent, replica_version), schema
        )
    else:
        if r_full is None:  # unreachable today: fps imply equal layouts
            r_full = align_to_schema(replica.read(replica_version), schema)
        r_rows = r_full.filter(bexpr.isin(list(divergent)))

    payload = [c for c in cols if c not in key]
    if payload:
        P = p_rows.select(
            *key, F.struct(*payload).alias("__pp"), F.lit(True).alias("__in_p")
        )
        R = r_rows.select(
            *key, F.struct(*payload).alias("__rp"), F.lit(True).alias("__in_r")
        )
    else:
        P = p_rows.select(*key, F.lit(True).alias("__in_p"))
        R = r_rows.select(*key, F.lit(True).alias("__in_r"))
    j = P.join(R, on=key, how="full_outer")
    classify = (
        F.when(F.col("__in_p").isNull(), F.lit("D"))
        .when(F.col("__in_r").isNull(), F.lit("U"))
        .otherwise(
            F.when(
                F.lit(True)
                if not payload
                else F.col("__pp").eqNullSafe(F.col("__rp")),
                F.lit(None).cast("string"),
            ).otherwise(F.lit("U"))
        )
    )
    out_cols = [F.col(c) for c in key]
    for c in payload:
        out_cols.append(
            F.when(F.col(_OP_COL) == "U", F.col(f"__pp.{c}")).alias(c)
        )
    diff = (
        j.withColumn(_OP_COL, classify)
        .filter(F.col(_OP_COL).isNotNull())
        .select(*out_cols, F.col(_OP_COL))
    )
    return diff, info


def repair_replica(
    primary: LakeTable,
    replica: LakeTable,
    primary_version: int | None = None,
    primary_fps: "FingerprintView | None" = None,
    replica_fps: "FingerprintView | None" = None,
) -> dict[str, Any]:
    """Converge ``replica`` to ``primary``'s state: diff, then one
    idempotent MERGE (upserts for missing/different rows, deletes for
    extras). Returns the diff info plus the merge stats; when nothing
    diverged, no commit is made. Pass maintained ``FingerprintView``s to
    run detection from the views instead of table scans."""
    diff, info = diff_tables(
        primary, replica, primary_version,
        primary_fps=primary_fps, replica_fps=replica_fps,
    )
    if not info["divergent_buckets"]:
        return {**info, "repaired": 0}
    snap, stats = replica.merge(diff, op_col=_OP_COL)
    return {
        **info,
        "repaired": stats.get("source_rows", 0),
        "replica_version": None if snap is None else snap.version,
    }


def repair_catalog(primary, replica, *, publish: bool = True) -> dict[str, Any]:
    """Anti-entropy over a REPLICATED catalog (``lake.replicate``): for
    every member of the primary catalog, diff the primary's catalog-
    PINNED read (one consistent cut, captured once) against the replica
    member's chain and converge divergence with ``repair_replica``'s
    idempotent MERGE; then flip every repaired pointer in ONE
    ``publish_many`` commit, so replica-catalog readers move straight to
    the repaired consistent cut — never through a half-repaired state.

    Per member the cost is anti-entropy's: O(n_buckets) fingerprint
    triples to detect, divergent buckets only to diff and repair;
    converged members commit nothing and their pointer entry no-ops.
    Safe to interleave with a ``CatalogReplicator`` (repair commits land
    on the chains the next tick's flip adopts; feed windows replay as
    commit-log no-ops), but like ``Catalog.expire`` it belongs on the
    owner's maintenance cadence, not a writer storm.

    Members missing on the replica (never bootstrapped) and replica
    entries absent from the primary are REPORTED, not created/dropped —
    topology changes are the replicator's job; this repairs content.
    Returns ``{tables: {name: repair_info | "missing"}, extra: [...],
    replica_catalog_version}``."""
    pv = primary.current_version()
    p_entries = primary.entries(pv)
    r_entries = replica.entries()
    out: dict[str, Any] = {}
    updates: dict[str, Any] = {}
    for name in sorted(p_entries):
        if name not in r_entries:
            out[name] = "missing"
            continue
        p_tab = LakeTable.load(primary.spark, p_entries[name]["path"])
        r_tab = LakeTable.load(replica.spark, r_entries[name]["path"])
        out[name] = repair_replica(
            p_tab, r_tab, primary_version=int(p_entries[name]["version"])
        )
        updates[name] = (r_tab, r_tab.current_version())
    rv = (
        replica.publish_many(updates, op=f"repair(pv={pv})")
        if publish and updates
        else replica.current_version()
    )
    return {
        "tables": out,
        "extra": sorted(set(r_entries) - set(p_entries)),
        "primary_catalog_version": pv,
        "replica_catalog_version": rv,
    }
