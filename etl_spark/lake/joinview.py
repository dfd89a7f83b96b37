"""Incrementally-maintained JOIN view (dimension enrichment) over two
LakeTables' change feeds.

Completes the engine's view-maintenance trio (Gupta & Mumick): row-level
transforms and grouped aggregates live in ``lake.derived``; this module
maintains the third classic shape — the N:1 equi-join that enriches a
fact/transcript table with a dimension (orders ⋈ customers, turns ⋈
conversation metadata). The reference recomputes every downstream join
per run (/root/reference/etl.go:355-424 re-extracts the whole source);
at 10^10 rows the join must be maintained from the deltas.

The hard direction of incremental join maintenance is the DIMENSION
side: when a right-side row changes, which left rows reference it? The
left table is bucketed by its own key, not by the foreign key, so
answering that with a scan is O(left). This view therefore maintains a
companion REVERSE-FK INDEX — a LakeTable of ``(fk…, left_key…)`` rows
keyed by the concatenation and BUCKETED BY THE FK — so a right-side
delta probes the index bucket-pruned (manifest-level file skipping, the
``read_for_keys`` discipline) and touches O(changed fks × fanout) rows
no matter how big the left table is.

Refresh cost, by construction (asserted in tests/test_plans_physical.py):

- **left delta**: the change window joins against the right table read
  BUCKET-PRUNED to the delta's fk values (broadcast semi-join prune, no
  right-side shuffle); join input is O(Δleft).
- **right delta**: changed right keys → index probe (bucket-pruned scan
  + broadcast semi-join) → affected left keys → left read bucket-pruned
  to those keys → re-join against the pruned right read. Input is
  O(Δright × fanout).
- the view MERGE rewrites only the buckets the affected left keys hash
  to; the index MERGE only the buckets the changed fks hash to.

Exactly-once: the view's applied-through watermark ``refresh:<lv>.<rv>``
(left and right source versions) commits atomically WITH the view data
(same ``op_note`` discipline as ``lake.derived``). The index commits
first with its own ``refresh:<lv>`` watermark; a crash between the two
merges replays the same left window against the index idempotently
(retraction-netted upserts/deletes of identical content), then completes
the view merge.

Join semantics: ``how="left"`` (unmatched left rows carry NULL dimension
payload — the CDC-friendly default, since dimension rows may arrive
late) or ``how="inner"`` (a left row leaves the view while unmatched and
re-enters when its dimension appears — the delete/resurrect flow works
precisely because the index tracks ALL left rows, matched or not).
Equality is SQL equality: a NULL fk never matches; such rows are kept
out of the index entirely (no right-side change can ever affect them).
"""

from __future__ import annotations

import json
import os
import re
import time
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake.table import (
    LakeTable,
    any_null,
    bucket_of,
    last_note_match,
    maintenance_only,
    retraction_weight,
)

_VIEW_RE = re.compile(r"(?:^|:)refresh:(\d+)\.(\d+)$")
_IDX_RE = re.compile(r"(?:^|:)refresh:(\d+)$")
_OP = "__op"


class IncrementalJoinView:
    """Materialized ``left ⋈ right`` maintained from both change feeds.

    ``on`` lists the LEFT columns that equate (positionally) to the
    right table's KEY columns — the N:1 dimension-join contract, which
    is what makes both probe directions bucket-prunable. ``right_prefix``
    renames the right payload columns in the view (required when names
    collide with left columns). The view is keyed by the LEFT key; the
    dimension payload rides as extra columns.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        left: LakeTable,
        right: LakeTable,
        on: list[str],
        how: str = "left",
        right_prefix: str = "",
        n_buckets: int = 16,
        broadcast_threshold: int = 1_000_000,
        merge_mode: str = "cow",
    ) -> None:
        if how not in ("left", "inner"):
            raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
        if merge_mode not in ("cow", "mor"):
            raise ValueError(
                f"merge_mode must be 'cow' or 'mor', got {merge_mode!r}"
            )
        self.spark = spark
        self.path = path
        self.left = left
        self.right = right
        self.on = list(on)
        self.how = how
        self.right_prefix = right_prefix
        self.broadcast_threshold = broadcast_threshold
        # "mor" commits each view refresh merge-on-read (O(delta) bytes
        # per refresh instead of rewriting the affected buckets — the
        # high-frequency cadence shape; pair with an external compact()
        # cadence). The fk index always merges copy-on-write: its rows
        # are a fraction of the delta and the probe path prefers a
        # backlog-free read.
        self.merge_mode = merge_mode
        self.capture_plans = False
        self.last_plan: str | None = None

        lschema = left.schema
        rschema = right.schema
        rkey = list(right.key)
        if len(self.on) != len(rkey):
            raise ValueError(
                f"on={self.on} must match the right key {rkey} positionally"
            )
        for c in self.on:
            if c not in lschema.fieldNames():
                raise ValueError(f"fk column {c!r} not in left schema")
        for side, tab in (("left", left), ("right", right)):
            snap = tab.snapshot(buckets=set())
            # fail HERE, before any on-disk view/index state is created —
            # an unbucketed source only blows up later inside refresh()
            # (read_for_key_frame/merge), after _view_def.json exists
            if not snap.bucket_by or snap.n_buckets <= 0:
                raise ValueError(
                    f"{side} table must be bucketed (non-empty bucket_by, "
                    f"n_buckets > 0) — join views read bucket-pruned; got "
                    f"bucket_by={snap.bucket_by} n_buckets={snap.n_buckets}"
                )
            if not set(snap.bucket_by) <= set(tab.key):
                raise ValueError(
                    f"{side} table must be bucketed by a subset of its key "
                    "(read_for_key_frame pruning)"
                )
        self.rpayload = [f.name for f in rschema.fields if f.name not in rkey]
        out_names = [right_prefix + c for c in self.rpayload]
        clash = set(out_names) & set(lschema.fieldNames())
        if clash:
            raise ValueError(
                f"right payload columns {sorted(clash)} collide with left "
                "columns — pass right_prefix"
            )
        view_fields = [
            T.StructField(f.name, f.dataType, True) for f in lschema.fields
        ] + [
            T.StructField(right_prefix + f.name, f.dataType, True)
            for f in rschema.fields
            if f.name in self.rpayload
        ]
        self.table = LakeTable.create(
            spark, path, T.StructType(view_fields), key=list(left.key),
            n_buckets=n_buckets, if_not_exists=True,
        )
        # reverse-fk index: one row per (non-null-fk) left row, keyed by
        # (fk…, left_key…) so an fk CHANGE is a delete+insert pair in two
        # different buckets (both present in the merge source — pruning
        # stays exact), BUCKETED BY FK so right-delta probes prune
        self.idx_cols = list(self.on) + [
            k for k in left.key if k not in self.on
        ]
        idx_fields = [
            T.StructField(c, lschema[c].dataType, True) for c in self.idx_cols
        ]
        self.index = LakeTable.create(
            spark, os.path.join(path, "fkidx"), T.StructType(idx_fields),
            key=list(self.idx_cols), n_buckets=n_buckets,
            bucket_by=list(self.on), if_not_exists=True,
        )
        # definition pin (same rationale as IncrementalAggView): `on`,
        # `how` and the prefix are pure data — a reopened view under a
        # different join definition must fail loudly, not fold new-shape
        # deltas into old-shape state
        defn = {
            "on": self.on, "how": self.how, "right_prefix": right_prefix,
            "left": os.path.abspath(left.path),
            "right": os.path.abspath(right.path),
            # the dimension payload SET is part of the materialized
            # definition: it is captured from the right schema at
            # construction, so a right-side evolution (new payload
            # column) reopened under the old state would enrich only
            # refreshed rows and silently diverge from a fresh join for
            # every untouched row — refuse loudly instead (left-side
            # evolution needs no pin: new left columns read as NULL on
            # both the view and a fresh join until churn fills them)
            "rpayload": self.rpayload,
        }
        def_file = os.path.join(os.path.abspath(path), "_view_def.json")
        if os.path.exists(def_file):
            with open(def_file) as fh:
                stored = json.load(fh)
            if stored != defn:
                only_payload = {
                    k: v for k, v in stored.items() if k != "rpayload"
                } == {k: v for k, v in defn.items() if k != "rpayload"}
                if only_payload:
                    raise ValueError(
                        f"join view at {path}: the dimension payload "
                        f"column set changed ({stored.get('rpayload')} -> "
                        f"{self.rpayload}) — the right table's schema "
                        "evolved since materialization. Incremental "
                        "refresh would fill the new column only for "
                        "refreshed rows; delete the view directory and "
                        "rebuild() to adopt the evolution exactly."
                    )
                raise ValueError(
                    f"join view at {path} was materialized with a different "
                    f"definition ({stored} != {defn}); point the new "
                    "definition at a fresh path"
                )
        else:
            tmp = def_file + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(defn, fh)
            os.replace(tmp, def_file)

    # ----------------------------------------------------------- watermarks
    def last_applied(self) -> tuple[int, int] | None:
        m = last_note_match(self.table, _VIEW_RE)
        return (int(m.group(1)), int(m.group(2))) if m else None

    def _index_applied(self) -> int | None:
        m = last_note_match(self.index, _IDX_RE)
        return int(m.group(1)) if m else None

    # -------------------------------------------------------------- helpers
    def _right_renamed(self, df: DataFrame) -> tuple[DataFrame, Column]:
        rkey = list(self.right.key)
        sel = [F.col(k).alias(f"__rk{i}") for i, k in enumerate(rkey)] + [
            F.col(c).alias(self.right_prefix + c) for c in self.rpayload
        ]
        cond = F.lit(True)
        for i, c in enumerate(self.on):
            cond = cond & (F.col(c) == F.col(f"__rk{i}"))
        return df.select(*sel), cond

    def _view_rows(
        self, lrows: DataFrame, rrows: DataFrame, broadcast: bool = False,
    ) -> DataFrame:
        """Enriched U/D merge rows for ``lrows`` (current left images)
        against ``rrows`` (the right state restricted to at least every
        fk value in ``lrows``). ``broadcast`` ships the dimension side
        map-side — it is bounded by the delta's fk count, so while the
        window is batch-sized the enrichment join needs NO shuffle at
        all (the left side streams)."""
        r, cond = self._right_renamed(rrows)
        if broadcast:
            r = F.broadcast(r)
        j = lrows.join(r, cond, "left")
        matched = F.col("__rk0").isNotNull()
        out = [F.col(f.name) for f in self.left.schema.fields]
        for c in self.rpayload:
            out.append(F.col(self.right_prefix + c))
        if self.how == "left":
            return j.select(*out, F.lit("U").alias(_OP))
        # inner: unmatched left rows leave the view (their payload is
        # nulled on the D rows — merge only needs key + op)
        named = [(f.name, F.col(f.name)) for f in self.left.schema.fields]
        named += [
            (self.right_prefix + p, F.col(self.right_prefix + p))
            for p in self.rpayload
        ]
        return j.select(
            *[
                (c if name in self.left.key else F.when(matched, c))
                .alias(name)
                for name, c in named
            ],
            F.when(matched, F.lit("U")).otherwise(F.lit("D")).alias(_OP),
        )

    def _null_payload_deletes(self, keys: DataFrame) -> DataFrame:
        cols = [F.col(k) for k in self.left.key] + [
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in self.table.schema.fields
            if f.name not in self.left.key
        ]
        return keys.select(*cols).withColumn(_OP, F.lit("D"))

    def _probe_index(
        self, rkeys: DataFrame, broadcast: bool,
        buckets: set[int] | None = None,
    ) -> DataFrame:
        """Index rows whose fk is in ``rkeys`` (right-key frame): bucket
        manifests pruned to the fks' buckets, then a (broadcast) semi
        join — never a full index scan. ``buckets`` (from the refresh's
        fused stats action) skips the histogram job."""
        fkframe = rkeys.select(
            *[
                F.col(rk).alias(c)
                for c, rk in zip(self.on, self.right.key)
            ]
        )
        if buckets is None:
            buckets = set(self.index.bucket_histogram(fkframe))
        if not buckets:
            return self.spark.createDataFrame([], self.index.schema)
        # no dedup: a left-semi join's output does not depend on
        # duplicate build keys
        k = F.broadcast(fkframe) if broadcast else fkframe
        return self.index._read_buckets(buckets).join(
            k, on=self.on, how="left_semi"
        )

    # -------------------------------------------------------------- refresh
    def refresh(self) -> dict[str, Any]:
        lv = self.left.current_version()
        rv = self.right.current_version()
        if lv is None or rv is None:
            raise FileNotFoundError("source tables have no snapshots")
        last = self.last_applied()
        if last is None:
            return self.rebuild(lv, rv)
        ll, rl = last
        note = f"refresh:{lv}.{rv}"
        if ll >= lv and rl >= rv:
            return {"refreshed_through": (ll, rl), "rows_upserted": 0,
                    "rows_deleted": 0, "no_op": True}
        l_quiet = ll >= lv or maintenance_only(self.left, ll, lv)
        r_quiet = rl >= rv or maintenance_only(self.right, rl, rv)
        if l_quiet and r_quiet:
            self._advance_index(lv)
            self.table.tag(note)
            return {"refreshed_through": (lv, rv), "rows_upserted": 0,
                    "rows_deleted": 0, "maintenance_only": True}
        lch: DataFrame | None = None
        rkeys: DataFrame | None = None
        try:
            try:
                if not l_quiet:
                    lch = self.left.table_changes(ll, lv, pre_images=True)
                    lch.schema  # force plan resolution against both snaps
                    lch = lch.persist()
                if not r_quiet:
                    rkeys = self.right.table_changes(rl, rv).select(
                        *self.right.key
                    ).distinct()
                    rkeys.schema
                    rkeys = rkeys.persist()
            except FileNotFoundError:
                # retention outran the view on either side — bounded heal
                return self.rebuild(lv, rv)

            lkey = list(self.left.key)
            w = retraction_weight()
            sources: list[DataFrame] = []
            view_pb: dict[int, int] = {}
            src_keys: DataFrame | None = None

            # bucket expressions for every layout the accounting needs,
            # evaluated over fk-/left-named frames through bucket_of, the
            # tables' one physical-layout expression
            isnap_h = self.index.snapshot(buckets=set())
            vsnap_h = self.table.snapshot(buckets=set())
            lsnap_h = self.left.snapshot(lv, buckets=set())
            rsnap_h = self.right.snapshot(rv, buckets=set())
            i_b = bucket_of(isnap_h.bucket_by, isnap_h.n_buckets)
            v_b = bucket_of(vsnap_h.bucket_by, vsnap_h.n_buckets)
            # right bucket cols positionally renamed to their fk columns
            r_b_fk = bucket_of(
                [self.on[list(self.right.key).index(b)]
                 for b in rsnap_h.bucket_by],
                rsnap_h.n_buckets,
            )
            # index bucket cols (== self.on) renamed to right-key names
            i_b_rk = bucket_of(
                [list(self.right.key)[self.on.index(b)]
                 for b in isnap_h.bucket_by],
                isnap_h.n_buckets,
            )
            r_b = bucket_of(rsnap_h.bucket_by, rsnap_h.n_buckets)

            # ---- ONE fused stats action for BOTH deltas: the left
            # window's (index/view/right)-bucket histograms and the
            # changed right keys' (index/right)-bucket histograms union
            # under a side tag and collect in a single job (the
            # two-scans-one-job trick from lake.sync.diff_tables)
            stats_frames = []
            if lch is not None:
                stats_frames.append(
                    lch.groupBy(
                        i_b.alias("__ib"), v_b.alias("__vb"),
                        r_b_fk.alias("__rb"),
                        any_null(self.on).alias("__nullfk"),
                        # post-image rows are the only ones that probe the
                        # dimension; delete/pre-image rows must not widen
                        # the rprobe bucket set (ADVICE r3)
                        F.col("_change_type")
                        .isin("insert", "update_postimage").alias("__plus"),
                    )
                    .agg(F.count(F.lit(1)).alias("__n"))
                    .withColumn("__side", F.lit("l"))
                )
            if rkeys is not None:
                stats_frames.append(
                    rkeys.groupBy(
                        i_b_rk.alias("__ib"), r_b.alias("__rb")
                    )
                    .agg(F.count(F.lit(1)).alias("__n"))
                    .select(
                        "__ib", F.lit(None).cast("int").alias("__vb"),
                        "__rb", F.lit(False).alias("__nullfk"),
                        F.lit(True).alias("__plus"), "__n",
                        F.lit("r").alias("__side"),
                    )
                )
            both = stats_frames[0]
            for s in stats_frames[1:]:
                both = both.unionByName(s)
            # phase timings: the four driver actions of a refresh, kept in
            # the returned stats — at fixed churn over a growing table the
            # growing term is bucket-scan volume (bucket size x touched
            # buckets), and this is where it shows up first
            tm: dict[str, float] = {}
            _t0 = time.time()
            cells = both.collect()
            tm["fused_stats_sec"] = time.time() - _t0
            stats_l = [c for c in cells if c["__side"] == "l"]
            stats_r = [c for c in cells if c["__side"] == "r"]

            # ---- left delta: index merge as ONE write job, then the
            # enriched view rows
            n_l = 0
            if lch is not None:
                n_l = sum(r["__n"] for r in stats_l)
                idx_pb: dict[int, int] = {}
                r_pb: dict[int, int] = {}
                for r in stats_l:
                    view_pb[r["__vb"]] = view_pb.get(r["__vb"], 0) + r["__n"]
                    if not r["__nullfk"]:
                        idx_pb[r["__ib"]] = idx_pb.get(r["__ib"], 0) + r["__n"]
                        if r["__plus"]:
                            r_pb[r["__rb"]] = r_pb.get(r["__rb"], 0) + r["__n"]
                r_buckets = set(r_pb)
                _t0 = time.time()
                il = self._index_applied()
                if il is not None and il > ll:
                    # crash recovery: a prior refresh merged the index
                    # through il, then died before the view merge. If left
                    # commits landed since, the VIEW window (ll, lv] is no
                    # longer a valid index delta — an fk change that nets
                    # out across (ll, lv] but NOT across (il, lv] (changed
                    # pre-crash, reverted post-crash) emits no net row and
                    # would leave the stale fk in the index forever
                    # (ADVICE r3). Derive the index delta from the index's
                    # OWN watermark instead.
                    self._recover_index(il, lv)
                elif idx_pb:
                    idx_delta = (
                        lch.filter(~any_null(self.on))
                        .groupBy(*self.idx_cols)
                        .agg(F.sum(w).alias("__w"))
                        .filter(F.col("__w") != 0)
                        .select(
                            *self.idx_cols,
                            F.when(F.col("__w") > 0, F.lit("U"))
                            .otherwise(F.lit("D")).alias(_OP),
                        )
                    )
                    isnap, _ = self.index.merge(
                        idx_delta, op_col=_OP, op_note=f"refresh:{lv}",
                        per_bucket=idx_pb,
                    )
                    if isnap is None:
                        self.index.tag(f"refresh:{lv}")
                else:
                    self._advance_index(lv)
                tm["index_merge_sec"] = time.time() - _t0
                plus = lch.filter(
                    F.col("_change_type").isin("insert", "update_postimage")
                ).drop("_change_type")
                rprobe = self.right.read_for_key_frame(
                    plus.select(
                        *[
                            F.col(c).alias(rk)
                            for c, rk in zip(self.on, self.right.key)
                        ]
                    ).filter(~any_null(self.right.key)),
                    buckets=r_buckets, version=rv,
                    broadcast=n_l <= self.broadcast_threshold,
                    per_bucket=r_pb,
                )
                sources.append(
                    self._view_rows(
                        plus, rprobe,
                        broadcast=n_l <= self.broadcast_threshold,
                    )
                )
                sources.append(
                    self._null_payload_deletes(
                        lch.filter(F.col("_change_type") == "delete")
                        .select(*lkey)
                    )
                )
                src_keys = lch.select(*lkey).dropDuplicates(lkey)
            else:
                self._advance_index(lv)

            # ---- right delta: bucket-pruned index probe for the
            # affected left keys (its histograms came from the fused
            # stats action above)
            if rkeys is not None:
                n_r = sum(r["__n"] for r in stats_r)
                small = n_r <= self.broadcast_threshold
                aff = self._probe_index(
                    rkeys, broadcast=small,
                    buckets={r["__ib"] for r in stats_r},
                ).select(*lkey)
                if lch is not None:
                    # keys already recomputed against right@rv in the
                    # left pass — don't double-emit them
                    dl = lch.select(*lkey).distinct()
                    aff = aff.join(
                        F.broadcast(dl)
                        if n_l <= self.broadcast_threshold else dl,
                        on=lkey, how="left_anti",
                    )
                aff = aff.persist()
                try:
                    # ONE stats action: affected count + left-table and
                    # view-bucket histograms
                    l_b = bucket_of(lsnap_h.bucket_by, lsnap_h.n_buckets)
                    _t0 = time.time()
                    stats_a = (
                        aff.groupBy(l_b.alias("__lb"), v_b.alias("__vb"))
                        .agg(F.count(F.lit(1)).alias("__n"))
                        .collect()
                    )
                    tm["aff_stats_sec"] = time.time() - _t0
                    n_aff = sum(r["__n"] for r in stats_a)
                    if n_aff:
                        l_pb: dict[int, int] = {}
                        for r in stats_a:
                            view_pb[r["__vb"]] = (
                                view_pb.get(r["__vb"], 0) + r["__n"]
                            )
                            l_pb[r["__lb"]] = l_pb.get(r["__lb"], 0) + r["__n"]
                        r2_pb: dict[int, int] = {}
                        for r in stats_r:
                            r2_pb[r["__rb"]] = (
                                r2_pb.get(r["__rb"], 0) + r["__n"]
                            )
                        lrows = self.left.read_for_key_frame(
                            aff, buckets=set(l_pb),
                            version=lv,
                            broadcast=n_aff <= self.broadcast_threshold,
                            per_bucket=l_pb,
                        )
                        rprobe2 = self.right.read_for_key_frame(
                            rkeys, buckets=set(r2_pb),
                            version=rv, broadcast=small, per_bucket=r2_pb,
                        )
                        src = self._view_rows(lrows, rprobe2, broadcast=small)
                        if self.capture_plans:
                            self.last_plan = (
                                src._jdf.queryExecution()
                                .executedPlan().toString()
                            )
                        sources.append(src)
                        src_keys = (
                            aff if src_keys is None
                            else src_keys.unionByName(aff)
                        )
                    _t0 = time.time()
                    stats = self._merge_view(
                        sources, note, per_bucket=view_pb,
                        source_keys=src_keys,
                    )
                    tm["view_merge_sec"] = time.time() - _t0
                finally:
                    aff.unpersist()
            else:
                _t0 = time.time()
                stats = self._merge_view(
                    sources, note, per_bucket=view_pb, source_keys=src_keys
                )
                tm["view_merge_sec"] = time.time() - _t0
            stats["refreshed_through"] = (lv, rv)
            stats["timings"] = {k: round(v, 3) for k, v in tm.items()}
            return stats
        finally:
            if lch is not None:
                lch.unpersist()
            if rkeys is not None:
                rkeys.unpersist()

    def _advance_index(self, lv: int) -> None:
        il = self._index_applied()
        if il is None or il < lv:
            self.index.tag(f"refresh:{lv}")

    def _recover_index(self, il: int, lv: int) -> None:
        """Bring the fk index from its own watermark ``il`` to ``lv``
        after a crash left it ahead of the view (see refresh()). The
        delta is the left change feed over (il, lv] — the only window
        whose retraction-net is valid against index@il. O(Δ(il, lv]);
        falls back to an index-only overwrite if retention already
        expired the crash watermark."""
        if il >= lv:
            return
        note = f"refresh:{lv}"
        try:
            ich = self.left.table_changes(il, lv, pre_images=True)
            ich.schema
        except FileNotFoundError:
            # retention outran the crash watermark — bounded heal of
            # JUST the index (the view replays its own window normally)
            self.index.overwrite(
                self.left.read(lv).filter(~any_null(self.on))
                .select(*self.idx_cols),
                op_note=note,
            )
            return
        ich = ich.filter(~any_null(self.on))
        isnap_h = self.index.snapshot(buckets=set())
        i_b = bucket_of(isnap_h.bucket_by, isnap_h.n_buckets)
        idx_pb = {
            r["__ib"]: r["__n"]
            for r in ich.groupBy(i_b.alias("__ib"))
            .agg(F.count(F.lit(1)).alias("__n")).collect()
        }
        if not idx_pb:
            self._advance_index(lv)
            return
        w = retraction_weight()
        idx_delta = (
            ich.groupBy(*self.idx_cols)
            .agg(F.sum(w).alias("__w"))
            .filter(F.col("__w") != 0)
            .select(
                *self.idx_cols,
                F.when(F.col("__w") > 0, F.lit("U"))
                .otherwise(F.lit("D")).alias(_OP),
            )
        )
        isnap, _ = self.index.merge(
            idx_delta, op_col=_OP, op_note=note, per_bucket=idx_pb,
        )
        if isnap is None:
            self.index.tag(note)

    def _merge_view(
        self, sources: list[DataFrame], note: str,
        per_bucket: dict[int, int] | None = None,
        source_keys: DataFrame | None = None,
    ) -> dict[str, Any]:
        if not sources or (per_bucket is not None and not per_bucket):
            self.table.tag(note)
            return {"rows_upserted": 0, "rows_deleted": 0}
        src = sources[0]
        for s in sources[1:]:
            # mid-stream left evolution: D rows built from the (not yet
            # evolved) view schema may lack columns the U rows carry —
            # they ride as NULL and evolve the view through the merge
            src = src.unionByName(s, allowMissingColumns=True)
        snap, mstats = self.table.merge(
            src, op_col=_OP, op_note=note,
            per_bucket=per_bucket or None, source_keys=source_keys,
            mode=self.merge_mode,
        )
        if snap is None:
            self.table.tag(note)
            return {"rows_upserted": 0, "rows_deleted": 0}
        return {
            "rows_upserted": mstats["rows_upserted"],
            "rows_deleted": mstats["rows_deleted"],
        }

    def rebuild(
        self, lv: int | None = None, rv: int | None = None
    ) -> dict[str, Any]:
        """Full recompute → atomic overwrite of index then view, each
        carrying its watermark in the same commit. The initial build and
        the retention-outran-the-view self-heal."""
        lv = self.left.current_version() if lv is None else lv
        rv = self.right.current_version() if rv is None else rv
        lrows = self.left.read(lv)
        self.index.overwrite(
            lrows.filter(~any_null(self.on)).select(*self.idx_cols),
            op_note=f"refresh:{lv}",
        )
        r, cond = self._right_renamed(self.right.read(rv))
        full = lrows.join(r, cond, self.how)
        out = [F.col(f.name) for f in self.left.schema.fields] + [
            F.col(self.right_prefix + c) for c in self.rpayload
        ]
        snap = self.table.overwrite(
            full.select(*out), op_note=f"refresh:{lv}.{rv}"
        )
        return {"refreshed_through": (lv, rv), "rebuilt": True,
                "rows_upserted": snap.total_rows, "rows_deleted": 0}

    # ----------------------------------------------------------------- read
    def read(self) -> DataFrame:
        return self.table.read()
