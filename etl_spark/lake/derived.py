"""Incrementally-maintained derived tables (materialized views) over a
LakeTable's change feed.

The reference pipes every destination through a full re-extract
(/root/reference/etl.go:355-424 re-runs the whole source each run); at
10^10 rows a downstream aggregate or filtered projection cannot be
recomputed per refresh. The scale shape is INCREMENTAL VIEW MAINTENANCE
driven by the change-data feed:

  refresh = table_changes(last_applied, current)  ->  delta
            -> new absolute state for ONLY the affected groups/keys
            -> MERGE into the view's own LakeTable

Three maintenance strategies, picked per view:

  delta    count/sum/avg are self-maintainable from retractions alone
           (Gupta & Mumick, "Maintenance of Materialized Views"): the
           change feed is read with pre-images, every row gets weight
           +1 (insert/update_postimage) or -1 (delete/update_preimage),
           and per-group running (count, decimal-sum) state is adjusted.
           NO source rescan at all — cost is O(changed rows).
  rescan   min/max (and arbitrary Spark aggregate expressions) are not
           self-maintainable under retraction; the affected GROUPS are
           recomputed from the current source with a broadcast semi-join
           prune — cost is O(changed groups' rows), never a full scan.
  row      stateless row-level transforms (filter + projection + derived
           columns): post-images flow through the transform and MERGE;
           rows the transform drops (an update can move a row out of the
           view) and source deletes become view deletes.

Exactly-once: every refresh commits its data and its applied-through
source version in ONE atomic snapshot (``merge(op_note="refresh:<v>")``)
— the watermark cannot run ahead of or behind the data, so a crash
anywhere just re-runs the same delta against unchanged state. A refresh
that produces zero changes advances the watermark with a metadata-only
``tag`` commit.

Plan shape at scale (asserted in tests/test_plans_physical.py):
  - the change feed is a co-partitioned full-outer join of two snapshots
    of the SAME bucketed table;
  - the view-side combine touches only affected groups: the view scan is
    pruned by a size-guarded broadcast left-semi join on the delta's
    group keys (map-side, no view-side shuffle), and the delta<-state
    join shuffles only delta-sized data;
  - the view MERGE rewrites only the buckets the affected groups hash to.
"""

from __future__ import annotations

import json
import os
import re
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake.table import LakeTable

_REFRESH_RE = re.compile(r"^(?:merge:|overwrite:)?refresh:(\d+)$")

# maintenance-only window detection is shared with the change-feed
# exporter — one definition of "provably empty diff" (lake.table),
# and the retraction-weight / watermark-scan helpers are shared with
# the fingerprint sync views for the same single-definition reason
from etl_spark.lake.table import maintenance_only as _maintenance_only  # noqa: E402
from etl_spark.lake.table import last_note_match as _last_note_match  # noqa: E402
from etl_spark.lake.table import any_null, retraction_weight  # noqa: E402
from etl_spark.lake.table import SchemaEvolutionError, _widen  # noqa: E402

# decimal accumulator for float sums: exact addition makes the
# incremental (batch-at-a-time) total bit-identical to a one-shot
# aggregate, regardless of grouping/order — same discipline as the
# oracle-checked DECIMAL routing in queries.py
_ACC = T.DecimalType(28, 6)
_CAST = T.DecimalType(18, 6)

_DELTA_KINDS = {"count", "sum", "avg"}
_KINDS = _DELTA_KINDS | {"min", "max", "expr"}


# retraction weight of a pre-image change-feed row — single definition
# in lake.table next to the label producer
_w = retraction_weight


def _guard_null_groups(hist: list, gb: list[str]) -> None:
    """Refuse incremental maintenance of a NULL group key. SQL GROUP BY
    forms a NULL group, but every join the refresh relies on (delta ->
    state prune, rescan semi/anti, and the merge's survivors anti-join
    keyed on the group columns) is NULL-UNSAFE: the stored NULL-group
    row never matches, so a touched NULL group would silently reset /
    duplicate its state row. An UNTOUCHED NULL group survives every
    refresh correctly, so the guard fires exactly when the window
    touches one — folded into the histogram action the refresh already
    pays, zero extra jobs. ``rebuild()`` (one-shot overwrite) handles
    NULL groups exactly; or coalesce NULLs upstream."""
    if any(r["__nullkey"] for r in hist):
        raise ValueError(
            f"refresh window touches a NULL value in group-by {gb}: "
            "incremental maintenance merges on the group key, which is "
            "NULL-unsafe. rebuild() this view (exact for NULL groups) "
            "or coalesce the NULL upstream (e.g. a sentinel category)."
        )


class IncrementalAggView:
    """Grouped-aggregate materialized view over a source LakeTable,
    maintained incrementally from its change feed.

    ``aggs`` maps output column -> (kind, expr) where kind is one of
    ``count | sum | avg | min | max | expr`` and expr is a SQL expression
    over source columns ("*" for count-rows; for kind="expr" the full
    aggregate expression, rescan-only). ``strategy`` is ``"auto"``
    (delta when every kind is count/sum/avg, else rescan), ``"delta"``
    or ``"rescan"``.

    Exposed schema (``read()``): group columns + one column per agg —
    count as BIGINT, sum/avg as DOUBLE (cast once from the exact decimal
    state, so both strategies and a full recompute agree bit-exactly),
    min/max/expr in their native types.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        source: LakeTable,
        group_by: Sequence[str],
        aggs: dict[str, tuple[str, str]],
        strategy: str = "auto",
        n_buckets: int = 16,
        broadcast_threshold: int = 1_000_000,
    ) -> None:
        self.spark = spark
        self.path = path
        self.source = source
        self.group_by = list(group_by)
        self.aggs = dict(aggs)
        self.broadcast_threshold = broadcast_threshold
        # test/diagnostic hook: when True, each refresh snapshots the
        # physical plan of its combine frame into ``last_plan`` (planning
        # only — no extra action)
        self.capture_plans = False
        self.last_plan: str | None = None
        for out, (kind, _) in self.aggs.items():
            if kind not in _KINDS:
                raise ValueError(f"unknown agg kind {kind!r} for {out!r}")
        if strategy == "auto":
            strategy = (
                "delta"
                if all(k in _DELTA_KINDS for k, _ in self.aggs.values())
                else "rescan"
            )
        if strategy == "delta" and any(
            k not in _DELTA_KINDS for k, _ in self.aggs.values()
        ):
            raise ValueError(
                "delta maintenance supports only count/sum/avg (min/max "
                "are not self-maintainable under deletes — use rescan)"
            )
        self.strategy = strategy

        src_schema = source.schema
        group_fields = []
        for g in self.group_by:
            if g not in src_schema.fieldNames():
                raise ValueError(f"group column {g!r} not in source schema")
            group_fields.append(T.StructField(g, src_schema[g].dataType, True))
        state_fields = list(group_fields)
        if strategy == "delta":
            state_fields.append(T.StructField("__rows", T.LongType(), True))
            for out, (kind, _) in self.aggs.items():
                if kind == "count":
                    state_fields.append(T.StructField(out, T.LongType(), True))
                else:  # sum / avg share (decimal sum, non-null count) state
                    state_fields.append(T.StructField(f"__s_{out}", _ACC, True))
                    state_fields.append(
                        T.StructField(f"__n_{out}", T.LongType(), True)
                    )
        else:
            # rescan state IS the exposed schema; resolve output types by
            # building the aggregate plan once against an empty source
            probe = (
                source.read().limit(0)
                .groupBy(*self.group_by)
                .agg(*self._rescan_agg_exprs())
            )
            for f in probe.schema.fields:
                if f.name not in self.group_by:
                    state_fields.append(T.StructField(f.name, f.dataType, True))
        self.table = LakeTable.create(
            spark, path, T.StructType(state_fields),
            key=list(self.group_by), n_buckets=n_buckets, if_not_exists=True,
        )
        stored = [f.name for f in self.table.schema.fields]
        wanted = [f.name for f in state_fields]
        if stored != wanted:
            raise ValueError(
                f"view at {path} was materialized with a different "
                f"definition (state columns {stored} != {wanted}); "
                "point the new definition at a fresh path"
            )
        # definition pin: the state-column check above cannot see an agg
        # EXPRESSION change under the same output name (sum(v) ->
        # sum(v*2)), which would silently combine old state with
        # new-definition deltas. `aggs` is pure data, so persist the full
        # definition next to the view and refuse a mismatched reopen
        # loudly. (Absent file = a view from before this pin: adopt the
        # current definition.) The row view's transform is an opaque
        # callable — its guard stays schema-shaped by necessity.
        defn = {
            "group_by": self.group_by,
            "aggs": {k: list(v) for k, v in self.aggs.items()},
            "strategy": self.strategy,
        }
        def_file = os.path.join(os.path.abspath(path), "_view_def.json")
        if os.path.exists(def_file):
            with open(def_file) as fh:
                stored_def = json.load(fh)
            if stored_def != defn:
                raise ValueError(
                    f"view at {path} was materialized with a different "
                    f"definition ({stored_def} != {defn}); rebuild() after "
                    "deleting the view dir, or point the new definition "
                    "at a fresh path"
                )
        else:
            tmp = def_file + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(defn, fh)
            os.replace(tmp, def_file)

    # ------------------------------------------------------------- helpers
    def _rescan_agg_exprs(self) -> list:
        exprs = []
        for out, (kind, e) in self.aggs.items():
            if kind == "count":
                c = F.count(F.lit(1)) if e == "*" else F.count(F.expr(e))
            elif kind == "sum":
                c = F.sum(F.expr(e).cast(_CAST)).cast(_ACC).cast("double")
            elif kind == "avg":
                c = (
                    F.sum(F.expr(e).cast(_CAST)).cast(_ACC).cast("double")
                    / F.count(F.expr(e))
                )
            elif kind == "min":
                c = F.min(F.expr(e))
            elif kind == "max":
                c = F.max(F.expr(e))
            else:  # raw aggregate expression
                c = F.expr(e)
            exprs.append(c.alias(out))
        return exprs

    def last_applied(self) -> int | None:
        """Source version this view has applied through — read from the
        view's own commit history (newest first), so it is exactly as
        durable as the data it describes."""
        m = _last_note_match(self.table, _REFRESH_RE)
        return int(m.group(1)) if m else None

    def _broadcast_if_small(self, df: DataFrame, n: int) -> DataFrame:
        return F.broadcast(df) if n <= self.broadcast_threshold else df

    # ------------------------------------------------------------- refresh
    def refresh(self) -> dict:
        cur = self.source.current_version()
        if cur is None:
            raise FileNotFoundError("source table has no snapshots")
        last = self.last_applied()
        if last is not None and last >= cur:
            return {"refreshed_through": last, "groups_updated": 0,
                    "groups_deleted": 0, "no_op": True}
        if last is not None and _maintenance_only(self.source, last, cur):
            self.table.tag(f"refresh:{cur}")
            return {"refreshed_through": cur, "groups_updated": 0,
                    "groups_deleted": 0, "no_op": False,
                    "maintenance_only": True}
        try:
            if self.strategy == "delta":
                stats = self._refresh_delta(last, cur)
            else:
                stats = self._refresh_rescan(last, cur)
        except FileNotFoundError:
            # the source expired the snapshot this view last applied
            # (view lagged past the retention horizon) — an incremental
            # diff is impossible, so self-heal with one bounded rebuild
            stats = self.rebuild(cur)
        stats["refreshed_through"] = cur
        stats["no_op"] = False
        return stats

    def rebuild(self, version: int | None = None) -> dict:
        """Full recompute -> atomic overwrite of the view state, recording
        the applied-through version in the SAME commit. The recovery path
        when the source's snapshot retention outran this view's refresh
        cadence; also usable to (re)materialize after a definition
        change."""
        cur = self.source.current_version() if version is None else version
        src = self.source.read(cur)
        if self.strategy == "delta":
            exprs = [F.count(F.lit(1)).alias("__rows")]
            for out, (kind, e) in self.aggs.items():
                if kind == "count":
                    c = F.count(F.lit(1)) if e == "*" else F.count(F.expr(e))
                    exprs.append(c.alias(out))
                else:
                    x = F.expr(e).cast(_CAST)
                    exprs.append(F.sum(x).cast(_ACC).alias(f"__s_{out}"))
                    exprs.append(F.count(F.expr(e)).alias(f"__n_{out}"))
        else:
            exprs = self._rescan_agg_exprs()
        state = src.groupBy(*self.group_by).agg(*exprs)
        snap = self.table.overwrite(state, op_note=f"refresh:{cur}")
        return {"groups_updated": snap.total_rows, "groups_deleted": 0,
                "rebuilt": True}

    def _changes(self, last: int | None, cur: int) -> DataFrame:
        if last is None:
            # initial build: the whole source is one insert batch
            return self.source.read(cur).withColumn(
                "_change_type", F.lit("insert")
            )
        return self.source.table_changes(last, cur, pre_images=True)

    def _commit_merge(
        self, src: DataFrame, cur: int,
        per_bucket: dict[int, int] | None = None,
        source_keys: DataFrame | None = None,
    ) -> dict:
        snap, mstats = self.table.merge(
            src, op_col="__op", op_note=f"refresh:{cur}",
            per_bucket=per_bucket, source_keys=source_keys,
        )
        if snap is None:  # zero delta — advance the watermark alone
            self.table.tag(f"refresh:{cur}")
            return {"groups_updated": 0, "groups_deleted": 0}
        return {
            "groups_updated": mstats["rows_upserted"],
            "groups_deleted": mstats["rows_deleted"],
        }

    def _refresh_delta(self, last: int | None, cur: int) -> dict:
        gb = self.group_by
        ch = self._changes(last, cur)
        w = _w()
        agg_exprs = [F.sum(w).cast("long").alias("__d_rows")]
        for out, (kind, e) in self.aggs.items():
            if kind == "count":
                contrib = (
                    w if e == "*"
                    else F.when(F.expr(e).isNotNull(), w).otherwise(F.lit(0))
                )
                agg_exprs.append(F.sum(contrib).cast("long").alias(f"__d_{out}"))
            else:
                x = F.expr(e).cast(_CAST)
                agg_exprs.append(
                    F.sum(
                        F.when(x.isNotNull(), w.cast(_CAST) * x)
                        .otherwise(F.lit(0).cast(_CAST))
                    ).cast(_ACC).alias(f"__ds_{out}")
                )
                agg_exprs.append(
                    F.sum(F.when(x.isNotNull(), w).otherwise(F.lit(0)))
                    .cast("long").alias(f"__dn_{out}")
                )
        delta = ch.groupBy(*gb).agg(*agg_exprs).persist()
        try:
            # ONE action sizes the broadcast guard AND pre-counts the
            # merge's affected view buckets (delta rows map 1:1 to merge
            # source rows), so the merge itself runs exactly one job —
            # the write. Driver actions are the refresh's serial floor,
            # same discipline as apply_batch.
            bexpr = self.table._bucket_expr(
                self.table.snapshot(buckets=set())  # header-only
            )
            hist = (
                delta.groupBy(bexpr.alias("__b"))
                .agg(
                    F.count(F.lit(1)).alias("__n"),
                    F.max(any_null(gb)).alias("__nullkey"),
                )
                .collect()
            )
            _guard_null_groups(hist, gb)
            per_bucket = {r["__b"]: r["__n"] for r in hist}
            n_groups = sum(per_bucket.values())
            if n_groups == 0:
                self.table.tag(f"refresh:{cur}")
                return {"groups_updated": 0, "groups_deleted": 0}
            # bucket-AND-key-pruned view read: only the affected buckets'
            # FILES become input splits (per_bucket is already the merge's
            # affected set), and within them a broadcast left-semi join
            # keeps only affected groups — refresh cost stays O(delta),
            # independent of total view size
            state = self.table.read_for_key_frame(
                delta.select(*gb),
                buckets=set(per_bucket),
                broadcast=n_groups <= self.broadcast_threshold,
            )
            # after the prune the state side is <= n_groups rows — ship it
            # broadcast too, so the combine never shuffles either side
            j = delta.join(
                self._broadcast_if_small(state, n_groups), on=gb, how="left"
            )
            z = F.lit(0)
            cols = [
                (F.coalesce(F.col("__rows"), z.cast("long"))
                 + F.col("__d_rows")).alias("__rows")
            ]
            for out, (kind, _) in self.aggs.items():
                if kind == "count":
                    cols.append(
                        (F.coalesce(F.col(out), z.cast("long"))
                         + F.col(f"__d_{out}")).alias(out)
                    )
                else:
                    cols.append(
                        (F.coalesce(F.col(f"__s_{out}"), z.cast(_ACC))
                         + F.col(f"__ds_{out}")).cast(_ACC).alias(f"__s_{out}")
                    )
                    cols.append(
                        (F.coalesce(F.col(f"__n_{out}"), z.cast("long"))
                         + F.col(f"__dn_{out}")).alias(f"__n_{out}")
                    )
            merged = j.select(
                *gb, *cols,
                F.when(
                    F.coalesce(F.col("__rows"), z.cast("long"))
                    + F.col("__d_rows") <= 0,
                    F.lit("D"),
                ).otherwise(F.lit("U")).alias("__op"),
            )
            if self.capture_plans:
                self.last_plan = (
                    merged._jdf.queryExecution().executedPlan().toString()
                )
            # source_keys from the PERSISTED delta: merge otherwise
            # re-derives the key set from `merged`, re-evaluating the
            # state-prune join subtree inside the write job
            return self._commit_merge(
                merged, cur, per_bucket=per_bucket,
                source_keys=delta.select(*gb),
            )
        finally:
            delta.unpersist()

    def _refresh_rescan(self, last: int | None, cur: int) -> dict:
        gb = self.group_by
        ch = self._changes(last, cur)
        affected = ch.select(*gb).distinct().persist()
        try:
            # fresh ∪ gone partitions the affected key set exactly, so the
            # affected per-bucket counts double as the merge's per_bucket
            # accounting — one driver action, then the write job
            bexpr = self.table._bucket_expr(
                self.table.snapshot(buckets=set())  # header-only
            )
            hist = (
                affected.groupBy(bexpr.alias("__b"))
                .agg(
                    F.count(F.lit(1)).alias("__n"),
                    F.max(any_null(gb)).alias("__nullkey"),
                )
                .collect()
            )
            _guard_null_groups(hist, gb)
            per_bucket = {r["__b"]: r["__n"] for r in hist}
            n_groups = sum(per_bucket.values())
            if n_groups == 0:
                self.table.tag(f"refresh:{cur}")
                return {"groups_updated": 0, "groups_deleted": 0}
            keys = self._broadcast_if_small(affected, n_groups)
            # persist: `fresh` (the affected-group rescan aggregation) is
            # referenced by BOTH union branches and would otherwise run
            # the semi-join+aggregate subtree twice inside the write job
            # (the inlined-subtree rule from CLAUDE.md)
            fresh = (
                self.source.read(cur)
                .join(keys, on=gb, how="left_semi")
                .groupBy(*gb)
                .agg(*self._rescan_agg_exprs())
            ).persist()
            try:
                gone = affected.join(
                    fresh.select(*gb), on=gb, how="left_anti"
                ).select(
                    *gb,
                    *[
                        F.lit(None).cast(f.dataType).alias(f.name)
                        for f in self.table.schema.fields
                        if f.name not in gb
                    ],
                )
                src = (
                    fresh.withColumn("__op", F.lit("U"))
                    .unionByName(gone.withColumn("__op", F.lit("D")))
                )
                if self.capture_plans:
                    self.last_plan = (
                        src._jdf.queryExecution().executedPlan().toString()
                    )
                # fresh ∪ gone keys == affected exactly (persisted)
                return self._commit_merge(
                    src, cur, per_bucket=per_bucket, source_keys=affected
                )
            finally:
                fresh.unpersist()
        finally:
            affected.unpersist()

    # ---------------------------------------------------------------- read
    def read(self) -> DataFrame:
        """The view's exposed state (group columns + aggregate values)."""
        df = self.table.read()
        if self.strategy != "delta":
            return df
        cols = [F.col(g) for g in self.group_by]
        for out, (kind, _) in self.aggs.items():
            if kind == "count":
                cols.append(F.col(out))
            elif kind == "sum":
                cols.append(
                    F.when(
                        F.col(f"__n_{out}") > 0,
                        F.col(f"__s_{out}").cast("double"),
                    ).alias(out)
                )
            else:  # avg
                cols.append(
                    F.when(
                        F.col(f"__n_{out}") > 0,
                        F.col(f"__s_{out}").cast("double")
                        / F.col(f"__n_{out}"),
                    ).alias(out)
                )
        return df.select(*cols)


class IncrementalRowView:
    """Row-level materialized view: a stateless transform (filter +
    projection + derived columns) over a source LakeTable, maintained
    from the change feed. ``transform`` must keep the source's key
    columns and emit at most one row per key (it may drop rows — a
    dropped post-image becomes a view delete, so an update can move a
    row out of the view and back in)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        source: LakeTable,
        transform: Callable[[DataFrame], DataFrame],
        n_buckets: int = 16,
    ) -> None:
        self.spark = spark
        self.source = source
        self.transform = transform
        out_schema = transform(source.read().limit(0)).schema
        missing = [k for k in source.key if k not in out_schema.fieldNames()]
        if missing:
            raise ValueError(
                f"transform must preserve the source key columns {missing}"
            )
        self.table = LakeTable.create(
            spark, path, out_schema, key=list(source.key),
            n_buckets=n_buckets, if_not_exists=True,
        )
        # same redefinition guard as the agg view: create(if_not_exists)
        # returns an existing table without comparing schemas, and a
        # refresh under a changed transform would silently merge
        # new-definition rows into old-definition state. Legitimate
        # SOURCE evolution must still reopen: new output columns are
        # allowed (refresh evolves the view schema through the merge)
        # and a stored column may have been widened upstream — so the
        # check is "every stored column exists in the new output with an
        # equal or legally-widened type", not name-list equality.
        wanted_by_name = {f.name: f for f in out_schema.fields}
        for f in self.table.schema.fields:
            w = wanted_by_name.get(f.name)
            compatible = False
            if w is not None:
                try:
                    compatible = _widen(f.dataType, w.dataType) == w.dataType
                except SchemaEvolutionError:
                    compatible = False
            if not compatible:
                have = f"{f.name}:{f.dataType.simpleString()}"
                got = "absent" if w is None else w.dataType.simpleString()
                raise ValueError(
                    f"view at {path} was materialized with a different "
                    f"transform (stored column {have} is {got} in the new "
                    "output); point the new definition at a fresh path"
                )

    def last_applied(self) -> int | None:
        m = _last_note_match(self.table, _REFRESH_RE)
        return int(m.group(1)) if m else None

    def refresh(self) -> dict:
        cur = self.source.current_version()
        if cur is None:
            raise FileNotFoundError("source table has no snapshots")
        last = self.last_applied()
        if last is not None and last >= cur:
            return {"refreshed_through": last, "rows_upserted": 0,
                    "rows_deleted": 0, "no_op": True}
        if last is not None and _maintenance_only(self.source, last, cur):
            self.table.tag(f"refresh:{cur}")
            return {"refreshed_through": cur, "rows_upserted": 0,
                    "rows_deleted": 0, "no_op": False,
                    "maintenance_only": True}
        key = self.source.key
        persisted: DataFrame | None = None
        if last is None:
            ups_in = self.source.read(cur)
            del_keys = ups_in.select(*key).limit(0)
        else:
            try:
                ch = self.source.table_changes(last, cur)
                ch.schema  # force plan resolution against both snapshots
            except FileNotFoundError:
                # last-applied snapshot expired upstream: self-heal with a
                # bounded full rebuild (atomic overwrite + watermark)
                snap = self.table.overwrite(
                    self.transform(self.source.read(cur)),
                    op_note=f"refresh:{cur}",
                )
                return {"refreshed_through": cur,
                        "rows_upserted": snap.total_rows,
                        "rows_deleted": 0, "no_op": False, "rebuilt": True}
            # persist: the changes full-outer-join subtree is referenced
            # by t, dropped AND del_keys — uncached it re-evaluates per
            # reference inside the one merge write job (CLAUDE.md's
            # inlined-subtree rule); the window is O(changed rows)
            persisted = ch.persist()
            del_keys = persisted.filter(
                F.col("_change_type") == "delete"
            ).select(*key)
            ups_in = persisted.filter(
                F.col("_change_type") != "delete"
            ).drop("_change_type")
        t = self.transform(ups_in)
        dropped = ups_in.select(*key).join(
            t.select(*key), on=key, how="left_anti"
        )
        null_payload = [
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in self.table.schema.fields
            if f.name not in key
        ]
        dels = (
            del_keys.unionByName(dropped)
            .distinct()
            .select(*key, *null_payload)
            .withColumn("__op", F.lit("D"))
        )
        # allowMissingColumns: mid-stream source evolution can give the
        # transform output columns the view table (and thus the D-rows'
        # null payload) doesn't know yet — they ride as NULL on deletes
        # and evolve the view schema through the merge
        src = t.withColumn("__op", F.lit("U")).unionByName(
            dels, allowMissingColumns=True
        )
        try:
            snap, mstats = self.table.merge(
                src, op_col="__op", op_note=f"refresh:{cur}",
                source_keys=(
                    persisted.select(*key) if persisted is not None else None
                ),
            )
        finally:
            if persisted is not None:
                persisted.unpersist()
        if snap is None:
            self.table.tag(f"refresh:{cur}")
            return {"refreshed_through": cur, "rows_upserted": 0,
                    "rows_deleted": 0, "no_op": False}
        return {
            "refreshed_through": cur,
            "rows_upserted": mstats["rows_upserted"],
            "rows_deleted": mstats["rows_deleted"],
            "no_op": False,
        }

    def read(self) -> DataFrame:
        return self.table.read()
