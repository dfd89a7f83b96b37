"""Structured Streaming tail: end-to-end replay, resume, exactly-once,
schema evolution across restart."""

from __future__ import annotations

import os

import pytest

import pandas as pd

from etl_spark.cdc import ChangelogSpec, generate_changelog, write_changelog
from etl_spark.cdc.changelog import TRANSCRIPTS_SCHEMA, expected_final_state
from etl_spark.functions.text import normalize_transcripts_expr
from etl_spark.lake import LakeTable
from etl_spark.streaming import CdcStream

SPEC = ChangelogSpec(
    n_conversations=50, max_turns=5, churn=1.5, n_partitions=3,
    segments_per_partition=3,
)


def make_target(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "transcripts"), TRANSCRIPTS_SCHEMA,
        key=["conv_id", "turn_idx"], n_buckets=8, bucket_by=["conv_id"],
    )


def assert_converged(table, pdf):
    got = (
        table.read().orderBy("conv_id", "turn_idx").toPandas()
        [["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
        .reset_index(drop=True)
    )
    exp = expected_final_state(pdf).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_stream_full_replay_converges(spark, tmp_path):
    pdf = generate_changelog(SPEC)
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, SPEC)
    table = make_target(spark, tmp_path)
    stream = CdcStream(
        spark, wal, table, str(tmp_path / "state"), max_files_per_trigger=2
    )
    stats = stream.run_to_completion()
    assert len(stats) >= 2  # rate limit forced multiple micro-batches
    assert_converged(table, pdf)
    # rows_applied is the POST-dedup distinct-key count per batch — never
    # the raw event count (churn guarantees in-batch duplicates), and
    # never more than the events that came in
    applied = [s["rows_applied"] for s in stats if not s.get("skipped")]
    rows_in = [s["rows_in"] for s in stats if not s.get("skipped")]
    assert all(0 < a <= r for a, r in zip(applied, rows_in))
    assert sum(applied) < sum(rows_in)  # dedup collapsed something
    assert all(
        s["rows_applied"] == s["rows_upserted"] + s["rows_deleted"]
        for s in stats if not s.get("skipped")
    )
    # metrics carry per-partition lineage
    m = stream.metrics.to_df(spark).toPandas()
    assert set(m["source_partition"]) == set(range(SPEC.n_partitions))
    assert m["rows_in"].sum() == len(pdf)
    # watermarks = max lsn per partition
    wm = stream.watermarks.get_all()
    exp_wm = pdf.groupby("source_partition")["lsn"].max().to_dict()
    assert wm == {int(k): int(v) for k, v in exp_wm.items()}


# SPEC writes ~22-row segments: 45 rows is ~2 segments per trigger
@pytest.mark.parametrize("adaptive_trigger_rows", [None, 45])
def test_stream_resume_after_new_segments(
    spark, tmp_path, adaptive_trigger_rows
):
    """Tail phase-1 WAL; later phase-2 segments (which introduce the `tool`
    column = schema evolution) arrive; a restarted stream applies only the
    new data and converges. Mirrors the reference's resume-from-checkpoint
    (/root/reference/v2/etl.go:67-74). With a row-sized trigger the
    restart re-sizes it over the WAL as it is then, and the new files
    replay in ceil(new files / files-per-trigger) batches."""
    from etl_spark.streaming.stream import adaptive_files_per_trigger

    # floor 1 so the row target, not the static floor, sizes the trigger
    kw = (
        {} if adaptive_trigger_rows is None
        else {"adaptive_trigger_rows": adaptive_trigger_rows,
              "max_files_per_trigger": 1}
    )
    pdf = generate_changelog(SPEC)
    cut = int(len(pdf) * SPEC.evolution_cutover)
    early = pdf[pdf["_seq"] < cut]
    wal = str(tmp_path / "wal")

    spec_early = ChangelogSpec(**{**SPEC.__dict__, "evolution_cutover": 1.0})
    write_changelog(early, wal, spec_early)
    table = make_target(spark, tmp_path)
    state = str(tmp_path / "state")
    s1 = CdcStream(spark, wal, table, state, **kw)
    s1.run_to_completion()
    assert_converged(table, early)
    batches_phase1 = len(s1.batch_stats)

    # phase 2: late segments land (with `tool`); new stream instance resumes
    late = pdf[pdf["_seq"] >= cut]
    write_changelog(late, str(tmp_path / "wal2"), SPEC)
    # move phase-2 files into the same WAL under distinct names
    import shutil

    new_files = 0
    for root, _d, names in os.walk(str(tmp_path / "wal2")):
        for n in names:
            rel = os.path.relpath(root, str(tmp_path / "wal2"))
            dst = os.path.join(wal, rel)
            os.makedirs(dst, exist_ok=True)
            shutil.move(os.path.join(root, n), os.path.join(dst, "late-" + n))
            new_files += n.endswith(".parquet")

    s2 = CdcStream(spark, wal, table, state, **kw)
    s2.run_to_completion()
    assert len(s2.batch_stats) > 0
    done = [s for s in s2.batch_stats if not s.get("skipped")]
    applied = sum(s["rows_in"] for s in done)
    assert applied == len(late)  # phase-1 data not reprocessed
    if adaptive_trigger_rows is not None:
        per_trigger = adaptive_files_per_trigger(
            wal, adaptive_trigger_rows, floor=1
        )
        assert per_trigger > 1
        assert len(done) == -(-new_files // per_trigger)
    assert_converged(table, pdf)  # includes evolved `tool` column


def test_stream_crash_replay_is_noop(spark, tmp_path):
    """Simulate the crash window between MERGE and streaming checkpoint:
    re-running an already-committed batch id must change nothing."""
    pdf = generate_changelog(SPEC)
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, SPEC)
    table = make_target(spark, tmp_path)
    stream = CdcStream(spark, wal, table, str(tmp_path / "state"))
    stream.run_to_completion()
    v = table.current_version()

    # adversarial replay of batch 0 with the full frame
    from etl_spark.cdc import CHANGELOG_SCHEMA

    sdf = spark.createDataFrame(pdf.drop(columns=["_seq"]), CHANGELOG_SCHEMA)
    stream._apply(sdf, 0)
    assert stream.batch_stats[-1]["skipped"]
    assert table.current_version() == v
    assert_converged(table, pdf)

    # even an UNSEEN batch id replaying old events is filtered by watermarks
    stream._apply(sdf, 10_000)
    s = stream.batch_stats[-1]
    assert not s["skipped"] and s["rows_in"] == 0
    assert_converged(table, pdf)


def test_stream_with_normalization_transform(spark, tmp_path):
    pdf = generate_changelog(SPEC)
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, SPEC)
    table = make_target(spark, tmp_path)
    stream = CdcStream(
        spark, wal, table, str(tmp_path / "state"),
        transform=normalize_transcripts_expr,
    )
    stream.run_to_completion()
    # oracle with the same normalization applied in pandas
    exp_src = pdf.copy()
    mask = exp_src["text"].notna()
    exp_src.loc[mask, "text"] = (
        exp_src.loc[mask, "text"].str.replace(r"\s+", " ", regex=True).str.strip()
    )
    assert_converged(table, exp_src)
    # normalized: no leading/trailing/double spaces anywhere
    txt = table.read().toPandas()["text"].dropna()
    assert not txt.str.contains("  ").any()
    assert (txt == txt.str.strip()).all()


def test_normalize_pandas_equals_expr(spark):
    """The Arrow mapInPandas normalization must agree exactly with the
    expression version on generated changelog payloads (incl. nulls on
    deletes, exotic whitespace, role aliases)."""
    from etl_spark.cdc import CHANGELOG_SCHEMA
    from etl_spark.functions.text import (
        normalize_transcripts_expr,
        normalize_transcripts_pandas,
    )

    pdf = generate_changelog(SPEC)
    sdf = spark.createDataFrame(pdf.drop(columns=["_seq"]), CHANGELOG_SCHEMA)
    cols = ["conv_id", "turn_idx", "lsn", "source_partition", "role", "text"]
    a = (
        normalize_transcripts_expr(sdf).select(cols)
        .orderBy("source_partition", "lsn").toPandas()
    )
    b = (
        normalize_transcripts_pandas(sdf).select(cols)
        .orderBy("source_partition", "lsn").toPandas()
    )
    pd.testing.assert_frame_equal(a, b)


def test_post_stage_transform_equals_pre(spark, tmp_path):
    """transform_stage='post' (normalize after LWW dedup) must converge to
    the same table state as the default pre-dedup stage — the transform is
    row-wise, so only the amount of regex work differs."""
    pdf = generate_changelog(SPEC)
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, SPEC)
    results = {}
    for stage in ("pre", "post"):
        table = LakeTable.create(
            spark, str(tmp_path / f"t_{stage}"), TRANSCRIPTS_SCHEMA,
            key=["conv_id", "turn_idx"], n_buckets=8, bucket_by=["conv_id"],
        )
        CdcStream(
            spark, wal, table, str(tmp_path / f"state_{stage}"),
            transform=normalize_transcripts_expr, transform_stage=stage,
            max_files_per_trigger=2,
        ).run_to_completion()
        results[stage] = (
            table.read().orderBy("conv_id", "turn_idx").toPandas()
            .reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(results["pre"], results["post"])


def test_extreme_hot_conversation_skew_converges(spark, tmp_path):
    """Degenerate Zipf skew (one conversation absorbs most churn) with the
    salted two-level dedup: converged state still equals the oracle and
    per-batch applied counts stay consistent."""
    spec = ChangelogSpec(
        n_conversations=30, max_turns=4, churn=6.0, skew=3.0,
        n_partitions=2, segments_per_partition=3,
    )
    pdf = generate_changelog(spec)
    # sanity: the skew knob really concentrates churn
    top = pdf["conv_id"].value_counts()
    assert top.iloc[0] > 5 * top.iloc[-1]
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, spec)
    table = make_target(spark, tmp_path)
    stream = CdcStream(
        spark, wal, table, str(tmp_path / "state"),
        salted_dedup=True, max_files_per_trigger=2,
    )
    stats = stream.run_to_completion()
    assert_converged(table, pdf)
    for s in stats:
        if not s.get("skipped"):
            assert s["rows_applied"] == s["rows_upserted"] + s["rows_deleted"]


def test_stream_integrated_near_dup_index(spark, tmp_path):
    """Ingest-time near-dup detection riding the CDC stream: transcripts
    with duplicated texts across different conversations must surface as
    candidate pairs in state_dir/dedup/pairs, with the keys mapping
    resolving internal doc ids back to (conv_id, turn_idx); a full replay
    against the same state (fresh checkpoint, same commit log) must not
    grow the index or duplicate pairs (exactly-once)."""
    import pyarrow.parquet as pq

    from etl_spark.operators.incremental_dedup import MinHashIndex

    pdf = generate_changelog(SPEC)
    # plant cross-conversation duplicate texts on two early keys so they
    # land in different micro-batches (files split by partition/segment)
    dup_text = "an unmistakably duplicated transcript body " * 3
    # overwrite EVERY event of the two keys (churn updates included), so
    # whichever event wins LWW carries the planted text; deletes keep null
    mask_a = (
        (pdf["conv_id"] == "conv000001") & (pdf["turn_idx"] == 0)
        & pdf["text"].notna()
    )
    mask_b = (
        (pdf["conv_id"] == "conv000030") & (pdf["turn_idx"] == 0)
        & pdf["text"].notna()
    )
    assert mask_a.any() and mask_b.any()
    # and make sure neither key's final state is a delete
    for conv, mask, text in (
        ("conv000001", mask_a, dup_text),
        ("conv000030", mask_b, dup_text + " tail"),
    ):
        key_mask = (pdf["conv_id"] == conv) & (pdf["turn_idx"] == 0)
        pdf.loc[key_mask & (pdf["op"] == "D"), "op"] = "U"
        pdf.loc[key_mask, "text"] = text
        pdf.loc[key_mask, "role"] = "user"
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, SPEC)
    table = make_target(spark, tmp_path)
    state = str(tmp_path / "state")
    stream = CdcStream(
        spark, wal, table, state,
        max_files_per_trigger=2, dedup_index=True,
    )
    stats = stream.run_to_completion()
    assert_converged(table, pdf)  # the dedup stage never perturbs the table
    assert len(stats) >= 2
    pairs = spark.read.parquet(os.path.join(state, "dedup", "pairs")).toPandas()
    keys = spark.read.parquet(os.path.join(state, "dedup", "keys")).toPandas()
    # a key updated in several batches appears in several keys/batch=N
    # files under the SAME doc id — collapse before resolving
    ids = (
        keys.drop_duplicates("__doc_id")
        .set_index("__doc_id")[["conv_id", "turn_idx"]]
    )
    resolved = {
        (
            tuple(ids.loc[r["new_id"]]),
            tuple(ids.loc[r["match_id"]]),
        )
        for _, r in pairs.iterrows()
    }
    flat = {frozenset(p) for p in resolved}
    assert frozenset({("conv000001", 0), ("conv000030", 0)}) in flat

    index_rows = MinHashIndex(spark, os.path.join(state, "dedup", "index")).table.row_count()
    # exactly one band-row set per distinct surviving key that carried text
    # replay with a FRESH streaming checkpoint but the same commit log /
    # index: every batch re-enters _apply, table apply + dedup stage both
    # short-circuit — index unchanged, pairs unchanged
    import shutil

    shutil.rmtree(os.path.join(state, "checkpoint"))
    stream2 = CdcStream(
        spark, wal, table, state,
        max_files_per_trigger=2, dedup_index=True,
    )
    stream2.run_to_completion()
    assert (
        MinHashIndex(spark, os.path.join(state, "dedup", "index")).table.row_count()
        == index_rows
    )
    pairs2 = spark.read.parquet(os.path.join(state, "dedup", "pairs")).toPandas()
    assert len(pairs2) == len(pairs)


def test_stream_integrated_pii_redaction(spark, tmp_path):
    """PII redaction as the CDC payload transform: redacting inside the
    replay (post-dedup stage — row-wise, key-preserving) must equal
    redacting the converged table after the fact. Ties the corpus
    redaction operator into the ingest path the same way normalization
    runs there."""
    from pyspark.sql import functions as F

    from etl_spark.functions.text import redact_pii

    pdf = generate_changelog(SPEC)
    # plant PII in the payloads so the transform has real work
    pdf = pdf.assign(
        text=pdf["text"].astype(str)
        + " reach me at user" + pdf["turn_idx"].astype(str)
        + "@example.com or 10.0.0." + (pdf["turn_idx"] % 256).astype(str)
    )
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, SPEC)

    def redact(df):
        return df.withColumn("text", redact_pii("text"))

    t_in = make_target(spark, tmp_path / "in_stream")
    CdcStream(
        spark, wal, t_in, str(tmp_path / "state_in"),
        transform=redact, transform_stage="post",
    ).run_to_completion()

    t_raw = make_target(spark, tmp_path / "raw")
    CdcStream(spark, wal, t_raw, str(tmp_path / "state_raw")).run_to_completion()

    got = (
        t_in.read().select("conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx").toPandas()
    )
    want = (
        redact(t_raw.read()).select("conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx").toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert got["text"].str.contains(r"\[EMAIL\]").all()
    assert not got["text"].str.contains("@example.com").any()


def _scd2_cols():
    return ["conv_id", "turn_idx", "role", "text", "tool", "ts",
            "valid_from", "valid_to", "is_current", "version"]


def _scd2_ref(spark, wal):
    from etl_spark.operators.temporal import scd2_history

    # mergeSchema: pre-cutover segments lack the `tool` column
    log = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", wal).parquet(wal)
    )
    return (
        scd2_history(log, keys=["conv_id", "turn_idx"], time_col="lsn",
                     payload_cols=["role", "text", "tool"],
                     carry_cols=["ts"], op_col="op")
        .orderBy("conv_id", "turn_idx", "version")
        .toPandas()[_scd2_cols()].reset_index(drop=True)
    )


def _mk_scd2(spark, tmp_path):
    from etl_spark.cdc import CHANGELOG_SCHEMA
    from etl_spark.cdc.scd2 import create_scd2_table

    return create_scd2_table(
        spark, str(tmp_path / "hist"), CHANGELOG_SCHEMA,
        ["conv_id", "turn_idx"], "lsn",
        payload_cols=["role", "text", "tool"], carry_cols=["ts"],
        n_buckets=8,
    )


def test_scd2_stream_history_converges(spark, tmp_path):
    """Streaming SCD2 target: the micro-batched WAL tail must build
    exactly the history the one-shot window computes over the full log —
    every insert/update version, delete-closed edges, reopen numbering,
    with the event ts carried per version on an LSN validity axis."""
    from etl_spark.streaming import Scd2Stream

    pdf = generate_changelog(SPEC)
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, SPEC)
    table = _mk_scd2(spark, tmp_path)
    stream = Scd2Stream(
        spark, wal, table, str(tmp_path / "state"), max_files_per_trigger=2
    )
    stats = stream.run_to_completion()
    live = [s for s in stats if not s.get("skipped")]
    assert len(live) >= 2  # rate limit forced multiple micro-batches
    assert all(s["late_rows"] == 0 for s in live)  # WAL is per-key ordered
    assert sum(s["events_applied"] for s in live) == len(pdf)

    got = (
        table.read().orderBy("conv_id", "turn_idx", "version")
        .toPandas()[_scd2_cols()].reset_index(drop=True)
    )
    ref = _scd2_ref(spark, wal)
    pd.testing.assert_frame_equal(got, ref, check_dtype=False)

    # the current SCD2 rows ARE the LWW final state (deletes absent)
    cur = (
        got[got["is_current"]]
        .sort_values(["conv_id", "turn_idx"])
        [["conv_id", "turn_idx", "role", "text"]]
        .reset_index(drop=True)
    )
    exp = expected_final_state(pdf)[["conv_id", "turn_idx", "role", "text"]]
    pd.testing.assert_frame_equal(cur, exp.reset_index(drop=True),
                                  check_dtype=False)

    # metrics: every batch recorded, applied == events in (no late rows)
    m = stream.metrics.to_df(spark).toPandas()
    assert m["rows_applied"].sum() == len(pdf)


def test_scd2_stream_exactly_once_both_layers(spark, tmp_path):
    """Layer 1: a full re-run against the same state dir skips every
    batch (commit log). Layer 2: the crash window between MERGE and
    marker — replaying a committed batch with its marker REMOVED — is a
    row-wise no-op via the per-key last_seen guard."""
    import shutil

    from etl_spark.cdc import CHANGELOG_SCHEMA
    from etl_spark.streaming import Scd2Stream

    pdf = generate_changelog(SPEC)
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, SPEC)
    table = _mk_scd2(spark, tmp_path)
    state = str(tmp_path / "state")
    Scd2Stream(spark, wal, table, state).run_to_completion()
    v = table.current_version()
    ref = _scd2_ref(spark, wal)

    def current():
        return (
            table.read().orderBy("conv_id", "turn_idx", "version")
            .toPandas()[_scd2_cols()].reset_index(drop=True)
        )

    # layer 1: checkpoint + commit log -> full second run is all skips
    s2 = Scd2Stream(spark, wal, table, state)
    stats2 = s2.run_to_completion()
    assert all(s.get("skipped", True) for s in stats2)
    assert table.current_version() == v
    pd.testing.assert_frame_equal(current(), ref, check_dtype=False)

    # layer 2: drop the commit markers and force-replay the whole log
    # through a fresh stream state (simulates marker loss after MERGE)
    shutil.rmtree(os.path.join(state, "commits"))
    s3 = Scd2Stream(spark, wal, table, str(tmp_path / "state2"))
    stats3 = s3.run_to_completion()
    live = [s for s in stats3 if not s.get("skipped")]
    assert sum(s["late_rows"] for s in live) == len(pdf)  # all guarded
    assert sum(s["events_applied"] for s in live) == 0
    assert table.current_version() == v  # not even an empty commit
    pd.testing.assert_frame_equal(current(), ref, check_dtype=False)


def test_scd2_stream_schema_evolution_on_resume(spark, tmp_path):
    """Stop-evolve-resume for the SCD2 target: phase-1 WAL has no `tool`
    column and the SCD2 table is created without it; phase-2 segments
    introduce it. A restarted stream discovers the superset schema,
    widens the payload, and the table evolves through the next MERGE —
    converging to the one-shot window over the full log."""
    import shutil

    from etl_spark.cdc.changelog import CHANGELOG_SCHEMA_V0
    from etl_spark.cdc.scd2 import create_scd2_table
    from etl_spark.streaming import Scd2Stream

    pdf = generate_changelog(SPEC)
    cut = int(len(pdf) * SPEC.evolution_cutover)
    early = pdf[pdf["_seq"] < cut]
    wal = str(tmp_path / "wal")
    spec_early = ChangelogSpec(**{**SPEC.__dict__, "evolution_cutover": 1.0})
    write_changelog(early, wal, spec_early)

    table = create_scd2_table(
        spark, str(tmp_path / "hist"), CHANGELOG_SCHEMA_V0,
        ["conv_id", "turn_idx"], "lsn",
        payload_cols=["role", "text"], carry_cols=["ts"], n_buckets=8,
    )
    state = str(tmp_path / "state")
    s1 = Scd2Stream(spark, wal, table, state)
    s1.run_to_completion()
    assert s1.payload_cols == ["role", "text"]
    assert "tool" not in table.schema.fieldNames()

    # phase 2: late segments land (with `tool`); new stream resumes
    late = pdf[pdf["_seq"] >= cut]
    write_changelog(late, str(tmp_path / "wal2"), SPEC)
    # pin mtimes ABOVE every phase-1 file, ascending by name:
    # FileStreamSource batches by mtime, so without this a contended
    # host's clock jitter can split/reorder the late files across
    # micro-batches in non-LSN order (observed flake)
    now = __import__("time").time() + 10
    i = 0
    for root, _d, names in sorted(os.walk(str(tmp_path / "wal2"))):
        for n in sorted(names):
            rel = os.path.relpath(root, str(tmp_path / "wal2"))
            dst = os.path.join(wal, rel)
            os.makedirs(dst, exist_ok=True)
            moved = os.path.join(dst, "late-" + n)
            shutil.move(os.path.join(root, n), moved)
            os.utime(moved, (now + i, now + i))
            i += 1

    s2 = Scd2Stream(spark, wal, table, state)
    s2.run_to_completion()
    assert s2.payload_cols == ["role", "text", "tool"]
    assert sum(s["events_applied"] for s in s2.batch_stats
               if not s.get("skipped")) == len(late)  # phase 1 not redone
    assert "tool" in table.schema.fieldNames()  # table evolved

    got = (
        table.read().orderBy("conv_id", "turn_idx", "version")
        .toPandas()[_scd2_cols()].reset_index(drop=True)
    )
    ref = _scd2_ref(spark, wal)  # full log incl. evolved column
    pd.testing.assert_frame_equal(got, ref, check_dtype=False)


def test_stream_guarded_merge_survives_stale_redelivery(spark, tmp_path):
    """Out-of-order sink knob (merge_lww_by): an upstream backfill
    re-emits STALE events under fresh LSNs (so neither the commit log nor
    the per-partition watermark can reject them); the stored-order guard
    must keep the converged state, including not resurrecting keys whose
    latest event was a delete (tombstones)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = generate_changelog(SPEC)
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, SPEC)
    table = make_target(spark, tmp_path)
    state = str(tmp_path / "state")
    CdcStream(
        spark, wal, table, state, merge_lww_by=["ts", "lsn"]
    ).run_to_completion()
    assert_converged(table, pdf)

    # backfill: each key's FIRST event re-delivered 1h older with new LSNs
    stale = (
        pdf.sort_values("_seq").groupby(["conv_id", "turn_idx"]).head(1).copy()
    )
    stale["text"] = "STALE " + stale["text"].fillna("")
    stale["ts"] = stale["ts"] - pd.Timedelta(hours=1)
    base_lsn = int(pdf["lsn"].max()) + 1
    stale["lsn"] = base_lsn + np.arange(len(stale))
    for p, part in stale.groupby("source_partition", sort=True):
        cols = ["op", "lsn", "ts", "conv_id", "turn_idx", "role", "text"]
        t = pa.Table.from_pandas(part[cols], preserve_index=False).cast(
            pa.schema(
                [
                    ("op", pa.string()), ("lsn", pa.int64()),
                    ("ts", pa.timestamp("us")), ("conv_id", pa.string()),
                    ("turn_idx", pa.int32()), ("role", pa.string()),
                    ("text", pa.string()),
                ]
            )
        )
        pq.write_table(
            t, os.path.join(wal, f"source_partition={int(p)}", "seg-99999.parquet")
        )
    stats = CdcStream(
        spark, wal, table, state, merge_lww_by=["ts", "lsn"]
    ).run_to_completion()
    # every redelivered event reached the merge and LOST the guard
    assert sum(s["rows_applied"] for s in stats if not s.get("skipped")) == 0
    assert_converged(table, pdf)
    assert not table.read().filter("text LIKE 'STALE%'").count()


def test_stream_mor_with_backlog_compaction_converges(spark, tmp_path):
    """merge_mode='mor' end to end: every micro-batch commits O(batch)
    delta bytes, the backlog-aware trigger folds the table mid-stream,
    and the converged state equals the oracle."""
    pdf = generate_changelog(SPEC)
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, SPEC)
    table = make_target(spark, tmp_path)
    stream = CdcStream(
        spark, wal, table, str(tmp_path / "state"),
        max_files_per_trigger=2, merge_mode="mor",
        compact_when_delta_rows=1,  # fold after every batch with backlog
        expire_keep_last=2,
    )
    stats = stream.run_to_completion()
    assert len(stats) >= 2
    assert_converged(table, pdf)
    assert any(s.get("delta_backlog_rows", 0) > 0 for s in stats)
    # the trigger folded the final backlog: no delete sources remain and
    # the manifest row sum is the live count again
    snap = table.snapshot()
    assert snap.delete_source_files == []
    assert snap.total_rows == table.row_count()
    # backlog trigger commits a MINOR compaction (op names the bucket set)
    assert any(s.op.startswith("compact") for s in table.history())


def test_stream_mor_without_compaction_converges(spark, tmp_path):
    """Pure mor stream (no maintenance): base files written by earlier
    batches are never rewritten by later ones, and the read still
    converges through the shadow join."""
    pdf = generate_changelog(SPEC)
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, SPEC)
    table = make_target(spark, tmp_path)
    stream = CdcStream(
        spark, wal, table, str(tmp_path / "state"),
        max_files_per_trigger=2, merge_mode="mor",
    )
    stats = stream.run_to_completion()
    applied = [s for s in stats if not s.get("skipped")]
    assert len(applied) >= 2
    assert_converged(table, pdf)
    # additive commits only: every file of the first applied version is
    # still referenced by the final snapshot
    first_v = applied[0]["table_version"]
    early = {f["path"] for f in table.snapshot(first_v).files}
    final = {f["path"] for f in table.snapshot().files}
    assert early <= final


def test_stream_rebuckets_as_table_grows(spark, tmp_path):
    """Growth-aware bucket evolution: with a tiny rows-per-bucket target
    the stream must DOUBLE the bucket count mid-replay (one atomic
    rebucket commit), keep converging bit-exact, and leave point lookups
    and resume intact under the evolved layout."""
    pdf = generate_changelog(SPEC)
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, SPEC)
    table = LakeTable.create(
        spark, str(tmp_path / "transcripts"), TRANSCRIPTS_SCHEMA,
        key=["conv_id", "turn_idx"], n_buckets=2, bucket_by=["conv_id"],
    )
    stream = CdcStream(
        spark, wal, table, str(tmp_path / "state"),
        max_files_per_trigger=3, rebucket_when_bucket_rows=40,
    )
    stats = stream.run_to_completion()
    grown = [s["rebucketed"] for s in stats if "rebucketed" in s]
    assert grown, "no rebucket happened despite growth past the target"
    final = table.snapshot()
    assert final.n_buckets > 2
    assert final.total_rows <= 40 * final.n_buckets
    assert_converged(table, pdf)

    # point lookup goes through the EVOLVED bucket layout
    exp = expected_final_state(pdf)
    conv = exp["conv_id"].iloc[0]
    got = table.read_for_keys([conv]).toPandas()
    assert len(got) == int((exp["conv_id"] == conv).sum())

    # resume after evolution: nothing reprocessed
    s2 = CdcStream(spark, wal, table, str(tmp_path / "state"))
    s2.run_to_completion()
    assert sum(
        s["rows_in"] for s in s2.batch_stats if not s.get("skipped")
    ) == 0
    assert_converged(table, pdf)


def test_stream_maintenance_age_retention_and_vacuum(spark, tmp_path):
    """The maintenance tick composes the age horizon with keep_last
    (young snapshots all survive aggressive keep_last=1 expiry) and
    vacuums orphan data files (a stranded pre-commit write disappears),
    while the stream still converges exactly."""
    import os

    pdf = generate_changelog(SPEC)
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, SPEC)
    table = make_target(spark, tmp_path)
    # a crashed pre-commit write: a whole stranded unique dir under data/
    orphan_dir = os.path.join(table.path, "data", "snap-999999999999-dead")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-junk.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"junk")
    stats = CdcStream(
        spark, wal, table, str(tmp_path / "state"),
        max_files_per_trigger=2, compact_every=1, expire_keep_last=1,
        expire_older_than_s=3600.0, vacuum_older_than_s=0.0,
    ).run_to_completion()
    assert_converged(table, pdf)
    assert not os.path.exists(orphan)
    assert any(s.get("vacuumed_files", 0) >= 1 for s in stats)
    # every snapshot this run committed is younger than the horizon, so
    # keep_last=1 expired NOTHING: full history stays time-travelable
    v = table.current_version()
    assert all(
        os.path.exists(table._snap_path(i)) for i in range(v + 1)
    )
    assert table.read(version=0).count() == 0


def test_dedup_index_sees_transformed_text(spark, tmp_path):
    """The ingest-time near-dup index must describe the text the table
    STORES — i.e. the post-transform text. Two conversations whose texts
    are identical only AFTER whitespace normalization must surface as a
    candidate pair; with the index fed raw text their signatures differ
    and the pair is missed. Invalid rows must never enter the index."""
    spec = ChangelogSpec(n_conversations=24, seed=11, churn=1.5)
    pdf = generate_changelog(spec)
    body = "the same long duplicated transcript body repeated words " * 3
    # doc A: clean body; doc B: same body under messy whitespace — equal
    # only after normalize_transcripts_expr
    messy = body.replace(" ", "   \t ")
    for conv, text in (("conv000001", body), ("conv000010", messy)):
        key_mask = (pdf["conv_id"] == conv) & (pdf["turn_idx"] == 0)
        assert key_mask.any()
        pdf.loc[key_mask & (pdf["op"] == "D"), "op"] = "U"
        pdf.loc[key_mask, "text"] = text
        pdf.loc[key_mask, "role"] = "user"
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, spec)
    table = make_target(spark, tmp_path)
    state = str(tmp_path / "state")
    CdcStream(
        spark, wal, table, state,
        transform=normalize_transcripts_expr,
        dedup_index=True, dedup_threshold=0.8,
    ).run_to_completion()
    pairs = spark.read.parquet(os.path.join(state, "dedup", "pairs")).toPandas()
    keys = spark.read.parquet(os.path.join(state, "dedup", "keys")).toPandas()
    ids = (
        keys.drop_duplicates("__doc_id")
        .set_index("__doc_id")[["conv_id", "turn_idx"]]
    )
    flat = {
        frozenset(
            (tuple(ids.loc[r["new_id"]]), tuple(ids.loc[r["match_id"]]))
        )
        for _, r in pairs.iterrows()
    }
    assert frozenset({("conv000001", 0), ("conv000010", 0)}) in flat


def test_stream_ttl_retention_deletes_aged_rows(spark, tmp_path):
    """The maintenance tick's TTL sweep: rows whose event time falls more
    than ttl_age_s behind the table's own manifest maximum leave the
    table through the metadata-delete path. The horizon is DATA time
    (zone-map max − age), so the converged state is a pure function of
    the changelog — asserted against the pandas oracle filtered by the
    same horizon."""
    pdf = generate_changelog(SPEC)
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, SPEC)
    table = LakeTable.create(
        spark, str(tmp_path / "transcripts"), TRANSCRIPTS_SCHEMA,
        key=["conv_id", "turn_idx"], n_buckets=8, bucket_by=["conv_id"],
        stats_cols=["ts"],
    )
    exp = expected_final_state(pdf)
    span_s = (exp["ts"].max() - exp["ts"].min()).total_seconds()
    age_s = int(span_s // 2)  # whole seconds: boundary-exact on both sides
    stats = CdcStream(
        spark, wal, table, str(tmp_path / "state"),
        max_files_per_trigger=2, compact_every=1,
        ttl_col="ts", ttl_age_s=age_s,
    ).run_to_completion()
    assert any("ttl" in s for s in stats if not s.get("skipped"))
    horizon = exp["ts"].max() - pd.Timedelta(seconds=age_s)
    kept = (
        exp[exp["ts"] >= horizon]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert 0 < len(kept) < len(exp)  # the sweep really removed something
    got = (
        table.read().orderBy("conv_id", "turn_idx").toPandas()
        [["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got, kept[list(got.columns)], check_dtype=False
    )
    # a second run over the same WAL applies nothing and deletes nothing
    stats2 = CdcStream(
        spark, wal, table, str(tmp_path / "state"),
        max_files_per_trigger=2, compact_every=1,
        ttl_col="ts", ttl_age_s=age_s,
    ).run_to_completion()
    assert all(s.get("skipped") for s in stats2)
    pd.testing.assert_frame_equal(
        table.read().orderBy("conv_id", "turn_idx").toPandas()
        [list(got.columns)].reset_index(drop=True),
        kept[list(got.columns)], check_dtype=False,
    )


def test_stream_publishes_catalog_checkpoints(spark, tmp_path):
    """CdcStream(catalog=..., publish_every=2): catalog readers see only
    PUBLISHED checkpoints — the pointer advances every second applied
    batch plus a final publish on drain, each published version is a
    prefix-consistent state, and a quiet re-run publishes nothing."""
    from etl_spark.lake import Catalog

    pdf = generate_changelog(SPEC)
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, SPEC)
    table = make_target(spark, tmp_path)
    cat = Catalog.create(spark, str(tmp_path / "cat"))
    cat.register("transcripts", table)
    base_cat = cat.current_version()

    stream = CdcStream(
        spark, wal, table, str(tmp_path / "state"),
        max_files_per_trigger=2, catalog=cat,
        catalog_name="transcripts", publish_every=2,
    )
    stats = stream.run_to_completion()
    applied = [s for s in stats if not s.get("skipped")]
    assert len(applied) >= 3  # odd tail exercises the final drain publish

    # cadence: one catalog commit per 2 applied batches (+ drain publish)
    mid_publishes = [s for s in applied if "catalog_version" in s]
    assert len(mid_publishes) == len(applied) // 2
    # the catalog head now points at the table head, and reads converge
    assert cat.pinned_version("transcripts") == table.current_version()
    from types import SimpleNamespace
    assert_converged(
        SimpleNamespace(read=lambda: cat.read("transcripts")), pdf
    )
    # every published checkpoint is a valid table version (readable,
    # monotonic)
    versions = [
        e["tables"]["transcripts"]["version"]
        for e in cat.history()
        if "transcripts" in e["tables"]
    ]
    assert versions == sorted(versions)
    for v in versions:
        table.read(version=v).limit(1).collect()
    # idempotent drain: re-running the finished stream publishes nothing
    head = cat.current_version()
    CdcStream(
        spark, wal, table, str(tmp_path / "state"),
        max_files_per_trigger=2, catalog=cat,
        catalog_name="transcripts", publish_every=2,
    ).run_to_completion()
    assert cat.current_version() == head
    assert head > base_cat


def test_stream_dedup_verify_filters_stale_index_candidates(spark, tmp_path):
    """dedup_verify=True: index-side candidates resolve back through
    dedup/keys to the target table's CURRENT text. A key updated after
    its text was indexed leaves stale band rows behind; a later doc
    matching the OLD text must not be reported as its near-dup, while a
    pair whose stored text still matches survives."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    t_dup = (
        "an unmistakably duplicated transcript body repeated across "
        "conversations for this scenario"
    )
    t_new = (
        "totally rewritten message content with no overlap whatsoever "
        "anymore in any shingle"
    )
    t_cur = (
        "another shared body that stays current in both conversations "
        "today and verifies cleanly"
    )

    wal = str(tmp_path / "wal")

    def seg(name, rows, mtime):
        pdir = os.path.join(wal, "source_partition=0")
        os.makedirs(pdir, exist_ok=True)
        cols = list(zip(*rows))
        t = pa.table(
            {
                "op": pa.array(cols[0], pa.string()),
                "lsn": pa.array(cols[1], pa.int64()),
                "ts": pa.array(cols[2], pa.timestamp("us")),
                "conv_id": pa.array(cols[3], pa.string()),
                "turn_idx": pa.array(cols[4], pa.int32()),
                "role": pa.array(cols[5], pa.string()),
                "text": pa.array(cols[6], pa.string()),
                "tool": pa.array(cols[7], pa.string()),
            }
        )
        path = os.path.join(pdir, name)
        pq.write_table(t, path)
        os.utime(path, (mtime, mtime))

    ts0 = dt.datetime(2020, 1, 1)
    seg(
        "seg-00000.parquet",
        [
            ("U", 1, ts0, "convA", 0, "user", t_dup, None),
            ("U", 2, ts0, "convC", 0, "user", t_cur, None),
        ],
        1_600_000_000,
    )
    table = make_target(spark, tmp_path)
    state = str(tmp_path / "state")
    args = dict(
        dedup_index=True, dedup_threshold=0.5, dedup_verify=True,
    )
    CdcStream(spark, wal, table, state, **args).run_to_completion()

    ts1 = ts0 + dt.timedelta(seconds=60)
    seg(
        "seg-00001.parquet",
        [
            ("U", 3, ts1, "convA", 0, "user", t_new, None),   # update away
            ("U", 4, ts1, "convB", 0, "user", t_dup, None),   # old-text dup
            ("U", 5, ts1, "convD", 0, "user", t_cur + " tail", None),
        ],
        1_600_000_100,
    )
    CdcStream(spark, wal, table, state, **args).run_to_completion()

    pairs = spark.read.parquet(os.path.join(state, "dedup", "pairs")).toPandas()
    keys = (
        spark.read.parquet(os.path.join(state, "dedup", "keys"))
        .toPandas()
        .drop_duplicates("__doc_id")
        .set_index("__doc_id")["conv_id"]
    )
    resolved = {
        frozenset((keys.loc[r["new_id"]], keys.loc[r["match_id"]]))
        for _, r in pairs.iterrows()
    }
    # the surviving-text pair is reported; the stale-band pair is not
    assert frozenset({"convD", "convC"}) in resolved
    assert frozenset({"convB", "convA"}) not in resolved
    assert not any("convB" in p for p in resolved)


def test_dedup_verify_without_threshold_rejected_at_construction(
    spark, tmp_path
):
    """ADVICE r4: the config error must surface at CONSTRUCTION, not on
    batch 1 after batch 0 already committed unverified."""
    table = make_target(spark, tmp_path)
    with pytest.raises(ValueError, match="dedup_verify"):
        CdcStream(
            spark, str(tmp_path / "wal"), table, str(tmp_path / "state"),
            dedup_index=True, dedup_verify=True,
        )


def test_adaptive_trigger_coalesces_and_converges(spark, tmp_path):
    """adaptive_trigger_rows: a many-tiny-segment backlog replays in
    fewer micro-batches (footer-estimated coalescing) with the SAME
    converged state as the static-trigger replay — coalescing more
    same-partition segments into one batch is order-safe because the
    per-batch LWW dedup resolves intra-batch order by (ts, lsn)."""
    spec = ChangelogSpec(
        n_conversations=60, max_turns=5, churn=2.0, n_partitions=4,
        segments_per_partition=8,  # 32 tiny segments
    )
    pdf = generate_changelog(spec)
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, spec)

    static_t = make_target(spark, tmp_path / "s")
    stats_static = CdcStream(
        spark, wal, static_t, str(tmp_path / "state_s"),
        max_files_per_trigger=2,
    ).run_to_completion()

    adaptive_t = make_target(spark, tmp_path / "a")
    stats_adaptive = CdcStream(
        spark, wal, adaptive_t, str(tmp_path / "state_a"),
        max_files_per_trigger=2, adaptive_trigger_rows=10_000_000,
    ).run_to_completion()

    assert len(stats_static) == 16
    assert len(stats_adaptive) <= 2  # whole backlog coalesced
    a = static_t.read().orderBy("conv_id", "turn_idx").collect()
    b = adaptive_t.read().orderBy("conv_id", "turn_idx").collect()
    assert a == b
    exp = expected_final_state(pdf)
    assert len(a) == len(exp)


def test_adaptive_trigger_respects_row_target(spark, tmp_path):
    """The row target actually bounds the batch: with a target of ~2
    segments' rows, the coalesced replay still runs multiple batches."""
    from etl_spark.streaming.stream import adaptive_files_per_trigger

    spec = ChangelogSpec(
        n_conversations=60, max_turns=5, churn=1.0, n_partitions=2,
        segments_per_partition=8,
    )
    pdf = generate_changelog(spec)
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, spec)
    per_seg = len(pdf) / 16
    n = adaptive_files_per_trigger(wal, int(per_seg * 4), floor=1)
    assert 3 <= n <= 6  # ~4 segments per trigger from footer estimate
    n_floor = adaptive_files_per_trigger(wal, 1, floor=5)
    assert n_floor == 5  # static config is a minimum, never slower


def test_stream_prune_deletes_retires_index_bands(spark, tmp_path):
    """dedup_prune_deletes=True: a key whose final batch state is a
    DELETE has its doc's band rows retired from the index on the same
    commit-gated cadence; a replay over the same state is a no-op."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    wal = str(tmp_path / "wal")

    def seg(name, rows, mtime):
        pdir = os.path.join(wal, "source_partition=0")
        os.makedirs(pdir, exist_ok=True)
        cols = list(zip(*rows))
        t = pa.table(
            {
                "op": pa.array(cols[0], pa.string()),
                "lsn": pa.array(cols[1], pa.int64()),
                "ts": pa.array(cols[2], pa.timestamp("us")),
                "conv_id": pa.array(cols[3], pa.string()),
                "turn_idx": pa.array(cols[4], pa.int32()),
                "role": pa.array(cols[5], pa.string()),
                "text": pa.array(cols[6], pa.string()),
                "tool": pa.array(cols[7], pa.string()),
            }
        )
        path = os.path.join(pdir, name)
        pq.write_table(t, path)
        os.utime(path, (mtime, mtime))

    ts0 = dt.datetime(2020, 1, 1)
    seg(
        "seg-00000.parquet",
        [
            ("I", 1, ts0, "convA", 0, "user",
             "a body of text that will later be deleted entirely", None),
            ("I", 2, ts0, "convB", 0, "user",
             "a body of text that stays alive in the corpus", None),
        ],
        1_600_000_000,
    )
    table = make_target(spark, tmp_path)
    state = str(tmp_path / "state")
    args = dict(dedup_index=True, dedup_prune_deletes=True)
    CdcStream(spark, wal, table, state, **args).run_to_completion()

    idx_path = os.path.join(state, "dedup", "index")
    from etl_spark.lake import LakeTable

    idx = LakeTable.load(spark, idx_path)
    ids = lambda: {  # noqa: E731
        r["doc_id"] for r in idx.read().select("doc_id").distinct().collect()
    }
    id_a = spark.range(1).select(
        F.xxhash64(F.lit("convA"), F.lit(0).cast("int"))
    ).first()[0]
    assert id_a in ids()

    ts1 = ts0 + dt.timedelta(seconds=60)
    seg(
        "seg-00001.parquet",
        [("D", 3, ts1, "convA", 0, None, None, None)],
        1_600_000_100,
    )
    CdcStream(spark, wal, table, state, **args).run_to_completion()
    assert id_a not in ids()
    n = idx.row_count()

    # replay over the same state: commit log short-circuits, index stable
    CdcStream(spark, wal, table, state, **args).run_to_completion()
    assert idx.row_count() == n and id_a not in ids()


def test_scd2_stream_adaptive_trigger_converges(spark, tmp_path):
    """adaptive_trigger_rows on the SCD2 target: the coalesced replay
    builds the same history as the rate-limited one (apply_scd2 is
    whole-batch windowed, so intra-batch order is resolved by the
    validity axis regardless of segment grouping)."""
    from etl_spark.streaming import Scd2Stream

    pdf = generate_changelog(SPEC)
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, SPEC)

    t_static = _mk_scd2(spark, tmp_path / "s")
    Scd2Stream(
        spark, wal, t_static, str(tmp_path / "state_s"),
        max_files_per_trigger=2,
    ).run_to_completion()

    t_adaptive = _mk_scd2(spark, tmp_path / "a")
    stats = Scd2Stream(
        spark, wal, t_adaptive, str(tmp_path / "state_a"),
        max_files_per_trigger=1, adaptive_trigger_rows=10_000_000,
    ).run_to_completion()
    live = [s for s in stats if not s.get("skipped")]
    assert len(live) == 1  # whole 9-segment backlog coalesced

    cols = _scd2_cols()
    a = (t_static.read().orderBy("conv_id", "turn_idx", "version")
         .toPandas()[cols].reset_index(drop=True))
    b = (t_adaptive.read().orderBy("conv_id", "turn_idx", "version")
         .toPandas()[cols].reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
