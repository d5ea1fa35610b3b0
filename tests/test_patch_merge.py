"""Partial-update (TOAST-aware) merge engine — per-column LWW.

Postgres logical decoding omits unchanged TOASTed values from UPDATE row
images (reference analog: the reference re-ships FULL rows on every load,
/root/reference/scripts/load_data.py:119-131 — partial images are the piece
a WAL-tail engine needs that a batch reloader never sees). Tables declare
``patch.columns`` + ``patch.sentinel`` via props; the engine must carry
stored values forward per COLUMN, across epochs, deletes and compaction
(cdc/apply.py::lww_dedup projects a batch to storage shape;
lake/table.py::resolve_lww resolves it, reads and compaction alike).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from postgres_to_snowflake_data_pipeline_spark.cdc.apply import (
    apply_batch,
    bootstrap_snapshot,
    lww_dedup,
    replay_feed,
    reprocess_quarantined,
)
from postgres_to_snowflake_data_pipeline_spark.cdc.generator import change_events, write_feed
from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import (
    CHANGE_EVENT_SCHEMA,
    TRANSCRIPT_SCHEMA,
)
from postgres_to_snowflake_data_pipeline_spark.lake.delta_view import DeltaAggView
from postgres_to_snowflake_data_pipeline_spark.lake.table import (
    PATCH_SENTINEL_DEFAULT,
    LakeTable,
)

SENT = PATCH_SENTINEL_DEFAULT
PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
TS = dt.datetime(2026, 1, 1)


def _patch_table(spark, root, **kw):
    return LakeTable.create(
        spark,
        str(root),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=4,
        props={"patch.columns": ["text", "tool"]},
        **kw,
    )


def _feed(spark, rows):
    """rows: (lsn, op, conv, turn, role, text, tool)"""
    return spark.createDataFrame(
        [(l, o, c, t, r, x, g, TS) for (l, o, c, t, r, x, g) in rows],
        CHANGE_EVENT_SCHEMA,
    )


def _state(table):
    out = {}
    for r in table.read().collect():
        out[(r["conv_id"], r["turn_idx"])] = (r["role"], r["text"], r["tool"])
    return out


# ---------------------------------------------------------------------------
# semantics on explicit hand-written feeds
# ---------------------------------------------------------------------------

def test_patch_carry_forward_across_epochs(spark, tmp_path):
    table = _patch_table(spark, tmp_path / "t")
    # epoch 0: full image
    apply_batch(spark, table, _feed(spark, [
        (1, "insert", "a", 0, "user", "hello", "t1"),
    ]), epoch=0)
    # epoch 1: update that patches ONLY tool (text unchanged via sentinel)
    apply_batch(spark, table, _feed(spark, [
        (2, "update", "a", 0, "user2", SENT, "t2"),
    ]), epoch=1)
    # epoch 2: update that patches ONLY text
    apply_batch(spark, table, _feed(spark, [
        (3, "update", "a", 0, "user3", "world", SENT),
    ]), epoch=2)
    assert _state(table) == {("a", 0): ("user3", "world", "t2")}


def test_patch_within_single_batch(spark, tmp_path):
    table = _patch_table(spark, tmp_path / "t")
    apply_batch(spark, table, _feed(spark, [
        (1, "insert", "a", 0, "u", "v1", "t1"),
        (2, "update", "a", 0, "u", SENT, "t2"),
        (3, "update", "a", 0, "u", "v3", SENT),
    ]), epoch=0)
    assert _state(table) == {("a", 0): ("u", "v3", "t2")}


def test_delete_kills_patched_values_no_resurrection(spark, tmp_path):
    table = _patch_table(spark, tmp_path / "t")
    apply_batch(spark, table, _feed(spark, [
        (1, "insert", "a", 0, "u", "secret", "t1"),
    ]), epoch=0)
    apply_batch(spark, table, _feed(spark, [
        (2, "delete", "a", 0, None, None, None),
    ]), epoch=1)
    # re-create with both patch columns "unchanged": the delete destroyed
    # the old values — they must NOT resurrect
    apply_batch(spark, table, _feed(spark, [
        (3, "insert", "a", 0, "u2", SENT, SENT),
    ]), epoch=2)
    assert _state(table) == {("a", 0): ("u2", None, None)}


@pytest.mark.parametrize("salt_buckets", [0, 8])
def test_delete_and_recreate_within_one_batch(spark, tmp_path, salt_buckets):
    table = _patch_table(spark, tmp_path / "t")
    apply_batch(spark, table, _feed(spark, [
        (1, "insert", "a", 0, "u", "old", "t1"),
    ]), epoch=0)
    # one batch folds delete + re-create: the collapsed storage row must
    # still know "old" was destroyed (the _dlsn internals), and the new
    # set of tool at lsn 4 must survive the folded delete at lsn 3
    batch = _feed(spark, [
        (2, "update", "a", 0, "u", "mid", SENT),
        (3, "delete", "a", 0, None, None, None),
        (4, "insert", "a", 0, "u2", SENT, "t9"),
    ])
    # the in-batch kill: the storage row already drops the text set at
    # lsn 2 that the folded delete destroyed (NULL value and set-LSN)
    (row,) = lww_dedup(
        batch, table.schema(), table.current(), salt_buckets
    ).collect()
    assert (row["text"], row["_plsn_text"], row["_dlsn"]) == (None, None, 3)
    assert (row["tool"], row["_plsn_tool"], row["_lsn"]) == ("t9", 4, 4)
    apply_batch(spark, table, batch, epoch=1, salt_buckets=salt_buckets)
    assert _state(table) == {("a", 0): ("u2", None, "t9")}


def test_equal_lsn_delete_beats_upsert(spark, tmp_path):
    table = _patch_table(spark, tmp_path / "t")
    apply_batch(spark, table, _feed(spark, [
        (1, "insert", "a", 0, "u", "x", "t"),
        (1, "delete", "a", 0, None, None, None),
    ]), epoch=0)
    assert _state(table) == {}


def test_compaction_preserves_patch_state(spark, tmp_path):
    table = _patch_table(spark, tmp_path / "t")
    apply_batch(spark, table, _feed(spark, [
        (1, "insert", "a", 0, "u", "keep-me", "t1"),
        (2, "insert", "b", 7, "u", "other", "t1"),
    ]), epoch=0)
    apply_batch(spark, table, _feed(spark, [
        (3, "update", "a", 0, "u", SENT, "t2"),
        (4, "delete", "b", 7, None, None, None),
    ]), epoch=1)
    before = _state(table)
    table.compact()
    assert _state(table) == before == {("a", 0): ("u", "keep-me", "t2")}
    # patches applied AFTER compaction still resolve against the rewritten
    # base (the base rows must carry their per-column set-LSNs forward)
    apply_batch(spark, table, _feed(spark, [
        (5, "update", "a", 0, "u", SENT, "t3"),
    ]), epoch=2)
    assert _state(table) == {("a", 0): ("u", "keep-me", "t3")}


def test_explicit_null_does_not_clear(spark, tmp_path):
    # Debezium-style contract: absence (sentinel) = unchanged; an explicit
    # NULL in an upsert's patch column is ALSO "no set" (NULL is not a
    # value a partial image can distinguish from absent)
    table = _patch_table(spark, tmp_path / "t")
    apply_batch(spark, table, _feed(spark, [
        (1, "insert", "a", 0, "u", "v", "t"),
        (2, "update", "a", 0, "u", None, None),
    ]), epoch=0)
    assert _state(table) == {("a", 0): ("u", "v", "t")}


# ---------------------------------------------------------------------------
# randomized end-to-end vs a naive sequential oracle
# ---------------------------------------------------------------------------

def _to_patch_feed(events):
    """Derive a TOAST-style partial feed from the generator's full images:
    a third of upserts omit text, two fifths omit tool."""
    is_del = F.col("op") == "delete"
    return events.withColumn(
        "text",
        F.when(is_del, F.lit(None).cast("string"))
        .when(F.col("lsn") % 3 == 0, F.lit(SENT))
        .otherwise(F.col("text")),
    ).withColumn(
        "tool",
        F.when(is_del, F.lit(None).cast("string"))
        .when(F.col("lsn") % 5 < 2, F.lit(SENT))
        .otherwise(F.col("tool")),
    )


def _naive_patch_replay(rows):
    """Driver-side sequential replay under per-column patch semantics."""
    # deletes sort AFTER upserts at equal lsn (the engine's _del_rank rule)
    rows = sorted(rows, key=lambda r: (r["lsn"], r["op"] == "delete"))
    alive: dict = {}     # key -> {col: value} for non-patch cols
    sets: dict = {}      # key -> {col: (set_lsn, value)}
    dlsn: dict = {}      # key -> max delete lsn
    last: dict = {}      # key -> lsn of whole-row winner
    for r in rows:
        k = (r["conv_id"], r["turn_idx"])
        if r["op"] == "delete":
            if k not in last or r["lsn"] >= last[k]:
                alive.pop(k, None)
                last[k] = r["lsn"]
            dlsn[k] = max(dlsn.get(k, -1), r["lsn"])
        else:
            if k not in last or r["lsn"] > last[k]:
                alive[k] = {"role": r["role"], "ts": r["ts"]}
                last[k] = r["lsn"]
            for c in ("text", "tool"):
                v = r[c]
                if v is not None and v != SENT:
                    cur = sets.get(k, {}).get(c)
                    if cur is None or r["lsn"] > cur[0]:
                        sets.setdefault(k, {})[c] = (r["lsn"], v)
    out = {}
    for k, base in alive.items():
        row = dict(base)
        for c in ("text", "tool"):
            cur = sets.get(k, {}).get(c)
            live = cur is not None and (k not in dlsn or cur[0] > dlsn[k])
            row[c] = cur[1] if live else None
        out[k] = (row["role"], row["text"], row["tool"])
    return out


def test_patch_replay_matches_naive_oracle(spark, tmp_path):
    events = _to_patch_feed(change_events(spark, 8000, n_convs=300))
    feed_path = str(tmp_path / "feed")
    write_feed(events, feed_path, n_files=8)
    table = _patch_table(spark, tmp_path / "t")
    replay_feed(spark, table, feed_path, epochs=4, compact_every=2)
    expected = _naive_patch_replay(
        [r.asDict() for r in spark.read.parquet(feed_path).collect()]
    )
    assert _state(table) == expected


@pytest.mark.parametrize("patch", [False, True], ids=["plain", "patch"])
def test_salted_dedup_equals_unsalted(spark, tmp_path, patch):
    events = change_events(spark, 4000, n_convs=50)
    if patch:
        events = _to_patch_feed(events)
        table = _patch_table(spark, tmp_path / "t")
    else:
        table = LakeTable.create(
            spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
            key_cols=("conv_id", "turn_idx"), n_buckets=4,
        )
    snap = table.current()
    a = lww_dedup(events, table.schema(), snap, 0)
    b = lww_dedup(events, table.schema(), snap, 8)
    assert a.columns == b.columns
    assert ("_dlsn" in a.columns) == patch
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_forced_salt_apply_matches_unsalted_state(spark, tmp_path):
    events = _to_patch_feed(change_events(spark, 4000, n_convs=50))
    t1 = _patch_table(spark, tmp_path / "t1")
    t2 = _patch_table(spark, tmp_path / "t2")
    apply_batch(spark, t1, events, epoch=0, salt_buckets=0)
    apply_batch(spark, t2, events, epoch=0, salt_buckets=8)
    assert _state(t1) == _state(t2)


# ---------------------------------------------------------------------------
# changefeed emission + bootstrap + late declaration
# ---------------------------------------------------------------------------

def test_changes_patch_feed_reconverges_downstream(spark, tmp_path):
    """Replaying the emitted patch changefeed into a fresh patch table
    reconverges to the source state (incl. the synthesized pre-delete rows
    that say 'destroyed, not carried')."""
    events = _to_patch_feed(change_events(spark, 6000, n_convs=200))
    feed_path = str(tmp_path / "feed")
    write_feed(events, feed_path, n_files=4)
    src = _patch_table(spark, tmp_path / "src")
    replay_feed(spark, src, feed_path, epochs=3, compact_every=0)
    out = src.changes(0)
    dst = _patch_table(spark, tmp_path / "dst")
    apply_batch(spark, dst, out, epoch=0)
    assert _state(dst) == _state(src)


def test_bootstrap_then_patch(spark, tmp_path):
    table = _patch_table(spark, tmp_path / "t")
    rows = spark.createDataFrame(
        [("a", 0, "u", "boot-text", "boot-tool", TS)], TRANSCRIPT_SCHEMA
    )
    bootstrap_snapshot(spark, table, rows, lsn_floor=100)
    # stale event loses; fresh patch carries the bootstrap text forward
    apply_batch(spark, table, _feed(spark, [
        (90, "update", "a", 0, "stale", "stale", "stale"),
        (101, "update", "a", 0, "u2", SENT, "t2"),
    ]), epoch=0)
    assert _state(table) == {("a", 0): ("u2", "boot-text", "t2")}


def test_late_patch_declaration_on_populated_table(spark, tmp_path):
    """Files written BEFORE the patch.columns declaration reconstruct their
    per-column LSNs from _lsn (full rows set every column at their own
    position) — late adoption on a populated table stays sound."""
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"), n_buckets=4,
    )
    apply_batch(spark, table, _feed(spark, [
        (1, "insert", "a", 0, "u", "pre-decl", "t1"),
        (2, "insert", "b", 1, "u", "gone", "t1"),
    ]), epoch=0)
    apply_batch(spark, table, _feed(spark, [
        (3, "delete", "b", 1, None, None, None),
    ]), epoch=1)
    table.update_props({"patch.columns": ["text", "tool"]})
    apply_batch(spark, table, _feed(spark, [
        (4, "update", "a", 0, "u2", SENT, "t2"),      # carries pre-decl text
        (5, "insert", "b", 1, "u3", SENT, SENT),      # tombstone still kills
    ]), epoch=2)
    assert _state(table) == {
        ("a", 0): ("u2", "pre-decl", "t2"),
        ("b", 1): ("u3", None, None),
    }


# ---------------------------------------------------------------------------
# incremental views over a patch source (the documented DeltaAggView
# alternative): dirty-group recompute reads the patch-RESOLVED state, so
# the view stays exact; sentinel changefeed values must never fabricate a
# dirty group (lake/view.py::_drop_unrepresentable)
# ---------------------------------------------------------------------------

def _view_exact(view, source, group_col, agg_fn):
    got = view.read()
    # NULL groups are not representable as view keys (documented contract)
    want = agg_fn(source.read()).filter(F.col(group_col).isNotNull())
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    assert got.filter(F.col(group_col) == SENT).isEmpty()


def _epoch_slices(spark, events, n):
    lo, hi = events.select(F.min("lsn"), F.max("lsn")).first()
    step = (hi - lo + 1) // n + 1
    return [
        events.filter(
            (F.col("lsn") >= lo + e * step) & (F.col("lsn") < lo + (e + 1) * step)
        )
        for e in range(n)
    ]


def test_incremental_view_on_patch_source_nonpatch_grouping(spark, tmp_path):
    from postgres_to_snowflake_data_pipeline_spark.lake.view import IncrementalAggView

    def agg(rows):
        return rows.groupBy("role").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("text")).alias("chars"),
        )

    source = _patch_table(spark, tmp_path / "src")
    view = IncrementalAggView(
        spark, str(tmp_path / "v"), source,
        group_cols=("role",), agg_fn=agg, n_buckets=4,
    )
    ev = _to_patch_feed(change_events(spark, 6000, n_convs=200)).localCheckpoint()
    for e, batch in enumerate(_epoch_slices(spark, ev, 3)):
        apply_batch(spark, source, batch, epoch=e)
        assert view.refresh() is not None
        _view_exact(view, source, "role", agg)


def test_incremental_view_grouped_by_patch_column(spark, tmp_path):
    """Grouping BY the patch column itself: carried-forward values keep
    their group, sets move it, deletes kill it — and the sentinel never
    appears as a view group."""
    from postgres_to_snowflake_data_pipeline_spark.lake.view import IncrementalAggView

    def agg(rows):
        return rows.groupBy("tool").agg(F.count(F.lit(1)).alias("n"))

    source = _patch_table(spark, tmp_path / "src")
    view = IncrementalAggView(
        spark, str(tmp_path / "v"), source,
        group_cols=("tool",), agg_fn=agg, n_buckets=4,
    )
    ev = _to_patch_feed(change_events(spark, 6000, n_convs=200)).localCheckpoint()
    for e, batch in enumerate(_epoch_slices(spark, ev, 3)):
        apply_batch(spark, source, batch, epoch=e)
        assert view.refresh() is not None
        _view_exact(view, source, "tool", agg)
    # hand-drive the group-move edge: patch tool to a brand-new value and
    # assert the OLD group's count drops while the new group appears
    apply_batch(spark, source, _feed(spark, [
        (10_000_000, "update", "u1", 0, "user", SENT, "brand-new-tool"),
    ]), epoch=99)
    assert view.refresh() is not None
    _view_exact(view, source, "tool", agg)


# ---------------------------------------------------------------------------
# streaming: micro-batch slicing is arbitrary (file arrival, not LSN), so
# this is the strongest associativity test the patch resolution gets —
# any slicing must converge to the same per-column state, across a
# mid-stream kill/restart
# ---------------------------------------------------------------------------

def test_streaming_patch_replay_with_restart(spark, tmp_path):
    from postgres_to_snowflake_data_pipeline_spark.cdc.generator import write_feed
    from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import CHANGE_EVENT_SCHEMA
    from postgres_to_snowflake_data_pipeline_spark.streaming.pipeline import run_stream

    events = _to_patch_feed(change_events(spark, 6000, n_convs=200))
    feed = str(tmp_path / "feed")
    write_feed(events, feed, n_files=8)
    table = _patch_table(spark, tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    # phase 1: a few micro-batches, then kill
    q = run_stream(spark, table, feed, CHANGE_EVENT_SCHEMA, ckpt,
                   max_files_per_trigger=1, available_now=False)
    import time
    deadline = time.time() + 120
    while time.time() < deadline:
        if table.current().commit_count >= 3:
            break
        time.sleep(1)
    q.stop()
    assert q.awaitTermination(60), "phase-1 stream did not stop in time"
    assert table.current().commit_count >= 3
    # phase 2: restart from checkpoint, drain the rest
    q = run_stream(spark, table, feed, CHANGE_EVENT_SCHEMA, ckpt,
                   max_files_per_trigger=3)
    assert q.awaitTermination(300), "stream did not drain within deadline"
    expected = _naive_patch_replay(
        [r.asDict() for r in spark.read.parquet(feed).collect()]
    )
    assert _state(table) == expected


# ---------------------------------------------------------------------------
# declarative pipeline: spec-declared patch tables
# ---------------------------------------------------------------------------

def test_pipeline_spec_declares_patch_table(spark, tmp_path):
    import json

    from postgres_to_snowflake_data_pipeline_spark.orchestrate import Pipeline, PipelineSpec

    raw = {
        "lake_root": str(tmp_path / "lake"),
        "sources": [{"name": "wal", "kind": "dataframe"}],
        "tables": [{
            "name": "ta", "key_cols": ["conv_id", "turn_idx"], "n_buckets": 4,
            "patch": {"columns": ["text", "tool"]},
        }],
        "views": [{
            "name": "per_conv", "table": "ta", "group_cols": ["conv_id"],
            "kind": "incremental",
            "aggs": {"n_turns": "count(1)", "chars": "sum(length(text))"},
            "n_buckets": 2,
        }],
    }
    spec = PipelineSpec.from_dict(raw)
    # round-trip preserves the declaration
    assert PipelineSpec.from_json(json.dumps(spec.to_dict())) == spec

    ev = _to_patch_feed(change_events(spark, 5000, n_convs=200))
    ev = ev.withColumn("_table", F.lit("ta")).localCheckpoint()
    slices = _epoch_slices(spark, ev, 2)
    pipe = Pipeline(spark, spec)
    for e in (0, 1):
        pipe.run_epoch(e, feeds={"wal": slices[e]})
    table = pipe.tables["ta"]
    assert table.props.get("patch.columns") == ["text", "tool"]
    expected = _naive_patch_replay([r.asDict() for r in ev.drop("_table").collect()])
    got = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"])
        for r in table.read().collect()
    }
    assert got == expected
    # declared view over the patch table equals full recompute
    want = {
        tuple(r)
        for r in table.read().groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("chars"),
        ).collect()
    }
    assert {tuple(r) for r in pipe.view("per_conv").collect()} == want
    # restart loop: an unchanged declaration must not grow the snapshot log
    before = table.current().snapshot_id
    pipe2 = Pipeline(spark, spec)
    assert pipe2.tables["ta"].current().snapshot_id == before
    # a delta-kind view over a patch table is rejected loudly (views build
    # lazily, so the guard fires at first view materialization)
    bad = dict(raw, views=[{
        "name": "v", "table": "ta", "group_cols": ["role"],
        "measures": {"n": ["count", "*"]}, "payload_cols": ["role"],
    }])
    with pytest.raises(ValueError, match="IncrementalAggView"):
        Pipeline(spark, PipelineSpec.from_dict(bad)).view("v")


# ---------------------------------------------------------------------------
# guard rails
# ---------------------------------------------------------------------------

def test_patch_guards(spark, tmp_path):
    with pytest.raises(ValueError, match="key columns"):
        LakeTable.create(
            spark, str(tmp_path / "bad1"), TRANSCRIPT_SCHEMA,
            key_cols=("conv_id", "turn_idx"), n_buckets=4,
            props={"patch.columns": ["conv_id"]},
        )
    with pytest.raises(ValueError, match="string-typed"):
        LakeTable.create(
            spark, str(tmp_path / "bad2"), TRANSCRIPT_SCHEMA,
            key_cols=("conv_id", "turn_idx"), n_buckets=4,
            props={"patch.columns": ["turn_idx"]},
        )
    table = _patch_table(spark, tmp_path / "t")
    apply_batch(spark, table, _feed(spark, [
        (1, "insert", "a", 0, "u", "v", "t"),
    ]), epoch=0)
    with pytest.raises(ValueError, match="rename declared patch column"):
        table.rename_column("text", "body")
    with pytest.raises(ValueError, match="unsound on partial-update"):
        table.read(ts_prune=(TS, TS))
    with pytest.raises(ValueError, match="IncrementalAggView"):
        DeltaAggView(
            spark, str(tmp_path / "v"), table,
            group_cols=("role",), measures={"n": ("count", "*")},
        )
    with pytest.raises(ValueError, match="not supported on partial-update"):
        reprocess_quarantined(spark, table, "reject:x")
