"""Zero-copy branching (`LakeTable.clone_to`): the clone's first snapshot
references the source's parquet files by absolute path — no data copied —
and from then on the two tables are fully independent: divergent commits,
independent GC (each side deletes only under its own root), inherited
schema era + CDC frontier, and a source-side tag pin that keeps the
referenced files alive until `detach_clone()` releases it."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pytest
from pyspark.sql import functions as F

from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch
from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import TRANSCRIPT_SCHEMA
from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable

SCHEMA = ("lsn long, op string, conv_id string, turn_idx int, role string, "
          "text string, tool string, ts timestamp")
D0 = dt.datetime(2026, 1, 1)


def _mk_table(spark, path, n_buckets=2):
    return LakeTable.create(
        spark, str(path), TRANSCRIPT_SCHEMA, ("conv_id", "turn_idx"),
        n_buckets=n_buckets,
    )


def _rows(n, lsn0=0, n_convs=20, tag="txt"):
    return [
        (lsn0 + j, "insert", f"c{j % n_convs:03d}", (lsn0 + j) // n_convs,
         "user", f"{tag} {lsn0 + j}", None, D0 + dt.timedelta(hours=j % 48))
        for j in range(n)
    ]


def _state(table):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["text"]) for r in table.read().collect()
    )


def _local_parquet(root):
    return glob.glob(os.path.join(str(root), "data", "**", "*.parquet"),
                     recursive=True)


def test_clone_is_zero_copy_and_value_identical(spark, tmp_path):
    src = _mk_table(spark, tmp_path / "src")
    apply_batch(spark, src, spark.createDataFrame(_rows(120), SCHEMA), epoch=0)
    want = _state(src)
    clone = src.clone_to(str(tmp_path / "dev"))
    assert _state(clone) == want
    assert _local_parquet(tmp_path / "dev") == []  # not one byte copied
    assert clone.foreign_file_count() > 0
    # source pinned by the clone tag
    assert any(t.startswith("clone-") for t in src.tags())


def test_divergent_writes_never_cross(spark, tmp_path):
    src = _mk_table(spark, tmp_path / "src")
    apply_batch(spark, src, spark.createDataFrame(_rows(100), SCHEMA), epoch=0)
    base = _state(src)
    clone = src.clone_to(str(tmp_path / "dev"))
    apply_batch(
        spark, clone,
        spark.createDataFrame(_rows(40, lsn0=100, tag="dev"), SCHEMA), epoch=1,
    )
    apply_batch(
        spark, src,
        spark.createDataFrame(_rows(40, lsn0=200, tag="trunk"), SCHEMA), epoch=1,
    )
    dev, trunk = _state(clone), _state(src)
    assert dev != trunk
    assert all("dev" in t or t.startswith("txt") for _c, _i, t in dev)
    assert all("trunk" in t or t.startswith("txt") for _c, _i, t in trunk)
    assert len(dev) == len(trunk) == len(base) + 40  # 20 convs x 2 new turns


def test_clone_inherits_cdc_frontier(spark, tmp_path):
    src = _mk_table(spark, tmp_path / "src")
    apply_batch(spark, src, spark.createDataFrame(_rows(80), SCHEMA), epoch=0)
    apply_batch(
        spark, src, spark.createDataFrame(_rows(40, lsn0=80), SCHEMA), epoch=1
    )
    clone = src.clone_to(str(tmp_path / "dev"))
    n0 = clone.read().count()
    # replaying an epoch the SOURCE applied is a no-op on the branch
    r = apply_batch(
        spark, clone, spark.createDataFrame(_rows(40, lsn0=80), SCHEMA),
        epoch=1,
    )
    assert r.skipped
    assert clone.read().count() == n0


def test_source_gc_keeps_pinned_files_clone_gc_never_reaches_them(
    spark, tmp_path
):
    src = _mk_table(spark, tmp_path / "src")
    apply_batch(spark, src, spark.createDataFrame(_rows(100), SCHEMA), epoch=0)
    clone = src.clone_to(str(tmp_path / "dev"))
    want = _state(clone)
    # source moves on and expires aggressively — the clone pin must keep
    # the referenced files alive
    for e in (1, 2, 3):
        apply_batch(
            spark, src,
            spark.createDataFrame(_rows(30, lsn0=100 * e + 100), SCHEMA),
            epoch=e,
        )
    src.compact()
    src.expire_snapshots(keep_last=1, orphan_grace_seconds=0)
    assert _state(clone) == want
    # clone-side GC walks only its own root: source files untouched
    n_src = len(_local_parquet(tmp_path / "src"))
    apply_batch(
        spark, clone,
        spark.createDataFrame(_rows(20, lsn0=999), SCHEMA), epoch=9,
    )
    clone.compact()
    clone.expire_snapshots(keep_last=1, orphan_grace_seconds=0)
    assert len(_local_parquet(tmp_path / "src")) == n_src
    assert _state(clone) != want or True  # clone still readable
    clone.read().count()


def test_compact_localizes_then_detach_releases_pin(spark, tmp_path):
    src = _mk_table(spark, tmp_path / "src")
    apply_batch(spark, src, spark.createDataFrame(_rows(100), SCHEMA), epoch=0)
    clone = src.clone_to(str(tmp_path / "dev"))
    with pytest.raises(ValueError, match="still references"):
        clone.detach_clone()
    clone.compact()
    assert clone.foreign_file_count() == 0
    want = _state(clone)
    clone.detach_clone()
    assert not any(t.startswith("clone-") for t in src.tags())
    assert "clone.source" not in clone.current().props
    # after detach the source can expire everything; clone unaffected
    apply_batch(
        spark, src, spark.createDataFrame(_rows(10, lsn0=500), SCHEMA), epoch=1
    )
    src.compact()
    src.expire_snapshots(keep_last=1, orphan_grace_seconds=0)
    assert _state(clone) == want


def test_clone_of_clone_and_double_clone_rejected(spark, tmp_path):
    src = _mk_table(spark, tmp_path / "src")
    apply_batch(spark, src, spark.createDataFrame(_rows(60), SCHEMA), epoch=0)
    dev = src.clone_to(str(tmp_path / "dev"))
    dev2 = dev.clone_to(str(tmp_path / "dev2"))
    assert _state(dev2) == _state(src)
    with pytest.raises(ValueError, match="already exists"):
        src.clone_to(str(tmp_path / "dev"))


def test_state_counts_and_fsck_work_on_clones(spark, tmp_path):
    src = _mk_table(spark, tmp_path / "src")
    apply_batch(spark, src, spark.createDataFrame(_rows(80), SCHEMA), epoch=0)
    src.compact()
    clone = src.clone_to(str(tmp_path / "dev"))
    sc = clone.state_counts()
    assert sc["live"] == clone.read().count()
    assert sc["scanned_buckets"] == 0  # inherited folded layout + stats
    rep = clone.fsck(deep=True)  # stats drift + bucket honesty across
    assert rep["ok"], rep        # the foreign absolute-path entries


def test_fast_forward_publishes_branch_metadata_only(spark, tmp_path):
    trunk = _mk_table(spark, tmp_path / "trunk")
    apply_batch(spark, trunk, spark.createDataFrame(_rows(100), SCHEMA), epoch=0)
    branch = trunk.clone_to(str(tmp_path / "dev"))
    fix = spark.createDataFrame(_rows(40, lsn0=100, tag="fix"), SCHEMA)
    apply_batch(spark, branch, fix, epoch=1)
    want = _state(branch)
    n_files_before = len(_local_parquet(tmp_path / "trunk"))
    trunk.fast_forward_from(branch)
    assert _state(trunk) == want
    # not one data file written under the trunk — pure metadata publish
    assert len(_local_parquet(tmp_path / "trunk")) == n_files_before
    # the branch's CDC frontier came across: epoch 1 replays as a no-op
    r = apply_batch(spark, trunk, fix, epoch=1)
    assert r.skipped
    # localize + detach releases the publish pin on the branch
    trunk.compact()
    assert trunk.foreign_file_count() == 0
    trunk.detach_clone()
    assert not any(t.startswith("publish-") for t in branch.tags())
    # the branch's own pin on the OLD trunk snapshot is untouched — the
    # branch still reads trunk files through its snapshots
    assert any(t.startswith("clone-") for t in trunk.tags())


def test_fast_forward_rejects_diverged_trunk(spark, tmp_path):
    trunk = _mk_table(spark, tmp_path / "trunk")
    apply_batch(spark, trunk, spark.createDataFrame(_rows(60), SCHEMA), epoch=0)
    branch = trunk.clone_to(str(tmp_path / "dev"))
    apply_batch(
        spark, branch,
        spark.createDataFrame(_rows(20, lsn0=100, tag="fix"), SCHEMA), epoch=1,
    )
    # trunk moves on -> publish must refuse (fast-forward only)
    apply_batch(
        spark, trunk,
        spark.createDataFrame(_rows(20, lsn0=200, tag="trunk"), SCHEMA),
        epoch=1,
    )
    with pytest.raises(ValueError, match="trunk advanced"):
        trunk.fast_forward_from(branch)
    # a non-clone (or a clone of some OTHER table) is rejected too
    other = _mk_table(spark, tmp_path / "other")
    apply_batch(spark, other, spark.createDataFrame(_rows(10), SCHEMA), epoch=0)
    with pytest.raises(ValueError, match="not a clone"):
        trunk.fast_forward_from(other)


def test_fast_forward_survives_branch_side_gc(spark, tmp_path):
    trunk = _mk_table(spark, tmp_path / "trunk")
    apply_batch(spark, trunk, spark.createDataFrame(_rows(80), SCHEMA), epoch=0)
    branch = trunk.clone_to(str(tmp_path / "dev"))
    apply_batch(
        spark, branch,
        spark.createDataFrame(_rows(30, lsn0=100, tag="fix"), SCHEMA), epoch=1,
    )
    trunk.fast_forward_from(branch)
    want = _state(trunk)
    # branch keeps evolving and GCs aggressively — the publish pin must
    # keep the adopted files alive for the trunk
    apply_batch(
        spark, branch,
        spark.createDataFrame(_rows(30, lsn0=200, tag="later"), SCHEMA),
        epoch=2,
    )
    branch.compact()
    branch.expire_snapshots(keep_last=1, orphan_grace_seconds=0)
    assert _state(trunk) == want


def test_rebase_then_publish_after_divergence(spark, tmp_path):
    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import rebase_branch

    trunk = _mk_table(spark, tmp_path / "trunk")
    apply_batch(spark, trunk, spark.createDataFrame(_rows(100), SCHEMA), epoch=0)
    branch = trunk.clone_to(str(tmp_path / "dev"))
    apply_batch(
        spark, branch,
        spark.createDataFrame(_rows(40, lsn0=100, tag="dev"), SCHEMA), epoch=1,
    )
    apply_batch(
        spark, trunk,
        spark.createDataFrame(_rows(40, lsn0=200, tag="trunk"), SCHEMA),
        epoch=2,
    )
    with pytest.raises(ValueError, match="trunk advanced"):
        trunk.fast_forward_from(branch)
    snap = rebase_branch(spark, branch)
    assert snap is not None
    dev = _state(branch)
    # the branch now holds BOTH sides' rows: its own fix and the trunk's
    assert any("dev" in t for _c, _i, t in dev)
    assert any("trunk" in t for _c, _i, t in dev)
    assert rebase_branch(spark, branch) is None  # idempotent no-op
    trunk.fast_forward_from(branch)
    assert _state(trunk) == dev
    # both frontiers folded: neither epoch replays
    assert trunk.has_commit_key("epoch:1")
    assert trunk.has_commit_key("epoch:2")


def test_rebase_conflicting_key_resolves_by_lsn(spark, tmp_path):
    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import rebase_branch

    trunk = _mk_table(spark, tmp_path / "trunk")
    apply_batch(spark, trunk, spark.createDataFrame(_rows(20), SCHEMA), epoch=0)
    branch = trunk.clone_to(str(tmp_path / "dev"))
    # same key (c000, 0) updated on both sides; the trunk's write carries
    # the HIGHER lsn, so it must win on the branch after the rebase —
    # order of application is irrelevant under LWW
    apply_batch(
        spark, branch,
        spark.createDataFrame(
            [(500, "insert", "c000", 0, "user", "branch-side", None, D0)],
            SCHEMA,
        ),
        epoch=1,
    )
    apply_batch(
        spark, trunk,
        spark.createDataFrame(
            [(900, "insert", "c000", 0, "user", "trunk-side", None, D0)],
            SCHEMA,
        ),
        epoch=2,
    )
    rebase_branch(spark, branch)
    got = {(c, i): t for c, i, t in _state(branch)}
    assert got[("c000", 0)] == "trunk-side"


def test_rebase_spans_trunk_compaction(spark, tmp_path):
    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import rebase_branch

    trunk = _mk_table(spark, tmp_path / "trunk")
    apply_batch(spark, trunk, spark.createDataFrame(_rows(60), SCHEMA), epoch=0)
    branch = trunk.clone_to(str(tmp_path / "dev"))
    apply_batch(
        spark, trunk,
        spark.createDataFrame(_rows(30, lsn0=100, tag="after"), SCHEMA),
        epoch=1,
    )
    trunk.compact()  # state-preserving commit inside the rebase window
    apply_batch(
        spark, trunk,
        spark.createDataFrame(_rows(10, lsn0=300, tag="tail"), SCHEMA),
        epoch=2,
    )
    rebase_branch(spark, branch)
    assert _state(branch) == _state(trunk)


def test_fast_forward_is_a_changefeed_barrier(spark, tmp_path):
    """A publish adopts state through a replace manifest — no delta a
    consumer could apply — so a changes() window spanning it must raise
    (mirrors/views take their rebuild path), exactly like overwrite."""
    trunk = _mk_table(spark, tmp_path / "trunk")
    apply_batch(spark, trunk, spark.createDataFrame(_rows(60), SCHEMA), epoch=0)
    pos = trunk.current().snapshot_id
    branch = trunk.clone_to(str(tmp_path / "dev"))
    apply_batch(
        spark, branch,
        spark.createDataFrame(_rows(20, lsn0=100, tag="fix"), SCHEMA), epoch=1,
    )
    trunk.fast_forward_from(branch)
    for kwargs in ({}, {"skip_rolled_back": True}):
        with pytest.raises(ValueError, match="fast-forward"):
            trunk.changes(pos, **kwargs).collect()


def test_incremental_view_rebuilds_across_a_publish(spark, tmp_path):
    """A view maintained from the trunk's changefeed must survive a
    fast-forward publish: the barrier makes the incremental window
    unusable, so refresh() takes its full-rebuild path and the view
    equals a from-scratch recompute over the published state."""
    from postgres_to_snowflake_data_pipeline_spark.lake.view import (
        IncrementalAggView,
    )

    def agg(rows):
        return rows.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("chars"),
        )

    trunk = _mk_table(spark, tmp_path / "trunk", n_buckets=4)
    apply_batch(spark, trunk, spark.createDataFrame(_rows(100), SCHEMA), epoch=0)
    view = IncrementalAggView(
        spark, str(tmp_path / "view"), trunk,
        group_cols=("conv_id",), agg_fn=agg, n_buckets=2,
    )
    view.refresh()

    branch = trunk.clone_to(str(tmp_path / "dev"))
    apply_batch(
        spark, branch,
        spark.createDataFrame(_rows(60, lsn0=200, tag="branchy"), SCHEMA),
        epoch=1,
    )
    trunk.fast_forward_from(branch)
    view.refresh()  # must take the rebuild path, not raise or go stale
    got = view.read()
    want = agg(trunk.read())
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_publish_races_a_trunk_writer(spark, tmp_path):
    """A publish racing a concurrent trunk merge must never corrupt
    state: either the publish wins (the merge rebases onto it — final
    state is LWW over branch-state plus the batch) or the merge wins
    (the publish rejects with the divergence error and the trunk holds
    base plus the batch). Both raced commits go through the same CAS,
    so no third outcome exists."""
    import threading

    trunk = _mk_table(spark, tmp_path / "trunk", n_buckets=2)
    apply_batch(spark, trunk, spark.createDataFrame(_rows(60), SCHEMA), epoch=0)
    branch = trunk.clone_to(str(tmp_path / "dev"))
    apply_batch(
        spark, branch,
        spark.createDataFrame(_rows(30, lsn0=100, tag="branchy"), SCHEMA),
        epoch=1,
    )
    batch = spark.createDataFrame(_rows(20, lsn0=300, tag="racer"), SCHEMA)

    outcome = {}
    start = threading.Barrier(2)

    def writer():
        start.wait()
        apply_batch(spark, trunk, batch, epoch=2)

    def publisher():
        start.wait()
        try:
            trunk.fast_forward_from(branch)
            outcome["published"] = True
        except ValueError as e:
            assert "trunk advanced" in str(e) or "rebase" in str(e), e
            outcome["published"] = False

    ts = [threading.Thread(target=writer), threading.Thread(target=publisher)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()

    got = _state(trunk)
    if outcome["published"]:
        # merge rebase lands the batch on top of the adopted branch state
        want_keys = dict()
        for rows in (_rows(60), _rows(30, lsn0=100, tag="branchy"),
                     _rows(20, lsn0=300, tag="racer")):
            for (l, _op, c, t_, _r, txt, _tool, _ts) in rows:
                cur = want_keys.get((c, t_))
                if cur is None or l > cur[0]:
                    want_keys[(c, t_)] = (l, txt)
        want = sorted((c, t_, txt) for (c, t_), (_l, txt) in want_keys.items())
    else:
        want_keys = dict()
        for rows in (_rows(60), _rows(20, lsn0=300, tag="racer")):
            for (l, _op, c, t_, _r, txt, _tool, _ts) in rows:
                cur = want_keys.get((c, t_))
                if cur is None or l > cur[0]:
                    want_keys[(c, t_)] = (l, txt)
        want = sorted((c, t_, txt) for (c, t_), (_l, txt) in want_keys.items())
        assert _state(branch) != got  # branch untouched, still diverged
    assert got == want, outcome


def test_clone_from_a_historical_snapshot(spark, tmp_path):
    """Branching from a PAST snapshot (reproduce-a-release workflows):
    the clone equals the time-travel read at that snapshot, its pin
    holds THAT snapshot against source retention, and its frontier is
    the historical one (the later epoch replays onto the branch)."""
    src = _mk_table(spark, tmp_path / "src")
    e0 = spark.createDataFrame(_rows(60), SCHEMA)
    apply_batch(spark, src, e0, epoch=0)
    sid = src.current().snapshot_id
    e1 = spark.createDataFrame(_rows(30, lsn0=100, tag="later"), SCHEMA)
    apply_batch(spark, src, e1, epoch=1)

    clone = src.clone_to(str(tmp_path / "past"), snapshot_id=sid)
    want = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in src.read(snapshot_id=sid).collect()
    )
    assert _state(clone) == want
    # the historical frontier came across: epoch 1 is NOT applied yet
    r = apply_batch(spark, clone, e1, epoch=1)
    assert not r.skipped
    assert _state(clone) == _state(src)
    # the pin protects the HISTORICAL snapshot through source retention
    src.compact()
    src.expire_snapshots(keep_last=1, orphan_grace_seconds=0)
    assert _state(clone) == _state(src)


def test_clone_pin_tokens_are_per_attempt_unique(spark, tmp_path):
    """ADVICE r4: two clones must never share a pin token — a CAS loser
    (or a stale-pin recreate) dropping a dest-derived token would strip
    the WINNER's live pin. The token is per-attempt uuid, recorded in
    clone.source_tag, and dropping one clone's pin leaves the other's."""
    src = _mk_table(spark, tmp_path / "src")
    apply_batch(spark, src, spark.createDataFrame(_rows(60), SCHEMA), epoch=0)
    a = src.clone_to(str(tmp_path / "a"))
    b = src.clone_to(str(tmp_path / "b"))
    ta = a.current().props["clone.source_tag"]
    tb = b.current().props["clone.source_tag"]
    assert ta != tb
    assert {ta, tb} <= set(src.tags())
    src.log.drop_tag(ta)
    assert tb in set(src.tags())  # b's pin survives a's release


def test_rebase_crash_after_merge_recovers_frontier_keys(spark, tmp_path):
    """ADVICE r4: the data merge lands FIRST (advancing
    clone.source_snapshot atomically with it); the frontier-key fold runs
    after. Simulate a crash in between — branch data is current, keys
    missing — and assert (a) a direct replay of the trunk epoch re-applies
    harmlessly (LWW-idempotent, no silent no-op data loss), (b) the next
    rebase_branch call completes the fold, after which the replay
    no-ops."""
    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import (
        _normalize_batch,
        lww_dedup,
        rebase_branch,
    )

    src = _mk_table(spark, tmp_path / "src")
    apply_batch(spark, src, spark.createDataFrame(_rows(60), SCHEMA), epoch=0)
    branch = src.clone_to(str(tmp_path / "dev"))
    trunk_batch = spark.createDataFrame(_rows(30, lsn0=60, tag="tr"), SCHEMA)
    apply_batch(spark, src, trunk_batch, epoch=1)

    # replicate rebase_branch's merge WITHOUT the key fold (the crash)
    head = src.current().snapshot_id
    base = int(branch.current().props["clone.source_snapshot"])
    feed = src.changes(base, until_snapshot_id=head, skip_rolled_back=True)
    schema, events, obs_fn = _normalize_batch(branch, feed, "crash-sim")
    branch.merge(
        lww_dedup(events, schema, branch.current(), 0),
        schema=schema,
        summary={"rebase_from": base, "rebase_to": head},
        summary_fn=obs_fn,
        props_update={"clone.source_snapshot": head},
    )
    want = _state(branch)
    assert not branch.has_commit_key("epoch:1")  # the crash window

    # (a) re-applying the trunk epoch is NOT skipped, and converges
    r = apply_batch(spark, branch, trunk_batch, epoch=1)
    assert not r.skipped
    assert _state(branch) == want

    # (b) the next rebase call (head == base) completes the fold
    assert rebase_branch(spark, branch) is None
    assert branch.has_commit_key("epoch:1")
    r2 = apply_batch(spark, branch, trunk_batch, epoch=1)
    assert r2.skipped
    assert _state(branch) == want
