"""Streaming CDC: checkpointed readStream -> foreachBatch merge.

Covers SURVEY.md §7.2 steps 5-6: streaming wrapper reusing the batch apply,
kill/restart reconvergence from checkpoint, exactly-once across a full
re-run, and incremental arrival of new feed files.
"""

from __future__ import annotations

import shutil

import pytest

from postgres_to_snowflake_data_pipeline_spark.cdc.apply import export_lineage
from postgres_to_snowflake_data_pipeline_spark.cdc.generator import change_events, write_feed
from postgres_to_snowflake_data_pipeline_spark.cdc.oracle import assert_matches_oracle
from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import (
    CHANGE_EVENT_SCHEMA,
    TRANSCRIPT_SCHEMA,
)
from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable
from postgres_to_snowflake_data_pipeline_spark.streaming.pipeline import run_stream

PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


@pytest.fixture()
def setup(spark, tmp_path):
    events = change_events(spark, 8000, n_convs=400)
    feed = str(tmp_path / "feed")
    write_feed(events, feed, n_files=8)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, ("conv_id", "turn_idx"), n_buckets=8
    )
    return events, feed, table, str(tmp_path / "ckpt"), str(tmp_path / "lineage")


def test_stream_drain_matches_oracle(spark, setup):
    events, feed, table, ckpt, lineage = setup
    q = run_stream(spark, table, feed, CHANGE_EVENT_SCHEMA, ckpt,
                   max_files_per_trigger=2)
    assert q.awaitTermination(300), "stream did not drain within deadline"
    assert_matches_oracle(table.read(), events, PAYLOAD)
    export_lineage(spark, table, lineage)  # once, after the drain
    ldf = spark.read.parquet(lineage)
    assert ldf.groupBy().sum("rows_in").first()[0] == events.count()


def test_stream_restart_from_checkpoint_reconverges(spark, setup):
    events, feed, table, ckpt, _ = setup
    # phase 1: process only part of the feed, then stop (simulated kill)
    q = run_stream(spark, table, feed, CHANGE_EVENT_SCHEMA, ckpt,
                   max_files_per_trigger=1, available_now=False)
    import time
    deadline = time.time() + 120
    while time.time() < deadline:
        if table.current().commit_count >= 3:
            break
        time.sleep(1)
    q.stop()
    assert q.awaitTermination(60), "stream did not drain within deadline"
    assert table.current().commit_count >= 3, "stream made no progress before kill"
    # phase 2: restart from the same checkpoint; drain the rest
    q2 = run_stream(spark, table, feed, CHANGE_EVENT_SCHEMA, ckpt,
                    max_files_per_trigger=1)
    assert q2.awaitTermination(300), "stream did not drain within deadline"
    assert_matches_oracle(table.read(), events, PAYLOAD)


def test_whole_stream_replayed_twice_converges_identically(spark, setup, tmp_path):
    events, feed, table, ckpt, _ = setup
    q = run_stream(spark, table, feed, CHANGE_EVENT_SCHEMA, ckpt)
    assert q.awaitTermination(300), "stream did not drain within deadline"
    state1 = table.read().orderBy("conv_id", "turn_idx").collect()
    # wipe the checkpoint -> Spark re-delivers every batch with the same ids
    shutil.rmtree(ckpt)
    q2 = run_stream(spark, table, feed, CHANGE_EVENT_SCHEMA, ckpt)
    assert q2.awaitTermination(300), "stream did not drain within deadline"
    state2 = table.read().orderBy("conv_id", "turn_idx").collect()
    assert state1 == state2, "second full replay changed table state"


def test_late_arriving_feed_files(spark, tmp_path):
    """Files landing after the first drain are picked up by a later run and
    the final state still matches the full-feed oracle."""
    all_events = change_events(spark, 6000, n_convs=300)
    half1 = all_events.filter("lsn < 6000")
    half2 = all_events.filter("lsn >= 6000")
    feed = str(tmp_path / "feed")
    write_feed(half1, feed, n_files=3)
    # write_feed(mode=overwrite) would clobber: append the second half
    (half2.repartitionByRange(3, "lsn").sortWithinPartitions("lsn")
     .write.mode("append").parquet(feed))
    table = LakeTable.create(
        spark, str(tmp_path / "t2"), TRANSCRIPT_SCHEMA, ("conv_id", "turn_idx"), n_buckets=8
    )
    q = run_stream(spark, table, feed, CHANGE_EVENT_SCHEMA, str(tmp_path / "ck"))
    assert q.awaitTermination(300), "stream did not drain within deadline"
    assert_matches_oracle(table.read(), all_events, PAYLOAD)

def test_watermarked_duplicate_shed_matches_oracle(spark, setup):
    """Optional dropDuplicatesWithinWatermark path: same final state, with
    cross-batch duplicate LSN emissions shed before the merge."""
    events, feed, table, ckpt, _ = setup
    q = run_stream(spark, table, feed, CHANGE_EVENT_SCHEMA, ckpt,
                   max_files_per_trigger=2, watermark_delay="12 hours")
    assert q.awaitTermination(300), "stream did not drain within deadline"
    assert_matches_oracle(table.read(), events, PAYLOAD)


def test_file_count_compaction_trigger_bounds_read_amplification(spark, setup):
    """With the epoch-cadence trigger off, the file-count trigger alone must
    keep per-bucket file counts bounded across many tiny micro-batches —
    and the result still matches the oracle."""
    events, feed, table, ckpt, _ = setup
    q = run_stream(spark, table, feed, CHANGE_EVENT_SCHEMA, ckpt,
                   max_files_per_trigger=1, compact_every=0,
                   compact_max_files=3)
    assert q.awaitTermination(300), "stream did not drain within deadline"
    worst = max(len(fs) for fs in table.current().files.values())
    # one over-bound epoch may land after the last compaction check
    assert worst <= 3 + 1, f"bucket has {worst} files despite trigger"
    assert_matches_oracle(table.read(), events, PAYLOAD)


def test_stream_time_clustered_compaction(spark, setup):
    """A ts_slices layout rides the streaming cadence trigger: after the
    drain the buckets hold one pass's lww_group-tagged slices, the state
    still matches the oracle, and a follow-up compact() treats the sliced
    buckets as already folded."""
    events, feed, table, ckpt, _ = setup
    q = run_stream(spark, table, feed, CHANGE_EVENT_SCHEMA, ckpt,
                   max_files_per_trigger=2, compact_every=2,
                   compact_layout={"ts_slices": 3})
    assert q.awaitTermination(300), "stream did not drain within deadline"
    assert_matches_oracle(table.read(), events, PAYLOAD)
    snap = table.current()
    sliced = [fs for fs in snap.files.values()
              if len(fs) > 1 and len({e.get("lww_group") for e in fs}) == 1
              and all(e.get("lww_group") for e in fs)]
    assert sliced, "no bucket ended as a single pass of time slices"
    assert table.compact().snapshot_id == snap.snapshot_id


def test_stream_restart_without_flag_preserves_slicing(spark, tmp_path):
    """A restarted stream that omits compact_layout must not un-slice
    the layout its previous run built (default None = preserve)."""
    events = change_events(spark, 6000, n_convs=300)
    feed = str(tmp_path / "feed")
    write_feed(events, feed, n_files=6)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        ("conv_id", "turn_idx"), n_buckets=4,
    )
    ckpt = str(tmp_path / "ckpt")
    q = run_stream(spark, table, feed, CHANGE_EVENT_SCHEMA, ckpt,
                   max_files_per_trigger=2, compact_every=1,
                   compact_layout={"ts_slices": 3})
    assert q.awaitTermination(300), "stream did not drain within deadline"
    # more feed arrives; the operator restarts WITHOUT the flag
    extra = change_events(spark, 2000, n_convs=300, seed=77)
    import glob as _g
    n0 = len(_g.glob(feed + "/*.parquet"))
    write_feed(extra, str(tmp_path / "extra"), n_files=2)
    import shutil as _sh
    for i, f in enumerate(sorted(_g.glob(str(tmp_path / "extra") + "/*.parquet"))):
        _sh.copy(f, f"{feed}/late-{i}.parquet")
    q2 = run_stream(spark, table, feed, CHANGE_EVENT_SCHEMA, ckpt,
                    max_files_per_trigger=2, compact_every=1)
    assert q2.awaitTermination(300), "stream did not drain within deadline"
    snap = table.current()
    ks = {e.get("ts_k") for fs in snap.files.values() for e in fs
          if e.get("kind") == "base"}
    assert ks == {3}, ks


def test_stream_compact_layout_grid(spark, setup):
    """The general compact_layout form rides the same cadence: a grid
    layout folds the stream's buckets with tight ranges on both axes and
    state stays oracle-equal."""
    events, feed, table, ckpt, _ = setup
    q = run_stream(spark, table, feed, CHANGE_EVENT_SCHEMA, ckpt,
                   max_files_per_trigger=2, compact_every=2,
                   compact_layout={"key_slices": 3, "ts_slices": 2})
    assert q.awaitTermination(300), "stream did not drain within deadline"
    assert_matches_oracle(table.read(), events, PAYLOAD)
    snap = table.current()
    gridded = [
        fs for fs in snap.files.values()
        if fs and {e.get("key_k") for e in fs} == {3}
        and {e.get("ts_k") for e in fs} == {2}
        and all(e["kind"] == "base" for e in fs)
    ]
    assert gridded, "no bucket ended folded at the grid layout"
    # follow-up default compact preserves (already folded => same snap)
    assert table.compact().snapshot_id == snap.snapshot_id
