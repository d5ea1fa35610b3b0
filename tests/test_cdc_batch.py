"""End-to-end batch CDC correctness: generator -> dedup -> merge -> oracle.

The correctness gate from BASELINE.json input_hint: after replaying the
whole change feed, the table equals a naive sequential LSN-ordered replay,
row-for-row on per-turn text equality under stable (conv_id, turn_idx)
ordering (full-row equality asserted as the stretch invariant).
"""

from __future__ import annotations

import pytest

from postgres_to_snowflake_data_pipeline_spark.cdc.apply import (
    apply_batch,
    export_lineage,
    replay_feed,
)
from postgres_to_snowflake_data_pipeline_spark.cdc.generator import change_events, write_feed
from postgres_to_snowflake_data_pipeline_spark.cdc.oracle import assert_matches_oracle
from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import TRANSCRIPT_SCHEMA
from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable

N_EVENTS = 10_000
N_CONVS = 500
PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "transcripts"), TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"), n_buckets=8,
    )


def test_generator_is_deterministic_across_parallelism(spark):
    a = change_events(spark, 2000, n_convs=100, num_partitions=2)
    b = change_events(spark, 2000, n_convs=100, num_partitions=16)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_generator_feed_properties(spark):
    df = change_events(spark, N_EVENTS, n_convs=N_CONVS).cache()
    n = df.count()
    assert n > N_EVENTS  # duplicates included
    # ~2% duplicate LSN emissions
    n_dup = n - df.select("lsn", "op").distinct().count()
    assert 0.005 * N_EVENTS < n_dup < 0.05 * N_EVENTS
    # skew: hottest conversation holds >=3% of events
    top = df.groupBy("conv_id").count().orderBy("count", ascending=False).first()
    assert top["count"] > 0.03 * n
    # op mix
    ops = {r["op"]: r["count"] for r in df.groupBy("op").count().collect()}
    assert 0.02 * n < ops.get("delete", 0) < 0.10 * n
    df.unpersist()


def test_single_batch_apply_matches_oracle(spark, table):
    events = change_events(spark, N_EVENTS, n_convs=N_CONVS)
    res = apply_batch(spark, table, events, epoch=0)
    assert not res.skipped and res.rows_in == events.count()
    assert_matches_oracle(table.read(), events, PAYLOAD)


def test_multi_epoch_replay_matches_oracle(spark, table, tmp_path):
    feed_path = str(tmp_path / "feed")
    events = change_events(spark, N_EVENTS, n_convs=N_CONVS)
    write_feed(events, feed_path, n_files=10)
    lineage = str(tmp_path / "lineage")
    results = replay_feed(spark, table, feed_path, epochs=5, compact_every=2)
    assert len(results) == 5 and not any(r.skipped for r in results)
    assert_matches_oracle(table.read(), events, PAYLOAD)
    export_lineage(spark, table, lineage)  # once, after the drain
    # lineage reconciles: sum(rows_in) across epochs == feed row count
    ldf = spark.read.parquet(lineage)
    total_in = ldf.groupBy().sum("rows_in").first()[0]
    assert total_in == spark.read.parquet(feed_path).count()


def test_epoch_replay_is_idempotent(spark, table):
    events = change_events(spark, 3000, n_convs=200)
    r1 = apply_batch(spark, table, events, epoch=0)
    before = table.current().snapshot_id
    r2 = apply_batch(spark, table, events, epoch=0)  # crash-replay of epoch 0
    assert not r1.skipped and r2.skipped
    assert table.current().snapshot_id == before
    assert_matches_oracle(table.read(), events, PAYLOAD)


def test_salted_dedup_equals_unsalted(spark, tmp_path):
    events = change_events(spark, N_EVENTS, n_convs=50)  # extra-hot keys
    t1 = LakeTable.create(spark, str(tmp_path / "t1"), TRANSCRIPT_SCHEMA, ("conv_id", "turn_idx"))
    t2 = LakeTable.create(spark, str(tmp_path / "t2"), TRANSCRIPT_SCHEMA, ("conv_id", "turn_idx"))
    apply_batch(spark, t1, events, epoch=0)
    apply_batch(spark, t2, events, epoch=0, salt_buckets=16)
    a, b = t1.read(), t2.read()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert_matches_oracle(b, events, PAYLOAD)


def test_delete_not_resurrected_by_late_lower_lsn_update(spark, table):
    import datetime as dt
    rows = [
        (100, "insert", "c1", 0, "user", "hello", None, dt.datetime(2026, 1, 1)),
        (200, "delete", "c1", 0, None, None, None, dt.datetime(2026, 1, 1, 0, 1)),
    ]
    late = [(150, "update", "c1", 0, "user", "late edit", None, dt.datetime(2026, 1, 1, 0, 0, 30))]
    from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import CHANGE_EVENT_SCHEMA
    apply_batch(spark, table, spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA), epoch=0)
    assert table.read().count() == 0
    apply_batch(spark, table, spark.createDataFrame(late, CHANGE_EVENT_SCHEMA), epoch=1)
    assert table.read().count() == 0, "late lower-LSN update resurrected a deleted key"
    # ...and survives compaction
    table.compact()
    assert table.read().count() == 0
    # a genuinely newer insert does resurrect
    newer = [(300, "insert", "c1", 0, "user", "back", None, dt.datetime(2026, 1, 1, 0, 2))]
    apply_batch(spark, table, spark.createDataFrame(newer, CHANGE_EVENT_SCHEMA), epoch=2)
    assert [r["text"] for r in table.read().collect()] == ["back"]


def test_compaction_preserves_state_and_prunes_files(spark, table, tmp_path):
    feed_path = str(tmp_path / "feed")
    events = change_events(spark, 5000, n_convs=300)
    write_feed(events, feed_path, n_files=6)
    replay_feed(spark, table, feed_path, epochs=6, compact_every=0)
    before = table.read().orderBy("conv_id", "turn_idx").collect()
    n_files_before = sum(len(v) for v in table.current().files.values())
    table.compact()
    after = table.read().orderBy("conv_id", "turn_idx").collect()
    n_files_after = sum(len(v) for v in table.current().files.values())
    assert before == after
    assert n_files_after < n_files_before
    assert_matches_oracle(table.read(), events, PAYLOAD)


def test_time_travel(spark, table):
    e1 = change_events(spark, 2000, n_convs=100, seed=42)
    apply_batch(spark, table, e1, epoch=0)
    sid1 = table.current().snapshot_id
    count1 = table.read().count()
    e2 = change_events(spark, 2000, n_convs=100, seed=43)
    apply_batch(spark, table, e2, epoch=1)
    assert table.read(snapshot_id=sid1).count() == count1


def test_distributed_lww_oracle_matches_driver_oracle(spark):
    """The soaks' distributed oracle (max-struct with the delete-wins
    lsn tie-break) must agree key-for-key, column-for-column with the
    sequential driver-side replay_oracle on the same feed — the two
    independent oracles pin each other."""
    from postgres_to_snowflake_data_pipeline_spark.cdc.oracle import (
        lww_state_oracle,
        replay_oracle,
    )

    events = change_events(spark, 3000, n_convs=150)
    payload = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    want = replay_oracle([r.asDict() for r in events.collect()], payload)
    got = {
        (r["conv_id"], r["turn_idx"]): r.asDict()
        for r in lww_state_oracle(
            events, ["conv_id", "turn_idx"], payload
        ).collect()
    }
    assert set(got) == set(want)
    for key, exp in want.items():
        for c in payload:
            assert got[key][c] == exp[c], (key, c)
