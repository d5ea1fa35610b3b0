"""Incremental consumption: LakeTable.changes() + egress sinks."""

from __future__ import annotations

from pyspark.sql import functions as F

from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch
from postgres_to_snowflake_data_pipeline_spark.cdc.generator import change_events
from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import TRANSCRIPT_SCHEMA
from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable
from postgres_to_snowflake_data_pipeline_spark.sinks import (
    export_partitioned_snapshot,
    write_report_parquet,
)


def _table(spark, tmp_path, name="t"):
    return LakeTable.create(
        spark, str(tmp_path / name), TRANSCRIPT_SCHEMA, ("conv_id", "turn_idx"), n_buckets=4
    )


def test_changes_returns_only_new_commits(spark, tmp_path):
    table = _table(spark, tmp_path)
    e1 = change_events(spark, 2000, n_convs=100, seed=1)
    e2 = change_events(spark, 1000, n_convs=100, seed=2)
    apply_batch(spark, table, e1, epoch=0)
    mid = table.current().snapshot_id
    apply_batch(spark, table, e2, epoch=1)

    delta = table.changes(since_snapshot_id=mid)
    # epoch 1 winners only: one row per key of e2, op upsert/delete
    exp = e2.select("conv_id", "turn_idx").distinct().count()
    assert delta.count() == exp
    assert set(r["op"] for r in delta.select("op").distinct().collect()) <= {
        "upsert",
        "delete",
    }
    # since current snapshot -> empty
    assert table.changes(table.current().snapshot_id).count() == 0


def test_changes_skips_compaction_rewrites(spark, tmp_path):
    table = _table(spark, tmp_path)
    apply_batch(spark, table, change_events(spark, 2000, n_convs=100, seed=1), epoch=0)
    mid = table.current().snapshot_id
    apply_batch(spark, table, change_events(spark, 1000, n_convs=100, seed=2), epoch=1)
    before = table.changes(mid).count()
    table.compact()
    # compaction rewrites existing rows; the change set must not grow
    assert table.changes(mid).count() == before


def test_changes_feed_downstream_roundtrip(spark, tmp_path):
    """changes() output can drive a downstream replica: applying the delta
    to a copy of the table at `mid` reproduces the upstream final state."""
    table = _table(spark, tmp_path, "up")
    apply_batch(spark, table, change_events(spark, 2000, n_convs=100, seed=1), epoch=0)
    mid = table.current().snapshot_id
    apply_batch(spark, table, change_events(spark, 1000, n_convs=100, seed=2), epoch=1)

    replica = _table(spark, tmp_path, "down")
    # seed with original LSNs + tombstones so cross-epoch LWW ordering
    # (late lower-LSN deltas, deleted keys) replays identically downstream
    base = table.read(snapshot_id=mid, include_internal=True, include_tombstones=True)
    apply_batch(
        spark,
        replica,
        base.select(
            F.col("_lsn").alias("lsn"),
            F.when(F.col("_deleted"), "delete").otherwise("insert").alias("op"),
            *TRANSCRIPT_SCHEMA.fieldNames(),
        ),
        epoch=0,
    )
    delta = table.changes(mid).withColumn(
        "op", F.when(F.col("op") == "delete", "delete").otherwise("update")
    )
    apply_batch(spark, replica, delta, epoch=1)
    up = table.read()
    down = replica.read()
    assert up.exceptAll(down).count() == 0 and down.exceptAll(up).count() == 0


def test_partitioned_export_layout(spark, tmp_path):
    table = _table(spark, tmp_path)
    apply_batch(spark, table, change_events(spark, 2000, n_convs=100), epoch=0)
    out = str(tmp_path / "export")
    export_partitioned_snapshot(table.read(), out, date_col="ts")
    back = spark.read.parquet(out)
    assert back.count() == table.read().count()
    assert {"_y", "_m", "_d"} <= set(back.columns)

    rp = str(tmp_path / "report")
    write_report_parquet(table.read().groupBy("role").count(), rp)
    assert spark.read.parquet(rp).count() > 0


def test_changes_bounded_window_is_reproducible(spark, tmp_path):
    """changes(since, until) re-reads exactly the slice an earlier poll
    saw, no matter how many commits landed after the window closed."""
    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch
    from postgres_to_snowflake_data_pipeline_spark.cdc.generator import change_events
    from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import TRANSCRIPT_SCHEMA
    from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable
    from pyspark.sql import functions as F

    table = LakeTable.create(
        spark, str(tmp_path / "w"), TRANSCRIPT_SCHEMA,
        ("conv_id", "turn_idx"), n_buckets=4,
    )
    ev = change_events(spark, 3000, n_convs=100).localCheckpoint()
    for e in range(3):
        apply_batch(spark, table, ev.filter(F.col("lsn") % 3 == e), epoch=e)
    mid = table.current().snapshot_id
    window = table.changes(1, until_snapshot_id=mid).collect()
    # more commits land after the window closed
    apply_batch(spark, table,
                ev.limit(200).withColumn("lsn", F.col("lsn") + 7_000_000),
                epoch=7)
    again = table.changes(1, until_snapshot_id=mid).collect()
    assert sorted(map(tuple, window)) == sorted(map(tuple, again))
    # and the open window includes the new commit's rows
    assert len(table.changes(1).collect()) > len(window)
