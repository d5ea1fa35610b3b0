"""Hot-key skew handling (SURVEY.md §7.2 step 9): correctness under a feed
where ONE conversation holds ~50% of all events, with and without salting,
plus the plan-shape guarantee that makes unsalted dedup safe (map-side
partial aggregation collapses the hot key per input partition)."""

from __future__ import annotations

from pyspark.sql import functions as F

from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch, lww_dedup
from postgres_to_snowflake_data_pipeline_spark.cdc.generator import (
    change_events,
    hot_key_feed,
)
from postgres_to_snowflake_data_pipeline_spark.cdc.oracle import assert_matches_oracle
from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import TRANSCRIPT_SCHEMA
from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable
from postgres_to_snowflake_data_pipeline_spark.plans.inspect import explain_str

PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def test_extreme_skew_correctness(spark, tmp_path):
    events = hot_key_feed(spark, 8000)
    t1 = LakeTable.create(spark, str(tmp_path / "a"), TRANSCRIPT_SCHEMA,
                          ("conv_id", "turn_idx"), n_buckets=8)
    t2 = LakeTable.create(spark, str(tmp_path / "b"), TRANSCRIPT_SCHEMA,
                          ("conv_id", "turn_idx"), n_buckets=8)
    apply_batch(spark, t1, events, epoch=0)
    apply_batch(spark, t2, events, epoch=0, salt_buckets=32)
    assert_matches_oracle(t1.read(), events, PAYLOAD)
    a, b = t1.read(), t2.read()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _table(spark, root):
    return LakeTable.create(spark, str(root), TRANSCRIPT_SCHEMA,
                            ("conv_id", "turn_idx"), n_buckets=8)


def test_dedup_plan_has_map_side_partial_aggregation(spark, tmp_path):
    """The salted path is skew-safe because Catalyst plans a partial
    aggregate before the first exchange (a hot key collapses per input
    partition before any data moves) — assert that stays true. "simple"
    explain prints only the operator tree, root first, so text after the
    first Exchange is that exchange's input side ("formatted" mode would
    append node details that mention every partial aggregate)."""
    events = change_events(spark, 1000, n_convs=10)
    t = _table(spark, tmp_path / "t")
    plan = explain_str(lww_dedup(events, t.schema(), t.current(), 8), "simple")
    exchange_pos = plan.find("Exchange")
    assert exchange_pos != -1, "expected a shuffle in the dedup plan"
    assert "partial_max" in plan[exchange_pos:], (
        "no map-side partial aggregate below the dedup shuffle:\n" + plan
    )


def test_salted_dedup_plan_has_two_aggregations(spark, tmp_path):
    events = change_events(spark, 1000, n_convs=10)
    t = _table(spark, tmp_path / "t")
    plan = explain_str(lww_dedup(events, t.schema(), t.current(), 8))
    assert plan.count("Exchange") >= 2, "salted dedup should have two shuffles"


def test_auto_salt_triggers_on_observed_skew(spark, tmp_path):
    """salt_buckets=None is AUTO: the batch-local bucket probe sees the
    hot conversation's ~50% input share and salts the dedup; the decision
    and the observed share ride the commit summary."""
    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import AUTO_SALT_BUCKETS

    events = hot_key_feed(spark, 4000).localCheckpoint()
    table = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
                             ("conv_id", "turn_idx"), n_buckets=16)
    apply_batch(spark, table, events, epoch=0)
    summ = table.current().summary
    assert summ["salt_buckets"] == AUTO_SALT_BUCKETS
    assert summ["hot_bucket_share"] >= 0.4
    assert_matches_oracle(table.read(), events, PAYLOAD)


def test_auto_salt_stays_off_on_uniform_feed(spark, tmp_path):
    events = change_events(spark, 4000, n_convs=400).localCheckpoint()
    table = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
                             ("conv_id", "turn_idx"), n_buckets=16)
    apply_batch(spark, table, events, epoch=0)
    summ = table.current().summary
    assert summ["salt_buckets"] == 0
    assert summ["hot_bucket_share"] is not None
    assert_matches_oracle(table.read(), events, PAYLOAD)


def test_auto_salt_verdict_is_reused_between_probes(spark, tmp_path):
    """The probe's verdict amortizes: within PROBE_EVERY commits the next
    auto epoch reuses it (hot_bucket_share is null on reused commits)."""
    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import AUTO_SALT_BUCKETS

    events = hot_key_feed(spark, 4000).localCheckpoint()
    e0 = events.filter(F.col("lsn") % 2 == 0)
    e1 = events.filter(F.col("lsn") % 2 == 1)
    table = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
                             ("conv_id", "turn_idx"), n_buckets=16)
    apply_batch(spark, table, e0, epoch=0)
    s0 = table.current().summary
    assert s0["salt_buckets"] == AUTO_SALT_BUCKETS
    assert s0["hot_bucket_share"] is not None  # probed
    apply_batch(spark, table, e1, epoch=1)
    s1 = table.current().summary
    assert s1["salt_buckets"] == AUTO_SALT_BUCKETS  # reused
    assert s1["hot_bucket_share"] is None  # no re-probe
    assert_matches_oracle(table.read(), events, PAYLOAD)


def test_probe_reads_the_raw_batch(spark, tmp_path):
    """The auto-salt probe scans the RAW batch's key column (no
    mapInArrow normalizer over the payload) and measures the same share
    as on the normalized frame — also when the key's name differs only in
    case; a raw frame without the key column, or with a drifted key type,
    falls back to the normalized one."""
    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import (
        _normalize_batch,
        _probe_input,
        probe_hot_bucket_share,
    )

    events = hot_key_feed(spark, 4000).localCheckpoint()
    for i, name in enumerate(("conv_id", "CONV_ID")):
        raw = events.withColumnRenamed("conv_id", name)
        table = _table(spark, tmp_path / f"t{i}")
        _, norm, _ = _normalize_batch(table, raw, "probe")
        assert _probe_input(raw, norm, "conv_id") == (raw, name)
        share = probe_hot_bucket_share(raw, name, 8)
        assert share == probe_hot_bucket_share(norm, "conv_id", 8)
        assert share >= 0.4
        apply_batch(spark, table, raw, epoch=0)
        assert table.current().summary["hot_bucket_share"] == share

    no_key = events.drop("conv_id")
    assert _probe_input(no_key, norm, "conv_id") == (norm, "conv_id")
    # a drifted key type hashes differently from the normalized key
    long_key = spark.createDataFrame(
        [(1, "insert", 7, 0, "user", "x", None, None)],
        "lsn long, op string, conv_id long, turn_idx int, role string, "
        "text string, tool string, ts timestamp",
    )
    _, norm_long, _ = _normalize_batch(table, long_key, "probe")
    assert _probe_input(long_key, norm_long, "conv_id") == (norm_long, "conv_id")
