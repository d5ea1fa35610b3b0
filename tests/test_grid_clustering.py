"""Grid-clustered compaction: `compact(key_slices=kk, ts_slices=tk)` bands each
bucket's resolved rows at key quantiles, then cuts each band at event-time
quantiles — up to kk×tk base files whose manifest entries carry TIGHT
ranges on BOTH axes (the slice grid a Z-order curve degenerates to at file
granularity). The balanced layout for mixed read workloads: a point lookup
opens one key band (1/kk of the bucket's bytes), a time window one ts band
per key band (~1/tk) — neither axis optimal, neither pathological."""

from __future__ import annotations

import datetime as dt

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


def _rows(n, lsn0=0, n_convs=40, days=8):
    # event time spreads over `days` disjoint days, keys over n_convs
    return [
        (lsn0 + j, "insert", f"c{j % n_convs:03d}", (lsn0 + j) // n_convs,
         "user", f"txt {lsn0 + j}", None,
         D0 + dt.timedelta(days=j % days, hours=(j // days) % 24))
        for j in range(n)
    ]


def _state(table):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["text"]) for r in table.read().collect()
    )


def test_grid_layout_has_tight_ranges_on_both_axes(spark, tmp_path):
    table = _mk_table(spark, tmp_path / "t")
    apply_batch(spark, table, spark.createDataFrame(_rows(400), SCHEMA), epoch=0)
    before = _state(table)
    snap = table.compact(key_slices=4, ts_slices=4)
    for _b, fs in snap.files.items():
        assert {e["key_k"] for e in fs} == {4}
        assert {e["ts_k"] for e in fs} == {4}
        assert all(e["kind"] == "base" for e in fs)
        assert len(fs) > 4  # the grid fanned out beyond one axis
        # THE grid invariant: any two files of a bucket are disjoint on
        # at least one axis (same key band => ts-disjoint; different
        # bands => key-disjoint), which is exactly what lets a combined
        # (key, ts) probe open one file. (Within a band, a ts slice's key
        # stats are its actual subset — nested, not banded, ranges.)
        for i, a in enumerate(fs):
            for b in fs[i + 1:]:
                key_overlap = (
                    a["key_min"] <= b["key_max"]
                    and b["key_min"] <= a["key_max"]
                )
                ts_overlap = (
                    a["ts_min"] <= b["ts_max"] and b["ts_min"] <= a["ts_max"]
                )
                assert not (key_overlap and ts_overlap), (a, b)
        # tightness on both axes: several distinct ts spans AND at least
        # two key-disjoint groups inside one bucket
        assert len({(e["ts_min"], e["ts_max"]) for e in fs}) > 1
        ordered = sorted(fs, key=lambda e: e["key_min"])
        assert any(
            x["key_max"] < y["key_min"]
            for x, y in zip(ordered, ordered[1:])
        )
    assert _state(table) == before  # LWW state untouched by re-layout


def test_grid_prunes_both_read_shapes(spark, tmp_path):
    table = _mk_table(spark, tmp_path / "t")
    apply_batch(spark, table, spark.createDataFrame(_rows(400), SCHEMA), epoch=0)
    plain_rows = _state(table)
    snap = table.compact(key_slices=4, ts_slices=4)
    per_bucket = max(len(fs) for fs in snap.files.values())
    assert per_bucket > 4  # the grid actually fanned out

    # point lookup: opens one key band's files (<= tk per bucket), not
    # the whole bucket
    opened = table.read_key("c007").inputFiles()
    assert 1 <= len(opened) <= 4
    got = table.read_key("c007").collect()
    assert got and all(r["conv_id"] == "c007" for r in got)
    assert sorted((r["conv_id"], r["turn_idx"], r["text"]) for r in got) == [
        x for x in plain_rows if x[0] == "c007"
    ]

    # time window: opens ~one ts band per key band, fewer files than all
    lo = D0
    hi = D0 + dt.timedelta(days=1) - dt.timedelta(seconds=1)
    pruned = table.read(ts_prune=(lo, hi))
    all_files = set(table.read().inputFiles())
    win_files = set(pruned.inputFiles())
    assert win_files < all_files
    assert len(win_files) <= len(all_files) // 2
    # identical result to the unpruned residual filter
    full = table.read().filter(F.col("ts").between(lo, hi))
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_default_compact_preserves_grid_layout(spark, tmp_path):
    table = _mk_table(spark, tmp_path / "t")
    apply_batch(spark, table, spark.createDataFrame(_rows(240), SCHEMA), epoch=0)
    table.compact(key_slices=3, ts_slices=2)
    apply_batch(
        spark, table,
        spark.createDataFrame(_rows(120, lsn0=1000), SCHEMA), epoch=1,
    )
    snap = table.compact()  # default-args maintenance fold
    for _b, fs in snap.files.items():
        assert {e["key_k"] for e in fs} == {3}
        assert {e["ts_k"] for e in fs} == {2}
        assert all(e["kind"] == "base" for e in fs)


def test_grid_needs_a_timestamp_column(spark, tmp_path):
    import pyspark.sql.types as T

    t = LakeTable.create(
        spark, str(tmp_path / "nt"),
        T.StructType([
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("x", T.LongType(), True),
        ]),
        key_cols=("conv_id",), n_buckets=2,
    )
    ev = spark.createDataFrame(
        [(1, "insert", "c1", 5)], "lsn long, op string, conv_id string, x long"
    )
    apply_batch(spark, t, ev, epoch=0, salt_buckets=0)
    with pytest.raises(ValueError, match="no timestamp column"):
        t.compact(key_slices=2, ts_slices=2)
