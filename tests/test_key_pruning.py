"""Manifest key-range stats: point lookups skip deltas that cannot
contain the key (Iceberg-style per-file column-stat pruning)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch
from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import TRANSCRIPT_SCHEMA
from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable

TS = dt.datetime(2026, 1, 1)
SCHEMA = ("lsn long, op string, conv_id string, turn_idx int, role string, "
          "text string, tool string, ts timestamp")


def _same_bucket_keys(table, prefix, n, want_bucket=0):
    """Deterministic conv ids with the given prefix that hash into one
    bucket — so key ranges, not bucket hashing, decide the pruning."""
    out, i = [], 0
    nb = table.current().n_buckets
    while len(out) < n:
        k = f"{prefix}{i:06d}"
        if table._bucket_of(k, nb) == want_bucket:
            out.append(k)
        i += 1
    return out


def test_point_lookup_skips_nonoverlapping_deltas(spark, tmp_path):
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        ("conv_id", "turn_idx"), n_buckets=4,
    )
    lo_keys = _same_bucket_keys(table, "aaa-", 5)
    hi_keys = _same_bucket_keys(table, "zzz-", 5)

    def batch(keys, lsn0):
        rows = [(lsn0 + j, "insert", k, 0, "user", f"text {k}", None, TS)
                for j, k in enumerate(keys)]
        return spark.createDataFrame(rows, SCHEMA)

    apply_batch(spark, table, batch(lo_keys, 0), epoch=0)
    apply_batch(spark, table, batch(hi_keys, 1000), epoch=1)

    # manifest entries carry the key ranges
    snap = table.current()
    entries = snap.files["0"]
    assert all(e.get("key_min") is not None for e in entries), entries
    ranges = sorted((e["key_min"], e["key_max"]) for e in entries)
    assert ranges[0][1] < "zzz-" and ranges[1][0] >= "zzz-"

    # a lo-key lookup must SCAN only the lo delta (observed via inputFiles)
    df = table.read_key(lo_keys[0])
    files = df.inputFiles()
    assert len(files) == 1 and "commit-1" in files[0], files
    assert df.count() == 1

    # correctness: an update arriving in a later overlapping delta still
    # resolves by LWW across BOTH qualifying files
    upd = spark.createDataFrame(
        [(5000, "update", lo_keys[0], 0, "user", "updated", None, TS)], SCHEMA
    )
    apply_batch(spark, table, upd, epoch=2)
    row = table.read_key(lo_keys[0]).collect()
    assert len(row) == 1 and row[0]["text"] == "updated"
    assert len(table.read_key(lo_keys[0]).inputFiles()) == 2  # lo + update

    # full reads are unaffected by stats
    assert table.read().count() == 10


def test_compaction_entries_carry_key_ranges(spark, tmp_path):
    table = LakeTable.create(
        spark, str(tmp_path / "t2"), TRANSCRIPT_SCHEMA,
        ("conv_id", "turn_idx"), n_buckets=2,
    )
    rows = [(i, "insert", f"c{i:04d}", 0, "user", f"t{i}", None, TS)
            for i in range(40)]
    apply_batch(spark, table, spark.createDataFrame(rows, SCHEMA), epoch=0)
    table.compact()
    for fs in table.current().files.values():
        for e in fs:
            assert e.get("kind") == "base"
            assert e.get("key_min") is not None
            assert e["key_min"] <= e["key_max"]


def test_distributed_stats_path_also_records_ranges(spark, tmp_path):
    """Force the distributed footer-read stats path (threshold 0 — paths
    parallelized, executors read the footers) and check it produces the
    same key ranges as the driver path."""
    table = LakeTable.create(
        spark, str(tmp_path / "t3"), TRANSCRIPT_SCHEMA,
        ("conv_id", "turn_idx"), n_buckets=2,
    )
    table.STATS_DRIVER_THRESHOLD = 0  # instance override
    rows = [(i, "insert", f"k{i:04d}", 0, "user", f"t{i}", None, TS)
            for i in range(30)]
    apply_batch(spark, table, spark.createDataFrame(rows, SCHEMA), epoch=0)
    for b, fs in table.current().files.items():
        for e in fs:
            assert e["key_min"].startswith("k") and e["key_max"].startswith("k")
            assert e["key_min"] <= e["key_max"]
    assert table.read_key("k0001").count() == 1


def test_multi_file_bucket_commit_carries_per_file_stats(spark, tmp_path):
    """One commit writing SEVERAL files into a bucket dir (any writer
    whose upstream partitioning fans a bucket across tasks) must give
    each manifest entry ITS OWN footer stats — rows sum to the batch and
    every entry's lsn/key range equals a direct pyarrow read of that
    file — not the bucket-wide union (which would make every entry
    unprunable-alike). Runs both stats paths."""
    import os

    import pyarrow.parquet as pq

    from postgres_to_snowflake_data_pipeline_spark.lake.table import bucket_expr

    for name, threshold in (("drv", 10**9), ("dist", 0)):
        root = str(tmp_path / name)
        table = LakeTable.create(
            spark, root, TRANSCRIPT_SCHEMA, ("conv_id", "turn_idx"),
            n_buckets=2,
        )
        table.STATS_DRIVER_THRESHOLD = threshold
        rows = [(i, "insert", f"c{i:04d}", 0, "user", f"t{i}", None, TS)
                for i in range(200)]
        storage = (
            spark.createDataFrame(rows, SCHEMA)
            .select(
                "conv_id", "turn_idx", "role", "text", "tool", "ts",
                F.col("lsn").alias("_lsn"),
                (F.col("op") == "delete").alias("_deleted"),
                bucket_expr("conv_id", 2).alias("_bucket"),
            )
            .repartition(4)  # round-robin: every task holds BOTH buckets
        )
        files, bucket_stats = table._write_data(
            storage, "data/multifile", key_col="conv_id", ts_col="ts",
            ts_col_id=table.current().column_ids.get("ts"),
        )
        assert any(len(fs) > 1 for fs in files.values()), files
        assert sum(s["rows_merged"] for s in bucket_stats) == 200
        for fs in files.values():
            ranges = set()
            for e in fs:
                md = pq.ParquetFile(os.path.join(root, e["path"])).metadata
                lo, hi = LakeTable._footer_minmax(md, "_lsn")
                assert (e["lsn_min"], e["lsn_max"]) == (int(lo), int(hi))
                klo, khi = LakeTable._footer_minmax(md, "conv_id")
                assert (e["key_min"], e["key_max"]) == (klo, khi)
                assert e["ts_min"] <= e["ts_max"] and e["ts_id"] is not None
                ranges.add((e["lsn_min"], e["lsn_max"], e["key_min"]))
            # per-file, not bucket-union: the fanned files carry distinct
            # stats (deterministic data + hash -> stable across runs)
            assert len(ranges) == len(fs), fs


def test_read_validates_columns_and_semi_keys_before_planning(spark, tmp_path):
    """Bad ``columns`` / ``semi_keys`` arguments raise whatever the
    manifest holds: on an empty table and on a bucket selection with no
    files the read plans nothing, and must still reject them."""
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        ("conv_id", "turn_idx"), n_buckets=2,
    )
    payload_keys = spark.createDataFrame(
        [("c1", "user")], "conv_id string, role string"
    )

    def bad_reads():
        with pytest.raises(ValueError, match="subset of the key columns"):
            table.read(semi_keys=payload_keys)
        with pytest.raises(ValueError, match="unknown columns"):
            table.read(columns=["nope"])

    bad_reads()  # empty table
    rows = [(0, "insert", "c1", 0, "user", "t", None, TS)]
    apply_batch(spark, table, spark.createDataFrame(rows, SCHEMA), epoch=0)
    bad_reads()
    filled = [int(b) for b, fs in table.current().files.items() if fs]
    with pytest.raises(ValueError, match="subset of the key columns"):
        table.read(buckets=[1 - filled[0]], semi_keys=payload_keys)
