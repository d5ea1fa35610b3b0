"""Session-independence of the lake (round-4 VERDICT bug #1).

The driver's correctness harness runs the catalog under its OWN vanilla
SparkSession: Spark's default ``spark.sql.parquet.outputTimestampType =
INT96`` writes timestamp columns with NO parquet footer statistics, and a
non-UTC ``spark.sql.session.timeZone`` re-interprets naive datetime
literals. Round 4 shipped an engine whose ts zone maps silently died
under that session (empty manifests -> ts_prune read every file,
expire_rows never took the metadata-only drop). These tests replay the
failure shape — a child session with the hostile confs explicitly set —
and pin the three-layer fix:

1. ``_pinned_conf`` flips outputTimestampType around every lake
   data write (no-op on engine sessions) and restores the caller's value;
2. ``_ts_footer_or_scan`` recovers ts stats from INT96/stats-less files a
   foreign writer produced anyway (both the driver and the distributed
   footer paths);
3. ``read(ts_prune=...)``'s residual filter compares epoch micros, never
   session-TZ-interpreted datetime literals, so it agrees with the
   manifest zone maps under any session time zone.

fsck's ``ts_stats_dead`` warning (metadata level) turns any residual
silent degradation into an operator-visible signal.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch
from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import TRANSCRIPT_SCHEMA
from postgres_to_snowflake_data_pipeline_spark.lake.fsck import fsck
from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable

SCHEMA = (
    "lsn long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp"
)

D0 = dt.datetime(2026, 1, 1)
D1 = dt.datetime(2026, 2, 1)
D2 = dt.datetime(2026, 3, 1)

TS_CONF = "spark.sql.parquet.outputTimestampType"


@pytest.fixture()
def vanilla(spark):
    """A child session shaped like the driver harness's: default INT96
    parquet timestamps (child sessions inherit the BUILDER conf, so the
    engine's TIMESTAMP_MICROS pin must be explicitly reverted)."""
    s = spark.newSession()
    s.conf.set(TS_CONF, "INT96")
    return s


@pytest.fixture()
def bogota(spark):
    """INT96 *and* a non-UTC session time zone — the worst foreign shape:
    naive datetimes in createDataFrame/filters re-interpret under
    America/Bogota (UTC-5)."""
    s = spark.newSession()
    s.conf.set(TS_CONF, "INT96")
    s.conf.set("spark.sql.session.timeZone", "America/Bogota")
    return s


def _mk(sess, path):
    return LakeTable.create(
        sess, str(path), TRANSCRIPT_SCHEMA, ("conv_id", "turn_idx"), n_buckets=2
    )


def _epoch(sess, keys, lsn0, day):
    rows = [
        (lsn0 + j, "insert", k, 0, "user", f"t {k}", None,
         day + dt.timedelta(hours=j % 24))
        for j, k in enumerate(keys)
    ]
    return sess.createDataFrame(rows, SCHEMA)


def _replay3(sess, table):
    keys = [f"c{i:03d}" for i in range(12)]
    apply_batch(sess, table, _epoch(sess, [k + "a" for k in keys], 0, D0), epoch=0)
    apply_batch(sess, table, _epoch(sess, [k + "b" for k in keys], 1000, D1), epoch=1)
    apply_batch(sess, table, _epoch(sess, [k + "c" for k in keys], 2000, D2), epoch=2)
    return keys


def _ts_physical_types(table):
    import pyarrow.parquet as pq

    out = set()
    for fs in table.current().files.values():
        for e in fs:
            md = pq.ParquetFile(os.path.join(table.root, e["path"])).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            out.add(md.schema.column(names.index("ts")).physical_type)
    return out


@pytest.mark.parametrize("fixture", ["vanilla", "bogota"])
def test_ts_zone_maps_survive_foreign_session(fixture, request, tmp_path):
    """The c09/c18 failure shape: under a hostile session the manifests
    must still carry ts zone maps, a recent-window read must still be
    file-pruned AND value-correct, and the write must not have leaked the
    engine's conf pin into the caller's session."""
    sess = request.getfixturevalue(fixture)
    table = _mk(sess, tmp_path / "t")
    keys = _replay3(sess, table)

    # the pinned write wrote micros (stats-bearing), not the session's INT96
    assert _ts_physical_types(table) == {"INT64"}
    # ... and restored the caller's conf afterwards
    assert sess.conf.get(TS_CONF) == "INT96"

    for fs in table.current().files.values():
        for e in fs:
            assert e.get("ts_min") is not None, e

    full = set(table.read().inputFiles())
    # ts_prune bounds are UTC-naive by contract; the rows' INSTANTS depend
    # on the session TZ at createDataFrame time, so ask the session itself
    # what instant D2 became and window exactly the last epoch
    lo_us = sess.createDataFrame([(D2,)], "ts timestamp").select(
        F.unix_micros("ts")
    ).first()[0]

    def _dtu(us):
        return dt.datetime.fromtimestamp(us / 1e6, tz=dt.timezone.utc).replace(
            tzinfo=None
        )

    recent = table.read(
        ts_prune=(_dtu(lo_us), _dtu(lo_us + 24 * 3600 * 10**6))
    )
    opened = set(recent.inputFiles())
    assert opened < full, (opened, full)
    got = {r["conv_id"] for r in recent.collect()}
    assert got == {k + "c" for k in keys}


@pytest.mark.parametrize("fixture", ["vanilla", "bogota"])
def test_expire_rows_metadata_drop_foreign_session(fixture, request, tmp_path):
    """c18's failure shape: expire_rows must take the metadata-only file
    drop (files_dropped >= 1) under a hostile session — it needs both
    ts_min/ts_max AND ts_nulls == 0 in the manifests."""
    sess = request.getfixturevalue(fixture)
    table = _mk(sess, tmp_path / "t")
    _replay3(sess, table)
    table.compact(ts_slices=3)  # c18's shape: ts-banded base layout
    # cutoff strictly between epoch-0 and epoch-1 instants, derived from
    # the manifests so the test is TZ-agnostic
    his = sorted(
        {e["ts_max"] for fs in table.current().files.values() for e in fs}
    )
    los = sorted(
        {e["ts_min"] for fs in table.current().files.values() for e in fs}
    )
    cutoff_us = (his[0] + los[-1]) // 2

    res = table.expire_rows(
        dt.datetime.fromtimestamp(cutoff_us / 1e6, tz=dt.timezone.utc).replace(
            tzinfo=None
        )
    )
    assert res.summary["files_dropped"] >= 1, res.summary


def test_int96_stats_recovery_driver_and_distributed(spark, vanilla, tmp_path, monkeypatch):
    """Layer 2: data an INT96 writer produced ANYWAY (legacy tables,
    third-party parquet) still yields ts zone maps — `_file_stats`
    recovers min/max/null-count from a bounded one-column read, on both
    the driver path and the distributed closure path."""
    p = str(tmp_path / "raw")
    rows = [
        (i, "insert", f"k{i}", 0, "user", "x", None,
         D0 + dt.timedelta(hours=i)) if i % 5 else
        (i, "insert", f"k{i}", 0, "user", "x", None, None)
        for i in range(20)
    ]
    vanilla.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(p)
    f = [os.path.join(p, x) for x in os.listdir(p) if x.endswith(".parquet")][0]

    import pyarrow.parquet as pq

    md = pq.ParquetFile(f).metadata
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    assert md.schema.column(names.index("ts")).physical_type == "INT96"

    table = _mk(spark, tmp_path / "t")
    expect_nulls = sum(1 for r in rows if r[7] is None)
    lo = min(r[7] for r in rows if r[7] is not None)
    hi = max(r[7] for r in rows if r[7] is not None)

    def us(d):
        return int(d.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    for threshold in (256, 0):  # driver path, then distributed closure
        monkeypatch.setattr(LakeTable, "STATS_DRIVER_THRESHOLD", threshold)
        st = table._file_stats([f], key_col="conv_id", ts_col="ts")[f]
        assert st["ts_min"] == us(lo), (threshold, st)
        assert st["ts_max"] == us(hi), (threshold, st)
        assert st["ts_nulls"] == expect_nulls, (threshold, st)
        assert st["key_min"] == "k0", st  # string stats unaffected by INT96


def test_fsck_warns_on_dead_ts_stats(spark, tmp_path):
    """Layer 3 signal: a manifest mixing stat-bearing and stat-less
    entries (the INT96 legacy shape) must surface an operator-visible
    ts_stats_dead warning at the default (metadata) fsck level."""
    table = _mk(spark, tmp_path / "t")
    _replay3(spark, table)
    clean = fsck(table)
    assert clean["ok"]
    assert not any(w["check"] == "ts_stats_dead" for w in clean["warnings"])

    snap = table.current()
    doctored = False
    for fs in snap.files.values():
        for e in fs:
            if not doctored and e.get("ts_min") is not None:
                e.pop("ts_min", None)
                e.pop("ts_max", None)
                e.pop("ts_nulls", None)
                doctored = True
    assert doctored
    from postgres_to_snowflake_data_pipeline_spark.lake.fsck import (
        _check_stat_liveness,
    )

    report = {"errors": [], "warnings": []}
    _check_stat_liveness(table, snap, report)
    assert any(w["check"] == "ts_stats_dead" for w in report["warnings"]), report
