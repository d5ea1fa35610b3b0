"""Lake scans are planned from the manifest's path list with no Spark
listing job. Above ``spark.sql.sources.parallelPartitionDiscovery.threshold``
explicit paths (Spark's default 32) the ``InMemoryFileIndex`` stats the
files in a one-task-per-path job while the DataFrame is being built; the
engine pins the threshold to ``LakeTable.STATS_DRIVER_THRESHOLD`` on its
own sessions and around ``_read_files`` on any other session. Jobs are
counted per job group (``setJobGroup`` + ``statusTracker``)."""

from __future__ import annotations

import datetime as dt
import uuid

import pytest

from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch
from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import TRANSCRIPT_SCHEMA
from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable

SCHEMA = (
    "lsn long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp"
)
THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
N_BUCKETS, N_COMMITS, N_CONVS = 2, 20, 8


@pytest.fixture(scope="module")
def many_files(spark, tmp_path_factory):
    """2 buckets x 20 unfolded commits: 40 data files, past Spark's
    default listing threshold."""
    table = LakeTable.create(
        spark, str(tmp_path_factory.mktemp("scan") / "t"), TRANSCRIPT_SCHEMA,
        ("conv_id", "turn_idx"), n_buckets=N_BUCKETS,
    )
    for e in range(N_COMMITS):
        rows = [
            (e * N_CONVS + j, "insert", f"c{j}", e, "user", f"t {j}/{e}",
             None, dt.datetime(2026, 1, 1))
            for j in range(N_CONVS)
        ]
        apply_batch(spark, table, spark.createDataFrame(rows, SCHEMA),
                    epoch=e, salt_buckets=0)
    assert sum(len(fs) for fs in table.current().files.values()) > 32
    return table


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"scan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_engine_session_read_launches_no_job(spark, many_files):
    df, n = _jobs(spark, many_files.read)
    assert n == 0
    assert df.count() == N_COMMITS * N_CONVS


@pytest.mark.parametrize("preset", ["32", None])
def test_foreign_session_read_launches_no_job(spark, many_files, preset):
    """A child session at Spark's default threshold (set explicitly, or
    unset): the bounded pin plans the scan without a listing job and
    leaves the session's conf as it found it."""
    child = spark.newSession()
    if preset is None:
        child.conf.unset(THRESHOLD)
    else:
        child.conf.set(THRESHOLD, preset)
    before = child.conf.get(THRESHOLD)
    assert before == "32"
    table = LakeTable(child, many_files.root)
    df, n = _jobs(child, table.read)
    assert n == 0
    assert child.conf.get(THRESHOLD) == before
    assert df.count() == N_COMMITS * N_CONVS


def test_point_read_keys_jobs_before_scan(spark, many_files):
    """Before its scan runs, point_read_keys launches the key checkpoint
    and ONE bucket/count aggregate (a shuffle-map job plus its result
    job) — no separate distinct/count actions, no listing job."""
    keys = spark.createDataFrame([(f"c{j}",) for j in range(3)], "conv_id string")
    df, n = _jobs(spark, lambda: many_files.point_read_keys(keys))
    assert n == 3
    assert df.count() == 3 * N_COMMITS
