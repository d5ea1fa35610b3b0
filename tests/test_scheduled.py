"""Pipeline.run_scheduled — the reference's Airflow schedule/retry posture
(export_to_s3_dag.py default_args: retries + retry_delay) over the
engine's exactly-once epochs: file-discovery ticks, persisted intents,
retry with backoff, halt-resume and skip-without-consuming-the-epoch."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from postgres_to_snowflake_data_pipeline_spark.cdc.generator import change_events
from postgres_to_snowflake_data_pipeline_spark.orchestrate import (
    Pipeline,
    PipelineSpec,
)

SCHEMA_DDL = (
    "lsn long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp"
)


def _spec(tmp_path):
    return PipelineSpec.from_dict(
        {
            "lake_root": str(tmp_path / "lake"),
            "sources": [{"name": "wal", "kind": "dataframe", "table": "ta"}],
            "tables": [
                {"name": "ta", "key_cols": ["conv_id", "turn_idx"],
                 "n_buckets": 4},
            ],
        }
    )


def _land(spark, feed_dir, df, name, ddl=SCHEMA_DDL):
    """Land one parquet FILE atomically (write-then-rename, the producer
    contract run_scheduled documents)."""
    from pyspark.sql import types as T

    tmp = str(feed_dir) + f".tmp-{name}"
    df.select(
        *[f.name for f in T._parse_datatype_string(ddl).fields]
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    os.makedirs(feed_dir, exist_ok=True)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    os.rename(os.path.join(tmp, part), os.path.join(feed_dir, name))
    shutil.rmtree(tmp, ignore_errors=True)


@pytest.fixture()
def events(spark):
    return change_events(spark, 2000, n_convs=80).localCheckpoint()


def test_ticks_discover_apply_and_idle_stop(spark, tmp_path, events):
    feed = tmp_path / "feed"
    lo, hi = events.select(F.min("lsn"), F.max("lsn")).first()
    mid = (lo + hi) // 2
    _land(spark, feed, events.filter(F.col("lsn") <= mid), "f0.parquet")

    pipe = Pipeline(spark, _spec(tmp_path))
    schema = spark.createDataFrame([], SCHEMA_DDL).schema
    naps = []
    ticks = pipe.run_scheduled(
        str(feed), schema, str(tmp_path / "ckpt"),
        max_ticks=5, stop_when_idle=True, sleep=naps.append,
    )
    assert [t.get("idle", False) for t in ticks] == [False, True]
    assert ticks[0]["attempts"] == 1 and ticks[0]["tables"] == ["ta"]
    n0 = pipe.tables["ta"].read().count()
    assert n0 > 0
    assert naps == []  # stop_when_idle never slept

    # a SECOND invocation (fresh Pipeline: state reloads) picks up only
    # the new file, as the next epoch
    _land(spark, feed, events.filter(F.col("lsn") > mid), "f1.parquet")
    pipe2 = Pipeline(spark, _spec(tmp_path))
    ticks2 = pipe2.run_scheduled(
        str(feed), schema, str(tmp_path / "ckpt"),
        max_ticks=5, stop_when_idle=True, sleep=naps.append,
    )
    assert ticks2[0]["files"] == ["f1.parquet"]
    assert ticks2[0]["epoch"] == ticks[0]["epoch"] + 1
    # full feed applied exactly once (LWW state vs direct replay oracle)
    from postgres_to_snowflake_data_pipeline_spark.cdc.oracle import (
        assert_matches_oracle,
    )

    assert_matches_oracle(
        pipe2.tables["ta"].read(), events,
        ["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )


def test_retry_backoff_then_success(spark, tmp_path, events, monkeypatch):
    feed = tmp_path / "feed"
    _land(spark, feed, events, "f0.parquet")
    pipe = Pipeline(spark, _spec(tmp_path))
    schema = spark.createDataFrame([], SCHEMA_DDL).schema

    real = pipe.run_epoch
    fails = {"n": 2}

    def flaky(epoch, feeds=None):
        if fails["n"] > 0:
            fails["n"] -= 1
            raise RuntimeError("transient")
        return real(epoch, feeds=feeds)

    monkeypatch.setattr(pipe, "run_epoch", flaky)
    naps = []
    ticks = pipe.run_scheduled(
        str(feed), schema, str(tmp_path / "ckpt"),
        retries=2, retry_delay_seconds=5.0, backoff=2.0,
        max_ticks=1, sleep=naps.append,
    )
    assert ticks[0]["attempts"] == 3 and not ticks[0]["skipped"]
    assert naps == [5.0, 10.0]  # Airflow-style growing retry delays
    assert pipe.tables["ta"].read().count() > 0


def test_halt_persists_intent_and_resume_is_exactly_once(
    spark, tmp_path, events, monkeypatch
):
    feed = tmp_path / "feed"
    _land(spark, feed, events, "f0.parquet")
    pipe = Pipeline(spark, _spec(tmp_path))
    schema = spark.createDataFrame([], SCHEMA_DDL).schema

    monkeypatch.setattr(
        pipe, "run_epoch",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("down")),
    )
    with pytest.raises(RuntimeError, match="intent persisted"):
        pipe.run_scheduled(
            str(feed), schema, str(tmp_path / "ckpt"),
            retries=1, retry_delay_seconds=0.0, max_ticks=3,
            sleep=lambda s: None,
        )
    state = json.load(open(tmp_path / "ckpt" / "schedule.json"))
    assert state["pending"]["files"] == ["f0.parquet"]

    # recovery run (fresh Pipeline, fixed "deployment"): resumes the SAME
    # intent, applies once, goes idle
    pipe2 = Pipeline(spark, _spec(tmp_path))
    ticks = pipe2.run_scheduled(
        str(feed), schema, str(tmp_path / "ckpt"),
        max_ticks=3, stop_when_idle=True, sleep=lambda s: None,
    )
    assert ticks[0]["epoch"] == state["pending"]["epoch"]
    assert ticks[0]["files"] == ["f0.parquet"]
    assert ticks[1]["idle"] is True
    n = pipe2.tables["ta"].read().count()
    assert n == events.select("conv_id", "turn_idx").distinct().count() - (
        pipe2.tables["ta"]
        .read(include_tombstones=True)
        .filter("_deleted")
        .count()
    )


def test_skip_shelves_files_without_consuming_the_epoch(
    spark, tmp_path, events, monkeypatch
):
    """A poisoned batch under on_exhausted='skip' must not burn its epoch
    number: a permanently-missing epoch:{n} would wedge the watermark
    fold (every later epoch residual forever)."""
    feed = tmp_path / "feed"
    _land(spark, feed, events.limit(500), "bad.parquet")
    pipe = Pipeline(spark, _spec(tmp_path))
    schema = spark.createDataFrame([], SCHEMA_DDL).schema

    real = pipe.run_epoch

    def poisoned(epoch, feeds=None):
        raise RuntimeError("poison")

    monkeypatch.setattr(pipe, "run_epoch", poisoned)
    ticks = pipe.run_scheduled(
        str(feed), schema, str(tmp_path / "ckpt"),
        retries=0, on_exhausted="skip",
        max_ticks=2, stop_when_idle=True, sleep=lambda s: None,
    )
    assert ticks[0]["skipped"] is True and ticks[1]["idle"] is True
    state = json.load(open(tmp_path / "ckpt" / "schedule.json"))
    assert state["skipped"][0]["files"] == ["bad.parquet"]

    # a later good file takes the SAME epoch number the bad one intended
    monkeypatch.setattr(pipe, "run_epoch", real)
    _land(spark, feed, events.limit(800), "good.parquet")
    ticks2 = pipe.run_scheduled(
        str(feed), schema, str(tmp_path / "ckpt"),
        max_ticks=2, stop_when_idle=True, sleep=lambda s: None,
    )
    assert ticks2[0]["files"] == ["good.parquet"]
    assert ticks2[0]["epoch"] == ticks[0]["epoch"]
    assert pipe.tables["ta"].has_commit_key(f"epoch:{ticks2[0]['epoch']}")


def test_skip_after_partial_commit_consumes_the_epoch(
    spark, tmp_path, events, monkeypatch
):
    """A batch that committed epoch:{n} on one table before failing on the
    next must not hand n to the next good batch under on_exhausted='skip':
    the committed table would skip that batch as a replay and lose it.
    The epoch is consumed (an empty epoch:{n} folds on the table that
    lacks it) and the next good batch lands on BOTH tables."""
    from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable

    ddl = SCHEMA_DDL + ", _table string"
    routed = events.withColumn(
        "_table", F.when(F.col("turn_idx") % 2 == 0, "ta").otherwise("tb")
    )
    half = F.crc32("conv_id") % 2 == 0  # bad and good batches share no key
    feed = tmp_path / "feed"
    _land(spark, feed, routed.filter(half), "bad.parquet", ddl)
    spec = PipelineSpec.from_dict(
        {
            "lake_root": str(tmp_path / "lake"),
            "sources": [{"name": "wal", "kind": "dataframe"}],
            "tables": [
                {"name": n, "key_cols": ["conv_id", "turn_idx"],
                 "n_buckets": 4}
                for n in ("ta", "tb")
            ],
        }
    )
    pipe = Pipeline(spark, spec)
    schema = spark.createDataFrame([], ddl).schema

    real_merge = LakeTable.merge

    def tb_down(self, *a, **k):
        if self.root.endswith("tb"):
            raise RuntimeError("tb merge down")
        return real_merge(self, *a, **k)

    monkeypatch.setattr(LakeTable, "merge", tb_down)
    ticks = pipe.run_scheduled(
        str(feed), schema, str(tmp_path / "ckpt"),
        retries=0, on_exhausted="skip", max_ticks=1, sleep=lambda s: None,
    )
    bad_epoch = ticks[0]["epoch"]
    assert ticks[0]["skipped"] and ticks[0]["partial_tables"] == ["ta"]
    state = json.load(open(tmp_path / "ckpt" / "schedule.json"))
    assert state["skipped"][0]["partial_tables"] == ["ta"]
    assert pipe.tables["tb"].has_commit_key(f"epoch:{bad_epoch}")

    monkeypatch.setattr(LakeTable, "merge", real_merge)
    good = routed.filter(~half)
    _land(spark, feed, good, "good.parquet", ddl)
    ticks2 = pipe.run_scheduled(
        str(feed), schema, str(tmp_path / "ckpt"),
        max_ticks=2, stop_when_idle=True, sleep=lambda s: None,
    )
    assert ticks2[0]["files"] == ["good.parquet"]
    assert ticks2[0]["epoch"] == bad_epoch + 1
    for name in ("ta", "tb"):
        want = good.filter(F.col("_table") == name).select(
            "conv_id", "turn_idx"
        ).distinct()
        got = pipe.tables[name].read(include_tombstones=True).select(
            "conv_id", "turn_idx"
        )
        assert want.count() > 0 and want.exceptAll(got).count() == 0, name
