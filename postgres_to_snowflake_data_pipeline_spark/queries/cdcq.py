"""End-to-end CDC engine run as a catalog query (the flagship).

Reinterprets the driver's `events` table as a WAL-style change feed
(event_id = LSN, low-value events = deletes, everything else = upserts on
key (conv_id, turn_idx)), replays it through the REAL engine — epoch
slicing → Arrow normalization → LWW dedup → bucketed merge into a
snapshot-committed lake table with tombstones — then reads back the final
table state.

The DuckDB oracle expresses the same semantics declaratively (arg_max per
key, drop keys whose winning op is a delete), so the driver's value-hash
check verifies the engine's *entire* merge/tombstone/LWW path, not just a
query plan. This is the reference's observable contract: after a full
replay the target equals the last-writer-wins state
(/root/reference/scripts/load_data.py:119-131 clear-and-reload +
:160-164 PK dedup, restated in SURVEY.md §1.1).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from postgres_to_snowflake_data_pipeline_spark.cdc.apply import replay_feed
from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import TRANSCRIPT_SCHEMA
from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable
from postgres_to_snowflake_data_pipeline_spark.queries.base import load


def _work_dir(prefix: str, sf_dir: str) -> str:
    """Per-(query, sf, PROCESS) scratch root. The pid suffix keeps two
    processes running the catalog concurrently (the round driver's gate
    plus a parity or bench run) from rmtree'ing each other's live lake
    table out from under a still-lazy returned DataFrame — the same
    hazard the ANN index queries guard (queries/simops.py). Within one
    process the path is stable, so re-invocations rebuild in place and
    the returned DataFrames stay lazy/distributed."""
    return os.path.join(
        tempfile.gettempdir(),
        f"{prefix}-{sf_dir.strip('/').replace('/', '-')}-pid{os.getpid()}",
    )


# event_type → turn_idx (stable ordinal)
_TURN_CASE = (
    "CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1 "
    "WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END"
)
DELETE_BELOW = 2.0  # events with value < this are delete ops (~mixed per key)


def events_as_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    op = F.when(F.col("value") < DELETE_BELOW, "delete").otherwise(
        F.when(F.col("event_id") % 2 == 0, "insert").otherwise("update")
    )
    is_del = op == "delete"
    return ev.select(
        F.col("event_id").alias("lsn"),
        op.alias("op"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        F.expr(_TURN_CASE).cast("int").alias("turn_idx"),
        F.when(~is_del, F.col("event_type")).alias("role"),
        F.when(~is_del, F.col("props")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts"),
    )


def c01_cdc_replay_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the feed through the engine in 4 epochs; return final state.

    Uses a deterministic scratch dir (rebuilt per invocation) so the
    returned DataFrame stays lazy/distributed — no driver collect."""
    work = _work_dir("cdcq", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).write.mode("overwrite").parquet(feed_path)
    table = LakeTable.create(
        spark,
        os.path.join(work, "table"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
    )
    replay_feed(spark, table, feed_path, epochs=4, compact_every=2)
    return table.read().select("conv_id", "turn_idx", "role", "text", "ts")


def c02_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the feed in 4 epochs, refreshing an incrementally-maintained
    per-conversation aggregate view after EVERY epoch (dirty-group
    recompute over the changefeed, lake/view.py); return the final view.

    The oracle recomputes the same aggregate from scratch over the LWW
    state — so the value-hash check proves 4 rounds of incremental
    maintenance (including tombstoned groups) converge to the exact
    full-recompute answer."""
    from postgres_to_snowflake_data_pipeline_spark.lake.view import IncrementalAggView

    work = _work_dir("cdcv", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).write.mode("overwrite").parquet(feed_path)
    table = LakeTable.create(
        spark,
        os.path.join(work, "table"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
    )
    view = IncrementalAggView(
        spark,
        os.path.join(work, "view"),
        table,
        group_cols=("conv_id",),
        agg_fn=lambda rows: rows.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.max("ts").alias("last_ts"),
            F.sum(F.length("text")).alias("chars"),
        ),
        n_buckets=4,
    )
    feed = spark.read.parquet(feed_path)
    lo, hi = feed.select(F.min("lsn"), F.max("lsn")).first()
    step = max((hi - lo + 1) // 4, 1)
    for e in range(4):
        a = lo + e * step
        b = hi + 1 if e == 3 else lo + (e + 1) * step
        from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch

        apply_batch(
            spark, table, feed.filter((F.col("lsn") >= a) & (F.col("lsn") < b)),
            epoch=e,
        )
        view.refresh()
    return view.read().select("conv_id", "n_turns", "last_ts", "chars")


def c03_delta_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the feed in 4 epochs maintaining a DELTA-AGGREGATED view
    grouped by ``role`` — a NON-key grouping with updates, deletes and
    group moves in the feed, so every refresh exercises the retraction
    math (post-image minus pre-image) rather than a dirty-group rescan.

    The oracle recomputes the same sums/counts from scratch over the LWW
    state; the value-hash check proves 4 rounds of algebraic patching
    converge to the exact full-recompute answer."""
    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch
    from postgres_to_snowflake_data_pipeline_spark.lake.delta_view import DeltaAggView

    work = _work_dir("cdcdv", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).write.mode("overwrite").parquet(feed_path)
    table = LakeTable.create(
        spark,
        os.path.join(work, "table"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
    )
    view = DeltaAggView(
        spark,
        os.path.join(work, "view"),
        table,
        group_cols=("role",),
        measures={
            "n_turns": ("count", "*"),
            "chars": ("sum", "length(text)"),
        },
        payload_cols=["role", "text"],
        n_buckets=4,
    )
    feed = spark.read.parquet(feed_path)
    lo, hi = feed.select(F.min("lsn"), F.max("lsn")).first()
    step = max((hi - lo + 1) // 4, 1)
    for e in range(4):
        a = lo + e * step
        b = hi + 1 if e == 3 else lo + (e + 1) * step
        apply_batch(
            spark, table, feed.filter((F.col("lsn") >= a) & (F.col("lsn") < b)),
            epoch=e,
        )
        view.refresh()
    return view.read().select("role", "n_rows", "n_turns", "chars")


def c04_routed_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DECLARATIVE pipeline end-to-end: the change feed is routed by a
    ``_table`` tag (user parity) to two lake tables through a JSON
    ``PipelineSpec`` — two epochs of tagged-union → multi-table apply →
    cross-table frontier — then both tables' final states are read back
    under the frontier-pinned snapshots.

    This puts the orchestration layer itself (orchestrate.py, the analog
    of the reference's Variables-driven DAG,
    /root/reference/dags/data_pipeline_variables_dag.py:33-45,96,149)
    under the driver's value-hash gate: the oracle recomputes the same
    routed LWW states declaratively."""
    from postgres_to_snowflake_data_pipeline_spark.orchestrate import (
        Pipeline,
        PipelineSpec,
    )

    work = _work_dir("cdcp", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    shard = F.when(
        F.expr("CAST(substr(conv_id, 2) AS INT) % 2 = 0"), "even"
    ).otherwise("odd")
    # materialize the tagged feed ONCE (as c01-c03 do): the min/max job and
    # both epoch filters read the parquet, not three re-derivations of the
    # events scan + projection
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).withColumn("_table", shard).write.mode(
        "overwrite"
    ).parquet(feed_path)
    feed = spark.read.parquet(feed_path)
    lo, hi = feed.select(F.min("lsn"), F.max("lsn")).first()
    mid = (lo + hi) // 2
    spec = PipelineSpec.from_dict(
        {
            "lake_root": os.path.join(work, "lake"),
            "sources": [{"name": "wal", "kind": "dataframe"}],
            "tables": [
                {"name": "even", "key_cols": ["conv_id", "turn_idx"],
                 "n_buckets": 4},
                {"name": "odd", "key_cols": ["conv_id", "turn_idx"],
                 "n_buckets": 4},
            ],
        }
    )
    pipe = Pipeline(spark, spec)
    pipe.run_epoch(0, feeds={"wal": feed.filter(F.col("lsn") <= mid)})
    pipe.run_epoch(1, feeds={"wal": feed.filter(F.col("lsn") > mid)})
    from postgres_to_snowflake_data_pipeline_spark.cdc.multi import (
        latest_frontier,
        read_at_frontier,
    )

    fr = latest_frontier(os.path.join(spec.lake_root, "_frontier"))
    states = read_at_frontier(pipe.tables, fr)
    out = None
    for name in ("even", "odd"):
        part = states[name].select(
            F.lit(name).alias("shard"), "conv_id", "turn_idx", "role", "text",
        )
        out = part if out is None else out.unionByName(part)
    return out


def _run_audited_pipeline(spark: SparkSession, sf_dir: str, prefix: str):
    """Shared c07/c08 harness: the routed two-table pipeline with the
    write-audit-publish gate live. Epoch 0 carries the UPPER lsn half,
    poisoned on the even shard (role=NULL) so the gate stages it, fails
    the ``not_null role`` check, QUARANTINES the batch, and folds an
    applied-as-rejected empty commit — the cross-table frontier still
    reaches epoch 1, where the clean lower half audits green and
    publishes. Out-of-order arrival (upper first) is exactly what makes
    the gate observable in the data: the even table's winners are the
    lower-half ones, a state c04's all-epochs replay can never produce.
    (read_staged drops tombstones, so delete-winners' NULL roles never
    count — only the poisoned upserts trip the check.)

    Returns ``(pipe, lake_root)`` with the frontier at epoch 1 and the
    even shard's upper half sitting in quarantine."""
    from postgres_to_snowflake_data_pipeline_spark.cdc.multi import (
        latest_frontier,
    )
    from postgres_to_snowflake_data_pipeline_spark.orchestrate import (
        Pipeline,
        PipelineSpec,
    )

    work = _work_dir(prefix, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    shard = F.when(
        F.expr("CAST(substr(conv_id, 2) AS INT) % 2 = 0"), "even"
    ).otherwise("odd")
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).withColumn("_table", shard).write.mode(
        "overwrite"
    ).parquet(feed_path)
    feed = spark.read.parquet(feed_path)
    lo, hi = feed.select(F.min("lsn"), F.max("lsn")).first()
    mid = (lo + hi) // 2
    spec = PipelineSpec.from_dict(
        {
            "lake_root": os.path.join(work, "lake"),
            "sources": [{"name": "wal", "kind": "dataframe"}],
            "tables": [
                {"name": "even", "key_cols": ["conv_id", "turn_idx"],
                 "n_buckets": 4},
                {"name": "odd", "key_cols": ["conv_id", "turn_idx"],
                 "n_buckets": 4},
            ],
            "audits": [
                {"table": "even", "on_fail": "reject", "checks": [
                    {"kind": "not_null", "columns": ["role"],
                     "label": "role-set"},
                ]},
                {"table": "odd", "on_fail": "fail", "checks": [
                    {"kind": "expr", "expr": "turn_idx BETWEEN 0 AND 4"},
                    {"kind": "min_rows", "value": 1},
                ]},
            ],
        }
    )
    pipe = Pipeline(spark, spec)
    e0 = feed.filter(F.col("lsn") > mid).withColumn(
        "role",
        F.when(F.col("_table") == "even", F.lit(None).cast("string"))
        .otherwise(F.col("role")),
    )
    r0 = pipe.run_epoch(0, feeds={"wal": e0})
    assert r0["tables"]["even"].rejected, "audit gate failed to reject"
    pipe.run_epoch(1, feeds={"wal": feed.filter(F.col("lsn") <= mid)})
    fr = latest_frontier(os.path.join(spec.lake_root, "_frontier"))
    assert fr is not None and fr.epoch == 1, "frontier stalled on rejection"
    return pipe, spec.lake_root


def _shard_union(states: dict) -> DataFrame:
    out = None
    for name in ("even", "odd"):
        part = states[name].select(
            F.lit(name).alias("shard"), "conv_id", "turn_idx", "role", "text",
        )
        out = part if out is None else out.unionByName(part)
    return out


def c07_audited_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c04's routed pipeline with the WRITE-AUDIT-PUBLISH gate live (see
    :func:`_run_audited_pipeline` for the scenario).

    The oracle recomputes the observable contract declaratively: the LWW
    state over the feed MINUS the rejected slice (even-shard rows at
    lsn > mid, mid = floor((min+max)/2) — identical integer arithmetic in
    both engines), so the value-hash match proves stage → audit →
    reject/publish → frontier end-to-end (the reference's
    ON_ERROR='CONTINUE' COPY posture,
    /root/reference/dags/s3_to_snowflake_dag.py, made exact + auditable)."""
    from postgres_to_snowflake_data_pipeline_spark.cdc.multi import (
        latest_frontier,
        read_at_frontier,
    )

    pipe, lake_root = _run_audited_pipeline(spark, sf_dir, "cdcg")
    fr = latest_frontier(os.path.join(lake_root, "_frontier"))
    return _shard_union(read_at_frontier(pipe.tables, fr))


def c08_reprocessed_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c07 PLUS dead-letter reprocessing: after the gate quarantines the
    even shard's poisoned upper half, an operator fix (``role`` backfilled
    with 'repaired') re-admits the batch through the SAME spec gate —
    ``Pipeline.reprocess`` → ``cdc.apply.reprocess_quarantined`` → stage,
    re-audit, publish, exactly-once under ``reprocess:{name}``.

    Re-admission happens LAST but under the batch's ORIGINAL LSNs, so the
    oracle is simply the LWW state over the full feed with the rejected
    slice's role rewritten — upper-half even winners show 'repaired',
    while keys whose max lsn sits in the lower half keep their published
    values. The value hash can only match if reject → quarantine → fix →
    re-audit → publish all preserved LWW semantics end-to-end."""
    pipe, _lake_root = _run_audited_pipeline(spark, sf_dir, "cdcr")
    q = pipe.tables["even"].quarantined()
    assert "audit-epoch-0" in q, f"expected a quarantined batch, got {q}"

    def fix(events: DataFrame) -> DataFrame:
        return events.withColumn(
            "role", F.coalesce(F.col("role"), F.lit("repaired"))
        )

    out = pipe.reprocess("even", "audit-epoch-0", fix=fix)
    assert out["result"].audit["passed"], "re-audit failed after the fix"
    assert pipe.tables["even"].quarantined() == {}, "quarantine not drained"
    return _shard_union(
        {name: t.read() for name, t in pipe.tables.items()}
    )


def c05_time_window_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the feed in 4 epochs (NO compaction — the deltas stay as many
    small files), then read the upper two-thirds of event time through
    ``read(ts_prune=...)``: the secondary zone map (ts min/max + LSN ranges
    in manifests, lake/table.py) opens only files it cannot rule out, with
    the LWW-soundness rule keeping every potential winner.

    Window bounds derive from the data in exact integer microseconds
    (``floor((max-min)/3)`` arithmetic both engines replay identically), so
    the oracle — the full LWW state filtered to the same window — value-
    hash checks the pruned merge-on-read path end-to-end."""
    from datetime import datetime, timedelta, timezone

    work = _work_dir("cdct", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).write.mode("overwrite").parquet(feed_path)
    table = LakeTable.create(
        spark,
        os.path.join(work, "table"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
    )
    replay_feed(spark, table, feed_path, epochs=4)
    # ts is TIMESTAMP_NTZ; unix_micros wants TIMESTAMP — identity cast
    # under the engine's pinned UTC session TZ
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mn, mx = (
        spark.read.parquet(feed_path).select(F.min(us), F.max(us)).first()
    )
    # upper two-thirds of event time: LWW winners carry the MAX lsn per
    # key and the feed's lsn order tracks event time, so a middle-third
    # window would be empty of winners (every key's current version is
    # late) — the upper window keeps the oracle non-trivial while the zone
    # map still skips the early files
    lo_us = mn + (mx - mn) // 3
    hi_us = mx

    def _dt(us: int) -> datetime:
        return datetime.fromtimestamp(us // 1_000_000, tz=timezone.utc).replace(
            tzinfo=None
        ) + timedelta(microseconds=us % 1_000_000)

    return table.read(ts_prune=(_dt(lo_us), _dt(hi_us))).select(
        "conv_id", "turn_idx", "role", "text", "ts"
    )


C05_SQL = f"""
WITH feed AS (
  SELECT event_id AS lsn,
         CASE WHEN value < {DELETE_BELOW} THEN 'delete' ELSE 'upsert' END AS op,
         concat('u', CAST(user_id AS VARCHAR)) AS conv_id,
         CAST({_TURN_CASE} AS INTEGER) AS turn_idx,
         event_type AS role, props AS text, ts
  FROM events
),
b AS (
  SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM feed
),
w AS (
  SELECT conv_id, turn_idx,
         arg_max(op, lsn) AS op,
         arg_max(role, lsn) AS role,
         arg_max(text, lsn) AS text,
         arg_max(ts, lsn) AS ts
  FROM feed GROUP BY 1, 2
)
SELECT conv_id, turn_idx, role, text, ts
FROM w, b
WHERE op <> 'delete'
  AND epoch_us(ts) BETWEEN mn + (mx - mn) // 3 AND mx
"""


C04_SQL = f"""
WITH feed AS (
  SELECT event_id AS lsn,
         CASE WHEN value < {DELETE_BELOW} THEN 'delete' ELSE 'upsert' END AS op,
         concat('u', CAST(user_id AS VARCHAR)) AS conv_id,
         CAST({_TURN_CASE} AS INTEGER) AS turn_idx,
         CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS shard,
         CASE WHEN value < {DELETE_BELOW} THEN NULL ELSE event_type END AS role,
         CASE WHEN value < {DELETE_BELOW} THEN NULL ELSE props END AS text
  FROM events
),
w AS (
  SELECT shard, conv_id, turn_idx,
         arg_max(op, lsn) AS op,
         arg_max(role, lsn) AS role,
         arg_max(text, lsn) AS text
  FROM feed GROUP BY 1, 2, 3
)
SELECT shard, conv_id, turn_idx, role, text FROM w WHERE op <> 'delete'
"""


C07_SQL = f"""
WITH b AS (
  SELECT (min(event_id) + max(event_id)) // 2 AS mid FROM events
),
feed AS (
  SELECT event_id AS lsn,
         CASE WHEN value < {DELETE_BELOW} THEN 'delete' ELSE 'upsert' END AS op,
         concat('u', CAST(user_id AS VARCHAR)) AS conv_id,
         CAST({_TURN_CASE} AS INTEGER) AS turn_idx,
         CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS shard,
         CASE WHEN value < {DELETE_BELOW} THEN NULL ELSE event_type END AS role,
         CASE WHEN value < {DELETE_BELOW} THEN NULL ELSE props END AS text
  FROM events
),
-- the audit gate rejects the even shard's poisoned upper-lsn batch:
-- the surviving feed is the odd shard in full + the even lower half
kept AS (
  SELECT f.* FROM feed f, b WHERE f.shard = 'odd' OR f.lsn <= b.mid
),
w AS (
  SELECT shard, conv_id, turn_idx,
         arg_max(op, lsn) AS op,
         arg_max(role, lsn) AS role,
         arg_max(text, lsn) AS text
  FROM kept GROUP BY 1, 2, 3
)
SELECT shard, conv_id, turn_idx, role, text FROM w WHERE op <> 'delete'
"""


C08_SQL = f"""
WITH b AS (
  SELECT (min(event_id) + max(event_id)) // 2 AS mid FROM events
),
feed AS (
  SELECT event_id AS lsn,
         CASE WHEN value < {DELETE_BELOW} THEN 'delete' ELSE 'upsert' END AS op,
         concat('u', CAST(user_id AS VARCHAR)) AS conv_id,
         CAST({_TURN_CASE} AS INTEGER) AS turn_idx,
         CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS shard,
         CASE WHEN value < {DELETE_BELOW} THEN NULL ELSE event_type END AS role,
         CASE WHEN value < {DELETE_BELOW} THEN NULL ELSE props END AS text
  FROM events
),
-- the even shard's upper-lsn half was poisoned (role := NULL), rejected,
-- then re-admitted with the operator fix (role := 'repaired'); original
-- LSNs are preserved through quarantine, so plain LWW over the fixed
-- feed IS the final state — lower-half winners keep their published
-- values wherever their lsn is the key's max
fixed AS (
  SELECT lsn, op, conv_id, turn_idx, shard,
         CASE WHEN shard = 'even' AND lsn > b.mid
              THEN 'repaired' ELSE role END AS role,
         text
  FROM feed, b
),
w AS (
  SELECT shard, conv_id, turn_idx,
         arg_max(op, lsn) AS op,
         arg_max(role, lsn) AS role,
         arg_max(text, lsn) AS text
  FROM fixed GROUP BY 1, 2, 3
)
SELECT shard, conv_id, turn_idx, role, text FROM w WHERE op <> 'delete'
"""


C03_SQL = f"""
WITH feed AS (
  SELECT event_id AS lsn,
         CASE WHEN value < {DELETE_BELOW} THEN 'delete' ELSE 'upsert' END AS op,
         concat('u', CAST(user_id AS VARCHAR)) AS conv_id,
         CAST({_TURN_CASE} AS INTEGER) AS turn_idx,
         CASE WHEN value < {DELETE_BELOW} THEN NULL ELSE event_type END AS role,
         CASE WHEN value < {DELETE_BELOW} THEN NULL ELSE props END AS text
  FROM events
),
w AS (
  SELECT conv_id, turn_idx,
         arg_max(op, lsn) AS op,
         arg_max(role, lsn) AS role,
         arg_max(text, lsn) AS text
  FROM feed GROUP BY 1, 2
),
state AS (SELECT role, text FROM w WHERE op <> 'delete')
SELECT role,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(length(text)) AS BIGINT) AS chars
FROM state GROUP BY role
"""


C02_SQL = f"""
WITH feed AS (
  SELECT event_id AS lsn,
         CASE WHEN value < {DELETE_BELOW} THEN 'delete' ELSE 'upsert' END AS op,
         concat('u', CAST(user_id AS VARCHAR)) AS conv_id,
         CAST({_TURN_CASE} AS INTEGER) AS turn_idx,
         event_type AS role, props AS text, ts
  FROM events
),
w AS (
  SELECT conv_id, turn_idx,
         arg_max(op, lsn) AS op,
         arg_max(text, lsn) AS text,
         arg_max(ts, lsn) AS ts
  FROM feed GROUP BY 1, 2
),
state AS (SELECT conv_id, text, ts FROM w WHERE op <> 'delete')
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       max(ts) AS last_ts,
       CAST(sum(length(text)) AS BIGINT) AS chars
FROM state GROUP BY conv_id
"""


C01_SQL = f"""
WITH feed AS (
  SELECT event_id AS lsn,
         CASE WHEN value < {DELETE_BELOW} THEN 'delete' ELSE 'upsert' END AS op,
         concat('u', CAST(user_id AS VARCHAR)) AS conv_id,
         CAST({_TURN_CASE} AS INTEGER) AS turn_idx,
         event_type AS role, props AS text, ts
  FROM events
),
w AS (
  SELECT conv_id, turn_idx,
         arg_max(op, lsn) AS op,
         arg_max(role, lsn) AS role,
         arg_max(text, lsn) AS text,
         arg_max(ts, lsn) AS ts
  FROM feed GROUP BY 1, 2
)
SELECT conv_id, turn_idx, role, text, ts FROM w WHERE op <> 'delete'
"""


# ---------------------------------------------------------------------------
# c06 — key-clustered point lookups through the whole engine: replay the
# feed, re-layout the table with compact(key_slices=4) (disjoint per-file
# key ranges inside every bucket), then read a fixed key set via
# read_key — each lookup opens ONE bucket and, inside it, ONE base slice
# (manifest key-range pruning; tests/test_key_clustering.py pins the
# file counts). The oracle is the LWW state filtered to the same keys,
# so the value-hash check proves the re-layout changed WHERE rows live,
# never WHAT they are. Keys that do not exist at a given scale factor
# contribute zero rows on both engines.
# ---------------------------------------------------------------------------
C06_KEYS = ("u1", "u7", "u13", "u29", "u46")


def c06_key_clustered_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    work = _work_dir("cdck", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).write.mode("overwrite").parquet(feed_path)
    table = LakeTable.create(
        spark,
        os.path.join(work, "table"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
    )
    replay_feed(spark, table, feed_path, epochs=2)
    table.compact(key_slices=4)
    parts = [
        table.read_key(k).select("conv_id", "turn_idx", "role", "text", "ts")
        for k in C06_KEYS
    ]
    return reduce(DataFrame.unionAll, parts)


_C06_IN = ", ".join(f"'{k}'" for k in C06_KEYS)
C06_SQL = f"""
SELECT * FROM ({C01_SQL}) WHERE conv_id IN ({_C06_IN})
"""


def c09_grid_mixed_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GRID layout proven end-to-end: replay, ``compact(key_slices=4,
    ts_slices=4)`` (key bands × event-time bands — every file
    manifest-tight on BOTH axes), then the two read shapes the grid exists to balance, over
    the SAME table: a late time window via ``ts_prune`` and point lookups
    at c06's keys via ``read_key``. Both reads must be FILE-PRUNED
    (asserted on ``inputFiles`` — a driver-green row certifies the
    pruning, not just the values) and both value-hash against declarative
    LWW oracles.

    Window bound: the top 7% of the feed's time range (integer-µs
    arithmetic both engines replay identically). LWW winners bunch LATE
    (each key's current version has the max lsn, and lsn order tracks
    event time in this feed), so the grid's ts-band boundaries — quantiles
    of the RESOLVED rows — sit at ~0.90/0.95/0.98 of the feed range
    (measured at sf0.001 and sf0.01); a 0.93 cut lands between the first
    and second boundaries, guaranteeing the window skips at least the
    earliest ts band while remaining non-trivially populated."""
    from datetime import datetime, timedelta, timezone
    from functools import reduce

    work = _work_dir("cdcg9", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).write.mode("overwrite").parquet(feed_path)
    table = LakeTable.create(
        spark,
        os.path.join(work, "table"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
    )
    replay_feed(spark, table, feed_path, epochs=2)
    table.compact(key_slices=4, ts_slices=4)
    every = set(table.read().inputFiles())

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mn, mx = (
        spark.read.parquet(feed_path).select(F.min(us), F.max(us)).first()
    )
    lo_us = mn + (mx - mn) * 93 // 100

    def _dt(usec: int) -> datetime:
        return datetime.fromtimestamp(
            usec // 1_000_000, tz=timezone.utc
        ).replace(tzinfo=None) + timedelta(microseconds=usec % 1_000_000)

    cols = ["conv_id", "turn_idx", "role", "text", "ts"]
    window = table.read(ts_prune=(_dt(lo_us), _dt(mx))).select(*cols)
    assert set(window.inputFiles()) < every, "window read not pruned"
    lookups = [table.read_key(k).select(*cols) for k in C06_KEYS]
    for k, df in zip(C06_KEYS, lookups):
        assert set(df.inputFiles()) < every, f"lookup {k} not pruned"
    return window.select(F.lit("window").alias("probe"), *cols).unionAll(
        reduce(DataFrame.unionAll, lookups).select(
            F.lit("key").alias("probe"), *cols
        )
    )


C09_SQL = f"""
WITH state AS ({C01_SQL}),
feed AS (SELECT ts FROM events),
b AS (
  SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM feed
)
SELECT 'window' AS probe, conv_id, turn_idx, role, text, ts
FROM state, b
WHERE epoch_us(ts) BETWEEN mn + (mx - mn) * 93 // 100 AND mx
UNION ALL
SELECT 'key' AS probe, conv_id, turn_idx, role, text, ts
FROM state WHERE conv_id IN ({_C06_IN})
"""


# ---------------------------------------------------------------------------
# c10 — content-index pruned read through the whole engine (round 4e): the
# feed's tool column is a time-band label (lsn order tracks event time, so
# each replay epoch's delta files carry a TIGHT per-file tool value set in
# their manifests — lake/content.py), text tokens are indexed per file,
# and the final read combines eq_prune (tool) with token_prune (text)
# under the LWW floor-retention rule. The engine side ASSERTS the read
# opened fewer files than the table holds, so a driver-green row
# certifies the pruning AND the values; the oracle is the LWW state
# filtered by the identical predicates, replayed declaratively.
# ---------------------------------------------------------------------------


def c10_content_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the feed (4 epochs, no compaction) into a table that
    DECLARES content indexes (props: index.sets on tool/role, index.tokens
    on text), then read ``tool = 't3' AND role = 'purchase' AND text has
    token 'k'`` via read(eq_prune=..., token_prune=...).

    The tool band is integer-µs arithmetic both engines replay
    identically: band = (epoch_us(ts) - mn) * 4 // (mx - mn + 1). Band
    t3 rows live only in the last epoch's files, so the value-set prune
    (+ lsn floor) must skip the earlier epochs' deltas — asserted on
    inputFiles. The role and token predicates prune no files at this
    grain (every file holds every role, and 'k' is in every payload's
    vocabulary) — they exist to prove three residual filters COMPOSE on
    one read and that candidates under one index still pass the others'
    maybe-tests."""
    work = _work_dir("cdcc10", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = load(spark, sf_dir, "events")
    mn, mx = ev.select(F.min(us), F.max(us)).first()
    band = F.concat(
        F.lit("t"),
        F.expr(
            f"CAST(((unix_micros(CAST(ts AS TIMESTAMP)) - {mn}) * 4) "
            f"DIV ({mx} - {mn} + 1) AS STRING)"
        ),
    )
    op = F.when(F.col("value") < DELETE_BELOW, "delete").otherwise(
        F.when(F.col("event_id") % 2 == 0, "insert").otherwise("update")
    )
    is_del = op == "delete"
    feed = ev.select(
        F.col("event_id").alias("lsn"),
        op.alias("op"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        F.expr(_TURN_CASE).cast("int").alias("turn_idx"),
        F.when(~is_del, F.col("event_type")).alias("role"),
        F.when(~is_del, F.col("props")).alias("text"),
        F.when(~is_del, band).alias("tool"),
        F.col("ts"),
    )
    feed.write.mode("overwrite").parquet(feed_path)
    table = LakeTable.create(
        spark,
        os.path.join(work, "table"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
    )
    table.update_props(
        {"index.sets": ["tool", "role"], "index.tokens": "text"}
    )
    replay_feed(spark, table, feed_path, epochs=4)
    pruned = table.read(
        eq_prune={"tool": "t3", "role": "purchase"}, token_prune="k"
    )
    assert set(pruned.inputFiles()) < set(
        table.read().inputFiles()
    ), "content-index read not pruned"
    return pruned.select("conv_id", "turn_idx", "role", "text", "tool", "ts")


C10_SQL = f"""
WITH b AS (
  SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events
),
feed AS (
  SELECT event_id AS lsn,
         CASE WHEN value < {DELETE_BELOW} THEN 'delete' ELSE 'upsert' END AS op,
         concat('u', CAST(user_id AS VARCHAR)) AS conv_id,
         CAST({_TURN_CASE} AS INTEGER) AS turn_idx,
         event_type AS role, props AS text,
         concat('t', CAST((epoch_us(ts) - mn) * 4 // (mx - mn + 1) AS VARCHAR))
           AS tool,
         ts
  FROM events, b
),
w AS (
  SELECT conv_id, turn_idx,
         arg_max(op, lsn) AS op,
         arg_max(role, lsn) AS role,
         arg_max(text, lsn) AS text,
         arg_max(tool, lsn) AS tool,
         arg_max(ts, lsn) AS ts
  FROM feed GROUP BY 1, 2
)
SELECT conv_id, turn_idx, role, text, tool, ts
FROM w
WHERE op <> 'delete' AND tool = 't3' AND role = 'purchase'
  AND list_contains(string_split_regex(lower(text), '[^a-z0-9]+'), 'k')
"""


# ---------------------------------------------------------------------------
# c11 — partial-update (TOAST-aware) CDC replay through the whole engine.
# Postgres logical decoding omits unchanged TOASTed values from UPDATE row
# images (the transcripts table's big `text` column is exactly the column
# that would be TOASTed); the feed marks them with the table's in-band
# sentinel, and the engine's patch merge engine (props `patch.columns`,
# lake/table.py::resolve_lww over cdc/apply.py::lww_dedup's storage-shaped
# events) must carry
# the stored value forward — per COLUMN, across epochs, through deletes and
# compaction. The oracle restates the rule declaratively: each patch
# column's value is its latest SET (non-sentinel, non-delete) value, killed
# when a later delete outranks it; everything else is plain whole-row LWW.
# A hash match proves the engine's per-column LSN storage, associative
# resolution and compaction rewrite all converge to that state.
# Reference analog: the reference re-ships FULL rows on every load
# (/root/reference/scripts/load_data.py:119-131) — partial images are the
# piece a WAL-tail engine needs that a batch reloader never sees.
# ---------------------------------------------------------------------------
_PATCH_SENT = "__unchanged__"


def patch_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The c01 feed with TOAST-style partial updates: a third of the
    upserts omit ``text``, two fifths omit ``tool`` (both in-band via the
    sentinel), deletes carry no payload."""
    ev = load(spark, sf_dir, "events")
    is_del = F.col("value") < DELETE_BELOW
    text = (
        F.when(is_del, F.lit(None).cast("string"))
        .when(F.col("event_id") % 3 == 0, F.lit(_PATCH_SENT))
        .otherwise(F.col("props"))
    )
    tool = (
        F.when(is_del, F.lit(None).cast("string"))
        .when(F.col("event_id") % 5 < 2, F.lit(_PATCH_SENT))
        .otherwise(F.concat(F.lit("tool-"), F.col("event_type")))
    )
    return ev.select(
        F.col("event_id").alias("lsn"),
        F.when(is_del, "delete").otherwise("upsert").alias("op"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        F.expr(_TURN_CASE).cast("int").alias("turn_idx"),
        F.when(~is_del, F.col("event_type")).alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.col("ts"),
    )


def c11_partial_update_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the partial-update feed in 4 epochs (compaction mid-stream at
    epoch 2, so the final read resolves a compacted base PLUS later patch
    deltas); return the final per-column-LWW state."""
    work = _work_dir("cdcp", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    patch_change_feed(spark, sf_dir).write.mode("overwrite").parquet(feed_path)
    table = LakeTable.create(
        spark,
        os.path.join(work, "table"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
        props={"patch.columns": ["text", "tool"], "patch.sentinel": _PATCH_SENT},
    )
    replay_feed(spark, table, feed_path, epochs=4, compact_every=2)
    return table.read().select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )


_C11_SET = (
    "op <> 'delete' AND {c} IS NOT NULL AND {c} <> '" + _PATCH_SENT + "'"
)
C11_SQL = f"""
WITH feed AS (
  SELECT event_id AS lsn,
         CASE WHEN value < {DELETE_BELOW} THEN 'delete' ELSE 'upsert' END AS op,
         concat('u', CAST(user_id AS VARCHAR)) AS conv_id,
         CAST({_TURN_CASE} AS INTEGER) AS turn_idx,
         CASE WHEN value < {DELETE_BELOW} THEN NULL ELSE event_type END AS role,
         CASE WHEN value < {DELETE_BELOW} THEN NULL
              WHEN event_id % 3 = 0 THEN '{_PATCH_SENT}'
              ELSE props END AS text,
         CASE WHEN value < {DELETE_BELOW} THEN NULL
              WHEN event_id % 5 < 2 THEN '{_PATCH_SENT}'
              ELSE concat('tool-', event_type) END AS tool,
         ts
  FROM events
),
w AS (
  SELECT conv_id, turn_idx,
         arg_max(op, lsn) AS op,
         arg_max(role, lsn) AS role,
         arg_max(ts, lsn) AS ts,
         max(lsn) FILTER (WHERE op = 'delete') AS dlsn,
         arg_max(text, lsn) FILTER (WHERE {_C11_SET.format(c="text")}) AS text_v,
         max(lsn)           FILTER (WHERE {_C11_SET.format(c="text")}) AS text_l,
         arg_max(tool, lsn) FILTER (WHERE {_C11_SET.format(c="tool")}) AS tool_v,
         max(lsn)           FILTER (WHERE {_C11_SET.format(c="tool")}) AS tool_l
  FROM feed GROUP BY 1, 2
)
SELECT conv_id, turn_idx, role,
       CASE WHEN text_l IS NOT NULL AND (dlsn IS NULL OR text_l > dlsn)
            THEN text_v END AS text,
       CASE WHEN tool_l IS NOT NULL AND (dlsn IS NULL OR tool_l > dlsn)
            THEN tool_v END AS tool,
       ts
FROM w WHERE op <> 'delete'
"""


# ---------------------------------------------------------------------------
# c12 — SCD2 version history from the retained changefeed. The engine
# replays the c01 feed in 4 epochs (compaction mid-stream — fold commits
# carry no merge manifest, so history survives them) and reads
# LakeTable.history(): one row per key version with half-open LSN
# validity. The oracle restates it declaratively: collapse the feed to
# per-(key, epoch) winners exactly as replay_feed slices it (same integer
# lsn arithmetic), then lead() the winners' LSNs per key and drop delete
# versions — a later delete closes its predecessor's interval but emits
# no row. A hash match proves the changefeed's batch-collapse, the
# manifest-indirected per-commit reads and the window derivation all
# agree on WHAT changed WHEN — the reference's clear-and-reload keeps
# only the latest state (/root/reference/scripts/load_data.py:119-131),
# so version history is pure engine capability on top.
# ---------------------------------------------------------------------------
def c12_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = _work_dir("cdch", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).write.mode("overwrite").parquet(feed_path)
    table = LakeTable.create(
        spark,
        os.path.join(work, "table"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
    )
    replay_feed(spark, table, feed_path, epochs=4, compact_every=2)
    return table.history().select(
        "conv_id", "turn_idx", "role", "text", "ts",
        "valid_from_lsn", "valid_to_lsn", "is_current",
    )


C12_SQL = f"""
WITH feed AS (
  SELECT event_id AS lsn,
         CASE WHEN value < {DELETE_BELOW} THEN 'delete' ELSE 'upsert' END AS op,
         concat('u', CAST(user_id AS VARCHAR)) AS conv_id,
         CAST({_TURN_CASE} AS INTEGER) AS turn_idx,
         event_type AS role, props AS text, ts
  FROM events
),
b AS (
  SELECT min(lsn) AS lo,
         greatest((max(lsn) - min(lsn) + 1) // 4, 1) AS step
  FROM feed
),
w AS (
  SELECT conv_id, turn_idx,
         least((lsn - b.lo) // b.step, 3) AS ep,
         max(lsn) AS lsn,
         arg_max(op, lsn) AS op,
         arg_max(role, lsn) AS role,
         arg_max(text, lsn) AS text,
         arg_max(ts, lsn) AS ts
  FROM feed, b GROUP BY 1, 2, 3
),
v AS (
  SELECT *,
         lead(lsn) OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn)
           AS valid_to_lsn
  FROM w
)
SELECT conv_id, turn_idx, role, text, ts,
       lsn AS valid_from_lsn, valid_to_lsn,
       valid_to_lsn IS NULL AS is_current
FROM v WHERE op <> 'delete'
"""


# ---------------------------------------------------------------------------
# c13 — rollback + corrected re-replay through the whole engine: epochs
# 0-1 apply cleanly and are tagged; epoch 2 lands POISONED (every text
# 'CORRUPTED'); `rollback_to(tag=...)` rewinds state AND the ingestion
# frontier in one metadata-only commit; the corrected epoch 2 and epoch 3
# then re-apply through the normal idempotent path. The oracle is C01's
# clean-replay SQL verbatim: rollback + corrected replay must converge to
# exactly the state a never-corrupted replay produces. The check is sharp
# in both failure directions — if the rollback failed to drop the bad
# files, the corrupted rows tie the corrected ones on LSN and poison the
# value hash; if it failed to rewind the frontier, apply_batch SKIPS the
# corrected epoch 2 and the CORRUPTED text survives.
# ---------------------------------------------------------------------------
def c13_rollback_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch

    work = _work_dir("cdcrb", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).write.mode("overwrite").parquet(feed_path)
    table = LakeTable.create(
        spark,
        os.path.join(work, "table"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
    )
    feed = spark.read.parquet(feed_path)
    lo, hi = feed.select(F.min("lsn"), F.max("lsn")).first()
    step = max((hi - lo + 1) // 4, 1)

    def epoch_slice(e: int) -> DataFrame:
        a = lo + e * step
        b = hi + 1 if e == 3 else lo + (e + 1) * step
        return feed.filter((F.col("lsn") >= a) & (F.col("lsn") < b))

    apply_batch(spark, table, epoch_slice(0), epoch=0)
    apply_batch(spark, table, epoch_slice(1), epoch=1)
    table.tag("pre-incident")
    poisoned = epoch_slice(2).withColumn(
        "text",
        F.when(F.col("op") != "delete", F.lit("CORRUPTED")).otherwise(
            F.col("text")
        ),
    )
    apply_batch(spark, table, poisoned, epoch=2)
    table.rollback_to(tag="pre-incident")
    apply_batch(spark, table, epoch_slice(2), epoch=2)  # corrected
    apply_batch(spark, table, epoch_slice(3), epoch=3)
    return table.read().select("conv_id", "turn_idx", "role", "text", "ts")


#: rollback + corrected replay ≡ a replay that was never corrupted
C13_SQL = C01_SQL


# ---------------------------------------------------------------------------
# c14 — incrementally-maintained JOIN view through the whole engine: the
# fact feed replays in 3 epochs while the customer dim ALSO changes (an
# update epoch, then a delete epoch), and an IncrementalJoinView
# (lake/join_view.py, dirty-join-key recompute over BOTH changefeeds)
# refreshes after every step. The reference recomputes its silver report
# by re-joining the full tables every run
# (/root/reference/dags/silver_layer_dag.py:82-127 DELETE + re-INSERT);
# here each refresh reads only the changed join keys' buckets. The oracle
# joins the feed's LWW state with the dim's final state declaratively —
# hash-green means 5 rounds of incremental maintenance (including the
# dim-delete fan-out that must tombstone every fact row of the deleted
# customers) converge to the exact full-recompute join.
# ---------------------------------------------------------------------------
def c14_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch
    from postgres_to_snowflake_data_pipeline_spark.lake.join_view import (
        IncrementalJoinView,
    )

    work = _work_dir("cdcjv", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).write.mode("overwrite").parquet(feed_path)
    fact = LakeTable.create(
        spark,
        os.path.join(work, "fact"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
    )
    dim = LakeTable.create(
        spark,
        os.path.join(work, "dim"),
        T.StructType(
            [
                T.StructField("conv_id", T.StringType(), False),
                T.StructField("segment", T.StringType(), True),
                T.StructField("acctbal", T.DoubleType(), True),
            ]
        ),
        key_cols=("conv_id",),
        n_buckets=4,
    )
    cust = load(spark, sf_dir, "customer").select(
        F.concat(F.lit("u"), F.col("c_custkey").cast("string")).alias("conv_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_custkey"),
    )
    dim.merge(
        cust.drop("c_custkey")
        .withColumn("_lsn", F.lit(1).cast("long"))
        .withColumn("_deleted", F.lit(False))
    )
    view = IncrementalJoinView(
        spark,
        os.path.join(work, "view"),
        fact,
        dim,
        on_cols=("conv_id",),
        how="inner",
        left_cols=["role", "text"],
        right_cols=["segment", "acctbal"],
        n_buckets=4,
    )
    feed = spark.read.parquet(feed_path)
    lo, hi = feed.select(F.min("lsn"), F.max("lsn")).first()
    step = max((hi - lo + 1) // 3, 1)
    for e in range(3):
        a = lo + e * step
        b = hi + 1 if e == 2 else lo + (e + 1) * step
        apply_batch(
            spark, fact, feed.filter((F.col("lsn") >= a) & (F.col("lsn") < b)),
            epoch=e,
        )
        view.refresh()
        if e == 0:
            # dim update epoch: every 10th customer changes segment
            dim.merge(
                cust.filter(F.col("c_custkey") % 10 == 0)
                .drop("c_custkey")
                .withColumn("segment", F.lit("UPGRADED"))
                .withColumn("_lsn", F.lit(2).cast("long"))
                .withColumn("_deleted", F.lit(False))
            )
            view.refresh()
        elif e == 1:
            # dim delete epoch: every 17th(+3) customer leaves — the view
            # must drop ALL their fact rows (inner-join fan-out)
            dim.merge(
                cust.filter(F.col("c_custkey") % 17 == 3)
                .select(
                    "conv_id",
                    F.lit(None).cast("string").alias("segment"),
                    F.lit(None).cast("double").alias("acctbal"),
                )
                .withColumn("_lsn", F.lit(3).cast("long"))
                .withColumn("_deleted", F.lit(True))
            )
            view.refresh()
    return view.read().select(
        "conv_id", "turn_idx", "role", "text", "segment", "acctbal"
    )


C14_SQL = f"""
WITH feed AS (
  SELECT event_id AS lsn,
         CASE WHEN value < {DELETE_BELOW} THEN 'delete' ELSE 'upsert' END AS op,
         concat('u', CAST(user_id AS VARCHAR)) AS conv_id,
         CAST({_TURN_CASE} AS INTEGER) AS turn_idx,
         event_type AS role, props AS text
  FROM events
),
w AS (
  SELECT conv_id, turn_idx,
         arg_max(op, lsn) AS op,
         arg_max(role, lsn) AS role,
         arg_max(text, lsn) AS text
  FROM feed GROUP BY 1, 2
),
state AS (SELECT conv_id, turn_idx, role, text FROM w WHERE op <> 'delete'),
dim AS (
  SELECT concat('u', CAST(c_custkey AS VARCHAR)) AS conv_id,
         CASE WHEN c_custkey % 10 = 0 THEN 'UPGRADED'
              ELSE c_mktsegment END AS segment,
         c_acctbal AS acctbal
  FROM customer
  WHERE c_custkey % 17 <> 3
)
SELECT s.conv_id, s.turn_idx, s.role, s.text, d.segment, d.acctbal
FROM state s JOIN dim d USING (conv_id)
"""


# ---------------------------------------------------------------------------
# c15 — changefeed-driven replication (cdc/mirror.py) through an incident:
# a TableMirror follows the source table from its OWN changefeed (the
# engine's CDC-out closure — changes() replayed through the same LWW merge
# reconverges a follower exactly), syncing after every epoch. The mirror is
# a RE-LAYOUT replica (4 buckets vs the source's 8). Mid-run it ingests a
# poisoned epoch; the source then rolls back and re-replays corrected —
# the final sync must detect the rewind and PROPAGATE it as a follower
# rollback (metadata-only) before resuming incrementally. The oracle is
# c01's clean-replay SQL: a replica recovered through rollback propagation
# must equal the state of a feed that was never corrupted. Reference
# analog: the reference replicates by full clear-and-reload every run
# (/root/reference/scripts/load_data.py:119-131); here only deltas move.
# ---------------------------------------------------------------------------
def c15_changefeed_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch
    from postgres_to_snowflake_data_pipeline_spark.cdc.mirror import TableMirror

    work = _work_dir("cdcmr", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).write.mode("overwrite").parquet(feed_path)
    table = LakeTable.create(
        spark,
        os.path.join(work, "table"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
    )
    mirror = TableMirror(spark, os.path.join(work, "replica"), table, n_buckets=4)
    feed = spark.read.parquet(feed_path)
    lo, hi = feed.select(F.min("lsn"), F.max("lsn")).first()
    step = max((hi - lo + 1) // 4, 1)

    def epoch_slice(e: int) -> DataFrame:
        a = lo + e * step
        b = hi + 1 if e == 3 else lo + (e + 1) * step
        return feed.filter((F.col("lsn") >= a) & (F.col("lsn") < b))

    apply_batch(spark, table, epoch_slice(0), epoch=0)
    mirror.sync()
    apply_batch(spark, table, epoch_slice(1), epoch=1)
    mirror.sync()
    table.tag("pre-incident")
    poisoned = epoch_slice(2).withColumn(
        "text",
        F.when(F.col("op") != "delete", F.lit("CORRUPTED")).otherwise(
            F.col("text")
        ),
    )
    apply_batch(spark, table, poisoned, epoch=2)
    mirror.sync()  # the replica ingests the incident too
    table.rollback_to(tag="pre-incident")
    apply_batch(spark, table, epoch_slice(2), epoch=2)  # corrected
    apply_batch(spark, table, epoch_slice(3), epoch=3)
    res = mirror.sync()
    assert res is not None and res["mode"] == "rollback+incremental", res
    return mirror.read().select("conv_id", "turn_idx", "role", "text", "ts")


#: a replica recovered via rollback propagation ≡ a clean replay
C15_SQL = C01_SQL


# ---------------------------------------------------------------------------
# c17 — subset replicas (cdc/mirror.py partial/thin mirrors) through their
# full lifecycle, both regimes at once:
#  - a KEY-predicate shard (auto-detected, drop regime: the follower
#    stores nothing for foreign keys, rebuilds at shard cost), re-laid-out
#    to 4 buckets;
#  - a PAYLOAD-predicate THIN replica (role subset, carrying only
#    role/text beyond the keys): updates move rows in and out of the
#    subset across epochs — exits are synthesized same-LSN deletes, and a
#    mid-run history expiry forces the tombstoning REBUILD path before
#    incremental syncs resume over it.
# The oracle is declarative subset algebra over the same LWW state: any
# missed eviction, dropped entry, wrong rebuild or wrong projection
# surfaces as a value-hash mismatch. Reference analog: the reference's
# per-table full reloads (/root/reference/scripts/load_data.py:119-131)
# cannot express a subset replica at all — sharding there means a second
# full pipeline.
# ---------------------------------------------------------------------------
C17_SHARD_PRED = "pmod(cast(substr(conv_id, 2) as int), 2) = 1"
C17_ROLE_PRED = "role IN ('click', 'view')"


def c17_sharded_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch
    from postgres_to_snowflake_data_pipeline_spark.cdc.mirror import TableMirror

    work = _work_dir("cdcsh", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).write.mode("overwrite").parquet(feed_path)
    table = LakeTable.create(
        spark,
        os.path.join(work, "table"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
    )
    shard = TableMirror(
        spark,
        os.path.join(work, "shard"),
        table,
        n_buckets=4,
        filter_expr=C17_SHARD_PRED,
    )
    thin = TableMirror(
        spark,
        os.path.join(work, "thin"),
        table,
        filter_expr=C17_ROLE_PRED,
        columns=["role", "text"],
    )
    feed = spark.read.parquet(feed_path)
    lo, hi = feed.select(F.min("lsn"), F.max("lsn")).first()
    step = max((hi - lo + 1) // 5, 1)

    def epoch_slice(e: int) -> DataFrame:
        a = lo + e * step
        b = hi + 1 if e == 4 else lo + (e + 1) * step
        return feed.filter((F.col("lsn") >= a) & (F.col("lsn") < b))

    for e in (0, 1):
        apply_batch(spark, table, epoch_slice(e), epoch=e)
        assert shard.sync()["mode"] == "incremental"
        assert thin.sync()["mode"] == "incremental"
    # both replicas fall 2 commits behind, then the source expires history
    # past their positions: the next sync must take the rebuild path (the
    # shard's costs its shard; the thin one tombstones out-of-subset keys)
    apply_batch(spark, table, epoch_slice(2), epoch=2)
    apply_batch(spark, table, epoch_slice(3), epoch=3)
    table.expire_snapshots(keep_last=1, orphan_grace_seconds=0)
    assert shard.sync()["mode"] == "rebuild-expired"
    assert thin.sync()["mode"] == "rebuild-expired"
    # back to incremental over the rebuilt states (subset movement rides
    # the changefeed transform: exits become same-LSN deletes)
    apply_batch(spark, table, epoch_slice(4), epoch=4)
    assert shard.sync()["mode"] == "incremental"
    assert thin.sync()["mode"] == "incremental"
    cols = ["conv_id", "turn_idx", "role", "text"]
    return (
        shard.read().select(F.lit("shard").alias("part"), *cols)
        .unionAll(thin.read().select(F.lit("subset").alias("part"), *cols))
    )


C17_SQL = f"""
WITH feed AS (
  SELECT event_id AS lsn,
         CASE WHEN value < {DELETE_BELOW} THEN 'delete' ELSE 'upsert' END AS op,
         concat('u', CAST(user_id AS VARCHAR)) AS conv_id,
         CAST({_TURN_CASE} AS INTEGER) AS turn_idx,
         event_type AS role, props AS text
  FROM events
),
w AS (
  SELECT conv_id, turn_idx,
         arg_max(op, lsn) AS op,
         arg_max(role, lsn) AS role,
         arg_max(text, lsn) AS text
  FROM feed GROUP BY 1, 2
),
state AS (
  SELECT conv_id, turn_idx, role, text FROM w WHERE op <> 'delete'
)
SELECT 'shard' AS part, conv_id, turn_idx, role, text
FROM state WHERE CAST(substr(conv_id, 2) AS INTEGER) % 2 = 1
UNION ALL
SELECT 'subset' AS part, conv_id, turn_idx, role, text
FROM state WHERE role IN ('click', 'view')
"""


# ---------------------------------------------------------------------------
# c16 — O(delta) PERCENTILE view: the round-3 verdict's "non-decomposable
# aggregates still rescan" residual, closed by a retractable histogram.
# The feed replays in 4 epochs (updates, deletes, group moves) while a
# DeltaAggView maintains approx_p50/approx_p95 of length(text) per role as
# sparse log-binned histograms — bin counts retract exactly, so the
# refresh stays changefeed-only on a fully UPDATING source (no append-only
# contract, unlike min/max/HLL). The binning is exact integer/dyadic
# arithmetic (octave = bit length, midpoint = 2^e·(17+2s)/16), so the
# DuckDB oracle recomputing the same binned quantile from the LWW state
# hash-matches BIT-FOR-BIT — an approximate sketch under an exact gate.
# Reference analog: the data_summary stats CTAS recomputed per run
# (/root/reference/dags/s3_to_snowflake_dag.py:209-255).
# ---------------------------------------------------------------------------
def c16_quantile_delta_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch
    from postgres_to_snowflake_data_pipeline_spark.lake.delta_view import DeltaAggView

    work = _work_dir("cdchq", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).write.mode("overwrite").parquet(feed_path)
    table = LakeTable.create(
        spark,
        os.path.join(work, "table"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
    )
    view = DeltaAggView(
        spark,
        os.path.join(work, "view"),
        table,
        group_cols=("role",),
        measures={
            "p50_chars": ("approx_p50", "length(text)"),
            "p95_chars": ("approx_p95", "length(text)"),
        },
        payload_cols=["role", "text"],
        n_buckets=4,
    )
    feed = spark.read.parquet(feed_path)
    lo, hi = feed.select(F.min("lsn"), F.max("lsn")).first()
    step = max((hi - lo + 1) // 4, 1)
    for e in range(4):
        a = lo + e * step
        b = hi + 1 if e == 3 else lo + (e + 1) * step
        apply_batch(
            spark, table, feed.filter((F.col("lsn") >= a) & (F.col("lsn") < b)),
            epoch=e,
        )
        view.refresh()
    return view.read().select("role", "n_rows", "p50_chars", "p95_chars")


#: the identical exact-arithmetic binning + rank walk, declaratively over
#: the LWW state (octave via bin()'s string length in BOTH engines — never
#: a floating log, whose last ulp flips at powers of two)
_HQ_BIN = (
    "(length(bin(abs(v)))-1)*8 + CAST(floor(CAST(abs(v) AS DOUBLE) / "
    "pow(2.0, (length(bin(abs(v)))-1) - 3)) AS BIGINT) - 8"
)
def _hq_mid(bb: str) -> str:
    """Midpoint SQL for a non-negative log bin expression ``bb`` —
    2^e·(17+2s)/16 in exactly-representable doubles."""
    return (
        f"pow(2.0, CAST(floor(({bb}) / 8.0) AS BIGINT)) * "
        f"(17.0 + (({bb}) - CAST(floor(({bb}) / 8.0) AS BIGINT)*8) * 2) "
        "/ 16.0"
    )


def _hq_decode(col: str) -> str:
    """Bin-id -> value SQL across the zero/positive/negative ranges."""
    return (
        f"CASE WHEN {col} = -1000000000 THEN 0.0 "
        f"WHEN {col} > -1000000000 THEN {_hq_mid(col)} "
        f"ELSE -({_hq_mid(f'(-2000000000 - {col})')}) END"
    )


C16_SQL = f"""
WITH feed AS (
  SELECT event_id AS lsn,
         CASE WHEN value < {DELETE_BELOW} THEN 'delete' ELSE 'upsert' END AS op,
         concat('u', CAST(user_id AS VARCHAR)) AS conv_id,
         CAST({_TURN_CASE} AS INTEGER) AS turn_idx,
         CASE WHEN value < {DELETE_BELOW} THEN NULL ELSE event_type END AS role,
         CASE WHEN value < {DELETE_BELOW} THEN NULL ELSE props END AS text
  FROM events
),
w AS (
  SELECT conv_id, turn_idx,
         arg_max(op, lsn) AS op,
         arg_max(role, lsn) AS role,
         arg_max(text, lsn) AS text
  FROM feed GROUP BY 1, 2
),
state AS (SELECT role, text FROM w WHERE op <> 'delete'),
tot AS (SELECT role, CAST(count(*) AS BIGINT) AS n_rows FROM state GROUP BY role),
binned AS (
  SELECT role,
         CASE WHEN v = 0 THEN -1000000000
              WHEN v > 0 THEN {_HQ_BIN}
              ELSE -2000000000 - ({_HQ_BIN}) END AS b
  FROM (SELECT role, CAST(length(text) AS BIGINT) AS v FROM state)
  WHERE v IS NOT NULL
),
cnt AS (SELECT role, b, count(*) AS c FROM binned GROUP BY 1, 2),
n AS (SELECT role, count(*) AS n FROM binned GROUP BY 1),
cum AS (
  SELECT role, b, sum(c) OVER (PARTITION BY role ORDER BY b) AS cum FROM cnt
),
hit AS (
  SELECT c.role,
         min(CASE WHEN c.cum >= (n.n*50+99)//100 THEN c.b END) AS b50,
         min(CASE WHEN c.cum >= (n.n*95+99)//100 THEN c.b END) AS b95
  FROM cum c JOIN n USING (role) GROUP BY c.role
)
SELECT t.role, t.n_rows,
       {_hq_decode("h.b50")} AS p50_chars,
       {_hq_decode("h.b95")} AS p95_chars
FROM tot t JOIN hit h ON t.role = h.role
"""


# ---------------------------------------------------------------------------
# c18 — event-time row retention proven end-to-end: replay the feed,
# time-cluster the layout (compact(ts_slices=4)), expire everything below
# a deterministic cutoff, and return the surviving state. The query
# asserts in-line (a driver-green row certifies it) that the expiry
# actually took the METADATA path for at least one file — zone-stat
# slice/bucket drops, not a table rewrite — and that a re-run at the same
# cutoff is a no-op. The oracle is the LWW state filtered by the same
# integer-µs cutoff arithmetic, so the value-hash check proves retention
# removed exactly the pre-cutoff winners and nothing else.
#
# Cutoff = the RESOLVED state's exact ts median, floored to the second
# plus half a second. The ts_slices=4 band boundaries are (approximate)
# quantiles of the same resolved rows, so a median cut is guaranteed to
# sit at/above the second boundary — the lowest band's ``ts_max`` is
# below it and drops metadata-only — while ~half the state survives.
# The half-second offset keeps the cutoff strictly between whole-second
# event times (boundary rows can't straddle an engine-rounding ulp),
# and the median itself is EXACT in both engines: µs values < 2^53, so
# the two-point interpolation is exact double arithmetic (Spark
# ``percentile`` ≡ DuckDB ``quantile_cont``).
# Reference analog: the reference's retention is the full clear-and-
# reload (scripts/load_data.py); this is the row-level version.
# ---------------------------------------------------------------------------
def c18_row_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime, timedelta, timezone

    work = _work_dir("cdce18", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).write.mode("overwrite").parquet(feed_path)
    table = LakeTable.create(
        spark,
        os.path.join(work, "table"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
    )
    replay_feed(spark, table, feed_path, epochs=2)
    table.compact(ts_slices=4)

    med = table.read().select(
        F.expr("percentile(unix_micros(ts), 0.5D)")
    ).first()[0]
    cut_us = int(med // 1_000_000) * 1_000_000 + 500_000
    cutoff = datetime.fromtimestamp(
        cut_us // 1_000_000, tz=timezone.utc
    ).replace(tzinfo=None) + timedelta(microseconds=cut_us % 1_000_000)

    out = table.expire_rows(cutoff)
    assert out is not None, "expiry removed nothing"
    assert out.summary["files_dropped"] >= 1, (
        "no metadata-only drop happened — the zone-stat path is dead"
    )
    assert table.expire_rows(cutoff) is None, "expiry re-run not a no-op"
    return table.read().select("conv_id", "turn_idx", "role", "text", "ts")


C18_SQL = f"""
WITH state AS ({C01_SQL}),
b AS (
  SELECT CAST(floor(quantile_cont(epoch_us(ts), 0.5) / 1000000) AS BIGINT)
         * 1000000 + 500000 AS cut
  FROM state
)
SELECT conv_id, turn_idx, role, text, ts
FROM state, b
WHERE epoch_us(ts) >= cut
"""


# ---------------------------------------------------------------------------
# c19 — metadata-only state counting: replay the first 3/4 of the feed,
# fold every bucket (compact), then apply the last quarter FILTERED to
# three conversations — only their hash buckets take a delta. The
# engine's state_counts() must answer every untouched bucket from
# manifest stats alone (sum(rows - del_rows) over the folded pass; zero
# data files opened) and scan only the dirtied buckets; the asserts pin
# BOTH paths live. The oracle recomputes all three numbers from the raw
# feed (LWW winners for live/deleted, per-slice distinct keys for the
# storage-row total), so the value-hash check proves the manifest
# arithmetic against real data — an Iceberg-style "COUNT(*) without a
# scan", which at 100 TB is a driver-side metadata fold instead of a
# table-sized job. Reference analog: the row-count verification the
# reference runs against Snowflake after each load
# (/root/reference/dags/s3_to_snowflake_dag.py:167-192).
# ---------------------------------------------------------------------------
C19_CONVS = ("u1", "u2", "u3")


def c19_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch

    work = _work_dir("cdce19", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).write.mode("overwrite").parquet(feed_path)
    table = LakeTable.create(
        spark,
        os.path.join(work, "table"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
    )
    feed = spark.read.parquet(feed_path)
    lo, hi = feed.select(F.min("lsn"), F.max("lsn")).first()
    cut = lo + 3 * max((hi - lo + 1) // 4, 1)
    head_path = os.path.join(work, "head")
    feed.filter(F.col("lsn") < cut).write.mode("overwrite").parquet(head_path)
    replay_feed(spark, table, head_path, epochs=3)
    table.compact()
    tail = feed.filter(
        (F.col("lsn") >= cut) & F.col("conv_id").isin(*C19_CONVS)
    )
    apply_batch(spark, table, tail, epoch=3)

    sc = table.state_counts()
    assert sc["stats_buckets"] >= 1, "metadata-only path unused"
    assert sc["scanned_buckets"] >= 1, "scan fallback unused"
    assert sc["scanned_buckets"] <= len(C19_CONVS), sc
    storage = sum(
        e["rows"] for fs in table.current().files.values() for e in fs
    )
    return spark.createDataFrame(
        [(sc["live"], sc["deleted"], storage)],
        "live_rows long, deleted_keys long, storage_rows long",
    )


C19_SQL = f"""
WITH feed AS (
  SELECT event_id AS lsn,
         CASE WHEN value < {DELETE_BELOW} THEN 'delete' ELSE 'upsert' END AS op,
         concat('u', CAST(user_id AS VARCHAR)) AS conv_id,
         CAST({_TURN_CASE} AS INTEGER) AS turn_idx
  FROM events
),
b AS (
  SELECT min(lsn) + 3 * greatest((max(lsn) - min(lsn) + 1) // 4, 1) AS cut
  FROM feed
),
kept AS (
  SELECT f.* FROM feed f, b
  WHERE f.lsn < b.cut
     OR (f.lsn >= b.cut AND f.conv_id IN ('u1', 'u2', 'u3'))
),
w AS (
  SELECT conv_id, turn_idx, arg_max(op, lsn) AS op
  FROM kept GROUP BY 1, 2
),
head_keys AS (
  SELECT count(*) AS n FROM (
    SELECT DISTINCT conv_id, turn_idx FROM feed, b WHERE lsn < b.cut
  )
),
tail_keys AS (
  SELECT count(*) AS n FROM (
    SELECT DISTINCT conv_id, turn_idx FROM feed, b
    WHERE lsn >= b.cut AND conv_id IN ('u1', 'u2', 'u3')
  )
)
SELECT
  CAST(sum(CASE WHEN op <> 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS live_rows,
  CAST(sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS deleted_keys,
  (SELECT CAST(head_keys.n + tail_keys.n AS BIGINT)
   FROM head_keys, tail_keys) AS storage_rows
FROM w
"""


# ---------------------------------------------------------------------------
# c20 — zero-copy branch (clone_to): replay the first 3/4 of the feed into
# the TRUNK table and fold it; branch with clone_to (asserted zero-copy:
# not one parquet byte lands under the branch root at clone time); apply
# the remaining quarter to the BRANCH only. Returned rows are the union of
# both sides' final states under a `branch` marker, so the value hash
# proves (a) the clone read path resolves foreign file references to the
# exact trunk state and (b) divergence is real — the trunk still equals
# the head-only LWW state while the branch equals the full-feed state.
# At 100 TB the branch costs one manifest write + one snapshot CAS.
# Reference analog: the reference "branches" by re-exporting the whole
# table to S3 and re-loading it (scripts/export_to_s3.py + load_data.py
# full reload) — the same operation here is O(metadata).
# ---------------------------------------------------------------------------
def c20_zero_copy_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch

    work = _work_dir("cdce20", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).write.mode("overwrite").parquet(feed_path)
    trunk = LakeTable.create(
        spark,
        os.path.join(work, "trunk"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
    )
    feed = spark.read.parquet(feed_path)
    lo, hi = feed.select(F.min("lsn"), F.max("lsn")).first()
    cut = lo + 3 * max((hi - lo + 1) // 4, 1)
    head_path = os.path.join(work, "head")
    feed.filter(F.col("lsn") < cut).write.mode("overwrite").parquet(head_path)
    replay_feed(spark, trunk, head_path, epochs=3)
    trunk.compact()
    n_trunk = trunk.read().count()

    branch = trunk.clone_to(os.path.join(work, "branch"))
    local = glob.glob(
        os.path.join(work, "branch", "data", "**", "*.parquet"),
        recursive=True,
    )
    assert local == [], f"clone copied {len(local)} data files"
    assert branch.foreign_file_count() > 0

    apply_batch(spark, branch, feed.filter(F.col("lsn") >= cut), epoch=3)
    assert trunk.read().count() == n_trunk, "branch write leaked to trunk"

    cols = ["conv_id", "turn_idx", "role", "text", "ts"]
    return (
        trunk.read().select(F.lit("trunk").alias("branch"), *cols)
        .unionByName(
            branch.read().select(F.lit("branch").alias("branch"), *cols)
        )
    )


C20_SQL = f"""
WITH feed AS (
  SELECT event_id AS lsn,
         CASE WHEN value < {DELETE_BELOW} THEN 'delete' ELSE 'upsert' END AS op,
         concat('u', CAST(user_id AS VARCHAR)) AS conv_id,
         CAST({_TURN_CASE} AS INTEGER) AS turn_idx,
         event_type AS role, props AS text, ts
  FROM events
),
b AS (
  SELECT min(lsn) + 3 * greatest((max(lsn) - min(lsn) + 1) // 4, 1) AS cut
  FROM feed
),
w_head AS (
  SELECT conv_id, turn_idx,
         arg_max(op, lsn) AS op,
         arg_max(role, lsn) AS role,
         arg_max(text, lsn) AS text,
         arg_max(ts, lsn) AS ts
  FROM feed, b WHERE lsn < b.cut GROUP BY 1, 2
),
w_full AS (
  SELECT conv_id, turn_idx,
         arg_max(op, lsn) AS op,
         arg_max(role, lsn) AS role,
         arg_max(text, lsn) AS text,
         arg_max(ts, lsn) AS ts
  FROM feed GROUP BY 1, 2
)
SELECT 'trunk' AS branch, conv_id, turn_idx, role, text, ts
FROM w_head WHERE op <> 'delete'
UNION ALL
SELECT 'branch' AS branch, conv_id, turn_idx, role, text, ts
FROM w_full WHERE op <> 'delete'
"""


# ---------------------------------------------------------------------------
# c21 — branch-publish (fast_forward_from): the WAP-at-table-scale loop.
# Replay the head into the trunk, cut a zero-copy branch, apply the tail
# ON THE BRANCH, then publish it back with one metadata commit (asserted:
# no data file lands under the trunk). The returned trunk state must
# equal the full-feed LWW state — same observable contract as c01, but
# reached through clone -> branch-write -> fast-forward instead of
# direct merges, so the value hash proves the adopted manifest resolves
# every branch-local and re-relativized trunk file correctly. The
# diverged-trunk rejection is asserted in tests/test_clone.py.
# ---------------------------------------------------------------------------
def c21_branch_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch

    work = _work_dir("cdce21", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).write.mode("overwrite").parquet(feed_path)
    trunk = LakeTable.create(
        spark,
        os.path.join(work, "trunk"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
    )
    feed = spark.read.parquet(feed_path)
    lo, hi = feed.select(F.min("lsn"), F.max("lsn")).first()
    cut = lo + 3 * max((hi - lo + 1) // 4, 1)
    head_path = os.path.join(work, "head")
    feed.filter(F.col("lsn") < cut).write.mode("overwrite").parquet(head_path)
    replay_feed(spark, trunk, head_path, epochs=3)

    branch = trunk.clone_to(os.path.join(work, "branch"))
    apply_batch(spark, branch, feed.filter(F.col("lsn") >= cut), epoch=3)

    def local(root):
        return glob.glob(
            os.path.join(root, "data", "**", "*.parquet"), recursive=True
        )

    n_before = len(local(os.path.join(work, "trunk")))
    snap = trunk.fast_forward_from(branch)
    assert snap.summary["operation"] == "fast-forward"
    assert len(local(os.path.join(work, "trunk"))) == n_before, (
        "publish wrote data files — not a metadata commit"
    )
    assert trunk.has_commit_key("epoch:3"), "branch frontier not adopted"
    return trunk.read().select("conv_id", "turn_idx", "role", "text", "ts")


C21_SQL = C01_SQL


# ---------------------------------------------------------------------------
# c22 — keyed state diff with manifest pruning: trunk holds the head-only
# LWW state (3 epochs, folded), a zero-copy branch additionally applied
# the tail FILTERED to three conversations. trunk.diff(branch) must
# report exactly the keys whose live state differs — 'added' (live only
# on the branch), 'removed' (a tail delete won), 'changed' (any payload
# column differs null-safely) — while diff_buckets prunes every bucket
# the three conversations do not hash into (file-identity metadata
# compare; asserted <= 3 buckets read). The oracle recomputes the same
# classification with a FULL OUTER JOIN of the two declarative LWW
# states. Reference analog: the reference validates loads by row-count
# comparison only (s3_to_snowflake_dag.py:167-192); this is the
# row-level version of that check, priced O(changed buckets).
# ---------------------------------------------------------------------------
def c22_state_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch

    work = _work_dir("cdce22", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_path = os.path.join(work, "feed")
    events_as_change_feed(spark, sf_dir).write.mode("overwrite").parquet(feed_path)
    trunk = LakeTable.create(
        spark,
        os.path.join(work, "trunk"),
        TRANSCRIPT_SCHEMA,
        key_cols=("conv_id", "turn_idx"),
        n_buckets=8,
    )
    feed = spark.read.parquet(feed_path)
    lo, hi = feed.select(F.min("lsn"), F.max("lsn")).first()
    cut = lo + 3 * max((hi - lo + 1) // 4, 1)
    head_path = os.path.join(work, "head")
    feed.filter(F.col("lsn") < cut).write.mode("overwrite").parquet(head_path)
    replay_feed(spark, trunk, head_path, epochs=3)
    trunk.compact()
    branch = trunk.clone_to(os.path.join(work, "branch"))
    apply_batch(
        spark,
        branch,
        feed.filter(
            (F.col("lsn") >= cut) & F.col("conv_id").isin(*C19_CONVS)
        ),
        epoch=3,
    )
    same, differ = trunk.diff_buckets(branch)
    assert 1 <= len(differ) <= len(C19_CONVS), (same, differ)
    assert len(same) >= 1, "manifest prune dead — every bucket read"
    return trunk.diff(branch)


C22_SQL = f"""
WITH feed AS (
  SELECT event_id AS lsn,
         CASE WHEN value < {DELETE_BELOW} THEN 'delete' ELSE 'upsert' END AS op,
         concat('u', CAST(user_id AS VARCHAR)) AS conv_id,
         CAST({_TURN_CASE} AS INTEGER) AS turn_idx,
         event_type AS role, props AS text, ts
  FROM events
),
b AS (
  SELECT min(lsn) + 3 * greatest((max(lsn) - min(lsn) + 1) // 4, 1) AS cut
  FROM feed
),
w_head AS (
  SELECT conv_id, turn_idx, arg_max(op, lsn) AS op,
         arg_max(role, lsn) AS role, arg_max(text, lsn) AS text,
         arg_max(ts, lsn) AS ts
  FROM feed, b WHERE lsn < b.cut GROUP BY 1, 2
),
w_full AS (
  SELECT conv_id, turn_idx, arg_max(op, lsn) AS op,
         arg_max(role, lsn) AS role, arg_max(text, lsn) AS text,
         arg_max(ts, lsn) AS ts
  FROM (
    SELECT f.* FROM feed f, b
    WHERE f.lsn < b.cut
       OR (f.lsn >= b.cut AND f.conv_id IN ('u1', 'u2', 'u3'))
  ) GROUP BY 1, 2
),
lh AS (SELECT * FROM w_head WHERE op <> 'delete'),
lf AS (SELECT * FROM w_full WHERE op <> 'delete')
SELECT COALESCE(lh.conv_id, lf.conv_id) AS conv_id,
       COALESCE(lh.turn_idx, lf.turn_idx) AS turn_idx,
       CASE WHEN lh.conv_id IS NULL THEN 'added'
            WHEN lf.conv_id IS NULL THEN 'removed'
            ELSE 'changed' END AS change
FROM lh FULL OUTER JOIN lf
  ON lh.conv_id = lf.conv_id AND lh.turn_idx = lf.turn_idx
WHERE lh.conv_id IS NULL OR lf.conv_id IS NULL
   OR NOT (lh.role IS NOT DISTINCT FROM lf.role
       AND lh.text IS NOT DISTINCT FROM lf.text
       AND lh.ts   IS NOT DISTINCT FROM lf.ts)
"""
# (the feed's `tool` column is identically NULL, so the engine's
# null-safe tool comparison can never flip a status — the oracle omits it)


# ---------------------------------------------------------------------------
# c23 — the SCHEDULED runner end-to-end (round 5): run_scheduled's polling
# file-discovery loop drives the declarative pipeline through three landed
# feed files across two invocations, with an injected TRANSIENT failure on
# the second epoch's first attempt (the reference's Airflow retry posture,
# export_to_s3_dag.py:19-26). The query asserts the scheduler's own
# mechanics in-line — retry count, persisted-state file coverage, idle
# stop — so a driver-green row certifies the orchestration machinery, and
# the final LWW state value-hashes against c01's declarative oracle (the
# slicing, retries and resume must be observationally invisible).
# ---------------------------------------------------------------------------
def c23_scheduled_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    from postgres_to_snowflake_data_pipeline_spark.orchestrate import (
        Pipeline,
        PipelineSpec,
    )

    work = _work_dir("cdcs23", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    feed_dir = os.path.join(work, "feed")
    os.makedirs(feed_dir)
    feed = events_as_change_feed(spark, sf_dir)
    lo, hi = feed.select(F.min("lsn"), F.max("lsn")).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3

    def _land(df, name):
        tmp = os.path.join(work, f"tmp-{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.rename(os.path.join(tmp, part), os.path.join(feed_dir, name))
        shutil.rmtree(tmp, ignore_errors=True)

    spec_dict = {
        "lake_root": os.path.join(work, "lake"),
        "sources": [{"name": "wal", "kind": "dataframe", "table": "ta"}],
        "tables": [
            {"name": "ta", "key_cols": ["conv_id", "turn_idx"],
             "n_buckets": 8},
        ],
    }
    schema = feed.schema
    ckpt = os.path.join(work, "ckpt")

    # invocation 1: one file, applied, then idle-stop
    _land(feed.filter(F.col("lsn") <= cut1), "f0.parquet")
    pipe = Pipeline(spark, PipelineSpec.from_dict(spec_dict))
    t1 = pipe.run_scheduled(
        feed_dir, schema, ckpt,
        max_ticks=4, stop_when_idle=True, sleep=lambda s: None,
    )
    assert [t.get("idle", False) for t in t1] == [False, True], t1

    # invocation 2 (fresh Pipeline = state reload): two more files land as
    # ONE epoch whose FIRST attempt fails transiently — the retry must
    # succeed and count
    _land(feed.filter((F.col("lsn") > cut1) & (F.col("lsn") <= cut2)),
          "f1.parquet")
    _land(feed.filter(F.col("lsn") > cut2), "f2.parquet")
    pipe2 = Pipeline(spark, PipelineSpec.from_dict(spec_dict))
    real, blown = pipe2.run_epoch, {"n": 0}

    def flaky(epoch, feeds=None):
        if blown["n"] == 0:
            blown["n"] += 1
            raise RuntimeError("transient: warehouse briefly unreachable")
        return real(epoch, feeds=feeds)

    pipe2.run_epoch = flaky
    t2 = pipe2.run_scheduled(
        feed_dir, schema, ckpt,
        retries=2, retry_delay_seconds=0.0,
        max_ticks=4, stop_when_idle=True, sleep=lambda s: None,
    )
    assert t2[0]["attempts"] == 2 and not t2[0]["skipped"], t2
    assert sorted(t2[0]["files"]) == ["f1.parquet", "f2.parquet"], t2
    assert t2[0]["epoch"] == t1[0]["epoch"] + 1, (t1, t2)

    state = _json.load(open(os.path.join(ckpt, "schedule.json")))
    assert sorted(state["processed"]) == [
        "f0.parquet", "f1.parquet", "f2.parquet"
    ], state
    assert state["pending"] is None and state["skipped"] == [], state

    return pipe2.tables["ta"].read().select(
        "conv_id", "turn_idx", "role", "text", "ts"
    )


C23_SQL = C01_SQL
