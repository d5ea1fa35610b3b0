"""Streaming CDC pipeline: readStream over the WAL feed -> foreachBatch merge.

Replaces the reference's Airflow-triggered snapshot hops (manual-trigger
DAGs, /root/reference/dags/export_to_s3_dag.py:23-31) with a continuous
Structured Streaming query that shares the *exact same* apply code path as
batch replay (``cdc.apply.apply_batch``), so correctness proofs carry over.

Fault tolerance layering (SURVEY.md §7.4 hard-part #1):
- Spark's checkpoint gives at-least-once ``foreachBatch`` invocation with a
  stable ``batch_id`` per input slice; on restart the last uncommitted batch
  is *re-delivered with the same id*.
- The lake table's commit key ``epoch:{batch_id}`` turns at-least-once into
  exactly-once: a re-delivered batch is a metadata no-op.
- Within a batch the merge is deterministic (stable (lsn, delete-rank)
  tie-break), so the rewritten delta files are byte-equivalent on replay.

Watermarking: LWW dedup is per-micro-batch here (the cross-batch conflict is
resolved at read time against stored ``_lsn``), so no unbounded streaming
state is held; ``withWatermark`` is applied only when the optional
``dropDuplicatesWithinWatermark`` guard is enabled to shed cross-batch
duplicate LSN emissions early (a pure optimization — dedup is already
idempotent on duplicates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch
from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable

# canonical definition lives with the other feed readers; re-exported here
# because streaming callers historically import it from this module
from postgres_to_snowflake_data_pipeline_spark.sources.feed import (  # noqa: F401
    read_feed_stream,
)


def run_stream(
    spark: SparkSession,
    table: LakeTable,
    feed_path: str,
    event_schema: T.StructType,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    compact_every: int = 16,
    compact_max_files: int | None = None,
    compact_layout: dict | None = None,
    salt_buckets: int | None = None,
    available_now: bool = True,
    watermark_delay: str | None = None,
    views: list | None = None,
) -> StreamingQuery:
    """Start the streaming merge. With ``available_now=True`` the query
    drains everything currently in the feed and stops (deterministic tests /
    replays); otherwise it runs continuously.

    ``watermark_delay`` (e.g. ``"10 minutes"``) enables the optional
    cross-batch duplicate shed: ``withWatermark("ts", delay)`` +
    ``dropDuplicatesWithinWatermark`` on the event identity (lsn, key), so
    a WAL segment re-emitted across micro-batches is dropped before the
    merge instead of being resolved by read-time LWW. State is bounded by
    the watermark. Standard watermark contract applies: the delay must
    cover the maximum event-time disorder of the feed's *arrival* order —
    rows older than the advanced watermark are discarded as late. Leave it
    off (default) when arrival order is not event-time-ordered; correctness
    never depends on this shed (duplicate LSNs are idempotent under the
    merge, and read-time LWW resolves cross-batch conflicts by LSN).

    Compaction triggers compose: ``compact_every`` fires on an epoch cadence
    (predictable write amplification); ``compact_max_files`` additionally
    compacts just the buckets whose file count exceeded the bound — the
    read-amplification guard when batch sizes vary wildly (a cadence-only
    trigger lets per-bucket file counts grow unbounded between firings when
    many small batches arrive). ``compact_layout`` clusters the compacted
    bases (lake/table.py::compact) on one or both axes —
    ``{"ts_slices": k}`` (manifest zone maps keep skipping files for
    ``read(ts_prune=...)`` on the long-running table), ``{"key_slices":
    k}``, or both for the grid; an unnamed axis is 1. The default (None)
    PRESERVES whatever clustering the table already has (a restarted
    stream that omits it must not un-slice the layout its previous run
    built).

    ``views``: IncrementalAggViews (lake/view.py) refreshed after every
    merge — idempotency is watermark-based, not commit-keyed: a replayed
    micro-batch's refresh sees ``source_snapshot <= `` the view's recorded
    watermark and no-ops (per-refresh commit keys are deliberately not
    used; they would grow view metadata O(refreshes)), so the downstream
    marts stay exactly-once along with the table."""
    layout = dict(compact_layout or {})
    if layout:
        # validate the slicing request NOW (schema/axis checks), not
        # inside foreachBatch at the first cadence firing N committed
        # batches in: compact with an empty bucket list runs exactly the
        # explicit-layout validation and nothing else
        table.compact(buckets=[], **layout)
    if salt_buckets is None:
        # resolve the auto-salt verdict ONCE, from the feed's current
        # contents: probing inside foreachBatch would re-execute each
        # micro-batch's source scan, and streaming numInputRows lineage
        # counts rows per EXECUTION — the listener reconciliation would
        # see every probed batch double (bit us: tests/test_listener.py).
        # An empty/not-yet-created feed resolves to unsalted.
        from postgres_to_snowflake_data_pipeline_spark.cdc.apply import (
            probe_hot_bucket_share,
            resolve_salt,
        )

        snap = table.current()
        try:
            existing = spark.read.schema(event_schema).parquet(feed_path)
            share = probe_hot_bucket_share(
                existing, snap.key_cols[0], snap.n_buckets
            )
        except Exception:
            share = 0.0
        salt_buckets = resolve_salt(share, snap.n_buckets)
    events = read_feed_stream(spark, feed_path, event_schema, max_files_per_trigger)
    if watermark_delay is not None:
        events = events.withWatermark("ts", watermark_delay).dropDuplicatesWithinWatermark(
            ["lsn", "conv_id", "turn_idx"]
        )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_batch(
            spark,
            table,
            batch_df,
            epoch=batch_id,
            salt_buckets=salt_buckets,
        )
        if compact_every and (batch_id + 1) % compact_every == 0:
            table.compact(**layout)
        elif compact_max_files:
            over = table.buckets_needing_compaction(compact_max_files)
            if over:
                table.compact(buckets=over, **layout)
        for v in views or ():
            v.refresh()

    writer = events.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
