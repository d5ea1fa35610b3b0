"""Merge-apply: one micro-batch of change events -> one lake-table commit.

The engine's end-to-end slice (SURVEY.md §7.2 step 3), shared verbatim by
batch replay and the Structured Streaming ``foreachBatch`` sink:

    events -> Arrow schema normalization (additive evolution)
           -> LWW dedup (max LSN per (conv_id, turn_idx), map-side partials)
           -> MERGE into LakeTable (delta append, idempotent commit key)
           -> lineage rows (per source partition: lsn range, row counts)

Exactly-once: the commit key ``epoch:{batch_id}`` is checked against the
table's cumulative commit-key set before any work; a replayed epoch is a
pure no-op (SURVEY.md §7.4 hard-part #1). Within an epoch the merge itself
is deterministic (stable (lsn, delete-rank) tie-break), so a crash between
data write and metadata commit just leaves orphaned uncommitted files.

Late data: a surviving event with a *lower* LSN than the row already in the
table loses the read-time LWW resolution against the stored ``_lsn`` — the
"WHEN MATCHED AND source.lsn > target.last_lsn" guard of an Iceberg MERGE,
expressed as merge-on-read (SURVEY.md §7.4 hard-part #2/#3).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from postgres_to_snowflake_data_pipeline_spark.cdc.normalize import (
    evolve_schema,
    normalize_to_schema,
)
from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import KEY_COLS, ORDER_COL
from postgres_to_snowflake_data_pipeline_spark.lake.table import (
    LakeTable,
    bucket_expr,
    resolve_lww,
)

#: per-epoch lineage (one row per merge commit)
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("epoch", T.LongType(), False),
        T.StructField("lsn_min", T.LongType(), True),
        T.StructField("lsn_max", T.LongType(), True),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_merged", T.LongType(), True),
        T.StructField("n_buckets", T.IntegerType(), True),
        T.StructField("snapshot_id", T.LongType(), True),
        T.StructField("committed_at", T.TimestampType(), True),
    ]
)

@dataclass
class ApplyResult:
    epoch: int
    skipped: bool
    rows_in: int
    rows_deduped: int
    snapshot_id: int | None
    #: set when the batch was STAGED (write-audit-publish) instead of
    #: committed: the staged-commit name to audit then publish/discard
    staged: str | None = None
    #: audit-gated applies only: the audit report ({"passed": bool,
    #: "rows": n, "checks": [...]}); rejected batches also set
    #: ``rejected=True`` (the epoch is applied-as-rejected, zero rows)
    audit: dict | None = None
    rejected: bool = False


class AuditFailed(RuntimeError):
    """An audit-gated batch failed its checks under ``on_fail='fail'``.
    The batch stays STAGED (inspect via ``table.read_staged(name)``); the
    epoch is NOT applied — resolve by ``table.publish_staged(name)`` (waive),
    ``table.reject_staged(name)`` (record + quarantine), or
    ``table.discard_staged(name)`` then re-apply a corrected feed."""

    def __init__(self, table_root: str, staged_name: str, report: dict):
        self.table_root = table_root
        self.staged_name = staged_name
        self.report = report
        failed = [
            c for c in report.get("checks", []) if not c.get("passed", True)
        ]
        super().__init__(
            f"audit failed for staged batch {staged_name!r} on table "
            f"{table_root}: {failed or report}"
        )


@dataclass(frozen=True)
class StagedAudit:
    """One table's audit gate for multi-table routing: ``audit_fn(table,
    staged_name) -> report`` (a dict with at least ``passed: bool``), and
    what a failed audit does (see :func:`apply_audited_batch`)."""

    audit_fn: Any
    on_fail: str = "fail"


#: auto-salting (see apply_batch docstring): fan-out width when the skew
#: trigger fires, the hot-bucket input-row share that fires it, and how
#: many commits a probed verdict is reused before re-probing (the probe
#: is a narrow extra scan — ~0.6 s per 1M-row epoch locally, so probing
#: every epoch costs ~20% of replay; skew patterns persist, and a
#: verdict that is stale by < PROBE_EVERY epochs is only slower, never
#: wrong)
AUTO_SALT_BUCKETS = 32
SKEW_TRIGGER_SHARE = 0.2
PROBE_EVERY = 8


def probe_hot_bucket_share(events: DataFrame, kcol0: str, n_buckets: int) -> float:
    """Share of input rows landing in the hottest bucket — one narrow agg
    (column-pruned scan; map-side partials collapse it to <= n_buckets
    rows per input partition). CAUTION: this is an extra ACTION on
    ``events`` — never call it on a foreachBatch micro-batch DataFrame,
    where the re-executed source scan double-counts streaming
    numInputRows lineage (streaming/pipeline.py probes the feed once at
    stream start instead)."""
    hist = (
        events.groupBy(bucket_expr(kcol0, n_buckets).alias("_b"))
        .count()
        .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
        .first()
    )
    return round(hist["mx"] / hist["tot"], 4) if hist["tot"] else 0.0


def _probe_input(
    raw: DataFrame, normalized: DataFrame, kcol0: str
) -> tuple[DataFrame, str]:
    """The frame and key column the auto-salt probe scans: the RAW batch
    when it carries the key column (matched case-insensitively, as
    ``normalize_to_schema`` matches it) with the normalized type — the
    normalized frame runs the ``mapInArrow`` normalizer over every payload
    column, since Catalyst cannot prune columns through it — else the
    normalized frame, so the share is always that of the bucketed key."""
    src = {n.lower(): n for n in raw.columns}.get(kcol0.lower())
    if src is not None and (
        raw.schema[src].dataType == normalized.schema[kcol0].dataType
    ):
        return raw, src
    return normalized, kcol0


def resolve_salt(hot_share: float, n_buckets: int) -> int:
    """The auto-salt verdict for an observed hot-bucket share: salt above
    max(SKEW_TRIGGER_SHARE, 3x the uniform per-bucket share) — the floor
    keeps small-bucket tables from false-triggering on variance."""
    threshold = max(SKEW_TRIGGER_SHARE, 3.0 / n_buckets)
    return AUTO_SALT_BUCKETS if hot_share > threshold else 0


def _recent_salt_verdict(table: LakeTable, snap) -> int | None:
    """The most recent PROBED auto-salt verdict within the last
    ``PROBE_EVERY`` commits (probed commits record a non-null
    ``hot_bucket_share``; reused/forced ones record None). None = no
    recent probe — the caller must probe. O(PROBE_EVERY) cached metadata
    loads."""
    sid = snap.snapshot_id
    # window of PROBE_EVERY-1 snapshots: a probe at P is reused by the
    # commits creating P+1..P+PROBE_EVERY-1; the next one re-probes
    for s in range(sid, max(sid - PROBE_EVERY + 1, 0), -1):
        try:
            summary = table.log.load(s).summary
        except Exception:
            continue
        if summary.get("hot_bucket_share") is not None:
            return int(summary.get("salt_buckets", 0))
    return None


def _event_schema_of(table: LakeTable, events: DataFrame) -> T.StructType:
    """The change-event schema implied by the table schema: op + lsn + row."""
    fields = [
        T.StructField(ORDER_COL, T.LongType(), False),
        T.StructField("op", T.StringType(), False),
    ] + list(table.schema().fields)
    return T.StructType(fields)


def _normalize_batch(table: LakeTable, events: DataFrame, obs_name: str):
    """The schema + metrics half of every batch path (apply_batch and
    reprocess_quarantined share it verbatim so they cannot drift):
    additive schema evolution, Arrow normalization to the (possibly
    widened) event schema, and the Observation that rides the merge pass.
    Returns ``(table_schema, events, obs_metrics_fn)``."""
    target_evt_schema = _event_schema_of(table, events)
    table_schema = table.schema()
    diff_added = [
        f.name
        for f in events.schema.fields
        if f.name.lower() not in {x.name.lower() for x in target_evt_schema.fields}
    ]
    if diff_added:
        table_schema = evolve_schema(
            table_schema,
            T.StructType([f for f in events.schema.fields if f.name in diff_added]),
        )
        target_evt_schema = T.StructType(
            [
                T.StructField(ORDER_COL, T.LongType(), False),
                T.StructField("op", T.StringType(), False),
            ]
            + list(table_schema.fields)
        )
    events = normalize_to_schema(events, target_evt_schema)
    obs = Observation(obs_name)
    events = events.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.min(ORDER_COL).alias("lsn_min"),
        F.max(ORDER_COL).alias("lsn_max"),
    )

    def _obs_metrics(rows_merged: int) -> dict:
        # An all-empty batch can leave the CollectMetrics row unset
        # (LocalRelation-optimized plan) — report zeros for THAT case only.
        # If the merge actually wrote rows, missing metrics means the
        # Observation node was severed from the executed plan (renamed
        # column, plan rewrite): surface it instead of committing zeroed
        # lineage that downstream reconciliation would flag far from here.
        try:
            m = obs.get
        except Exception as exc:  # no-metrics error from the JVM Observation
            if rows_merged > 0:
                raise RuntimeError(
                    f"{obs_name}: merge wrote {rows_merged} rows but the "
                    "input Observation produced no metrics — lineage would "
                    "be silently zeroed"
                ) from exc
            import logging

            logging.getLogger(__name__).warning(
                "%s: empty batch, lineage metrics defaulted to zero", obs_name
            )
            return {"rows_in": 0, "lsn_min": None, "lsn_max": None}
        return {k: (int(v) if v is not None else None) for k, v in m.items()}

    return table_schema, events, _obs_metrics


def lww_dedup(
    events: DataFrame,
    table_schema: T.StructType,
    snap,
    salt_buckets: int | None,
) -> DataFrame:
    """Within-batch LWW dedup, shared by every batch path: the events are
    projected to storage shape (``_lsn`` = lsn, ``_deleted`` = op is
    delete; on partial-update tables ``_plsn_{c}`` = lsn when an upsert
    sets ``c`` — non-NULL, not the sentinel — and ``_dlsn`` = lsn on a
    delete) and reduced by the table's own LWW rule,
    lake/table.py::resolve_lww. This replaces the reference loader's
    clear-and-reload plus ``INSERT ... ON CONFLICT DO NOTHING``
    (scripts/load_data.py): the survivor per key is its highest-LSN
    event, deletes leaving a tombstone.

    Fused (default): grouping by (_bucket, key...) after
    repartition(_bucket) needs no second exchange (see apply_batch's
    step 3). Salted (``salt_buckets`` > 1): the two-stage reduction, then
    a re-cluster on _bucket. Returns the storage-shaped winners (payload +
    _lsn/_deleted/_bucket [+ patch internals]), bucket-clustered."""
    # the table's key columns, not the schema default: they can be
    # RENAMED mid-stream
    key_cols, n = list(snap.key_cols), snap.n_buckets
    lsn, deleted = F.col(ORDER_COL), F.col("op") == "delete"
    cols = [f.name for f in table_schema.fields]
    cols += [lsn.alias("_lsn"), deleted.alias("_deleted")]
    patch = LakeTable._patch_spec(snap)
    if patch is not None:
        pcols, sentinel = patch
        for c in pcols:
            if c in events.columns:
                sets = ~deleted & F.col(c).isNotNull() & (F.col(c) != sentinel)
                cols.append(F.when(sets, lsn).alias(f"_plsn_{c}"))
        cols.append(F.when(deleted, lsn).alias("_dlsn"))
    rows = events.select(*cols)
    bucket = bucket_expr(key_cols[0], n)
    if salt_buckets and salt_buckets > 1:
        winners = resolve_lww(rows, key_cols, salt_buckets)
        # re-cluster on _bucket before the write: the salted reduction left
        # the winners partitioned by key-hash, so without this exchange the
        # partitionBy write would scatter every bucket across all shuffle
        # partitions — up to shuffle_partitions x n_buckets delta files per
        # epoch instead of the one-file-per-bucket invariant.
        return winners.withColumn("_bucket", bucket).repartition(
            n, F.col("_bucket")
        )
    rows = rows.withColumn("_bucket", bucket).repartition(n, F.col("_bucket"))
    return resolve_lww(rows, ["_bucket", *key_cols])


def apply_batch(
    spark: SparkSession,
    table: LakeTable,
    events: DataFrame,
    epoch: int,
    salt_buckets: int | None = None,
    stage: str | None = None,
    props_update: dict | None = None,
    summary_extra: dict | None = None,
) -> ApplyResult:
    """Apply one batch of change events to the table, exactly once.

    ``salt_buckets``: ``None`` (default) = AUTO — a batch-local narrow
    probe measures the hottest bucket's input-row share; salting engages
    above ``max(SKEW_TRIGGER_SHARE, 3/n_buckets)``, and the verdict is
    reused for the next ``PROBE_EVERY - 1`` commits so the probe's scan
    cost amortizes away. Measured round 4: with ~4 KB payloads a
    50%-hot-key feed runs ~2x faster salted, while narrow feeds are
    within noise (BENCH.md §2b). Pass an int > 1 to force salting on,
    ``0`` to force it off. The decision and the probed share ride the
    commit summary (``salt_buckets``; ``hot_bucket_share``, null on
    reused-verdict commits).

    ``stage``: a write-audit-publish gate — the batch's delta is written
    and LWW-deduped exactly as a commit would be, but lands as a STAGED
    commit under this name, invisible to every reader until
    ``table.publish_staged(name)``. Audit via ``table.read_staged(name)``;
    reject via ``table.discard_staged(name)``. Exactly-once is preserved
    end-to-end: the epoch key is checked at stage time AND at publish time
    (the staged descriptor carries it as its publish key).

    ``props_update``: table-property updates riding this epoch's commit
    atomically (see LakeTable.merge). Direct commits only — a staged
    batch's publish is a later, separate commit, so atomicity with the
    stage is unsatisfiable and the combination is rejected loudly.

    ``summary_extra``: caller annotations folded into the commit summary
    (lineage markers like the ANN index's quantizer flag); keys collide
    with the built-ins (epoch/salt_buckets/hot_bucket_share) at the
    caller's peril."""
    if stage is not None and props_update is not None:
        raise ValueError(
            "props_update cannot ride a STAGED batch (publish is a later "
            "commit); call update_props after publish, or commit direct"
        )
    commit_key = f"epoch:{epoch}"
    if table.has_commit_key(commit_key):
        return ApplyResult(epoch, True, 0, 0, None)

    # ---- 1+2. schema handling (additive evolution + Arrow normalization)
    # and input metrics via Observation — collected DURING the merge pass
    # itself (zero extra job, zero extra scan): rows_in and source offset
    # (LSN) range per epoch, the analog of the reference's per-table
    # verification counts (/root/reference/dags/s3_to_snowflake_dag.py:159-203).
    # The per-partition breakdown comes from the written files' parquet
    # footers inside LakeTable.merge (one lineage row per bucket).
    raw = events
    table_schema, events, _obs_metrics = _normalize_batch(
        table, events, f"epoch-{epoch}"
    )

    # ---- 3. LWW dedup within the batch, bucket-aligned so dedup and the
    # delta write share ONE full-row shuffle. ``_bucket`` is a pure function
    # of conv_id, so hash-repartitioning on it co-locates every key's events;
    # grouping by (_bucket, key...) then satisfies Catalyst's clustering
    # requirement with NO second exchange (HashPartitioning on a subset of
    # the grouping columns) — the naive plan (key-hash shuffle for the agg,
    # then bucket shuffle for the write) moves every row twice. Partition
    # count = n_buckets, so size n_buckets to the cluster (32 locally, 4096
    # at 1000 executors). With salting enabled we fall back to the two-stage
    # salted reduction (hot-key pathology beats the extra shuffle).
    snap0 = table.current()
    hot_share = None
    if salt_buckets is None:
        # AUTO: batch-local skew probe, amortized — one narrow agg over
        # the key column (column-pruned scan; map-side partials collapse
        # to <= n_buckets rows per input partition, so the probe shuffles
        # almost nothing), re-run every PROBE_EVERY commits and its
        # verdict reused in between. The fused path's pathology is
        # BUCKET-level: repartition(_bucket) routes a hot conversation's
        # entire volume to one task, so the probe measures exactly that —
        # the share of input rows landing in the hottest bucket.
        # Post-dedup lineage can't see this (LWW collapses the hot key to
        # <= max_turns rows per conversation).
        verdict = _recent_salt_verdict(table, snap0)
        if verdict is not None:
            salt_buckets = verdict
        else:
            probe_df, probe_col = _probe_input(raw, events, snap0.key_cols[0])
            hot_share = probe_hot_bucket_share(
                probe_df, probe_col, snap0.n_buckets
            )
            salt_buckets = resolve_salt(hot_share, snap0.n_buckets)
    storage = lww_dedup(events, table_schema, snap0, salt_buckets)

    # ---- 4. merge (delta append + atomic snapshot commit). The lineage
    # metrics ride INSIDE the snapshot summary so they commit atomically
    # with the data: a crash between data write and commit replays the epoch
    # (commit key absent), a crash after the commit skips it — in both cases
    # lineage and table state stay consistent (no separate-write race).
    # summary_fn runs post-write/pre-commit, when the Observation is filled.
    batch_summary = {"epoch": epoch, "salt_buckets": salt_buckets or 0,
                     "hot_bucket_share": hot_share, **(summary_extra or {})}
    if stage is not None:
        desc = table.stage_merge(
            storage,
            stage,
            commit_key=commit_key,
            schema=table_schema,
            summary=batch_summary,
            summary_fn=_obs_metrics,
        )
        if desc is None:
            return ApplyResult(epoch, True, 0, 0, None)
        return _staged_result(epoch, stage, desc["summary"])
    snap = table.merge(
        storage,
        commit_key=commit_key,
        schema=table_schema,
        summary=batch_summary,
        summary_fn=_obs_metrics,
        props_update=props_update,
    )
    if snap is None:
        # a concurrent writer applied this epoch between our pre-check and
        # the commit CAS — exactly-once holds across writers; our orphaned
        # delta files are unreferenced and get GC'd by expire_snapshots
        return ApplyResult(epoch, True, 0, 0, None)
    rows_in = snap.summary.get("rows_in") or 0
    rows_deduped = sum(r["rows_merged"] for r in snap.summary.get("bucket_lineage", []))

    return ApplyResult(epoch, False, rows_in, rows_deduped, snap.snapshot_id)


def _staged_result(epoch: int, name: str, summary: dict) -> ApplyResult:
    """The ApplyResult for a batch that is (or was) STAGED under ``name``,
    decoded from the staged descriptor's summary — the single decoder
    shared by the fresh-stage and resume-at-audit paths so the two can't
    drift if the summary shape evolves."""
    return ApplyResult(
        epoch, False, int(summary.get("rows_in") or 0),
        sum(r["rows_merged"] for r in summary.get("bucket_lineage", [])),
        None, staged=name,
    )


def apply_audited_batch(
    spark: SparkSession,
    table: LakeTable,
    events: DataFrame,
    epoch: int,
    audit_fn,
    on_fail: str = "fail",
    salt_buckets: int | None = None,
    staged_name: str | None = None,
) -> ApplyResult:
    """The full write-audit-publish lifecycle for one epoch: stage the
    batch (invisible to readers), run ``audit_fn(table, staged_name) ->
    report`` over it, then publish on pass / handle failure per
    ``on_fail``:

    - ``'fail'``  — raise :class:`AuditFailed`, leaving the batch STAGED
      for inspection; the epoch stays unapplied, so the pipeline halts at
      this table until an operator publishes, rejects, or discards it
      (quality gate as a circuit breaker).
    - ``'reject'`` — ``table.reject_staged``: quarantine the files and fold
      an empty commit under the epoch key, so the epoch is applied-as-
      rejected exactly once and downstream (frontier, later epochs)
      proceeds (quality gate as a filter, the reference's
      ON_ERROR='CONTINUE' posture made auditable).

    Crash-resumable at every boundary, driven by durable state only:
    epoch key already folded -> no-op; staged descriptor already on disk
    (crash after stage, before verdict) -> SKIP the data write and resume
    at the audit; publish/reject are idempotent under the descriptor's
    publish key. ``audit_fn`` must therefore be deterministic in the
    staged data — it reads ``table.read_staged(name)``, never the feed.

    Cross-writer races degrade to ``skipped`` exactly like ``apply_batch``:
    a concurrent auditor of the same epoch may win the stage CAS (we
    resume from ITS identical staged batch), finish the verdict while we
    audit (their publish/reject deletes the descriptor; ours sees the
    epoch key folded and skips), or apply the epoch unstaged elsewhere.
    Only a descriptor that vanished WITHOUT the epoch key folding — an
    operator's out-of-band ``discard_staged`` — re-raises, since silently
    reporting that as applied would hide the discard."""
    if on_fail not in ("fail", "reject"):
        raise ValueError(f"on_fail must be 'fail' or 'reject', got {on_fail!r}")
    commit_key = f"epoch:{epoch}"
    name = staged_name or f"audit-epoch-{epoch}"

    def _raced() -> ApplyResult:
        if table.has_commit_key(commit_key):
            return ApplyResult(epoch, True, 0, 0, None)
        raise  # genuine lifecycle error (e.g. external discard) — surface it

    if table.has_commit_key(commit_key):
        return ApplyResult(epoch, True, 0, 0, None)
    desc = table.log.load_staged(name)
    if desc is None:
        try:
            res = apply_batch(
                spark, table, events, epoch=epoch,
                salt_buckets=salt_buckets, stage=name,
            )
        except ValueError:
            # lost the stage CAS to a concurrent auditor of this epoch:
            # resume from its (identical, deterministic) staged batch —
            # or skip if it already carried the epoch to a verdict
            desc = table.log.load_staged(name)
            if desc is None:
                return _raced()
            res = _staged_result(epoch, name, desc["summary"])
        else:
            if res.skipped:  # racer applied the epoch between checks
                return res
    else:
        # resume-at-audit: the batch was fully staged by a previous attempt
        res = _staged_result(epoch, name, desc["summary"])
    try:
        report = audit_fn(table, name)
    except ValueError:
        return _raced()  # racer published/rejected mid-audit
    res.audit = report
    try:
        if report.get("passed"):
            # the report rides the publish commit: a PASSED gate is as
            # inspectable in snapshot history as a rejection
            snap = table.publish_staged(name, extra_summary={"audit": report})
        elif on_fail == "reject":
            failed = [
                c.get("label") or c.get("kind", "?")
                for c in report.get("checks", [])
                if not c.get("passed", True)
            ]
            snap = table.reject_staged(
                name, reason="; ".join(failed) or "audit failed",
                extra_summary={"audit": report},
            )
            res.rejected = True
        else:
            raise AuditFailed(table.root, name, report)
    except ValueError:
        return _raced()  # descriptor gone: racer finished first
    res.staged = None
    res.snapshot_id = snap.snapshot_id if snap is not None else None
    return res


def reprocess_quarantined(
    spark: SparkSession,
    table: LakeTable,
    name: str,
    fix=None,
    audit_fn=None,
    salt_buckets: int = 0,
    keep_quarantine: bool = False,
) -> ApplyResult:
    """Dead-letter reprocessing: re-admit a quarantined (audit-rejected)
    batch after an operator fixed it — the missing half of the
    write-audit-publish lifecycle. ``reject_staged`` parked the batch's
    files under ``_quarantine/{name}/`` and folded its epoch as
    applied-as-rejected; this reads those files back as change events
    (op/lsn/payload), applies ``fix`` (DataFrame -> DataFrame over the
    event view — rewrite payload columns, drop rows; it must preserve
    the ``lsn`` and ``op`` columns, since re-admission is LWW-sound
    ONLY because rows re-enter under their ORIGINAL LSNs: data that
    arrived after the rejection still wins where its LSN is higher),
    optionally re-runs the audit gate, and merges under its own commit
    key (``reprocess:{name}@s{reject_snapshot_id}`` — see below).

    Exactly-once like everything else: the reprocess key is checked
    up front (and CAS'd at commit), so a crashed-and-retried reprocess
    is a no-op that just finishes deleting the quarantine directory.
    The quarantine directory is removed only AFTER the commit (crash
    between the two leaves a re-runnable cleanup, never a lost batch);
    ``keep_quarantine=True`` retains it for forensics.

    ``audit_fn`` (same shape as :func:`apply_audited_batch`'s — e.g. a
    :func:`orchestrate.compile_audit` result) makes re-admission pass
    the SAME gate that rejected it: the fixed batch is staged, audited,
    and published on pass; on fail the staged attempt is discarded,
    :class:`AuditFailed` raises, and the quarantined files stay put for
    the next fix attempt. Without ``audit_fn`` the merge is direct
    (operator-waived).

    One non-epoch commit key per reprocess lands in the snapshot
    residual key set permanently — bounded by the number of rejected
    batches an operator actually repairs, not by feed volume. The key
    carries the REJECTING snapshot's id (``reprocess:{name}@s{id}``) so
    a staged name reused across epochs never aliases: a later rejection
    under the same name is a NEW identity, and the early-skip path can
    only clean up the quarantine its own commit actually consumed. (If
    the reject commit has expired from retention the identity degrades
    to the bare name — don't retain quarantines past reject history.)
    The commit summary carries ``origin_epoch``/``origin_staged_name``
    but deliberately NOT ``epoch``: the reject commit already accounted
    the batch's ``rows_in`` in lineage, so ``lineage_df`` reconciliation
    (sum(rows_in) == feed count) stays true through the whole
    reject-then-reprocess cycle.

    A pending staged attempt (crash between stage and verdict) resumes
    AT THE AUDIT — i.e. on the PRIOR attempt's fix output; the current
    call's ``fix`` is not re-applied. That is the right contract for
    crash-retry automation (deterministic fix, no second data write),
    but an operator switching to a DIFFERENT fix must first
    ``table.discard_staged(f"reprocess-{name}")`` to force a re-stage.

    Cross-writer races degrade to ``skipped`` exactly like
    ``apply_batch``: whichever racer folds the reprocess key wins; the
    loser cleans up and reports the batch applied."""
    if LakeTable._patch_spec(table.current()) is not None:
        # a quarantined storage row collapses a multi-event patch history
        # (per-column set-LSNs) that the event view cannot faithfully
        # re-emit as single rows under original LSNs — re-admission would
        # silently re-stamp carried-forward values at the winner's LSN.
        # Reject loudly; repair patch tables by re-applying a corrected
        # FEED slice instead.
        raise ValueError(
            "reprocess_quarantined is not supported on partial-update "
            "tables (patch.columns declared): the event view cannot "
            "preserve per-column set-LSNs — re-apply a corrected feed "
            "slice for the rejected epoch instead"
        )
    # origin identity from the LATEST reject commit for this name (the
    # snapshot walk is oldest-first)
    origin_epoch = None
    origin_sid = None
    for s in reversed(table.snapshots()):
        if (
            s.summary.get("operation") == "audit-reject"
            and s.summary.get("staged_name") == name
        ):
            origin_epoch = s.summary.get("epoch")
            origin_sid = s.snapshot_id
            break
    commit_key = (
        f"reprocess:{name}@s{origin_sid}"
        if origin_sid is not None
        else f"reprocess:{name}"
    )
    qroot = os.path.join(table.root, "_quarantine", name)
    res_epoch = origin_epoch if origin_epoch is not None else -1

    def _cleanup() -> None:
        if not keep_quarantine:
            shutil.rmtree(qroot, ignore_errors=True)

    def _skipped() -> ApplyResult:
        _cleanup()  # finish a crashed/racing attempt's pending cleanup
        return ApplyResult(res_epoch, True, 0, 0, None)

    def _raced() -> ApplyResult:
        if table.has_commit_key(commit_key):
            return _skipped()
        raise  # genuine lifecycle error (e.g. external discard) — surface it

    if table.has_commit_key(commit_key):
        return _skipped()
    if not os.path.isdir(qroot):
        if table.has_commit_key(commit_key):  # racer finished + cleaned up
            return ApplyResult(res_epoch, True, 0, 0, None)
        raise ValueError(
            f"no quarantined batch {name!r} under {table.root}"
        )

    sname = f"reprocess-{name}"
    desc = table.log.load_staged(sname)
    if desc is not None and audit_fn is None:
        # a prior AUDITED attempt crashed mid-verdict and the operator now
        # waives the gate: unwind the staged attempt (its data files would
        # otherwise orphan) — the direct merge below re-reads the
        # quarantined originals
        table.discard_staged(sname)
        desc = None
    if desc is not None:
        # crash between a prior attempt's stage and its verdict:
        # resume at the audit — no second data write
        res = _staged_result(res_epoch, sname, desc["summary"])
    else:
        # Quarantined files are storage rows: payload + _lsn/_deleted and
        # a stored _bucket column, under _bdir= partition dirs (the write
        # layout, lake/table.py::_write_data). Strip all three internals
        # and surface CHANGE EVENTS, so `fix` sees exactly the shape the
        # feed has (op/lsn/payload) and nothing layout-specific leaks.
        rows = spark.read.parquet(qroot)
        payload = [
            c for c in rows.columns
            if c not in ("_lsn", "_deleted", "_bucket", "_bdir")
        ]
        events = rows.select(
            F.col("_lsn").alias(ORDER_COL),
            F.when(F.col("_deleted"), "delete").otherwise("upsert").alias("op"),
            *payload,
        )
        if fix is not None:
            events = fix(events)
            missing = {ORDER_COL, "op"} - set(events.columns)
            if missing:
                raise ValueError(
                    f"fix dropped required event columns: {sorted(missing)}"
                )
        # the SAME schema-evolution + normalize + Observation + fused
        # dedup/bucket-cluster path as apply_batch (shared helpers): a
        # quarantined batch that carried evolved columns (the reject kept
        # the table unevolved) re-admits them additively instead of
        # silently dropping them
        table_schema, events, _obs_metrics = _normalize_batch(
            table, events, f"reprocess-{name}"
        )
        storage = lww_dedup(events, table_schema, table.current(), salt_buckets)
        summary = {
            "operation_detail": "reprocess-quarantined",
            "origin_staged_name": name,
            "origin_epoch": origin_epoch,
            "fixed": fix is not None,
        }
        if audit_fn is None:
            snap = table.merge(
                storage, commit_key=commit_key, schema=table_schema,
                summary=summary, summary_fn=_obs_metrics,
            )
            if snap is None:  # racer folded the key between checks
                return _skipped()
            _cleanup()
            rows_in = snap.summary.get("rows_in") or 0
            deduped = sum(
                r["rows_merged"] for r in snap.summary.get("bucket_lineage", [])
            )
            return ApplyResult(
                res_epoch, False, rows_in, deduped, snap.snapshot_id,
            )
        try:
            desc = table.stage_merge(
                storage, sname, commit_key=commit_key, schema=table_schema,
                summary=summary, summary_fn=_obs_metrics,
            )
        except ValueError:
            # lost the stage CAS to a concurrent reprocess of this batch:
            # resume from its (identical, deterministic) staged attempt —
            # or skip if it already carried the batch to a verdict
            desc = table.log.load_staged(sname)
            if desc is None:
                return _raced()
        if desc is None:  # racer folded the key between checks
            return _skipped()
        res = _staged_result(res_epoch, sname, desc["summary"])
    try:
        report = audit_fn(table, sname)
    except ValueError:
        return _raced()  # racer published/rejected mid-audit
    res.audit = report
    if not report.get("passed"):
        # the fix didn't fix it: unwind the staged attempt, keep the
        # quarantined originals for the next one
        table.discard_staged(sname)
        raise AuditFailed(table.root, sname, report)
    try:
        snap = table.publish_staged(sname, extra_summary={"audit": report})
    except ValueError:
        return _raced()  # descriptor gone: racer finished first
    _cleanup()
    res.staged = None
    res.snapshot_id = snap.snapshot_id if snap is not None else None
    res.skipped = snap is None
    return res


def bootstrap_snapshot(
    spark: SparkSession,
    table: LakeTable,
    rows: DataFrame,
    lsn_floor: int,
) -> "ApplyResult":
    """Debezium-style consistent-snapshot bootstrap: bulk-load an existing
    full table state BEFORE tailing the change feed.

    ``rows`` is the source table's state as of WAL position ``lsn_floor``
    (payload columns only, one row per key). Every row is stored with
    ``_lsn = lsn_floor``, so the CDC handoff is seamless under the same
    read-time LWW rule as everything else:

    - feed events with ``lsn > lsn_floor`` override the bootstrap rows;
    - stale events with ``lsn <= lsn_floor`` (a replayed WAL prefix, or an
      at-least-once connector re-emitting pre-snapshot history) LOSE the
      LWW resolution — the snapshot already reflects them. No fencing
      logic, no special cases in the apply path.

    Idempotent via commit key ``bootstrap:{lsn_floor}``: a crashed-and-
    retried bootstrap is a no-op, exactly like a replayed epoch. The load
    is one bucket-clustering shuffle + delta write — the same cost shape
    as a merge of equal size, so a 100 TB initial state parallelizes
    across buckets like any other commit.

    Reference analog: the clear-and-reload initial load
    (/root/reference/scripts/load_data.py:119-131), upgraded to coexist
    with incremental CDC instead of replacing it.
    """
    commit_key = f"bootstrap:{lsn_floor}"
    if table.has_commit_key(commit_key):
        return ApplyResult(-1, True, 0, 0, None)
    table_schema = table.schema()
    rows = normalize_to_schema(rows, table_schema)
    obs = Observation(f"bootstrap-{lsn_floor}")
    rows = rows.observe(obs, F.count(F.lit(1)).alias("rows_in"))
    extra: list[F.Column] = []
    patch = LakeTable._patch_spec(table.current())
    if patch is not None:
        # a bootstrap row's value was by definition set at the snapshot
        # position (same rule _read_files applies to pre-declaration files)
        extra = [
            F.when(
                F.col(c).isNotNull(), F.lit(lsn_floor).cast("long")
            ).alias(f"_plsn_{c}")
            for c in patch[0]
        ] + [F.lit(None).cast("long").alias("_dlsn")]
    storage = rows.select(
        *[f.name for f in table_schema.fields],
        F.lit(lsn_floor).cast("long").alias("_lsn"),
        F.lit(False).alias("_deleted"),
        *extra,
    )

    def _metrics(rows_merged: int) -> dict:
        try:
            n = int(obs.get["rows_in"])
        except Exception:
            n = rows_merged
        return {"rows_in": n, "lsn_min": lsn_floor, "lsn_max": lsn_floor}

    snap = table.merge(
        storage,
        commit_key=commit_key,
        summary={"operation_detail": "bootstrap", "lsn_floor": lsn_floor},
        summary_fn=_metrics,
    )
    if snap is None:
        return ApplyResult(-1, True, 0, 0, None)
    rows_merged = sum(
        r["rows_merged"] for r in snap.summary.get("bucket_lineage", [])
    )
    return ApplyResult(
        -1, False, int(snap.summary.get("rows_in") or 0), rows_merged,
        snap.snapshot_id,
    )


def lineage_df(spark: SparkSession, table: LakeTable) -> DataFrame:
    """Authoritative per-epoch lineage/metrics table, rebuilt from the
    snapshot log — the engine's analog of the reference's ``data_summary``
    + verification outputs (/root/reference/dags/s3_to_snowflake_dag.py:
    159-255), but exactly-once by construction (lineage commits atomically
    with the data it describes; rows_in/LSN ranges come from an Observation
    on the merge pass, per-bucket detail from written-file footers)."""
    rows = []
    for snap in table.snapshots():
        if "epoch" not in snap.summary:
            continue
        s = snap.summary
        buckets = s.get("bucket_lineage", [])
        rows.append(
            (
                int(s["epoch"]),
                s.get("lsn_min"),
                s.get("lsn_max"),
                int(s.get("rows_in") or 0),
                sum(int(b["rows_merged"]) for b in buckets) or None,
                len(buckets) or None,
                int(snap.snapshot_id),
                s.get("committed_at_unix"),
            )
        )
    df = spark.createDataFrame(
        rows,
        schema=T.StructType(
            LINEAGE_SCHEMA.fields[:-1]
            + [T.StructField("committed_at_unix", T.DoubleType(), True)]
        ),
    )
    return df.withColumn(
        "committed_at", F.timestamp_seconds(F.col("committed_at_unix"))
    ).drop("committed_at_unix").select([f.name for f in LINEAGE_SCHEMA.fields])


def export_lineage(spark: SparkSession, table: LakeTable, path: str) -> None:
    """Materialize the lineage table to parquet (full rebuild: idempotent)."""
    lineage_df(spark, table).coalesce(1).write.mode("overwrite").parquet(path)


def replay_feed(
    spark: SparkSession,
    table: LakeTable,
    feed_path: str,
    epochs: int,
    compact_every: int = 8,
    salt_buckets: int | None = None,
) -> list[ApplyResult]:
    """Batch-mode replay of a parquet change feed in ``epochs`` LSN slices —
    the deterministic twin of the streaming pipeline (same apply_batch)."""
    feed = spark.read.parquet(feed_path)
    bounds = feed.select(F.min(ORDER_COL), F.max(ORDER_COL)).first()
    lo, hi = bounds[0], bounds[1]
    step = max((hi - lo + 1) // epochs, 1)
    results = []
    for e in range(epochs):
        a = lo + e * step
        b = hi + 1 if e == epochs - 1 else lo + (e + 1) * step
        batch = feed.filter((F.col(ORDER_COL) >= a) & (F.col(ORDER_COL) < b))
        results.append(
            apply_batch(spark, table, batch, epoch=e, salt_buckets=salt_buckets)
        )
        if compact_every and (e + 1) % compact_every == 0:
            table.compact()
    return results


def rebase_branch(spark: SparkSession, branch: "LakeTable") -> Any:
    """Advance a zero-copy branch (``LakeTable.clone_to``) over the
    commits its trunk applied since the branch was cut — the missing
    half of the branch-publish loop: when ``fast_forward_from`` rejects
    a diverged trunk, rebase and retry.

    Reads the trunk's changefeed ``(base, head]`` (merge deltas only —
    compaction commits are state-preserving and carry no merge manifest)
    and LWW-applies it to the branch as ONE merge: the same
    normalize → dedup → merge path the mirror uses (cdc/mirror.py), so
    ordering never matters — a key updated on both sides resolves by
    max LSN exactly as it would have on the trunk. The branch's
    ``clone.source_snapshot`` prop advances to the trunk head
    ATOMICALLY with the data commit, which makes the rebase idempotent
    and crash-safe (a re-run reads an empty window). The clone pin on
    the ORIGINAL base snapshot is untouched — the branch's file map
    still references base-era trunk files; the rebase rows themselves
    land branch-local.

    Returns the branch's new snapshot, or None when the trunk has not
    advanced. Raises when the trunk window is not delta-expressible
    (rollback of an ingested merge, expiry/overwrite barriers — same
    contract as ``changes()``): rebuild the branch instead.
    """
    from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable

    props = branch.current().props
    src_root = props.get("clone.source")
    if src_root is None:
        raise ValueError("not a clone (no clone.source prop)")
    trunk = LakeTable.load(spark, src_root)
    base = int(props["clone.source_snapshot"])
    head_snap = trunk.current()
    head = head_snap.snapshot_id

    def _fold_frontier_keys() -> None:
        # fold the trunk-head frontier keys the BRANCH is still missing
        # (reconciled against the branch's own key state, so the fold is
        # idempotent and crash-resumable); each fold is a metadata-only
        # commit, count bounded by the trunk commits since base
        bsnap = branch.current()
        if head_snap.epoch_watermark > bsnap.epoch_watermark:
            lo = max(bsnap.epoch_watermark + 1, head_snap.epoch_base or 0)
            for e in range(lo, head_snap.epoch_watermark + 1):
                branch.update_props({}, commit_key=f"epoch:{e}")
        for k in head_snap.commit_keys:
            if not branch.has_commit_key(k):
                branch.update_props({}, commit_key=k)

    if head == base:
        # already rebased — but a prior run may have crashed AFTER its
        # data merge (which advances clone.source_snapshot atomically
        # with the data) and BEFORE folding the trunk's frontier keys:
        # finish the fold here so the published trunk still skips
        # replays of those epochs. Safe direction either way — a missing
        # key only means an epoch could be RE-applied, and LWW collapses
        # the duplicate rows to the identical state.
        _fold_frontier_keys()
        return None
    feed = trunk.changes(base, until_snapshot_id=head, skip_rolled_back=True)

    table_schema, events, obs_fn = _normalize_batch(
        branch, feed, f"rebase-{head}"
    )
    storage = lww_dedup(events, table_schema, branch.current(), 0)
    # data FIRST, frontier keys AFTER (ADVICE r4): folding the keys
    # before the merge meant a crash in between left the branch CLAIMING
    # epochs it did not contain — a direct replay of those epochs would
    # silently no-op (data-loss direction). With the fold after, a crash
    # leaves missing keys and re-application is LWW-idempotent; the
    # head==base path above completes the fold on the next rebase call.
    snap = branch.merge(
        storage,
        schema=table_schema,
        summary={"rebase_from": base, "rebase_to": head},
        summary_fn=obs_fn,
        props_update={"clone.source_snapshot": head},
    )
    assert snap is not None  # no commit_key -> always commits
    _fold_frontier_keys()
    return snap
