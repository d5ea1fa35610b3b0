"""Changefeed-driven table replication: a follower LakeTable kept in sync
from a source LakeTable's OWN changefeed.

This is the engine's CDC-out closure property, made load-bearing: the
change rows ``LakeTable.changes()`` emits are themselves a complete,
replayable CDC feed — replaying them through the same LWW merge machinery
that built the source reconverges a follower to the source's exact state.
Downstream sync (read replicas, cross-region copies, re-layout replicas)
then moves O(delta) bytes per cycle, never O(table).

Reference analog: the reference replicates Postgres → Snowflake by a full
clear-and-reload on every run (/root/reference/scripts/load_data.py:119-131,
TRUNCATE + COPY INTO). The mirror is the incremental form of the same job:
the full reload survives only as the bootstrap / repair path
(``LakeTable.overwrite``), and steady state ships deltas.

Semantics and guarantees
------------------------

- **Position** = the source snapshot id the follower reflects. It rides
  every mirror commit's summary (``mirror_src_snapshot``) and is recovered
  by scanning the follower's LIVE chain (``live_snapshots()`` — a stale
  position from a rolled-back follower era can never win), so the mirror
  is resumable from the follower alone: no offset files, no third store.
  A crash before the follower commit replays the window (position
  unchanged); a crash after skips it (position advanced) — exactly-once
  effect. A raced duplicate sync commits identical rows that read-time
  LWW collapses, the same contract as the view refreshes.
- **Incremental sync** applies ``source.changes(pos, until,
  skip_rolled_back=True)`` through the exact dedup+write path
  ``apply_batch`` uses (patch-aware, single fused shuffle), pinned at
  ``until`` so a source commit racing the sync lands in the next window.
- **Source rollbacks propagate**: when the source position was rewound
  past the mirror's position (the mirror consumed merges that a rollback
  killed), the mirror rolls the FOLLOWER back to its newest commit whose
  recorded source position is still live, then resumes incrementally —
  a metadata-only recovery on both sides. Only when no such commit is
  retained does it fall back to a rebuild.
- **Full rebuild** (bootstrap, source history expired past the position,
  source overwrite, non-additive source schema change, no propagation
  point): ``follower.overwrite(source.read(include_internal=True,
  include_tombstones=True))`` — tombstones are carried so late lower-LSN
  rows arriving through later windows still lose, exactly as in
  ``compact``.
- **Re-layout replicas**: the follower may use a different ``n_buckets``
  than the source — every write path re-clusters under the follower's own
  layout, so a mirror doubles as a physical-design tool (e.g. a
  read-optimized replica with more buckets than the hot ingest table).
- **Schema evolution**: additive source changes flow through the merge
  (the follower widens, old rows NULL-fill). A source rename/drop leaves
  the follower with columns the source no longer has — detected by name
  and resolved by rebuild (the replica re-baselines; field-id archaeology
  is the source's job, not the copy's).
- **Properties** (patch declarations, index specs, ANN quantizers…) sync
  from the source snapshot BEFORE each data commit, so a
  ``patch.columns`` declaration reaches the follower before the first
  patch-shaped window is deduped.

At 100 TB: a sync cycle reads only the window's delta manifests' files
(O(1) metadata per commit), shuffles one deduped window, and appends
one delta file per follower bucket — cost ∝ change volume. The rebuild
path is the only O(table) operation and every trigger for it is an
explicitly rare event (expiry misconfiguration, rollback past retention,
re-baseline).
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from typing import Any

from pyspark.sql import SparkSession, functions as F, types as T

from postgres_to_snowflake_data_pipeline_spark.cdc.apply import (
    _normalize_batch,
    lww_dedup,
)
from postgres_to_snowflake_data_pipeline_spark.lake.metadata import Snapshot
from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable


class _GroupWindow:
    """Shared changefeed windows for a fan-out sync (``sync_group``): one
    pinned source snapshot and one cached ``changes()`` DataFrame per
    distinct (pos, until) window, so N replicas of one source read the
    window's delta files ONCE instead of N times. The cache holds a
    window-sized (O(change volume per cycle), never O(table)) persist
    that spills to disk; ``release()`` drops it."""

    def __init__(self, source: LakeTable, src_snap: Snapshot):
        self.source = source
        self.src_snap = src_snap
        self._cache: dict[tuple[int, int], Any] = {}

    def feed_for(self, pos: int, until: int):
        key = (pos, until)
        if key not in self._cache:
            from pyspark import StorageLevel

            df = self.source.changes(
                pos, until_snapshot_id=until, skip_rolled_back=True
            ).persist(StorageLevel.MEMORY_AND_DISK)
            self._cache[key] = df
        return self._cache[key]

    def release(self) -> None:
        for df in self._cache.values():
            df.unpersist()
        self._cache.clear()


class TableMirror:
    """Maintain ``follower`` (a LakeTable at ``root``) as a replica of
    ``source``, synced from the source changefeed. See module docstring.

    For FAN-OUT deployments (many shards/replicas of one source), use
    :meth:`sync_group` instead of N ``sync()`` calls: it reads each
    changefeed window once and shares it across the group."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        source: LakeTable,
        n_buckets: int | None = None,
        filter_expr: str | None = None,
        columns: list[str] | None = None,
    ):
        """``filter_expr`` (deterministic SQL over the source columns)
        makes this a PARTIAL replica — only rows satisfying it live in the
        follower. Two regimes, chosen automatically:

        - **Key-only predicate** (analyzes against the key columns alone —
          hash shards, tenant prefixes): rows failing it are DROPPED from
          both the feed and rebuilds. Sound because a key's subset
          membership never changes, so the follower can hold no pre-image
          to evict and no late arrival for a foreign key can ever pass.
          The follower contains NOTHING for foreign keys — the scale-out
          shard shape.
        - **Payload predicate**: an update moving a row OUT of the subset
          becomes a synthesized delete at the same LSN (the predicate sees
          the full pre-projection row image); one moving IN is a plain
          upsert; source deletes pass through. Rebuilds tombstone
          out-of-subset live rows at their own LSN rather than dropping
          them: the changefeed emits BATCH winners, so a later window can
          legally deliver a lower-LSN row for a key whose winner is
          out-of-subset, and only the tombstone makes it lose (the same
          late-arrival guard that makes ``overwrite`` carry source
          tombstones). Consequence: payload-predicate followers hold a
          (narrow) tombstone per out-of-subset key.

        ``columns`` restricts the carried payload (keys always ride) —
        a THIN replica; the projection is applied after the predicate.

        Both are rejected on partial-update (patch) sources: a patch
        feed's sentinel values would be evaluated/projected as data."""
        self.spark = spark
        self.root = root
        self.source = source
        self.n_buckets = n_buckets
        self.filter_expr = filter_expr
        self.columns = list(columns) if columns is not None else None
        self._key_only: bool | None = None
        if (filter_expr or columns) and LakeTable._patch_spec(
            source.current()
        ) is not None:
            raise ValueError(
                "filter_expr/columns are not supported on partial-update "
                "(patch) sources — the patch feed's sentinel values are "
                "not data; mirror the table fully"
            )
        self._follower: LakeTable | None = None
        try:
            self._follower = LakeTable.load(spark, root)
        except FileNotFoundError:
            pass  # created on first sync
        if self._follower is not None:
            # a replica's subset definition is part of its identity: a
            # resumed mirror with a DIFFERENT predicate/projection would
            # silently diverge — the follower records them in props.
            # Exception: a follower CREATED but crashed before its first
            # commit (position 0, no mirror.* keys yet) may adopt the
            # definition — the first sync pins it before any data lands.
            have_f = self._follower.props.get("mirror.filter")
            have_c = self._follower.props.get("mirror.columns")
            if (have_f, have_c) != (self.filter_expr, self.columns) and not (
                have_f is None and have_c is None and self.position() == 0
            ):
                raise ValueError(
                    f"mirror at {root} was built with filter="
                    f"{have_f!r}, columns={have_c!r}; this instance asks "
                    f"for filter={self.filter_expr!r}, columns="
                    f"{self.columns!r} — a changed subset definition "
                    "needs a new replica root (or a manual rebuild)"
                )

    # ------------------------------------------------------------------
    @property
    def follower(self) -> LakeTable:
        if self._follower is None:
            raise FileNotFoundError(
                f"mirror at {self.root} has never synced"
            )
        return self._follower

    def read(self, **kwargs):
        """The follower's state (same options as ``LakeTable.read``)."""
        return self.follower.read(**kwargs)

    def position(self) -> int:
        """Source snapshot id the follower reflects — newest LIVE mirror
        commit's recorded position (a follower rollback rewinds it)."""
        if self._follower is None:
            return 0
        for snap in reversed(self._follower.live_snapshots()):
            if "mirror_src_snapshot" in snap.summary:
                return int(snap.summary["mirror_src_snapshot"])
        return 0

    # ------------------------------------------------------------------
    def _covers(self, pos: int) -> bool:
        """True iff the source's retained chain reaches back to ``pos``
        (same rule as the view maintainers)."""
        hist = self.source.snapshots()
        return bool(hist) and hist[0].snapshot_id <= pos + 1

    def _propagation_point(self, safe_pos: int) -> Snapshot | None:
        """Newest LIVE follower commit whose recorded source position is
        ≤ ``safe_pos`` — the rollback-propagation target."""
        assert self._follower is not None
        for snap in reversed(self._follower.live_snapshots()):
            p = snap.summary.get("mirror_src_snapshot")
            if p is not None and int(p) <= safe_pos:
                return snap
        return None

    def _replica_schema(self, src_snap: Snapshot):
        """The follower's payload schema: the source's, restricted to
        keys + ``columns`` when projecting (source field order kept)."""
        if self.columns is None:
            return src_snap.schema
        keep = set(src_snap.key_cols) | set(self.columns)
        missing = keep - {f.name for f in src_snap.schema.fields}
        if missing:
            raise ValueError(
                f"mirror columns {sorted(missing)} not in the source "
                f"schema {[f.name for f in src_snap.schema.fields]}"
            )
        return T.StructType(
            [f for f in src_snap.schema.fields if f.name in keep]
        )

    def _key_only_predicate(self, src_snap: Snapshot) -> bool:
        """True iff ``filter_expr`` references key columns only. Key
        membership is immutable per key, so the drop regime applies (see
        __init__). Primary probe: parse the expression and read its
        column REFERENCES (no analysis, no logged error); fallback (py4j
        internals are not a public API): analyze against a keys-only
        schema and let resolution fail on any payload reference — that
        path makes the JVM log a caught-but-scary AnalysisException,
        which is why it is the fallback."""
        if self._key_only is None:
            keys = {c.lower() for c in src_snap.key_cols}
            try:
                jexpr = (
                    self.spark._jsparkSession.sessionState()
                    .sqlParser()
                    .parseExpression(self.filter_expr)
                )
                it = jexpr.references().iterator()
                refs = set()
                while it.hasNext():
                    refs.add(it.next().name().lower())
                self._key_only = refs <= keys
                return self._key_only
            except Exception:
                pass
            key_schema = T.StructType(
                [
                    f
                    for f in src_snap.schema.fields
                    if f.name in src_snap.key_cols
                ]
            )
            try:
                self.spark.createDataFrame([], key_schema).filter(
                    self.filter_expr
                )
                self._key_only = True
            except Exception:
                self._key_only = False
        return self._key_only

    def _transform_feed(self, feed, src_snap: Snapshot):
        """Apply the replica's predicate and projection to a changefeed
        window. Key-only predicate: failing rows (any op) are dropped.
        Payload predicate: the full pre-projection row image is evaluated;
        an upsert that fails becomes a delete at the same LSN with NULLed
        payload (the row left — or was never in — the subset); deletes
        pass through (their NULL payload can never pass the predicate
        anyway, and the follower may hold the pre-image)."""
        if self.filter_expr is not None:
            if self._key_only_predicate(src_snap):
                feed = feed.filter(
                    F.coalesce(F.expr(self.filter_expr), F.lit(False))
                )
            else:
                out = (F.col("op") == "delete") | ~F.coalesce(
                    F.expr(self.filter_expr), F.lit(False)
                )
                feed = feed.select(
                    F.col("lsn"),
                    F.when(out, "delete")
                    .otherwise(F.col("op"))
                    .alias("op"),
                    *src_snap.key_cols,
                    *[
                        F.when(out, F.lit(None).cast(f.dataType))
                        .otherwise(F.col(f.name))
                        .alias(f.name)
                        for f in src_snap.schema.fields
                        if f.name not in src_snap.key_cols
                    ],
                )
        if self.columns is not None:
            keep = [f.name for f in self._replica_schema(src_snap).fields]
            feed = feed.select("lsn", "op", *keep)
        return feed

    def _transform_state(self, state, src_snap: Snapshot):
        """Rebuild-path form of the subset. Key-only predicate: failing
        rows (incl. foreign-key tombstones) are dropped — a shard rebuild
        costs exactly its shard. Payload predicate: out-of-subset LIVE
        rows become tombstones at their own ``_lsn`` (NOT dropped: the
        changefeed emits batch winners, so a later window can deliver a
        lower-LSN in-subset version of a key whose current winner is
        out-of-subset — only the tombstone makes it lose). Source
        tombstones ride through; projection last."""
        if self.filter_expr is not None:
            if self._key_only_predicate(src_snap):
                state = state.filter(
                    F.coalesce(F.expr(self.filter_expr), F.lit(False))
                )
            else:
                out = (~F.col("_deleted")) & ~F.coalesce(
                    F.expr(self.filter_expr), F.lit(False)
                )
                state = state.withColumn("_out", out)
                for f in src_snap.schema.fields:
                    if f.name in src_snap.key_cols:
                        continue
                    state = state.withColumn(
                        f.name,
                        F.when(
                            F.col("_out"), F.lit(None).cast(f.dataType)
                        ).otherwise(F.col(f.name)),
                    )
                state = state.withColumn(
                    "_deleted", F.col("_deleted") | F.col("_out")
                ).drop("_out")
        if self.columns is not None:
            keep = [f.name for f in self._replica_schema(src_snap).fields]
            state = state.select(*keep, "_lsn", "_deleted")
        return state

    def _sync_props(self, src_snap: Snapshot) -> None:
        """Fold the source snapshot's table properties onto the follower
        (additions, changes, deletions) ahead of the data commit. A thin
        replica drops content-index declarations for columns it does not
        carry; the replica's own subset definition (``mirror.*``) is
        pinned alongside."""
        assert self._follower is not None
        src_props = dict(src_snap.props)
        if self.columns is not None:
            carried = set(
                f.name for f in self._replica_schema(src_snap).fields
            )
            sets = [
                c for c in (src_props.get("index.sets") or []) if c in carried
            ]
            if sets:
                src_props["index.sets"] = sets
            else:
                src_props.pop("index.sets", None)
            if src_props.get("index.tokens") not in carried:
                src_props.pop("index.tokens", None)
            ann = src_props.get("ann")
            if ann is not None and ann.get("vec_col") not in carried:
                src_props.pop("ann", None)
        if self.filter_expr is not None:
            src_props["mirror.filter"] = self.filter_expr
        if self.columns is not None:
            src_props["mirror.columns"] = list(self.columns)
        cur = self._follower.props
        if cur == src_props:
            return
        updates: dict[str, Any] = {
            k: v for k, v in src_props.items() if cur.get(k) != v
        }
        updates.update({k: None for k in cur if k not in src_props})
        self._follower.update_props(updates)

    # ------------------------------------------------------------------
    @staticmethod
    def sync_group(
        mirrors: list["TableMirror"],
    ) -> list[dict[str, Any] | None]:
        """Sync several mirrors, sharing one changefeed window read per
        (source, position) instead of one per mirror — the fan-out shape
        (N shards of one source): the window's delta files are scanned
        and cached ONCE, each follower then applies only its own
        transform + merge. Mirrors of different sources group
        independently; rebuild/rollback paths ignore the shared window
        and proceed exactly as a solo ``sync()``. Returns per-mirror
        stats in input order. The source snapshot is pinned per group, so
        a source commit racing the fan-out lands in every member's next
        window (no shard can run ahead of its siblings)."""
        out: list[dict[str, Any] | None] = [None] * len(mirrors)
        by_src: dict[str, list[int]] = {}
        for i, m in enumerate(mirrors):
            by_src.setdefault(m.source.root, []).append(i)
        for idxs in by_src.values():
            src = mirrors[idxs[0]].source
            ctx = _GroupWindow(src, src.current())
            try:
                for i in idxs:
                    out[i] = mirrors[i].sync(_group=ctx)
            finally:
                ctx.release()
        return out

    def sync(
        self, _group: _GroupWindow | None = None
    ) -> dict[str, Any] | None:
        """Bring the follower up to the source's current snapshot. Returns
        a stats dict, or None when already current. Safe to call on any
        cadence; resumable after any crash (see module docstring)."""
        src_snap = (
            _group.src_snap if _group is not None else self.source.current()
        )
        until = src_snap.snapshot_id
        if (
            (self.filter_expr or self.columns)
            and LakeTable._patch_spec(src_snap) is not None
        ):
            # a patch declaration arriving AFTER the mirror was created:
            # same rejection as __init__ (sentinel values are not data)
            raise ValueError(
                "source declared patch.columns after this partial/thin "
                "mirror was created — rebuild it as a full mirror"
            )
        replica_schema = self._replica_schema(src_snap)
        if self._follower is None:
            self._follower = LakeTable.create(
                self.spark,
                self.root,
                replica_schema,
                key_cols=list(src_snap.key_cols),
                n_buckets=self.n_buckets or src_snap.n_buckets,
            )
        pos = self.position()
        if until <= pos:
            return None

        mode = "incremental"
        rebuild = False
        fol_names = {f.name for f in self._follower.schema().fields}
        src_names = {f.name for f in replica_schema.fields}
        if not fol_names <= src_names:
            # source rename/drop: the follower holds columns the source no
            # longer has — re-baseline instead of guessing the mapping
            mode, rebuild = "rebuild-schema", True
        elif not self._covers(pos):
            mode, rebuild = "rebuild-expired", True
        else:
            # newly dead = merges the mirror INGESTED that a source
            # rollback since its last sync rewound (dead at `until` but
            # not already dead at the mirror's position — those never
            # entered the follower; same criterion as changes())
            dead = self.source.dead_merge_ids(until)
            dead_at_pos = self.source.dead_merge_ids(pos)
            newly_dead = {
                d for d in dead if d <= pos and d not in dead_at_pos
            }
            # expire_rows changes state without deltas (a barrier like
            # overwrite) — but it is a DETERMINISTIC logical filter
            # (winner ts >= cutoff, event-time-uniform), so a follower
            # that still carries the event-time column replays it
            # LOCALLY (the "expire passthrough" below) and replication
            # stays O(delta) through retention. Only a follower that
            # cannot re-apply the rule (thin mirror without the ts
            # column) re-baselines.
            can_expire = (
                LakeTable._zone_ts_col(replica_schema) is not None
            )
            barrier_ops = (
                ("overwrite",) if can_expire else ("overwrite", "expire_rows")
            )
            live_overwrites = [
                s.snapshot_id
                for s in self.source.live_snapshots(until)
                if s.summary.get("operation") in barrier_ops
                and pos < s.snapshot_id <= until
            ]
            if live_overwrites:
                mode, rebuild = "rebuild-overwrite", True
            elif newly_dead:
                # the mirror consumed merges a source rollback killed —
                # propagate the rollback to the follower, then resume
                safe_pos = min(newly_dead) - 1
                target = self._propagation_point(safe_pos)
                if target is None:
                    mode, rebuild = "rebuild-rollback", True
                else:
                    try:
                        self._follower.rollback_to(target.snapshot_id)
                    except ValueError:
                        # follower target no longer reconstructible
                        mode, rebuild = "rebuild-rollback", True
                    else:
                        pos = int(target.summary["mirror_src_snapshot"])
                        mode = "rollback+incremental"

        self._sync_props(src_snap)
        pos_summary = {
            "mirror_src_snapshot": until,
            "mirror_since": pos,
            "mirror_mode": mode,
        }
        if rebuild:
            state = self.source.read(
                snapshot_id=until,
                include_internal=True,
                include_tombstones=True,
            )
            state = self._transform_state(state, src_snap)
            snap = self._follower.overwrite(
                state, schema=replica_schema, summary=pos_summary
            )
            rows_in = None
        else:
            # expire passthrough: split the window at the source's expire
            # commits, consuming each delta segment then re-running the
            # SAME retention rule on the follower (idempotent; a crash
            # anywhere re-runs value-idempotent merges + a no-op expiry).
            # Computed after rollback propagation so `pos` is final.
            expire_barriers = sorted(
                (
                    s
                    for s in self.source.live_snapshots(until)
                    if s.summary.get("operation") == "expire_rows"
                    and pos < s.snapshot_id <= until
                ),
                key=lambda s: s.snapshot_id,
            )

            def _merge_window(since: int, upto: int, summary: dict) -> Any:
                if _group is not None and not expire_barriers:
                    feed = _group.feed_for(since, upto)
                else:
                    feed = self.source.changes(
                        since, until_snapshot_id=upto, skip_rolled_back=True
                    )
                feed = self._transform_feed(feed, src_snap)
                table_schema, events, obs_fn = _normalize_batch(
                    self._follower, feed, f"mirror-{upto}"
                )
                storage = lww_dedup(
                    events, table_schema, self._follower.current(), 0
                )
                s = self._follower.merge(
                    storage,
                    schema=table_schema,
                    summary=summary,
                    summary_fn=obs_fn,
                )
                assert s is not None  # no commit_key -> always commits
                return s

            seg_start = pos
            for sb in expire_barriers:
                mode = "expire+incremental"
                _merge_window(
                    seg_start,
                    sb.snapshot_id - 1,
                    {
                        "mirror_src_snapshot": sb.snapshot_id - 1,
                        "mirror_since": seg_start,
                        "mirror_mode": "incremental",
                    },
                )
                cut_us = int(sb.summary["cutoff_us"])
                cutoff = datetime.fromtimestamp(
                    cut_us // 1_000_000, tz=timezone.utc
                ) + timedelta(microseconds=cut_us % 1_000_000)
                self._follower.expire_rows(
                    cutoff,
                    summary={
                        "mirror_src_snapshot": sb.snapshot_id,
                        "mirror_since": sb.snapshot_id - 1,
                        "mirror_mode": "expire-passthrough",
                    },
                )
                seg_start = sb.snapshot_id
            pos_summary["mirror_mode"] = mode
            snap = _merge_window(seg_start, until, pos_summary)
            rows_in = snap.summary.get("rows_in")
        return {
            "mode": mode,
            "src_snapshot": until,
            "since": pos,
            "rows_in": rows_in,
            "follower_snapshot": snap.snapshot_id,
        }
