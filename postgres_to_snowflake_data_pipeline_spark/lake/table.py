"""LakeTable — snapshot-committed, bucket-partitioned upsert table.

The MERGE target for the CDC pipeline. Implements, with public concepts
only, the slice of Iceberg the north rule relies on:

- **Hidden bucket partitioning** on the leading key column (``conv_id``):
  every data file lives under one of ``n_buckets`` hash buckets, so a merge
  touches only the buckets its batch keys hash into (partition pruning) and
  a 1000-executor cluster spreads buckets across executors.
- **Atomic snapshot commits** (see ``metadata.MetadataLog``): readers see
  either the old or the new table, never a mix; time travel by snapshot id.
  Commits use optimistic concurrency (CAS on the snapshot file): a lost
  race raises internally and ``_next_commit`` rebases onto the winner and
  retries — metadata-only, the batch's delta files are already valid — so
  independent writers (e.g. a streaming apply racing a table-maintenance
  compaction) compose without locks.
- **Idempotent commit keys**: a commit tagged ``epoch:{id}`` is a no-op if
  that key is already in the current snapshot's cumulative key set — the
  exactly-once guarantee for ``foreachBatch`` replays after a crash.
- **Additive schema evolution**: a commit may carry a widened schema; files
  written earlier read back with NULLs in the new columns (name-based
  resolution, like the reference's MATCH_BY_COLUMN_NAME load,
  /root/reference/dags/s3_to_snowflake_dag.py:144).
- **Merge-on-read + compaction** (Hudi/Paimon-style): ``merge`` appends the
  batch's deduped winners as *delta* files (write cost ∝ batch size, the
  right trade for a high-throughput CDC stream); ``read`` resolves
  last-writer-wins across base+delta by max ``(_lsn, _deleted)`` per key;
  ``compact`` folds deltas into sorted base files (copy-on-write) so read
  cost stays bounded. Streaming apply compacts every K epochs.
- **Tombstones**: deletes persist as ``_deleted=true`` rows carrying their
  LSN, so a late, lower-LSN update can never resurrect a deleted key
  (SURVEY.md §7.4 hard-part #3). Compaction keeps tombstones.

Internal columns stored in every data file: ``_lsn`` (winning LSN for the
row), ``_deleted`` (tombstone flag), ``_bucket`` (the bucket number, stored
both as a data column and as the ``_bdir=N`` partition directory).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from postgres_to_snowflake_data_pipeline_spark.cdc.normalize import (
    assert_orderable_schema,
    evolve_schema,
)
from postgres_to_snowflake_data_pipeline_spark.lake.metadata import (
    CommitConflictError,
    MetadataLog,
    Snapshot,
    fold_commit_keys,
)
from postgres_to_snowflake_data_pipeline_spark.lake import content as content_index

#: parquet timestamp encoding the lake's stats contract depends on.
#: Spark's DEFAULT (``INT96``) writes timestamp columns with NO footer
#: min/max statistics — under any SparkSession the engine didn't build,
#: every ts zone map would silently come back empty and time-window
#: pruning / ``expire_rows`` would degrade to full scans (the round-4
#: foreign-session bug). A table format must not let ambient session
#: conf change its on-disk stats contract, hence the pinned write below.
_PARQUET_TS_CONF = "spark.sql.parquet.outputTimestampType"
_PARQUET_TS_PINNED = "TIMESTAMP_MICROS"


class _pinned_conf:
    """Context manager pinning one SQL conf ``key`` to ``value`` on
    ``spark`` for the duration of a lake data-file write or scan build,
    restoring the caller's value (or unsetting it) afterwards. Two pins
    use it: ``spark.sql.parquet.outputTimestampType`` = TIMESTAMP_MICROS
    around every data write (the stats contract above), and
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` =
    ``LakeTable.STATS_DRIVER_THRESHOLD`` around ``_read_files``' scan
    construction (see there).

    Why a bounded conf flip and not a ``spark.newSession()`` child (the
    isolated-SQLConf pattern the aggregate-pushdown READ path uses): the
    DataFrame being written belongs to the caller's session, and the
    merge pass carries an ``Observation`` whose listener is registered on
    THAT session — re-binding the plan into a child session (global-temp-
    view bridge) executes it on the child's listener bus and ``obs.get``
    never completes. The flip is safe where it matters:

    - engine-built sessions (session.py) already pin both values, so the
      manager is a NO-OP there — concurrent engine queries never see a
      conf mutation;
    - on a foreign session, queries already in flight captured their
      SQLConf at query start (``SQLExecution.withSQLConfPropagated``) and
      are unaffected; a query *starting* inside the window at worst
      writes its own parquet in the better-encoded format, or lists its
      own paths on the driver.

    ``_file_stats`` additionally RECOVERS ts stats from INT96 files
    written by third-party/legacy writers, so the zone-map contract holds
    even for data this manager never touched.
    """

    def __init__(self, spark: SparkSession, key: str, value: str):
        self.spark = spark
        self.key = key
        self.value = value
        self._old: str | None = None
        self._flip = False

    def __enter__(self) -> "_pinned_conf":
        try:
            cur = self.spark.conf.get(self.key, None)
        except Exception:  # pragma: no cover - RuntimeConfig always present
            cur = None
        if cur != self.value:
            self._old, self._flip = cur, True
            self.spark.conf.set(self.key, self.value)
        return self

    def __exit__(self, *exc: Any) -> None:
        if self._flip:
            if self._old is None:
                self.spark.conf.unset(self.key)
            else:
                self.spark.conf.set(self.key, self._old)


INTERNAL_FIELDS = [
    T.StructField("_lsn", T.LongType(), False),
    T.StructField("_deleted", T.BooleanType(), False),
    T.StructField("_bucket", T.IntegerType(), False),
]
INTERNAL_COLS = [f.name for f in INTERNAL_FIELDS]

#: partial-update (patch) merge engine — the default in-band marker an
#: UPDATE event carries in a declared patch column to mean "unchanged":
#: Postgres logical decoding omits un-modified TOASTed values from the WAL
#: row image (Debezium surfaces them as a configured placeholder string),
#: so a CDC feed over wide transcript text MUST be able to say "keep
#: whatever this column already is" without re-shipping the value.
PATCH_SENTINEL_DEFAULT = "__unchanged__"


def _plsn(col: str) -> str:
    """Storage column holding the LSN at which a patch column was last SET
    (NULL = no folded-in event ever set it)."""
    return f"_plsn_{col}"


def bucket_expr(col: str | F.Column, n_buckets: int) -> F.Column:
    """Deterministic bucket assignment — pure function of the key value, so
    the same key always lands in the same bucket at any cluster size."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c), F.lit(n_buckets)).cast("int")


def resolve_lww(
    df: DataFrame, key_cols: list[str], salt_buckets: int = 0
) -> DataFrame:
    """Last-writer-wins per key over storage-shaped rows (``_lsn``,
    ``_deleted``, payload; on partial-update tables also ``_plsn_{c}`` and
    ``_dlsn``) — the ONE LWW reduction of the engine: batch dedup (events
    projected to storage shape, cdc/apply.py::lww_dedup), read-time merge
    over any number of deltas, compaction and view pre/post images all run
    it, which is sound because the resolution is ASSOCIATIVE.

    - row existence + non-patch columns: the whole-row winner, a
      declarative ``max`` over the (_lsn, _dr, payload...) struct, planned
      with partial aggregation (``max_by`` would plan as
      ObjectHashAggregate and hit its 128-key sort-based fallback on these
      near-unique keys, 2-3x slower). The (_lsn, _dr) prefix decides,
      deletes winning LSN ties; trailing fields only tie-break identical
      duplicate rows.
    - ``_dlsn`` present: ``_D`` = the max folded-in delete LSN, carried to
      the output even when no patch column is (a projected read).
    - each patch column (partial-update tables — the merge-on-read analog
      of Apache Paimon's *partial-update* merge engine, public docs, not a
      code port): the value with the greatest ``_plsn_{c}``, KILLED to
      NULL when that LSN does not exceed ``_D`` (a later delete destroyed
      it; a patch that re-creates the key must not resurrect pre-delete
      values). Every per-column winner is another NULL-skipping ``max``
      over a (plsn, value) struct in the SAME aggregate.

    A struct aggregation buffer is not hash-mutable, so on Spark 4.1 the
    aggregate plans as SortAggregate (never ObjectHashAggregate).

    ``salt_buckets > 1``: two-stage reduction for a hot key whose
    per-partition partials are still too many — stage 1 groups by
    (key..., pmod(xxhash64(_lsn), salt)), stage 2 maxes the same partial
    columns per key. Salting lives inside this one function on purpose:
    unpacking and re-packing the winner struct between two resolves
    measured ~14% slower (400k events, local[4])."""
    patch_cols = (
        [c[6:] for c in df.columns if c.startswith("_plsn_")]
        if "_dlsn" in df.columns
        else []
    )
    special = (
        set(patch_cols) | {_plsn(c) for c in patch_cols} | {"_dlsn", "_lsn"}
    )
    other = [c for c in df.columns if c not in key_cols and c not in special]
    parts = {
        "_w": F.struct(
            F.col("_lsn"),
            F.col("_deleted").cast("int").alias("_dr"),
            *[F.col(c) for c in other],
        )
    }
    if "_dlsn" in df.columns:
        parts["_D"] = F.col("_dlsn")
    for c in patch_cols:
        parts[f"_s_{c}"] = F.when(
            F.col(_plsn(c)).isNotNull(),
            F.struct(F.col(_plsn(c)).alias("p"), F.col(c).alias("v")),
        )
    if salt_buckets > 1:
        salt = F.pmod(F.xxhash64(F.col("_lsn")), F.lit(salt_buckets))
        g = (
            df.groupBy(*key_cols, salt.alias("_salt"))
            .agg(*[F.max(e).alias(n) for n, e in parts.items()])
            .groupBy(*key_cols)
            .agg(*[F.max(n).alias(n) for n in parts])
        )
    else:
        g = df.groupBy(*key_cols).agg(
            *[F.max(e).alias(n) for n, e in parts.items()]
        )

    def live(c: str) -> F.Column:
        return F.col(f"_s_{c}").isNotNull() & (
            F.col("_D").isNull() | (F.col(f"_s_{c}.p") > F.col("_D"))
        )

    out: list[F.Column] = []
    for name in df.columns:  # preserve the input column order exactly
        if name in key_cols:
            out.append(F.col(name))
        elif name in patch_cols:
            out.append(F.when(live(name), F.col(f"_s_{name}.v")).alias(name))
        elif name.startswith("_plsn_") and name[6:] in patch_cols:
            c = name[6:]
            out.append(F.when(live(c), F.col(f"_s_{c}.p")).alias(name))
        elif name == "_dlsn":
            out.append(F.col("_D").alias("_dlsn"))
        else:
            out.append(F.col(f"_w.{name}").alias(name))
    return g.select(*out)


def _ts_usable(e: dict[str, Any], zid: int | None) -> bool:
    """Do entry ``e``'s ts zone stats describe the zone column with field
    id ``zid``? Only stats recorded under the SAME column identity
    (``ts_id``) count: after a drop makes a different timestamp column the
    zone column, old entries' stats describe the dropped column; a rename
    keeps the id, so its stats stay live."""
    return e.get("ts_min") is not None and zid is not None and e.get("ts_id") == zid


def _candidate(e: dict[str, Any], fid: int | None, value: Any, kind: str) -> bool:
    """May entry ``e`` hold a row matching one payload predicate? False
    only when the entry's statistic for field ``fid`` rules it out —
    missing, over-cap (``None`` set) or other-identity stats prove
    nothing, so their entries are candidates."""
    if kind == "ts":
        lo, hi = value
        return not _ts_usable(e, fid) or (e["ts_min"] <= hi and e["ts_max"] >= lo)
    if fid is None:
        return True
    if kind == "eq":
        vals = (e.get("sets") or {}).get(str(fid))
        return vals is None or value in vals
    tok = e.get("tok")
    return tok is None or tok.get("id") != fid or content_index.token_maybe(tok, value)


def _lww_retain(
    entries: list[dict[str, Any]],
    covering: list[dict[str, Any]],
) -> list[dict[str, Any]]:
    """The LWW floor every payload-statistic rule of ``_plan_scan`` ends
    with: given the CANDIDATE subset (``covering``) of one bucket's
    entries, keep the candidates plus every entry whose ``lsn_max >=
    min(lsn_min over candidates)``; a candidate without lsn stats keeps
    the whole bucket. ``_plan_scan``'s docstring says why this keeps every
    winner."""
    if not covering:
        return []
    floors = [e["lsn_min"] for e in covering if e.get("lsn_min") is not None]
    if len(floors) < len(covering):
        return list(entries)  # a covering file without lsn stats: keep all
    floor = min(floors)
    cover_ids = {id(e) for e in covering}
    cover_groups = {e.get("lww_group") for e in covering}
    # When every covering entry came from ONE compaction pass, a
    # same-pass sibling outside the candidate set can be pruned
    # regardless of lsn: within a pass each key appears in exactly one
    # file (LWW fully resolved at compaction), so the sibling holds
    # neither a better version of a covering key nor any matching row
    # (non-covering entries all have usable stats — statless ones
    # count as covering). Entries from other passes or later deltas
    # still pass through the lsn-floor rule; a late lower-lsn delta
    # that matches the predicate is itself covering with a different
    # group, which disables the shortcut and retains the out-of-
    # predicate winners that must beat it.
    g = (
        next(iter(cover_groups))
        if len(cover_groups) == 1 and None not in cover_groups
        else None
    )
    return [
        e
        for e in entries
        if id(e) in cover_ids
        or (
            (g is None or e.get("lww_group") != g)
            and (e.get("lsn_max") is None or e["lsn_max"] >= floor)
        )
    ]


@dataclass(frozen=True)
class ScanPlan:
    """The files one read opens, planned by ``_plan_scan``: ``folded``
    entries are read as-is, ``delta`` entries are LWW-resolved, and
    ``pruned`` counts the entries each rule (``bucket``, ``key``, ``ts``,
    ``content``) dropped."""

    folded: list[dict[str, Any]]
    delta: list[dict[str, Any]]
    pruned: dict[str, int]


def _plan_scan(
    files: dict[str, list[dict[str, Any]]],
    buckets: list[int] | None,
    key_values: list[Any] | None,
    preds: list[tuple[str, int | None, Any, str]],
) -> ScanPlan:
    """Plan a read from manifest statistics alone — no Spark, no schema.
    Every pruning rule of a read lives here.

    ``files``: bucket -> manifest entries (``Snapshot.files``).
    ``buckets``: the selected buckets, or None for all. ``key_values``:
    the bucketing-key values the caller filters to, or None. ``preds``:
    validated payload predicates ``(column, field id, value, kind)`` with
    kind ``ts`` (value ``(lo_us, hi_us)``, inclusive epoch micros), ``eq``
    or ``tok``; the caller applies each one as a residual filter AFTER
    LWW resolution, and the plan guarantees those filters see every
    key's true winner.

    Per bucket, in this order:

    - bucket: unselected buckets are dropped whole (buckets partition the
      key space);
    - key range: an entry whose ``[key_min, key_max]`` can hold none of
      ``key_values`` is dropped, statless entries stay — a dropped file
      holds no row of a wanted key, so their resolution sets are unchanged;
    - ts, then content (the conjunction of the eq/tok predicates): a
      candidate test (``_candidate``) followed by the floor
      ``_lww_retain``. Entries without usable stats (pre-stats commits,
      over-cap value sets, stats of another field id) are candidates.

    Why the floor is needed and sound: pruning on a PAYLOAD statistic under
    merge-on-read cannot just open the candidates — a key could resolve
    to a stale matching version while its true winner (newer and not
    matching, or a tombstone) sits in a skipped file. The floor keeps
    every candidate plus every entry whose ``lsn_max >= min(lsn_min over
    candidates)``. Any key with a version in a candidate file has its
    winner at an lsn >= that version's lsn >= the floor, so the winner's
    file is retained; skipped files contribute only keys whose every
    version fails the predicate — their winner fails the residual too —
    or strictly older loser versions, which cannot change the resolution.
    The two floors compose in sequence: a wrong answer would need a
    retained stale version passing every residual, whose file is then a
    candidate under every rule, and each floor in turn retains the true
    winner's file. (One floor over the conjunction of ts and content would
    also be sound, but opens different files.)

    Split: a bucket whose surviving entries include an unfolded delta goes
    to ``delta``, any other to ``folded``. A fully folded bucket holds
    exactly one storage row per key (compaction's max-struct fold;
    slices and rewrites are key-disjoint), so shipping its rows through
    the resolve shuffle would be a semantic no-op costing a full exchange
    of the payload; buckets partition the key space, so resolving the
    delta buckets alone and unioning is exact. The split leans on BUCKET
    HONESTY (every key's rows live in its hash bucket — the invariant
    merge enforces and fsck(deep) checks): rows misfiled into a foreign
    bucket can read as duplicate keys until compact() re-homes them
    (tests/test_fsck.py pins that surface-then-repair behavior)."""
    folded: list[dict[str, Any]] = []
    delta: list[dict[str, Any]] = []
    pruned = dict.fromkeys(("bucket", "key", "ts", "content"), 0)
    floored = [
        ("ts", [p for p in preds if p[3] == "ts"]),
        ("content", [p for p in preds if p[3] != "ts"]),
    ]
    for b, fs in files.items():
        if buckets is not None and int(b) not in buckets:
            pruned["bucket"] += len(fs)
            continue
        kept = [
            e
            for e in fs
            if key_values is None
            or e.get("key_min") is None
            or any(e["key_min"] <= v <= e["key_max"] for v in key_values)
        ]
        pruned["key"] += len(fs) - len(kept)
        for rule, rule_preds in floored:
            if rule_preds:
                covering = [
                    e
                    for e in kept
                    if all(_candidate(e, fid, v, k) for _c, fid, v, k in rule_preds)
                ]
                retained = _lww_retain(kept, covering)
                pruned[rule] += len(kept) - len(retained)
                kept = retained
        if any(e.get("kind") == "delta" for e in kept):
            delta.extend(kept)
        else:
            folded.extend(kept)
    return ScanPlan(folded, delta, pruned)


class LakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.log = MetadataLog(root)
        #: storage seam (lake/fs.py) — shared with the metadata log, so
        #: stats opens, listings, and GC deletes hit the same backend the
        #: commit protocol does
        self.fs = self.log.fs

    # ------------------------------------------------------------------
    # lifecycle
    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: tuple[str, ...],
        n_buckets: int = 16,
        props: dict[str, Any] | None = None,
    ) -> "LakeTable":
        t = cls(spark, root)
        if t.log.exists():
            raise ValueError(f"table already exists at {root}")
        # same orderability contract as schema evolution: a MapType payload
        # column would poison the LWW comparator at first merge/read
        assert_orderable_schema(schema)
        if props:
            # same checks the props_update choke point applies — a table
            # born with a bad declaration must fail at create, not at the
            # first read
            cls._validate_index_props(props, schema)
            bad_keys = set(props.get("patch.columns") or []) & set(key_cols)
            if bad_keys:
                raise ValueError(
                    f"patch.columns cannot include key columns "
                    f"{sorted(bad_keys)}"
                )
        t.fs.makedirs(root)
        snap = Snapshot(
            snapshot_id=0,
            parent_id=None,
            schema_json=schema.jsonValue(),
            n_buckets=n_buckets,
            key_cols=list(key_cols),
            manifests=[],
            summary={"operation": "create", "committed_at_unix": time.time()},
            column_ids={f.name: i + 1 for i, f in enumerate(schema.fields)},
            next_column_id=len(schema.fields) + 1,
            props=dict(props or {}),
        )
        snap._files = {}
        try:
            t.log.commit(snap)
        except CommitConflictError:
            # v0.json exists but _current does not: either a concurrent
            # create just won the CAS, or an earlier create crashed between
            # the CAS and the hint write. Repair the hint so the existing
            # table is loadable again (the pre-CAS code self-healed by
            # overwriting; CAS must heal explicitly), then report exists.
            t.log.repair_hint()
            raise ValueError(f"table already exists at {root}") from None
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        t = cls(spark, root)
        if not t.log.exists():
            raise FileNotFoundError(f"no lake table at {root}")
        return t

    # ------------------------------------------------------------------
    # properties
    # ------------------------------------------------------------------
    def current(self) -> Snapshot:
        snap = self.log.current()
        assert snap is not None
        return snap

    def schema(self) -> T.StructType:
        return self.current().schema

    def has_commit_key(self, key: str) -> bool:
        return self.current().has_commit_key(key)

    def snapshots(self) -> list[Snapshot]:
        return self.log.history()

    # ------------------------------------------------------------------
    # read path
    # ------------------------------------------------------------------
    def _read_files(
        self,
        snap: Snapshot,
        entries: list[dict[str, Any]],
        fields: list[T.StructField] | None = None,
    ) -> DataFrame | None:
        """Read raw data files under ``snap``'s schema era. An EXPLICIT read
        schema (no mergeSchema footer reconciliation) gives the full
        evolution contract in one scan:

        - fields absent from a file (written pre-evolution) come back NULL;
        - RENAMED fields are also requested under every prior name the
          snapshot records and coalesced into the current name (a file has
          exactly one era's name — names are never reused);
        - WIDENED fields read old files through the parquet reader's native
          type promotion (int32→int64, float→double);
        - DROPPED columns simply aren't requested.

        The scan is planned from the manifest's path list alone: Spark
        builds the ``InMemoryFileIndex`` eagerly, and above
        ``parallelPartitionDiscovery.threshold`` paths (Spark's default 32)
        it stats them in a one-task-per-path Spark job — about half of a
        full scan of a bucketed table with a dozen unfolded deltas. The
        threshold is pinned to ``STATS_DRIVER_THRESHOLD`` (the class value;
        engine sessions already carry it, so the pin is a no-op there) and
        the index is built serially on the driver.
        """
        paths = [os.path.join(self.root, e["path"]) for e in entries]
        if not paths:
            return None
        want = list(fields if fields is not None else snap.schema.fields)
        priors = {f.name: snap.prior_names.get(f.name, []) for f in want}
        read_fields = []
        for fld in want:
            read_fields.append(T.StructField(fld.name, fld.dataType, True))
            for old in priors[fld.name]:
                read_fields.append(T.StructField(old, fld.dataType, True))
        internal = self._internal_fields_for(snap, [f.name for f in want])
        for fld in internal:
            read_fields.append(T.StructField(fld.name, fld.dataType, True))
        with _pinned_conf(
            self.spark,
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(LakeTable.STATS_DRIVER_THRESHOLD),
        ):
            df = self.spark.read.schema(T.StructType(read_fields)).parquet(*paths)
        cols: list[F.Column] = []
        value_of: dict[str, F.Column] = {}
        for fld in want:
            if priors[fld.name]:
                expr = F.coalesce(
                    F.col(fld.name), *[F.col(o) for o in priors[fld.name]]
                )
            else:
                expr = F.col(fld.name)
            value_of[fld.name] = expr
            cols.append(expr.alias(fld.name))
        for fld in internal:
            # files written BEFORE a patch.columns declaration carry no
            # per-column LSNs: each full row's value was by construction
            # set at that row's own _lsn (and a tombstone row IS a delete
            # at its _lsn), so coalescing reconstructs the exact patch
            # state and late declaration on a populated table stays sound
            if fld.name.startswith("_plsn_"):
                base = value_of.get(fld.name[6:], F.col(fld.name[6:]))
                cols.append(
                    F.coalesce(
                        F.col(fld.name),
                        F.when(base.isNotNull(), F.col("_lsn")),
                    ).alias(fld.name)
                )
            elif fld.name == "_dlsn":
                cols.append(
                    F.coalesce(
                        F.col("_dlsn"),
                        F.when(F.col("_deleted"), F.col("_lsn")),
                    ).alias("_dlsn")
                )
            else:
                cols.append(F.col(fld.name))
        return df.select(*cols)

    def read(
        self,
        snapshot_id: int | None = None,
        include_internal: bool = False,
        include_tombstones: bool = False,
        buckets: list[int] | None = None,
        columns: list[str] | None = None,
        key_prune: Any | list | None = None,
        ts_prune: tuple[datetime, datetime] | None = None,
        semi_keys: DataFrame | None = None,
        eq_prune: dict[str, Any] | None = None,
        token_prune: str | None = None,
    ) -> DataFrame:
        """Current (or time-travel) state of the table as a DataFrame.

        ``columns`` pushes projection THROUGH the LWW resolution: the
        resolve aggregates ``max(struct(payload...))``, and Catalyst cannot
        prune columns out of a struct constructor — so without this, a
        consumer's ``.select("conv_id")`` still scans and shuffles every
        payload column. With it, only (keys + requested + internal) columns
        are read and shuffled — the difference between moving 2 columns and
        moving a 100 TB text column for a count-style consumer.

        ``ts_prune=(lo, hi)`` (inclusive UTC datetimes) returns the current
        rows whose event-time column lies in the window; ``eq_prune={col:
        value}`` / ``token_prune="token"`` (content indexes,
        lake/content.py) return the current rows matching ``col = value``
        for every pair / whose declared token column contains the
        lowercase-alphanumeric token. Each opens only the files the zone
        map / value set / token index cannot rule out, then filters AFTER
        resolution. Which files every rule (``buckets``, ``key_prune``
        and these three) skips, and why the skips keep LWW sound, is
        ``_plan_scan``'s docstring."""
        snap = self.current() if snapshot_id is None else self.log.load(snapshot_id)
        payload_prune = ts_prune is not None or eq_prune or token_prune is not None
        if self._patch_spec(snap) is not None and payload_prune:
            # the lsn-floor retention rule is sound for WHOLE-ROW LWW only
            # (skipped files hold provably-losing versions). On a partial-
            # update table an old file can hold the CURRENT value of a
            # patch column for a key whose newer rows are retained — any
            # payload-stat skip can drop it. Reject loudly; key-scoped
            # pruning (key_prune/semi_keys/buckets) keeps every row of a
            # retained key and stays available.
            raise ValueError(
                "ts_prune/eq_prune/token_prune are unsound on partial-"
                "update tables (patch.columns declared): per-column "
                "resolution needs every storage row of a key, not just "
                "the lsn-floor-retained set"
            )
        # payload predicates in manifest form: (column, field id for stats
        # identity, value, kind). The planner prunes with them and each
        # becomes one residual filter, in this order.
        preds: list[tuple[str, int | None, Any, str]] = []
        if ts_prune is not None:
            ts_col = self._zone_ts_col(snap.schema)
            if ts_col is None:
                raise ValueError("ts_prune: schema has no timestamp column")
            # epoch MICROS, not datetime literals: naive bounds are UTC by
            # the ts_prune contract, and a datetime literal would be
            # re-interpreted under the SESSION time zone — diverging from
            # the manifest zone maps (instants) on any non-UTC session
            window = (self._ts_micros(ts_prune[0]), self._ts_micros(ts_prune[1]))
            preds.append((ts_col, snap.column_ids.get(ts_col), window, "ts"))
        if payload_prune and include_tombstones:
            # tombstones carry NULL payload columns: they are invisible to
            # the residual filters and their membership in "the predicate"
            # is undefined — reject loudly rather than silently drop them
            raise ValueError(
                "ts_prune/eq_prune/token_prune cannot be combined with "
                "include_tombstones: tombstones have no payload values"
            )
        # eq columns need only exist in the schema (files without an index
        # stay candidates); the token column must be the DECLARED one — the
        # index rode the writes, any other column has no stats.
        schema_by_name = {f.name: f for f in snap.schema.fields}
        for c, v in (eq_prune or {}).items():
            f = schema_by_name.get(c)
            if f is None:
                raise ValueError(f"eq_prune: unknown column {c!r}")
            if v is None:
                raise ValueError(
                    "eq_prune: NULL never equals a value — filter NULLs "
                    "client-side"
                )
            # the index prune compares with PYTHON equality against the
            # manifest's JSON values while the residual filter uses Spark
            # coercion — a type-mismatched value ('5' vs int column) would
            # silently rule out files the SQL predicate matches. Reject
            # loudly instead of pruning wrong.
            if isinstance(f.dataType, T.StringType):
                type_ok = isinstance(v, str)
            elif isinstance(
                f.dataType, (T.IntegerType, T.LongType, T.ShortType)
            ):
                type_ok = isinstance(v, int) and not isinstance(v, bool)
            else:
                type_ok = True  # non-indexable column: residual-only
            if not type_ok:
                raise ValueError(
                    f"eq_prune: column {c!r} is "
                    f"{f.dataType.simpleString()} but the value is "
                    f"{type(v).__name__} — pass the column's native type"
                )
            preds.append((c, snap.column_ids.get(c), v, "eq"))
        if token_prune is not None:
            _, tok = self._content_spec(snap)
            if tok is None:
                raise ValueError(
                    "token_prune: no token column declared "
                    "(props['index.tokens'])"
                )
            if content_index.tokenize(token_prune) != [token_prune]:
                raise ValueError(
                    "token_prune: pass ONE lowercase alphanumeric token "
                    f"(got {token_prune!r})"
                )
            preds.append((tok[0], tok[1], token_prune, "tok"))
        if columns is not None:
            missing = set(columns) - set(schema_by_name)
            if missing:
                raise ValueError(f"unknown columns: {sorted(missing)}")
        if semi_keys is not None and not set(semi_keys.columns) <= set(
            snap.key_cols
        ):
            raise ValueError(
                f"semi_keys columns {list(semi_keys.columns)} must be a "
                f"subset of the key columns {snap.key_cols} (pre-LWW "
                "filtering is only sound on key-column subsets)"
            )
        requested = (
            None if columns is None else set(columns) | set(snap.key_cols)
        )
        # predicate columns must be READ (residual filters) even when
        # unrequested, but must not leak into the caller's schema
        aux_drop = (
            set() if requested is None else {p[0] for p in preds} - requested
        )
        want_fields = [
            f
            for f in snap.schema.fields
            if requested is None or f.name in requested | aux_drop
        ]
        # key_prune accepts one value or several (e.g. the ANN lake
        # index's probed cells): a file survives if ANY value can lie in
        # its [key_min, key_max]
        key_values = (
            list(key_prune)
            if isinstance(key_prune, (list, tuple, set, frozenset))
            else None if key_prune is None else [key_prune]
        )
        plan = _plan_scan(snap.files, buckets, key_values, preds)
        df_f = self._read_files(snap, plan.folded, fields=want_fields)
        df_d = self._read_files(snap, plan.delta, fields=want_fields)
        if df_f is None and df_d is None:
            out_fields = [f for f in want_fields if f.name not in aux_drop]
            fields = out_fields + (
                self._internal_fields_for(snap, [f.name for f in out_fields])
                if include_internal
                else []
            )
            return self.spark.createDataFrame([], T.StructType(fields))
        if semi_keys is not None:
            # point/dirty-set reads: restrict BEFORE the LWW aggregation so
            # only the wanted keys' rows are shuffled and resolved, not the
            # whole bucket. Sound only when joining on a subset of the key
            # columns (every retained key keeps ALL its row versions).
            on = list(semi_keys.columns)
            if df_f is not None:
                df_f = df_f.join(semi_keys, on=on, how="left_semi")
            if df_d is not None:
                df_d = df_d.join(semi_keys, on=on, how="left_semi")
        if df_d is not None:
            df_d = resolve_lww(df_d, snap.key_cols)
        df = (
            df_f
            if df_d is None
            else df_d if df_f is None else df_f.unionByName(df_d)
        )
        for c, _fid, v, kind in preds:
            # residual filters — post-LWW, so a key whose CURRENT version
            # fails the predicate is excluded even when a stale matching
            # version was read; the token split pattern is the complement
            # of the index tokenizer (lake/content.py), so membership of a
            # non-empty token agrees
            if kind == "ts":
                cond = F.unix_micros(F.col(c).cast("timestamp")).between(
                    F.lit(v[0]), F.lit(v[1])
                )
            elif kind == "eq":
                cond = F.col(c) == F.lit(v)
            else:
                cond = F.array_contains(
                    F.split(F.lower(F.col(c)), content_index.TOKEN_SPLIT_SQL),
                    v,
                )
            df = df.filter(cond)
        if not include_tombstones:
            df = df.filter(~F.col("_deleted"))
        if not include_internal:
            df = df.select(
                *[f.name for f in want_fields if f.name not in aux_drop]
            )
        elif aux_drop:
            df = df.drop(*aux_drop)
        return df

    @staticmethod
    def _validate_index_props(
        props: dict[str, Any], schema: T.StructType
    ) -> None:
        """Reject malformed content-index declarations LOUDLY at commit
        time. Shape errors always raise; a declared column that exists
        with a non-indexable type raises too. A column the schema does
        not (yet) have is allowed — declaring ahead of an evolution is
        legitimate, and ``_content_spec`` activates it when the column
        appears."""
        by_name = {f.name: f for f in schema.fields}
        sets = props.get("index.sets")
        if sets is not None:
            if not isinstance(sets, (list, tuple)) or not all(
                isinstance(c, str) for c in sets
            ):
                raise ValueError(
                    "index.sets must be a list of column names, got "
                    f"{sets!r}"
                )
            for c in sets:
                f = by_name.get(c)
                if f is not None and not isinstance(
                    f.dataType,
                    (T.StringType, T.IntegerType, T.LongType, T.ShortType),
                ):
                    raise ValueError(
                        f"index.sets: column {c!r} has non-indexable type "
                        f"{f.dataType.simpleString()} (strings and "
                        "integers only)"
                    )
        patch = props.get("patch.columns")
        if patch is not None:
            if not isinstance(patch, (list, tuple)) or not all(
                isinstance(c, str) for c in patch
            ):
                raise ValueError(
                    "patch.columns must be a list of column names, got "
                    f"{patch!r}"
                )
            for c in patch:
                f = by_name.get(c)
                if f is not None and not isinstance(f.dataType, T.StringType):
                    raise ValueError(
                        f"patch.columns: column {c!r} has type "
                        f"{f.dataType.simpleString()} — partial-update "
                        "columns are string-typed (the TOAST'd-text shape; "
                        "the in-band sentinel is a string)"
                    )
        sent = props.get("patch.sentinel")
        if sent is not None and (not isinstance(sent, str) or not sent):
            raise ValueError(
                f"patch.sentinel must be a non-empty string, got {sent!r}"
            )
        tok = props.get("index.tokens")
        if tok is not None:
            if not isinstance(tok, str):
                raise ValueError(
                    f"index.tokens must be ONE column name, got {tok!r}"
                )
            f = by_name.get(tok)
            if f is not None and not isinstance(f.dataType, T.StringType):
                raise ValueError(
                    f"index.tokens: column {tok!r} has type "
                    f"{f.dataType.simpleString()} (string required)"
                )

    def _content_spec(
        self, snap: Snapshot
    ) -> tuple[dict[str, int], tuple[str, int] | None]:
        """The table's declared content indexes, resolved against the
        snapshot: (set-indexed columns -> field id, token column). Columns
        the schema lacks (not yet evolved in / dropped) or whose type is
        not set-indexable (strings and integers only — values must survive
        a JSON manifest round-trip and compare by equality) resolve to
        nothing; a column id assigned only by the IN-FLIGHT commit is
        absent here, so that commit's files carry no index for it — sound
        (statless entries are always candidates), one commit late, same
        contract as the ts zone column."""
        by_name = {f.name: f for f in snap.schema.fields}
        sets: dict[str, int] = {}
        for c in snap.props.get("index.sets", []) or []:
            f = by_name.get(c)
            cid = snap.column_ids.get(c)
            if (
                f is not None
                and cid is not None
                and isinstance(
                    f.dataType,
                    (T.StringType, T.IntegerType, T.LongType, T.ShortType),
                )
            ):
                sets[c] = cid
        tok: tuple[str, int] | None = None
        tc = snap.props.get("index.tokens")
        if tc is not None and tc in by_name and snap.column_ids.get(tc) is not None:
            if isinstance(by_name[tc].dataType, T.StringType):
                tok = (tc, snap.column_ids[tc])
        return sets, tok

    @staticmethod
    def _patch_spec(snap: Snapshot) -> tuple[tuple[str, ...], str] | None:
        """The table's declared partial-update columns, resolved against
        the snapshot: ``(patch columns, sentinel)`` or None. Declared via
        props (``patch.columns``: list of string-typed payload column
        names; ``patch.sentinel``: the in-band "unchanged" marker,
        default ``PATCH_SENTINEL_DEFAULT``) — props fold forward, so the
        engine's merge/read/compact paths all see the same contract.
        Columns the schema lacks (declared ahead of an evolution, or
        since dropped) resolve to nothing — their storage columns are
        simply absent/ignored, same contract as the content indexes."""
        cols = snap.props.get("patch.columns")
        if not cols:
            return None
        by_name = {f.name for f in snap.schema.fields}
        active = tuple(c for c in cols if c in by_name)
        if not active:
            return None
        sentinel = snap.props.get("patch.sentinel", PATCH_SENTINEL_DEFAULT)
        return active, sentinel

    def _internal_fields_for(
        self, snap: Snapshot, want_names: list[str] | None = None
    ) -> list[T.StructField]:
        """INTERNAL_FIELDS plus, on partial-update tables, the per-column
        set-LSNs for the requested patch columns and the folded delete
        LSN. ``want_names=None`` means the full schema (all patch columns
        ride)."""
        fields = list(INTERNAL_FIELDS)
        spec = self._patch_spec(snap)
        if spec is not None:
            cols, _sent = spec
            for c in cols:
                if want_names is None or c in want_names:
                    fields.append(T.StructField(_plsn(c), T.LongType(), True))
            fields.append(T.StructField("_dlsn", T.LongType(), True))
        return fields

    def _bucket_of(self, key_value: str, n_buckets: int) -> int:
        """The storage bucket one key value hashes into — evaluated through
        the SAME Catalyst expression that assigns buckets at write time, so
        lookup and layout can never drift apart."""
        return int(
            self.spark.range(1)
            .select(bucket_expr(F.lit(key_value), n_buckets))
            .first()[0]
        )

    def read_key(self, conv_id: str, snapshot_id: int | None = None) -> DataFrame:
        """Point lookup: current rows for one conversation. Bucket pruning
        makes this O(one bucket) — only the files of the key's hash bucket
        are opened (1/n_buckets of the table) — and within the bucket,
        manifest key-range stats skip every delta whose range cannot
        contain the key; the residual conv_id filter pushes into the
        surviving parquet scans. On a KEY-CLUSTERED table
        (``compact(key_slices=k)``) the same stats prune the base files
        too — the slices' key ranges are disjoint, so exactly one of the
        k base files is opened."""
        snap = self.current() if snapshot_id is None else self.log.load(snapshot_id)
        bucket = self._bucket_of(conv_id, snap.n_buckets)
        return self.read(
            snapshot_id=snapshot_id, buckets=[bucket], key_prune=conv_id
        ).filter(F.col(snap.key_cols[0]) == conv_id)

    def state_counts(self, snapshot_id: int | None = None) -> dict[str, Any]:
        """Live/tombstoned key counts of the current (or time-travel)
        state, answered from MANIFEST STATS ALONE wherever that is sound
        — the Iceberg-style "count(*) without a scan". At 100 TB the
        difference is a metadata fold on the driver vs a table-sized
        job; on a table under maintenance cadence (compact every k
        epochs) only the buckets touched since their last fold pay a
        scan, so the steady-state cost is O(delta), not O(table).

        Soundness per bucket: ``sum(rows) - sum(del_rows)`` equals the
        live LWW state iff every key holds exactly ONE storage row in
        the bucket. That holds when (a) the bucket is one folded
        compaction pass (all entries ``kind='base'`` sharing one
        ``lww_group`` — the fold's max-struct aggregate emits one row
        per key, and slices are key-disjoint), or (b) the bucket is a
        single delta file (batch dedup emits one row per key per
        commit). Anything else — unfolded deltas over a base, mixed
        rewrite passes, entries predating the ``del_rows`` stat — falls
        back to ONE Spark read over just those buckets (`read` with
        bucket pruning). Partial-update tables always scan: per-column
        patch resolution can merge several storage rows into one key.

        Returns ``{"live", "deleted", "stats_buckets",
        "scanned_buckets", "buckets": {bucket: {"live", "deleted",
        "via"}}}`` — ``via`` says which path answered each bucket, so
        tests and operators can pin the read amplification.

        Reference analog: the verification COUNT(*) checks the reference
        runs against Snowflake after each load
        (/root/reference/dags/s3_to_snowflake_dag.py:167-192); here the
        same answer is a manifest fold instead of a warehouse query."""
        snap = (
            self.current() if snapshot_id is None else self.log.load(snapshot_id)
        )
        patch = self._patch_spec(snap) is not None
        buckets: dict[int, dict[str, Any]] = {}
        dirty: list[int] = []
        for b, fs in snap.files.items():
            bi = int(b)
            if not fs:
                buckets[bi] = {"live": 0, "deleted": 0, "via": "stats"}
                continue
            countable = (
                not patch
                and (len(fs) == 1 or self._one_pass(fs))
                and all(e.get("del_rows") is not None for e in fs)
            )
            if countable:
                rows = sum(e["rows"] for e in fs)
                dels = sum(e["del_rows"] for e in fs)
                buckets[bi] = {
                    "live": rows - dels,
                    "deleted": dels,
                    "via": "stats",
                }
            else:
                dirty.append(bi)
        if dirty:
            # read at the SNAPSHOT ALREADY RESOLVED above, never
            # snapshot_id=None: a commit landing between the manifest
            # fold and this read would otherwise mix two snapshots'
            # counts into one result
            df = self.read(
                snapshot_id=snap.snapshot_id,
                buckets=dirty,
                columns=[],
                include_internal=True,
                include_tombstones=True,
            )
            for r in (
                df.groupBy("_bucket")
                .agg(
                    F.sum(F.col("_deleted").cast("long")).alias("d"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()  # bounded: <= n_buckets rows
            ):
                d = r.asDict()
                buckets[int(d["_bucket"])] = {
                    "live": int(d["n"]) - int(d["d"]),
                    "deleted": int(d["d"]),
                    "via": "scan",
                }
            for bi in dirty:  # scanned bucket with zero surviving rows
                buckets.setdefault(bi, {"live": 0, "deleted": 0, "via": "scan"})
        return {
            "live": sum(v["live"] for v in buckets.values()),
            "deleted": sum(v["deleted"] for v in buckets.values()),
            "stats_buckets": sum(
                1 for v in buckets.values() if v["via"] == "stats"
            ),
            "scanned_buckets": sum(
                1 for v in buckets.values() if v["via"] == "scan"
            ),
            "buckets": buckets,
        }

    #: point-read key sets up to this size are broadcast into the pre-LWW
    #: semi-join (a few MB of keys); larger sets shuffle
    BROADCAST_KEYS_MAX = 500_000

    def point_read_keys(
        self,
        keys: DataFrame,
        snapshot_id: int | None = None,
        columns: list[str] | None = None,
        include_internal: bool = False,
        include_tombstones: bool = False,
    ) -> DataFrame:
        """State of the given keys only — the multi-key generalization of
        ``read_key``, shared by the view-maintenance pre-image/dirty reads.

        ``keys``: a DataFrame whose columns are a subset of the key
        columns (must include the bucketing key ``key_cols[0]``). The
        read is bucket-pruned to the keys' hash buckets (a bounded ≤
        n_buckets driver list — key VALUES are never collected) and
        pre-LWW semi-join-filtered; the key set is checkpointed so the
        producing plan runs once, and broadcast when it plausibly fits
        (a checkpointed RDD is stats-less — Catalyst would otherwise
        plan a full sort-merge shuffle of the source scan)."""
        snap = self.current() if snapshot_id is None else self.log.load(snapshot_id)
        keys = keys.localCheckpoint()
        # one aggregate answers both the bucket list and the key count
        # (<= n_buckets rows to the driver)
        per_bucket = (
            keys.groupBy(bucket_expr(snap.key_cols[0], snap.n_buckets).alias("b"))
            .count()
            .collect()
        )
        buckets = sorted(r["b"] for r in per_bucket)
        if sum(r["count"] for r in per_bucket) <= self.BROADCAST_KEYS_MAX:
            keys = F.broadcast(keys)
        return self.read(
            snapshot_id=snapshot_id,
            buckets=buckets,
            columns=columns,
            include_internal=include_internal,
            include_tombstones=include_tombstones,
            semi_keys=keys,
        )

    def key_history(self, conv_id: str) -> DataFrame:
        """Audit trail: every stored version of one conversation's rows
        across the retained merge commits, as (snapshot_id, epoch, lsn, op,
        payload...), ordered by (turn_idx, lsn).

        Cost is O(one bucket × retained merge commits): each commit's own
        delta manifest names the files it added (no file-map work), only
        the key's hash bucket is opened, and the residual conv_id filter
        pushes into those scans. Versions folded away by compaction +
        ``expire_snapshots`` are gone by design — the audit horizon IS the
        retention horizon. The per-key complement of ``changes()`` (which
        slices history by commit instead of by key)."""
        snap = self.current()
        bucket = str(self._bucket_of(conv_id, snap.n_buckets))
        parts: list[DataFrame] = []
        for s in self.log.history():
            if s.summary.get("operation") != "merge":
                continue
            # a format-v1 upgrade commit persists the whole cumulative file
            # map as one REPLACE manifest — treating it as "added by this
            # commit" would attribute every pre-upgrade version to the
            # upgrade's snapshot/epoch. Only genuine per-commit deltas
            # (op=append) attribute correctly.
            own = [
                m for m in self.log.own_manifest_pointers(s)
                if m["op"] == "append"
            ]
            if not own:
                continue
            added = self.log.manifest_of(s.snapshot_id)
            if not added or bucket not in added:
                continue
            # read OLD commits' files under the CURRENT snapshot's schema
            # era: prior-name coalescing + type widening resolve them into
            # today's column names, so history stays one relation across
            # renames (the audit trail follows the column id, not the name)
            df = self._read_files(snap, added[bucket])
            if df is None:
                continue
            parts.append(
                df.select(
                    F.lit(s.snapshot_id).cast("long").alias("snapshot_id"),
                    F.lit(s.summary.get("epoch")).cast("long").alias("epoch"),
                    F.col("_lsn").alias("lsn"),
                    F.when(F.col("_deleted"), "delete").otherwise("upsert").alias("op"),
                    *[f.name for f in snap.schema.fields],
                )
            )
        key0 = snap.key_cols[0]
        if not parts:
            fields = [
                T.StructField("snapshot_id", T.LongType(), False),
                T.StructField("epoch", T.LongType(), True),
                T.StructField("lsn", T.LongType(), False),
                T.StructField("op", T.StringType(), False),
            ] + list(snap.schema.fields)
            return self.spark.createDataFrame([], T.StructType(fields))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        order = [c for c in snap.key_cols if c != key0] + ["lsn"]
        return out.filter(F.col(key0) == conv_id).orderBy(*order)

    # ------------------------------------------------------------------
    # non-additive schema evolution (Iceberg field-id semantics)
    # ------------------------------------------------------------------
    #: sound parquet type promotions — the reader upcasts old files
    #: natively under the widened read schema, so no rewrite is needed
    ALLOWED_WIDENINGS = {("int", "bigint"), ("float", "double")}

    def _evolve_commit(
        self, build: Any, operation: str
    ) -> Snapshot:
        """CAS-commit a metadata-only schema-evolution snapshot. ``build``
        receives the parent and returns (schema_json, key_cols, column_ids,
        prior_names, retired_names, detail). Retries rebase trivially: the
        file map and manifests are inherited from whatever parent won."""
        for _ in range(self.MAX_COMMIT_ATTEMPTS):
            parent = self.current()
            schema_json, key_cols, ids, priors, retired, detail = build(parent)
            snap = Snapshot(
                snapshot_id=parent.snapshot_id + 1,
                parent_id=parent.snapshot_id,
                schema_json=schema_json,
                n_buckets=parent.n_buckets,
                key_cols=key_cols,
                manifests=list(parent.manifests),
                summary={
                    "operation": operation,
                    "committed_at_unix": time.time(),
                    **detail,
                },
                commit_keys=list(parent.commit_keys),
                epoch_watermark=parent.epoch_watermark,
                epoch_base=parent.epoch_base,
                commit_count=parent.commit_count,
                column_ids=ids,
                prior_names=priors,
                retired_names=retired,
                next_column_id=parent.next_column_id,
                props=dict(parent.props),
            )
            snap._files = {b: list(fs) for b, fs in parent.files.items()}
            try:
                self.log.commit(snap)
                return snap
            except CommitConflictError:
                time.sleep(0.002)
        raise CommitConflictError(f"could not commit {operation}")

    def _require_field(self, snap: Snapshot, name: str) -> T.StructField:
        for f in snap.schema.fields:
            if f.name == name:
                return f
        raise ValueError(f"no such column: {name!r}")

    def rename_column(self, old: str, new: str) -> Snapshot:
        """Rename a column (key columns included) — metadata-only, old data
        files stay readable: the column's stable id moves to the new name
        and ``old`` joins its prior-name list, which the read path
        coalesces. ``old`` is retired — it can never be re-introduced,
        because files on disk still carry values under it."""
        def build(parent: Snapshot):
            self._require_field(parent, old)
            lower = {f.name.lower() for f in parent.schema.fields}
            if new.lower() in lower:
                raise ValueError(f"column {new!r} already exists")
            if new.lower() in {n.lower() for n in parent.retired_names}:
                raise ValueError(
                    f"column name {new!r} was dropped or renamed away and "
                    "cannot be reused (old files still carry it)"
                )
            if new.lower() in {c.lower() for c in INTERNAL_COLS} or new.startswith("_"):
                raise ValueError(f"invalid column name {new!r}")
            if old in (parent.props.get("patch.columns") or []):
                # storage files carry the per-column set-LSN under
                # _plsn_{old}; a rename would silently deactivate the
                # partial-update semantics (the declaration names the old
                # column). Re-declare via update_props first if a rename
                # is truly wanted.
                raise ValueError(
                    f"cannot rename declared patch column {old!r} "
                    "(patch.columns); update the declaration first"
                )
            fields = [
                T.StructField(new, f.dataType, f.nullable) if f.name == old else f
                for f in parent.schema.fields
            ]
            ids = dict(parent.column_ids)
            ids[new] = ids.pop(old)
            priors = {k: list(v) for k, v in parent.prior_names.items()}
            priors[new] = priors.pop(old, []) + [old]
            retired = list(parent.retired_names) + [old]
            key_cols = [new if k == old else k for k in parent.key_cols]
            return (
                T.StructType(fields).jsonValue(), key_cols, ids, priors,
                retired, {"renamed": {old: new}},
            )

        return self._evolve_commit(build, "rename-column")

    def drop_column(self, name: str) -> Snapshot:
        """Drop a non-key column — metadata-only; the bytes stay in old
        files but are never read again, and the name (plus every prior name
        it had) is retired so they can never resurrect."""
        def build(parent: Snapshot):
            self._require_field(parent, name)
            if name in parent.key_cols:
                raise ValueError(f"cannot drop key column {name!r}")
            fields = [f for f in parent.schema.fields if f.name != name]
            ids = dict(parent.column_ids)
            ids.pop(name, None)
            priors = {k: list(v) for k, v in parent.prior_names.items()}
            dead = priors.pop(name, []) + [name]
            retired = list(parent.retired_names) + dead
            return (
                T.StructType(fields).jsonValue(), list(parent.key_cols), ids,
                priors, retired, {"dropped": name},
            )

        return self._evolve_commit(build, "drop-column")

    def widen_column(self, name: str, new_type: T.DataType) -> Snapshot:
        """Widen a column's type (int→long, float→double) — metadata-only;
        old files are upcast by the parquet reader under the widened read
        schema, new files are written wide."""
        def build(parent: Snapshot):
            f = self._require_field(parent, name)
            promo = (f.dataType.simpleString(), new_type.simpleString())
            if promo == (promo[0], promo[0]):
                raise ValueError(f"column {name!r} is already {promo[0]}")
            if promo not in self.ALLOWED_WIDENINGS:
                raise ValueError(
                    f"unsupported widening {promo[0]} -> {promo[1]}; allowed: "
                    + ", ".join(f"{a}->{b}" for a, b in sorted(self.ALLOWED_WIDENINGS))
                )
            fields = [
                T.StructField(name, new_type, x.nullable) if x.name == name else x
                for x in parent.schema.fields
            ]
            return (
                T.StructType(fields).jsonValue(), list(parent.key_cols),
                dict(parent.column_ids),
                {k: list(v) for k, v in parent.prior_names.items()},
                list(parent.retired_names),
                {"widened": {name: promo[1]}},
            )

        return self._evolve_commit(build, "widen-column")

    # ------------------------------------------------------------------
    # tags (named snapshot refs)
    # ------------------------------------------------------------------
    def tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin ``name`` to a snapshot (default: current) — an Iceberg-style
        ref. Tagged snapshots are protected from ``expire_snapshots`` until
        the tag is dropped, so a tag is a durable restore/audit point
        (training-data release pins: tag the table state a corpus was cut
        from). Returns the pinned snapshot id."""
        sid = self.current().snapshot_id if snapshot_id is None else snapshot_id
        self.log.load(sid)  # must exist
        self.log.create_tag(name, sid)
        return sid

    def drop_tag(self, name: str) -> None:
        self.log.drop_tag(name)

    def tags(self) -> dict[str, int]:
        return self.log.tags()

    def read_tag(self, name: str, **kwargs) -> DataFrame:
        """``read()`` pinned to a tag."""
        tags = self.log.tags()
        if name not in tags:
            raise ValueError(f"no such tag: {name}")
        return self.read(snapshot_id=tags[name], **kwargs)

    # ------------------------------------------------------------------
    # zero-copy branching (Iceberg register_table / Delta shallow clone)
    # ------------------------------------------------------------------
    def clone_to(
        self, dest_root: str, snapshot_id: int | None = None
    ) -> "LakeTable":
        """Zero-copy branch: create an independent table at ``dest_root``
        whose first snapshot references THIS table's data files in place
        (by absolute path) — no byte of data is copied, so branching a
        100 TB table is one manifest write + one snapshot CAS, O(metadata).
        The Delta "shallow clone" / Iceberg register-and-diverge shape:
        dev branches, what-if reprocessing, release freezes.

        Independence: commits on either side never touch the other — the
        clone's writes/compactions land under ITS root, and both sides'
        ``expire_snapshots`` only ever delete files under their own root
        (foreign absolute paths are unreachable by the GC walk, by
        construction). A ``compact()`` on the clone folds foreign
        references into local files bucket by bucket.

        Source-retention safety: the source snapshot is pinned with a
        ``clone-{token}`` tag, so source-side retention keeps every
        referenced file alive. Once the clone has no foreign references
        left (``foreign_file_count() == 0`` — e.g. after a full compact)
        or is discarded, ``detach_clone()`` / ``drop_tag`` releases the
        pin. Cloning a clone re-pins only its immediate source: the
        grandparent's pin must outlive the whole descent, since foreign
        paths are inherited verbatim.

        The clone inherits the full schema ERA (stable column ids,
        prior/retired names — old files keep reading correctly through
        renames), the table props, and the CDC frontier (epoch watermark
        + residual commit keys): replaying an epoch the source already
        applied is a no-op on the branch too, so a branch-then-reprocess
        run has the same exactly-once contract as the trunk.

        Reference analog: the reference clones by re-exporting the whole
        table to S3 and re-loading it (scripts/export_to_s3.py +
        load_data.py full reload); this is the same operation at
        metadata cost."""
        src = (
            self.current() if snapshot_id is None else self.log.load(snapshot_id)
        )
        dest = LakeTable(self.spark, dest_root)
        if dest.log.exists():
            raise ValueError(f"table already exists at {dest_root}")
        src_root = os.path.abspath(self.root)
        # per-ATTEMPT-unique pin token (like _manifest_name), recorded in
        # the clone props: two clones racing the same dest_root would
        # otherwise share a dest-derived token, and the CAS loser's
        # cleanup would drop the WINNER's live pin, leaving its foreign
        # file references unprotected from source retention. The cost is
        # that a clone crashing before its commit leaves an orphan
        # ``clone-*`` tag on the source (pinning that snapshot) until an
        # operator drops it — fail-safe in the retention direction.
        pin = f"clone-{uuid.uuid4().hex[:12]}"
        self.log.create_tag(pin, src.snapshot_id)
        files = {
            b: [
                dict(
                    e,
                    path=e["path"]
                    if os.path.isabs(e["path"])
                    else os.path.join(src_root, e["path"]),
                )
                for e in es
            ]
            for b, es in src.files.items()
        }
        dest.fs.makedirs(dest_root)
        name = self._manifest_name(0)
        snap = Snapshot(
            snapshot_id=0,
            parent_id=None,
            schema_json=src.schema_json,
            n_buckets=src.n_buckets,
            key_cols=list(src.key_cols),
            manifests=(
                [{"path": name, "op": "replace", "buckets": sorted(files)}]
                if files
                else []
            ),
            summary={
                "operation": "clone",
                "committed_at_unix": time.time(),
                "clone_source": src_root,
                "clone_source_snapshot": src.snapshot_id,
            },
            commit_keys=list(src.commit_keys),
            epoch_watermark=src.epoch_watermark,
            epoch_base=src.epoch_base,
            commit_count=src.commit_count,
            column_ids=dict(src.column_ids),
            prior_names={k: list(v) for k, v in src.prior_names.items()},
            retired_names=list(src.retired_names),
            next_column_id=src.next_column_id,
            props=dict(
                src.props,
                **{
                    "clone.source": src_root,
                    "clone.source_snapshot": src.snapshot_id,
                    "clone.source_tag": pin,
                },
            ),
        )
        snap._files = files
        try:
            dest.log.commit(
                snap, new_manifest=(name, files) if files else None
            )
        except CommitConflictError:
            dest.log.repair_hint()
            self.log.drop_tag(pin)
            raise ValueError(
                f"table already exists at {dest_root}"
            ) from None
        return dest

    def foreign_file_count(self, snapshot_id: int | None = None) -> int:
        """Data files this table references OUTSIDE its own root (clone
        inheritance). 0 means the table is self-contained and any clone
        pin on its source can be released."""
        snap = (
            self.current() if snapshot_id is None else self.log.load(snapshot_id)
        )
        return sum(
            1
            for es in snap.files.values()
            for e in es
            if os.path.isabs(e["path"])
        )

    def detach_clone(self) -> None:
        """Release the source pin once this clone is self-contained: drops
        the ``clone-*`` tag on the source table and removes the clone
        props (metadata-only commit). Refuses while foreign references
        remain — dropping the pin then would let source retention delete
        files this table still reads."""
        src_root = self.current().props.get("clone.source")
        if src_root is None:
            raise ValueError("not a clone (no clone.source prop)")
        n = self.foreign_file_count()
        if n:
            raise ValueError(
                f"clone still references {n} source files — compact() "
                "first, then detach"
            )
        pin = self.current().props["clone.source_tag"]
        try:
            source = LakeTable.load(self.spark, src_root)
            source.drop_tag(pin)
        except (FileNotFoundError, ValueError):
            pass  # source dropped, or pin already released
        self.update_props(
            {"clone.source": None, "clone.source_snapshot": None,
             "clone.source_tag": None}
        )

    def fast_forward_from(self, branch: "LakeTable") -> Snapshot:
        """Publish a branch back to this table — the WAP-at-table-scale
        counterpart of ``clone_to``: audit/repair/backfill on a zero-copy
        branch, then adopt its state here in ONE metadata commit (no data
        movement; the trunk references the branch's local files in place,
        exactly the reverse of the clone).

        Fast-forward only: valid iff this table has NOT advanced since
        the branch was cut (current head == the branch's recorded
        ``clone.source_snapshot``). A diverged trunk raises — the caller
        must rebase (replay trunk's new epochs onto the branch; the
        inherited CDC frontier makes that idempotent) and retry. A racer
        committing between the check and the CAS surfaces as the same
        divergence error, so the precondition is atomic in effect.

        The adopted snapshot carries the branch's schema ERA, CDC
        frontier and props wholesale (all legal descendants of the shared
        base, by the precondition). Branch-local files enter by absolute
        path with the branch snapshot tag-pinned — the trunk becomes a
        "clone" of the branch (``clone.*`` props point at it), so the
        standard lifecycle finishes the job: ``compact()`` localizes,
        ``detach_clone()`` releases the branch pin. Entries pointing back
        INTO this root (the branch's inherited references to trunk
        files) are re-relativized so retention accounting stays exact."""
        import hashlib

        bsnap = branch.current()
        src_root = bsnap.props.get("clone.source")
        if src_root is None or os.path.abspath(src_root) != os.path.abspath(
            self.root
        ):
            raise ValueError("branch is not a clone of this table")
        base_sid = bsnap.props["clone.source_snapshot"]
        parent = self.current()
        if parent.snapshot_id != base_sid:
            raise ValueError(
                f"trunk advanced since the branch was cut (head "
                f"{parent.snapshot_id}, branch base {base_sid}) — replay "
                "the trunk's new epochs onto the branch, then fast-forward"
            )
        root_abs = os.path.abspath(self.root)
        b_root = os.path.abspath(branch.root)
        token = hashlib.md5(root_abs.encode("utf-8")).hexdigest()[:12]
        pin = f"publish-{token}"
        try:
            branch.log.create_tag(pin, bsnap.snapshot_id)
        except ValueError:
            branch.log.drop_tag(pin)
            branch.log.create_tag(pin, bsnap.snapshot_id)

        def adopt(path: str) -> str:
            if not os.path.isabs(path):
                return os.path.join(b_root, path)  # branch-local file
            if path.startswith(root_abs + os.sep):
                return os.path.relpath(path, root_abs)  # our own file
            return path  # older ancestor in a clone chain
        files = {
            b: [dict(e, path=adopt(e["path"])) for e in es]
            for b, es in bsnap.files.items()
        }
        # the branch's clone.* props described ITS link to us — replaced
        # by the reverse link (trunk -> branch) for the localize/detach
        # lifecycle. Caveat (conservative leak, never a correctness
        # hazard): if THIS table is itself an undetached clone, its own
        # clone.* props are overwritten here while the tag it holds on
        # its original source remains — drop that tag manually once no
        # table in the clone chain references the source's files.
        props = {
            k: v for k, v in bsnap.props.items() if not k.startswith("clone.")
        }
        props.update(
            {
                "clone.source": b_root,
                "clone.source_snapshot": bsnap.snapshot_id,
                "clone.source_tag": pin,
            }
        )
        name = self._manifest_name(parent.snapshot_id + 1)
        snap = Snapshot(
            snapshot_id=parent.snapshot_id + 1,
            parent_id=parent.snapshot_id,
            schema_json=bsnap.schema_json,
            n_buckets=bsnap.n_buckets,
            key_cols=list(bsnap.key_cols),
            manifests=(
                [{"path": name, "op": "replace", "buckets": sorted(files)}]
                if files
                else []
            ),
            summary={
                "operation": "fast-forward",
                "committed_at_unix": time.time(),
                "publish_source": b_root,
                "publish_source_snapshot": bsnap.snapshot_id,
            },
            commit_keys=list(bsnap.commit_keys),
            epoch_watermark=bsnap.epoch_watermark,
            epoch_base=bsnap.epoch_base,
            commit_count=bsnap.commit_count,
            column_ids=dict(bsnap.column_ids),
            prior_names={k: list(v) for k, v in bsnap.prior_names.items()},
            retired_names=list(bsnap.retired_names),
            next_column_id=bsnap.next_column_id,
            props=props,
        )
        snap._files = files
        try:
            self.log.commit(snap, new_manifest=(name, files) if files else None)
        except CommitConflictError:
            branch.log.drop_tag(pin)
            raise ValueError(
                "trunk advanced during the fast-forward — rebase the "
                "branch and retry"
            ) from None
        # NOTE: the branch's clone-* pin on the OLD trunk snapshot is left
        # in place deliberately — the branch still exists and still reads
        # trunk files through its own snapshots; the pin drops when the
        # branch is discarded (drop_tag) or localized (branch.compact() +
        # branch.detach_clone()), never as a publish side effect
        return snap

    @staticmethod
    def _entry_identity(root: str, e: dict[str, Any]) -> tuple:
        """File identity for the diff prune: the resolved absolute path
        plus the row/LSN stats. Two entries with the same identity hold
        the same bytes (data files are immutable, paths are
        per-attempt-unique), so buckets whose entry SETS match cannot
        differ in state."""
        p = e["path"]
        if not os.path.isabs(p):
            p = os.path.join(os.path.abspath(root), p)
        return (p, e.get("rows"), e.get("lsn_min"), e.get("lsn_max"))

    def diff_buckets(
        self,
        other: "LakeTable",
        snapshot_id: int | None = None,
        other_snapshot_id: int | None = None,
    ) -> tuple[list[int], list[int]]:
        """(identical, differing) bucket lists for a state diff against
        ``other`` — the METADATA prune behind ``diff()``. A bucket whose
        two entry sets resolve to the same immutable files provably holds
        the same state on both sides and is never read. On a branch
        diffed against its trunk right after divergence, that is every
        bucket the divergent writes did not touch. Falls back to
        all-differing when the bucket layouts differ (different
        n_buckets: the same key lives in different bucket numbers)."""
        sa = self.current() if snapshot_id is None else self.log.load(snapshot_id)
        sb = (
            other.current()
            if other_snapshot_id is None
            else other.log.load(other_snapshot_id)
        )
        all_b = sorted(
            {int(b) for b in sa.files} | {int(b) for b in sb.files}
        )
        if sa.n_buckets != sb.n_buckets:
            return [], all_b
        same: list[int] = []
        differ: list[int] = []
        for b in all_b:
            ea = {
                self._entry_identity(self.root, e)
                for e in sa.files.get(str(b), [])
            }
            eb = {
                self._entry_identity(other.root, e)
                for e in sb.files.get(str(b), [])
            }
            (same if ea == eb else differ).append(b)
        return same, differ

    def diff(
        self,
        other: "LakeTable",
        snapshot_id: int | None = None,
        other_snapshot_id: int | None = None,
    ) -> DataFrame:
        """State diff against ``other`` (any table or snapshot sharing the
        key columns — a branch vs its trunk, a mirror vs its source, two
        points in one table's history via ``other=self``): one row per
        key whose live state differs, with ``change`` ∈
        ``'added'`` (present only in OTHER), ``'removed'`` (present only
        here), ``'changed'`` (both live, any common payload column
        differs null-safely).

        Scale shape: the manifest prune (``diff_buckets``) drops every
        bucket whose file sets are identical WITHOUT reading it — after
        a localized divergence only the touched buckets are scanned and
        joined; the join keys are bucket-partitioned so the comparison
        shuffles only those buckets' rows. Payload columns are compared
        on the INTERSECTION of the two schemas (a column added by
        evolution on one side never marks every key changed; schema
        drift is visible in the schemas themselves)."""
        sa = self.current() if snapshot_id is None else self.log.load(snapshot_id)
        sb = (
            other.current()
            if other_snapshot_id is None
            else other.log.load(other_snapshot_id)
        )
        if list(sa.key_cols) != list(sb.key_cols):
            raise ValueError(
                f"diff: key columns differ ({sa.key_cols} vs {sb.key_cols})"
            )
        keys = list(sa.key_cols)
        # thread the snapshots RESOLVED above through both the prune and
        # the reads: re-resolving current() per step would let a commit
        # landing mid-diff mark buckets 'identical' against one snapshot
        # and read them at another — a wrong/incomplete diff
        _same, differ = self.diff_buckets(
            other, sa.snapshot_id, sb.snapshot_id
        )
        a = self.read(snapshot_id=sa.snapshot_id, buckets=differ)
        bdf = other.read(snapshot_id=sb.snapshot_id, buckets=differ)
        common = [
            c for c in a.columns if c in set(bdf.columns) and c not in keys
        ]
        left = a.select(
            *keys,
            *[F.col(c).alias(f"_l_{c}") for c in common],
            F.lit(True).alias("_in_l"),
        )
        right = bdf.select(
            *keys,
            *[F.col(c).alias(f"_r_{c}") for c in common],
            F.lit(True).alias("_in_r"),
        )
        j = left.join(right, on=keys, how="full_outer")
        equal = F.lit(True)
        for c in common:
            equal = equal & F.col(f"_l_{c}").eqNullSafe(F.col(f"_r_{c}"))
        change = (
            F.when(F.col("_in_l").isNull(), F.lit("added"))
            .when(F.col("_in_r").isNull(), F.lit("removed"))
            .when(~equal, F.lit("changed"))
        )
        return (
            j.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select(*keys, "change")
        )

    def snapshot_as_of(self, ts_unix: float) -> Snapshot:
        """Time travel by wall clock: the last snapshot committed at or
        before ``ts_unix`` (Iceberg's TIMESTAMP AS OF). Raises if the
        table did not exist yet (or history before the horizon expired)."""
        best: Snapshot | None = None
        for s in self.log.history():
            committed = s.summary.get("committed_at_unix", 0.0)
            if committed <= ts_unix:
                best = s
        if best is None:
            raise ValueError(
                f"no snapshot committed at or before {ts_unix} "
                "(table younger, or history expired)"
            )
        return best

    def read_as_of(self, ts_unix: float, **kwargs) -> DataFrame:
        """``read()`` pinned to the snapshot current at ``ts_unix``."""
        return self.read(snapshot_id=self.snapshot_as_of(ts_unix).snapshot_id,
                         **kwargs)

    def dead_merge_ids(
        self, until_snapshot_id: int | None = None
    ) -> set[int]:
        """Merge commits in the retained chain whose effects are NOT part
        of the state at ``until`` (default: current) — i.e. merges rewound
        by a rollback commit at or before it.

        Computed by a ceiling walk newest→oldest: the live ceiling starts
        at ``until``; a rollback commit at or under the ceiling lowers it
        to its target (rollbacks inside an already-dead era are themselves
        dead and do NOT move the ceiling, so nested and repeated rollbacks
        resolve correctly); merges above the ceiling are dead. O(retained
        history), metadata only."""
        hist = self.log.history()
        until = (
            until_snapshot_id
            if until_snapshot_id is not None
            else (hist[-1].snapshot_id if hist else 0)
        )
        ceiling = until
        dead: set[int] = set()
        for s in reversed(hist):
            if s.snapshot_id > until:
                continue
            if s.snapshot_id > ceiling:
                if s.summary.get("operation") == "merge":
                    dead.add(s.snapshot_id)
                continue
            if s.summary.get("operation") == "rollback":
                ceiling = int(s.summary["rollback_to"])
        return dead

    def live_snapshots(
        self, until_snapshot_id: int | None = None
    ) -> list[Snapshot]:
        """The retained snapshots that are part of the state-at-``until``'s
        lineage (default: current), oldest first — ``snapshots()`` minus
        eras rewound by rollback commits (same ceiling walk as
        :meth:`dead_merge_ids`, applied to every operation). The rollback
        commits themselves are kept (they ARE state transitions of the
        live chain)."""
        hist = self.log.history()
        ceiling = (
            until_snapshot_id
            if until_snapshot_id is not None
            else (hist[-1].snapshot_id if hist else 0)
        )
        out: list[Snapshot] = []
        for s in reversed(hist):
            if s.snapshot_id > ceiling:
                continue
            if s.summary.get("operation") == "rollback":
                out.append(s)
                ceiling = int(s.summary["rollback_to"])
            else:
                out.append(s)
        return list(reversed(out))

    def changes(
        self,
        since_snapshot_id: int,
        until_snapshot_id: int | None = None,
        skip_rolled_back: bool = False,
    ) -> DataFrame:
        """Incremental read: the change rows committed AFTER the given
        snapshot — the lake table itself becomes a changefeed source for
        downstream pipelines (Iceberg-style incremental consumption).

        Returns one row per key per merge commit in the range, with
        ``lsn``, ``op`` ('upsert'/'delete') and the payload columns.
        Only the delta files added by those commits are scanned — each
        merge's file list comes straight from its own delta manifest
        (O(1) metadata lookups, no file-map reconstruction or path
        matching). Compaction commits rewrite existing rows and are
        correctly skipped (they carry no merge manifest).

        At-least-once caveat, format-v1 upgrades only: a v1→v2 upgrade
        commit's manifest is the CUMULATIVE file map (its true delta is
        unknowable), so a range spanning it re-emits earlier rows. This is
        the conservative side on purpose: dirty-group consumers
        (IncrementalAggView) just recompute more groups and stay exact;
        skipping the commit instead would silently LOSE its changes.

        ``until_snapshot_id`` closes the window (inclusive) — a consumer
        can re-read EXACTLY the slice an earlier poll saw (reproducible
        incremental batches, audit replays) regardless of commits that
        landed since.

        ``skip_rolled_back=True`` makes a window spanning a ROLLBACK
        commit consumable when that is sound: merges rewound by rollbacks
        (``dead_merge_ids``) are skipped — state at ``until`` equals state
        at the rollback targets plus the surviving merges, so the live
        merges alone ARE the exact delta. It still raises when the
        consumer's position itself includes a rolled-back merge (its state
        holds rows no delta can retract — rebuild from ``read()``; a
        mirror can instead rewind itself, cdc/mirror.py)."""
        snap = self.current()
        if skip_rolled_back:
            dead = self.dead_merge_ids(until_snapshot_id)
            # poisoned = a merge the consumer INGESTED was later rewound:
            # dead at `until` but not already dead at the consumer's own
            # position (an honest consumer's state is the live chain at
            # its position, so merges that were already dead there never
            # entered it — a rollback the consumer synced PAST is benign)
            dead_at_since = self.dead_merge_ids(since_snapshot_id)
            if any(
                d <= since_snapshot_id and d not in dead_at_since
                for d in dead
            ):
                raise ValueError(
                    "changes(): the consumer position includes merges that "
                    "a later rollback rewound — its state cannot be "
                    "advanced by any delta; rebuild from read() or rewind "
                    "the consumer below the rollback target"
                )
            # an OVERWRITE replaces state wholesale, an EXPIRE_ROWS
            # removes state without emitting deltas, and a FAST-FORWARD
            # adopts a branch's state as one replace manifest — none
            # emits a delta a consumer could apply; only consumers
            # positioned at/after them may proceed incrementally
            for s in self.live_snapshots(until_snapshot_id):
                if (
                    s.summary.get("operation")
                    in ("overwrite", "expire_rows", "fast-forward")
                    and s.snapshot_id > since_snapshot_id
                ):
                    raise ValueError(
                        "changes(): the window spans an "
                        f"{s.summary.get('operation')} commit (snapshot "
                        f"{s.snapshot_id}) — state was changed without a "
                        "delta; rebuild from read()"
                    )
        else:
            dead = set()
            if self.rollback_in_range(since_snapshot_id, until_snapshot_id):
                raise ValueError(
                    "changes() window spans a rollback/overwrite/"
                    "expire_rows/fast-forward commit: state was rewound, "
                    "replaced or expired without deltas and would LWW-"
                    "poison an "
                    "incremental consumer — rebuild from read(), or close "
                    "the window before the barrier snapshot "
                    "(skip_rolled_back=True consumes across a rollback "
                    "when the consumer position predates its target)"
                )
        entries: list[dict[str, Any]] = []
        for s in self.log.history():
            if s.snapshot_id <= since_snapshot_id:
                continue
            if until_snapshot_id is not None and s.snapshot_id > until_snapshot_id:
                continue
            if s.snapshot_id in dead:
                continue
            if s.summary.get("operation") != "merge":
                continue
            added = self.log.manifest_of(s.snapshot_id)
            if added is None:
                continue  # empty-batch merge: metadata-only commit
            for fs in added.values():
                entries.extend(fs)
        df = self._read_files(snap, entries)
        if df is None:
            fields = [
                T.StructField("lsn", T.LongType(), False),
                T.StructField("op", T.StringType(), False),
            ] + list(snap.schema.fields)
            return self.spark.createDataFrame([], T.StructType(fields))
        spec = self._patch_spec(snap)
        if spec is None:
            return df.select(
                F.col("_lsn").alias("lsn"),
                F.when(F.col("_deleted"), "delete").otherwise("upsert").alias(
                    "op"
                ),
                *[f.name for f in snap.schema.fields],
            )
        # Partial-update tables emit a PATCH feed (documented contract):
        # an upsert's patch column is the sentinel when this delta never
        # set it (or a folded-in delete killed it), and a storage row that
        # folded a delete UNDER a surviving upsert additionally emits the
        # delete at its own LSN — so replaying the window reconverges a
        # downstream patch consumer exactly (the collapsed row alone
        # cannot say "this column was destroyed, not carried").
        cols, sentinel = spec
        payload = []
        for f in snap.schema.fields:
            if f.name in cols:
                dead = F.col(_plsn(f.name)).isNull() | (
                    F.col("_dlsn").isNotNull()
                    & (F.col(_plsn(f.name)) <= F.col("_dlsn"))
                )
                payload.append(
                    F.when(F.col("_deleted"), F.lit(None).cast(f.dataType))
                    .when(dead, F.lit(sentinel))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                )
            else:
                payload.append(F.col(f.name))
        rows = df.select(
            F.col("_lsn").alias("lsn"),
            F.when(F.col("_deleted"), "delete").otherwise("upsert").alias("op"),
            *payload,
            F.when(
                ~F.col("_deleted"), F.col("_dlsn")
            ).alias("_pre_delete_lsn"),
        )
        pre_deletes = rows.filter(F.col("_pre_delete_lsn").isNotNull()).select(
            F.col("_pre_delete_lsn").alias("lsn"),
            F.lit("delete").alias("op"),
            *[
                F.col(f.name)
                if f.name in snap.key_cols
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in snap.schema.fields
            ],
        )
        return rows.drop("_pre_delete_lsn").unionByName(pre_deletes)

    def history(self) -> DataFrame:
        """SCD2 version history from the retained changefeed: one row per
        key VERSION (changes are batch-collapsed, so a version is a key's
        winner per merge commit) with half-open LSN validity —
        ``valid_from_lsn`` = the version's own LSN, ``valid_to_lsn`` = the
        LSN of the change that superseded it (NULL = still current,
        flagged ``is_current``). Deletes close their predecessor's
        interval but emit no version row of their own. Reference analog:
        the reference keeps only the latest full reload
        (/root/reference/scripts/load_data.py:119-131) — version history
        is what a WAL-tail engine can offer that a clear-and-reload never
        can.

        Plan shape at scale: ONE hash shuffle on the key columns (the
        lead() window); payload rides that single exchange — the honest
        minimum for materializing full history. Compaction does not
        truncate it (fold commits carry no merge manifest and are
        skipped), but snapshot EXPIRY does, so a table whose history no
        longer reaches snapshot 0 is rejected loudly instead of silently
        returning a suffix (same rule as IncrementalAggView's
        ``_history_covers``). Partial-update tables are rejected: their
        changefeed carries in-band sentinels ("column unchanged"), and an
        honest per-column version history needs carry-forward resolution
        across versions — a different operator, not a silently-wrong
        whole-row one."""
        snap = self.current()
        if self._patch_spec(snap) is not None:
            raise ValueError(
                "history() is not supported on partial-update tables "
                "(patch.columns declared): version rows would carry the "
                "in-band sentinel where a column was not re-shipped"
            )
        hist = self.snapshots()
        if hist and hist[0].snapshot_id > 1:
            raise ValueError(
                "history() needs the full changefeed, but snapshots before "
                f"id {hist[0].snapshot_id} have been expired — the earliest "
                "versions are unrecoverable (read a preserved snapshot "
                "instead, or retain history on tables that need SCD2 reads)"
            )
        if self.rollback_in_range(0):
            raise ValueError(
                "history() is ambiguous across a rollback: merges the "
                "rollback reverted are not versions of the CURRENT truth, "
                "and re-applied epochs would double-count — time-travel to "
                "a pre-rollback snapshot for forensics (key_history() stays "
                "available for per-key write audits)"
            )
        keys = list(snap.key_cols)
        # changes() is at-least-once across a v1->v2 format upgrade (its
        # cumulative manifest re-emits earlier rows) — identical rows, so a
        # (key, lsn) dedup restores exactly-once. Repartitioning on the
        # KEYS first lets both the dedup aggregate (clustering on a
        # superset of the partitioning) and the lead() window reuse ONE
        # exchange (same trick as the fused merge shuffle, cdc/apply.py).
        ch = self.changes(0).repartition(*[F.col(k) for k in keys])
        ch = ch.dropDuplicates([*keys, "lsn"])
        w = Window.partitionBy(*keys).orderBy("lsn")
        out = (
            ch.withColumn("valid_to_lsn", F.lead("lsn").over(w))
            .filter(F.col("op") != "delete")
            .select(
                *[f.name for f in snap.schema.fields],
                F.col("lsn").alias("valid_from_lsn"),
                F.col("valid_to_lsn"),
                F.col("valid_to_lsn").isNull().alias("is_current"),
            )
        )
        return out

    # ------------------------------------------------------------------
    # write path
    # ------------------------------------------------------------------
    @staticmethod
    def _zone_ts_col(schema: T.StructType) -> str | None:
        """The payload column carrying the secondary (time) zone map: the
        first timestamp-typed field, if any. Zone-map values in old manifest
        entries survive a rename of this column unchanged — pruning compares
        values, never names."""
        # tz-aware first (the pre-NTZ rule — existing tables must keep the
        # SAME zone column across upgrades or ts_prune would silently filter
        # a different column); NTZ only as a fallback for NTZ-only schemas.
        # Zone stats are tz-free epoch micros either way.
        for f in schema.fields:
            if isinstance(f.dataType, T.TimestampType):
                return f.name
        for f in schema.fields:
            if isinstance(f.dataType, T.TimestampNTZType):
                return f.name
        return None

    def _write_data(
        self,
        df: DataFrame,
        commit_dir: str,
        key_col: str | None = None,
        ts_col: str | None = None,
        ts_col_id: int | None = None,
        content: tuple[dict[str, int], tuple[str, int] | None] | None = None,
    ) -> tuple[dict[str, list[dict[str, Any]]], list[dict[str, Any]]]:
        """Write rows partitioned by bucket; return (bucket -> file entries,
        per-bucket stats rows).

        Stats (row count, ``_lsn`` min/max) are read from parquet FOOTERS,
        PER FILE, adaptively (mirroring Spark's own listing strategy,
        ``parallelPartitionDiscovery.threshold``): below
        ``STATS_DRIVER_THRESHOLD`` files the driver reads the footers
        directly (sub-millisecond each on a local store, no job overhead);
        above it a DISTRIBUTED footer read runs instead — only the path
        strings are parallelized and executor tasks read the footers — so
        at 4096-bucket object-store scale the commit path never serializes
        on O(files) driver GETs. The same cutoff is pinned as Spark's own
        listing threshold for reads (``_read_files``), so one number
        decides driver-vs-distributed for both footer stats and scan
        planning. Footers also answer STRING min/max, which
        parquet *aggregate pushdown* cannot (it covers numeric/date only —
        a min/max-aggregate read-back of the key column silently degrades
        to scanning the whole key column on every large commit; this path
        never touches row data). Both paths produce identical stats
        (pinned by tests/test_metadata.py).

        ``key_col`` additionally records the key's min/max PER FILE into
        the manifest entries (Iceberg's per-file column stats): point
        lookups skip every file whose key range cannot contain the key —
        at 10^3 commits between compactions that is the difference between
        opening one file and opening them all, and when one commit writes
        several files into a bucket (salted merges, sliced compaction) each
        file prunes on its OWN range instead of the bucket's union.

        ``ts_col`` records a SECONDARY zone map — the event-time column's
        min/max (epoch microseconds, timezone-free) plus the entry's
        ``_lsn`` range — so time-windowed reads can skip non-covering
        files with LWW soundness (see ``read(ts_prune=...)``)."""
        out = os.path.join(self.root, commit_dir)
        with _pinned_conf(self.spark, _PARQUET_TS_CONF, _PARQUET_TS_PINNED):
            (
                df.withColumn("_bdir", F.col("_bucket"))
                .write.partitionBy("_bdir")
                .mode("overwrite")
                .parquet(out)
            )
        return self._collect_entries(
            out, commit_dir, key_col, ts_col, ts_col_id, content
        )

    def _collect_entries(
        self,
        out: str,
        commit_dir: str,
        key_col: str | None = None,
        ts_col: str | None = None,
        ts_col_id: int | None = None,
        content: tuple[dict[str, int], tuple[str, int] | None] | None = None,
    ) -> tuple[dict[str, list[dict[str, Any]]], list[dict[str, Any]]]:
        """Stats + manifest entries for the ``_bdir=`` dirs under ``out``
        (the second half of ``_write_data``, callable on its own so a
        multi-dir writer — time-sliced compaction — can write ONCE and
        collect per-subdir entries). Entries carry PER-FILE stats;
        the returned bucket rows (lineage) aggregate them per bucket."""
        bdirs = [d for d in self.fs.listdir(out) if d.startswith("_bdir=")]
        if not bdirs:
            return {}, []
        listing = {
            d: sorted(
                f
                for f in self.fs.listdir(os.path.join(out, d))
                if f.endswith(".parquet")
            )
            for d in bdirs
        }
        set_ids, tok = content if content is not None else ({}, None)
        stats = self._file_stats(
            [os.path.join(out, d, f) for d, fs in listing.items() for f in fs],
            key_col,
            ts_col,
            set_cols=sorted(set_ids) or None,
            tok_col=tok[0] if tok is not None else None,
        )
        files: dict[str, list[dict[str, Any]]] = {}
        bucket_stats: list[dict[str, Any]] = []
        for d in sorted(bdirs, key=lambda d: int(d.split("=", 1)[1])):
            b = d.split("=", 1)[1]
            entries: list[dict[str, Any]] = []
            rows_b, lmins, lmaxs = 0, [], []
            for f in listing[d]:
                st = stats[os.path.join(out, d, f)]
                e: dict[str, Any] = {"path": os.path.join(commit_dir, d, f)}
                if st.get("key_min") is not None:
                    e["key_min"] = st["key_min"]
                    e["key_max"] = st["key_max"]
                if st.get("lsn_min") is not None:
                    e["lsn_min"] = int(st["lsn_min"])
                    e["lsn_max"] = int(st["lsn_max"])
                    lmins.append(e["lsn_min"])
                    lmaxs.append(e["lsn_max"])
                e["rows"] = int(st["rows"])
                if st.get("del_rows") is not None:
                    # tombstone-row count: with per-key row uniqueness
                    # (folded base pass / single delta), rows - del_rows
                    # is the file's LIVE state contribution — the stat
                    # behind metadata-only state_counts()
                    e["del_rows"] = int(st["del_rows"])
                if st.get("ts_min") is not None and ts_col_id is not None:
                    e["ts_min"] = int(st["ts_min"])
                    e["ts_max"] = int(st["ts_max"])
                    e["ts_id"] = ts_col_id  # column identity of the stats
                if ts_col_id is not None and st.get("ts_nulls") is not None:
                    # null-ts row count (tombstones ride as ts NULL):
                    # expire_rows may drop a file wholesale ONLY when this
                    # is recorded AND zero, and a ts_nulls == rows file
                    # (tombstone-only) is provably expiry-clean. Stamped
                    # even when min/max are absent (all-null files), under
                    # the same column-identity rule.
                    e["ts_nulls"] = int(st["ts_nulls"])
                    e.setdefault("ts_id", ts_col_id)
                sets = {
                    str(cid): st["set_" + c]
                    for c, cid in set_ids.items()
                    if st.get("set_" + c) is not None
                }
                if sets:
                    e["sets"] = sets
                if st.get("tok") is not None and tok is not None:
                    e["tok"] = dict(st["tok"], id=tok[1])
                rows_b += int(st["rows"])
                entries.append(e)
            files[b] = entries
            bucket_stats.append(
                {
                    "bucket": int(b),
                    "rows_merged": rows_b,
                    "lsn_min": min(lmins) if lmins else None,
                    "lsn_max": max(lmaxs) if lmaxs else None,
                    "n_files": len(entries),
                }
            )
        return files, bucket_stats

    #: file-count cutoff between driver-side and distributed work on
    #: data files, for both decisions: commit-path footer stats
    #: (``_file_stats``) and read-path file listing (session.py and
    #: ``_read_files`` pin Spark's
    #: spark.sql.sources.parallelPartitionDiscovery.threshold to it)
    STATS_DRIVER_THRESHOLD = 256
    #: much lower cutoff when content indexes are declared: those stats
    #: READ the indexed columns' data (decompress + tokenize + hash),
    #: which is column-bytes-bound, not footer-GET-bound. At toy epoch
    #: sizes the two paths are a wash (~0.3 s/commit of real column work
    #: either way — measured, tools/bench_contentprune.py); at real epoch
    #: sizes the serial driver loop would grow with column bytes while
    #: one distributed job stays flat, so distribution starts early
    CONTENT_DRIVER_THRESHOLD = 4

    @staticmethod
    def _footer_minmax(md, col: str) -> tuple[Any, Any]:
        """(min, max) of one column across a parquet file's row groups,
        from footer statistics only; (None, None) if absent."""
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        try:
            idx = names.index(col)
        except ValueError:
            return None, None
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is not None and st.has_min_max:
                lo, hi = st.min, st.max
                if isinstance(lo, bytes):
                    lo, hi = lo.decode(), hi.decode()
                mins.append(lo)
                maxs.append(hi)
        return (min(mins) if mins else None, max(maxs) if maxs else None)

    @staticmethod
    def _footer_nulls(md, col: str) -> int | None:
        """Total null count of one column across a parquet file's row
        groups from footer statistics; None when the column is absent or
        any row group lacks a null count (consumers must then assume
        nulls MAY exist — ``expire_rows`` treats such files as
        non-droppable)."""
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        try:
            idx = names.index(col)
        except ValueError:
            return None
        total = 0
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_null_count:
                return None
            total += st.null_count
        return total

    @staticmethod
    def _footer_dels(pf) -> int | None:
        """Exact tombstone count (``_deleted = true`` rows) of one data
        file; None when the column is absent (foreign parquet). Answered
        from footer boolean min/max wherever a row group is provably
        all-live (``max = false``) or all-tombstone (``min = true``);
        only MIXED row groups read the ``_deleted`` column itself — a
        boolean RLE column, ~rows/8 bytes before compression, riding the
        already-open file handle. This is what lets ``state_counts``
        answer live-row counts from the manifest alone on folded
        buckets: ``rows - del_rows`` is the bucket's live state when
        each key holds exactly one storage row."""
        md = pf.metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        try:
            idx = names.index("_deleted")
        except ValueError:
            return None
        total = 0
        mixed: list[int] = []
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            st = g.column(idx).statistics
            if st is not None and st.has_min_max:
                if st.max is False:
                    continue
                if st.min is True:
                    total += g.num_rows
                    continue
            mixed.append(rg)
        if mixed:
            import pyarrow.compute as pc

            for rg in mixed:
                col = pf.read_row_group(rg, columns=["_deleted"]).column(
                    "_deleted"
                )
                s = pc.sum(col.cast("int64")).as_py()
                total += int(s or 0)
        return total

    @classmethod
    def _ts_footer_or_scan(
        cls, pf: Any, ts_col: str
    ) -> tuple[int | None, int | None, int | None]:
        """``(ts_min_us, ts_max_us, ts_nulls)`` for one open parquet file.

        Footer statistics when present (the engine's own TIMESTAMP_MICROS
        files — free). When the footer carries NO usable ts stats — the
        signature of Spark's default ``INT96`` encoding, which writes no
        min/max at all (the round-4 foreign-session bug), or a
        stats-disabled third-party writer — RECOVER them from a bounded
        columnar read of JUST the ts column: proportional to one column's
        bytes for that file, paid once at commit/stat time, and it keeps
        the manifest zone-map contract (ts pruning, ``expire_rows``'s
        metadata-only drop, grid layouts) alive for data the pinned write
        path never touched. pyarrow decodes INT96 as naive UTC
        timestamps, which ``_ts_micros`` normalizes."""
        md = pf.metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        if ts_col not in names:
            return None, None, None
        lo, hi = cls._footer_minmax(md, ts_col)
        nulls = cls._footer_nulls(md, ts_col)
        if lo is not None:
            return cls._ts_micros(lo), cls._ts_micros(hi), nulls
        import pyarrow.compute as pc

        col = pf.read(columns=[ts_col]).column(ts_col)
        nulls = col.null_count
        if len(col) == nulls:
            return None, None, nulls
        mm = pc.min_max(col)
        return (
            cls._ts_micros(mm["min"].as_py()),
            cls._ts_micros(mm["max"].as_py()),
            nulls,
        )

    @staticmethod
    def _ts_micros(v: Any) -> int | None:
        """Normalize a footer timestamp statistic to epoch microseconds
        (UTC). Parquet TIMESTAMP_MICROS stats come back from pyarrow as
        tz-aware datetimes; naive values are UTC by the writer's contract
        (session TZ is pinned — session.py)."""
        if v is None:
            return None
        if isinstance(v, int):
            return v
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        return int(v.timestamp() * 1_000_000)

    @staticmethod
    def _content_stats(
        pf: Any,
        set_cols: list[str] | None,
        tok_col: str | None,
    ) -> dict[str, Any]:
        """Content-index stats for one open parquet file: per declared set
        column its capped distinct-value list (or None), and the token
        index of the declared token column (lake/content.py). Columns the
        file predates (schema evolution) yield nothing — their entries
        stay statless, i.e. always candidates."""
        import pyarrow.compute as pc

        out: dict[str, Any] = {}
        if not set_cols and tok_col is None:
            return out
        names = set(pf.schema_arrow.names)
        want = [c for c in (set_cols or []) if c in names]
        tc = tok_col if tok_col is not None and tok_col in names else None
        if not want and tc is None:
            return out
        tbl = pf.read(columns=want + ([tc] if tc and tc not in want else []))
        for c in want:
            vals = set(pc.unique(tbl.column(c)).to_pylist())
            vals.discard(None)
            if len(vals) <= content_index.SET_CAP:
                out["set_" + c] = sorted(vals)
        if tc is not None:
            # vectorized tokenize: lower + split on non-alnum runs yields
            # the same non-empty token set as content_index.tokenize
            flat = pc.list_flatten(
                pc.split_pattern_regex(
                    pc.utf8_lower(pc.drop_null(tbl.column(tc))),
                    content_index.TOKEN_SPLIT_SQL,
                )
            )
            toks = {t for t in pc.unique(flat).to_pylist() if t}
            idx = content_index.build_token_index(toks)
            if idx is not None:
                out["tok"] = idx
        return out

    def _file_stats(
        self,
        paths: list[str],
        key_col: str | None = None,
        ts_col: str | None = None,
        set_cols: list[str] | None = None,
        tok_col: str | None = None,
    ) -> dict[str, dict]:
        """PER-FILE (rows, lsn/key/ts min-max) from parquet footers, keyed
        by path. ``<= STATS_DRIVER_THRESHOLD`` files: read on the driver
        (sub-millisecond each on a local store, no job overhead). Above:
        a DISTRIBUTED footer read — only the path strings are shipped;
        executor tasks open the footers with pyarrow — so a large commit's
        stats cost is O(files) parallel footer GETs, never a row-data
        scan (the aggregate-pushdown alternative this replaced could not
        answer STRING min/max from statistics and silently degraded to
        scanning the whole key column). The executor fn is a CLOSURE,
        self-contained on purpose: workers don't have the package on
        their import path when the driver runs from a foreign cwd.

        ``set_cols`` / ``tok_col`` (declared content indexes,
        lake/content.py) are the one part footers cannot answer: each
        file's declared columns are READ — columnar, only those columns —
        to record the distinct-value set / token index in the manifest.
        That cost is opt-in (table props), proportional to the indexed
        columns' bytes, and rides the same driver-vs-distributed split as
        the footer pass.

        I/O layer honesty: like the rest of this table's commit path
        (manifest listing, sidecars), the opener is plain-filesystem —
        executors must see the table root (local disk here, NFS/alluxio
        alike). An object-store deployment swaps the closure's open for
        ``pyarrow.fs.FileSystem.from_uri`` — the SHAPE (parallelize
        paths, read footers, never rows) is the part that scales."""
        cutoff = (
            self.STATS_DRIVER_THRESHOLD
            if not set_cols and tok_col is None
            else self.CONTENT_DRIVER_THRESHOLD
        )
        if len(paths) <= cutoff:
            import pyarrow.parquet as pq

            out: dict[str, dict] = {}
            for p in paths:
                pf = pq.ParquetFile(self.fs.open_parquet(p))
                md = pf.metadata
                klo, khi = (
                    self._footer_minmax(md, key_col)
                    if key_col is not None
                    else (None, None)
                )
                tlo_us, thi_us, tnulls = (
                    self._ts_footer_or_scan(pf, ts_col)
                    if ts_col is not None
                    else (None, None, None)
                )
                lo, hi = self._footer_minmax(md, "_lsn")
                out[p] = {
                    "rows": md.num_rows,
                    "lsn_min": lo,
                    "lsn_max": hi,
                    "key_min": klo,
                    "key_max": khi,
                    "ts_min": tlo_us,
                    "ts_max": thi_us,
                    "ts_nulls": tnulls,
                    "del_rows": self._footer_dels(pf),
                    **self._content_stats(pf, set_cols, tok_col),
                }
            return out

        kc, tc = key_col, ts_col
        scols, tkc = list(set_cols or []), tok_col

        def footers(it):
            import base64
            import hashlib

            import pyarrow.compute as pc
            import pyarrow.parquet as pq
            from datetime import timezone

            # inlined lake/content.py constants + builders: the closure
            # must stay self-contained (workers may lack the package on
            # their import path). Geometry changes must be mirrored there.
            SET_CAP, TOKEN_EXACT_CAP, BLOOM_M, BLOOM_K, TOKEN_CAP = (
                64, 256, 16384, 4, 4096,
            )

            def token_idx(tokens):
                if len(tokens) > TOKEN_CAP:
                    return None
                if len(tokens) <= TOKEN_EXACT_CAP:
                    return {"s": sorted(tokens)}
                bits = bytearray(BLOOM_M // 8)
                for t in tokens:
                    d = hashlib.md5(t.encode("utf-8")).digest()
                    for i in range(BLOOM_K):
                        p = (
                            int.from_bytes(d[i * 4 : (i + 1) * 4], "big")
                            % BLOOM_M
                        )
                        bits[p >> 3] |= 1 << (p & 7)
                return {
                    "m": BLOOM_M,
                    "k": BLOOM_K,
                    "b": base64.b64encode(bytes(bits)).decode(),
                }

            def cstats(pf):
                out = {}
                if not scols and tkc is None:
                    return out
                names = set(pf.schema_arrow.names)
                want = [c for c in scols if c in names]
                tc2 = tkc if tkc is not None and tkc in names else None
                if not want and tc2 is None:
                    return out
                tbl = pf.read(
                    columns=want
                    + ([tc2] if tc2 and tc2 not in want else [])
                )
                for c in want:
                    vals = set(pc.unique(tbl.column(c)).to_pylist())
                    vals.discard(None)
                    if len(vals) <= SET_CAP:
                        out["set_" + c] = sorted(vals)
                if tc2 is not None:
                    flat = pc.list_flatten(
                        pc.split_pattern_regex(
                            pc.utf8_lower(pc.drop_null(tbl.column(tc2))),
                            "[^a-z0-9]+",
                        )
                    )
                    toks = {t for t in pc.unique(flat).to_pylist() if t}
                    idx = token_idx(toks)
                    if idx is not None:
                        out["tok"] = idx
                return out

            def mm(md, col):
                names = [
                    md.schema.column(i).name for i in range(md.num_columns)
                ]
                if col not in names:
                    return None, None
                idx = names.index(col)
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is not None and st.has_min_max:
                        lo, hi = st.min, st.max
                        if isinstance(lo, bytes):
                            lo, hi = lo.decode(), hi.decode()
                        mins.append(lo)
                        maxs.append(hi)
                return (min(mins) if mins else None, max(maxs) if maxs else None)

            def nn(md, col):
                # mirrors LakeTable._footer_nulls (closure must stay
                # self-contained): None unless every row group reports
                names = [
                    md.schema.column(i).name for i in range(md.num_columns)
                ]
                if col not in names:
                    return None
                idx = names.index(col)
                total = 0
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_null_count:
                        return None
                    total += st.null_count
                return total

            def us(v):
                if v is None or isinstance(v, int):
                    return v
                if v.tzinfo is None:
                    v = v.replace(tzinfo=timezone.utc)
                return int(v.timestamp() * 1_000_000)

            def tstats(pf, col):
                # mirrors LakeTable._ts_footer_or_scan (self-contained
                # closure): footer ts stats when present; a bounded
                # one-column read recovers them from INT96 / stats-less
                # files so foreign-written data keeps its zone maps
                md = pf.metadata
                names = [
                    md.schema.column(i).name for i in range(md.num_columns)
                ]
                if col not in names:
                    return None, None, None
                lo, hi = mm(md, col)
                nulls = nn(md, col)
                if lo is not None:
                    return us(lo), us(hi), nulls
                c = pf.read(columns=[col]).column(col)
                nulls = c.null_count
                if len(c) == nulls:
                    return None, None, nulls
                r = pc.min_max(c)
                return us(r["min"].as_py()), us(r["max"].as_py()), nulls

            def dels(pf):
                # mirrors LakeTable._footer_dels (self-contained closure)
                md = pf.metadata
                names = [
                    md.schema.column(i).name for i in range(md.num_columns)
                ]
                if "_deleted" not in names:
                    return None
                idx = names.index("_deleted")
                total, mixed = 0, []
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    st = g.column(idx).statistics
                    if st is not None and st.has_min_max:
                        if st.max is False:
                            continue
                        if st.min is True:
                            total += g.num_rows
                            continue
                    mixed.append(rg)
                for rg in mixed:
                    col = pf.read_row_group(
                        rg, columns=["_deleted"]
                    ).column("_deleted")
                    s = pc.sum(col.cast("int64")).as_py()
                    total += int(s or 0)
                return total

            def opener(p):
                # executor-side seam: object-store paths open through
                # pyarrow.fs (ranged GETs for the footer), local paths
                # stay plain so pyarrow memory-maps them. MemoryFS is
                # driver-process-only and never reaches this closure.
                if "://" in p[:12]:
                    import pyarrow.fs as pafs

                    f, inner = pafs.FileSystem.from_uri(p)
                    return f.open_input_file(inner)
                return p

            for p in it:
                pf = pq.ParquetFile(opener(p))
                md = pf.metadata
                lo, hi = mm(md, "_lsn")
                klo, khi = mm(md, kc) if kc is not None else (None, None)
                tlo, thi, tnul = (
                    tstats(pf, tc) if tc is not None else (None, None, None)
                )
                yield (
                    p, md.num_rows, lo, hi, klo, khi,
                    tlo, thi, tnul, dels(pf), cstats(pf),
                )

        sc = self.spark.sparkContext
        n_slices = min(len(paths), sc.defaultParallelism * 4)
        return {
            p: {
                "rows": rows,
                "lsn_min": lo,
                "lsn_max": hi,
                "key_min": klo,
                "key_max": khi,
                "ts_min": tlo,
                "ts_max": thi,
                "ts_nulls": tnul,
                "del_rows": dl,
                **cs,
            }
            for p, rows, lo, hi, klo, khi, tlo, thi, tnul, dl, cs in (
                sc.parallelize(paths, n_slices).mapPartitions(footers).collect()
            )
        }

    #: optimistic-concurrency retry bound — each retry is metadata-only
    #: (the batch's data files are already written and stay valid), so the
    #: cost of a lost race is one snapshot-JSON rebuild, not a re-merge
    MAX_COMMIT_ATTEMPTS = 16

    def _rebase_replace(
        self,
        new_files: dict[str, list[dict[str, Any]]],
        base_sid: int,
        parent: Snapshot,
    ) -> dict[str, list[dict[str, Any]]]:
        """Rebase a replace (compaction) commit computed against snapshot
        ``base_sid`` onto ``parent``: re-append, per covered bucket, every
        delta that merge commits in ``(base_sid, parent]`` added — those
        rows are NOT in our compacted base (it folded state as of
        ``base_sid``) and our replace would otherwise clobber them out of
        the file map. LWW read semantics make the result exact: the late
        deltas still override the compacted base by ``max(_lsn)``."""
        out = {b: list(es) for b, es in new_files.items()}
        for s in self.log.history():
            if s.snapshot_id <= base_sid or s.snapshot_id > parent.snapshot_id:
                continue
            if s.summary.get("operation") == "rollback":
                # the compacted base folded rows the rollback just
                # reverted — rebasing would resurrect them over the
                # rolled-back state. Unrecoverable here by construction;
                # the caller must recompute against the new current.
                raise CommitConflictError(
                    "table was rolled back while this replace commit was "
                    "in flight — recompute the compaction against the "
                    "rolled-back state"
                )
            if s.summary.get("operation") != "merge":
                continue  # a racing compaction folded rows we already have
            added = self.log.manifest_of(s.snapshot_id)
            if not added:
                continue
            for b, es in added.items():
                if b in out:
                    out[b].extend(dict(e) for e in es)
        return out

    def _next_commit(
        self,
        new_files: dict[str, list[dict[str, Any]]],
        schema: T.StructType,
        summary: dict[str, Any],
        commit_key: str | None,
        replace_buckets: bool,
        base_snapshot_id: int | None = None,
        props_update: dict[str, Any] | None = None,
        written_n_buckets: int | None = None,
    ) -> Snapshot | None:
        """Build and CAS-commit the next snapshot, retrying on commit
        conflicts (optimistic concurrency). Retries are metadata-only. On
        retry the commit is rebased onto the racer's snapshot: append
        commits just re-extend the new parent's file map (appends commute);
        replace commits re-attach late deltas via ``_rebase_replace``; the
        schema is unioned with the parent's so concurrent additive
        evolutions compose. Returns None iff a racer already applied this
        ``commit_key`` (cross-writer idempotency, same contract as the
        single-writer pre-check)."""
        last_exc: CommitConflictError | None = None
        for attempt in range(self.MAX_COMMIT_ATTEMPTS):
            parent = self.current()
            if commit_key is not None and parent.has_commit_key(commit_key):
                return None
            if (
                written_n_buckets is not None
                and parent.n_buckets != written_n_buckets
            ):
                # the delta files were bucket-clustered under a layout the
                # table no longer has (a rebucket or rollback raced this
                # commit) — attaching them would misroute point lookups.
                # Unrecoverable by rebasing: the batch must be rewritten.
                raise CommitConflictError(
                    f"bucket layout changed underneath this commit "
                    f"(written against {written_n_buckets} buckets, table "
                    f"now has {parent.n_buckets}) — recompute the batch"
                )
            target_schema = evolve_schema(
                parent.schema, schema,
                retired={n.lower() for n in parent.retired_names},
            )
            column_ids = dict(parent.column_ids)
            next_id = parent.next_column_id
            for f in target_schema.fields:
                if f.name not in column_ids:
                    column_ids[f.name] = next_id
                    next_id += 1
            sid = parent.snapshot_id + 1
            eff_files = new_files
            if (
                replace_buckets
                and base_snapshot_id is not None
                and parent.snapshot_id != base_snapshot_id
            ):
                eff_files = self._rebase_replace(new_files, base_snapshot_id, parent)
            # in-memory full map for this snapshot's readers (commit itself
            # only persists the delta manifest — O(batch) metadata/commit)
            files = {b: list(fs) for b, fs in parent.files.items()}
            for b, fs in eff_files.items():
                if replace_buckets:
                    files[b] = list(fs)
                else:
                    files.setdefault(b, []).extend(fs)
            if getattr(parent, "_legacy_inline_files", False):
                # upgrade commit atop a format-v1 snapshot (inline cumulative
                # file map, no manifests): persist the ENTIRE merged map as
                # one replace manifest so the manifest chain is self-
                # contained — without this, a restart would resolve only the
                # post-upgrade deltas and expire_snapshots would GC the
                # pre-upgrade data
                name = self._manifest_name(sid)
                manifests = [
                    {"path": name, "op": "replace", "buckets": sorted(files)}
                ]
                new_manifest = (name, files)
            else:
                if replace_buckets:
                    # a replace commit supersedes every parent manifest whose
                    # buckets it fully covers — the pruning that keeps the
                    # manifest list O(commits since last compaction)
                    covered = set(eff_files)
                    manifests = [
                        m
                        for m in parent.manifests
                        if not set(m["buckets"]) <= covered
                    ]
                else:
                    manifests = list(parent.manifests)
                new_manifest = None
                if eff_files:
                    name = self._manifest_name(sid)
                    manifests = manifests + [
                        {
                            "path": name,
                            "op": "replace" if replace_buckets else "append",
                            "buckets": sorted(eff_files),
                        }
                    ]
                    new_manifest = (name, eff_files)
            base, watermark, residual = fold_commit_keys(
                parent.epoch_base, parent.epoch_watermark, parent.commit_keys,
                commit_key,
            )
            # table properties fold forward; an update rides THIS commit
            # atomically (None value = delete the key)
            props = dict(parent.props)
            for pk, pv in (props_update or {}).items():
                if pv is None:
                    props.pop(pk, None)
                else:
                    props[pk] = pv
            if props_update and (
                {"index.sets", "index.tokens", "patch.columns",
                 "patch.sentinel"} & set(props_update)
            ):
                # validate at the one atomic choke point every props write
                # funnels through — a malformed declaration would otherwise
                # be SILENTLY skipped by _content_spec (no index ever
                # built, every read a full scan, nothing reported)
                self._validate_index_props(props, target_schema)
                bad_keys = set(props.get("patch.columns") or []) & set(
                    parent.key_cols
                )
                if bad_keys:
                    raise ValueError(
                        f"patch.columns cannot include key columns "
                        f"{sorted(bad_keys)}"
                    )
            snap = Snapshot(
                snapshot_id=sid,
                parent_id=parent.snapshot_id,
                schema_json=target_schema.jsonValue(),
                n_buckets=parent.n_buckets,
                key_cols=parent.key_cols,
                manifests=manifests,
                summary=dict(summary, committed_at_unix=time.time()),
                commit_keys=residual,
                epoch_watermark=watermark,
                epoch_base=base,
                commit_count=parent.commit_count + (commit_key is not None),
                column_ids=column_ids,
                prior_names={k: list(v) for k, v in parent.prior_names.items()},
                retired_names=list(parent.retired_names),
                next_column_id=next_id,
                props=props,
            )
            snap._files = files
            try:
                self.log.commit(snap, new_manifest=new_manifest)
                return snap
            except CommitConflictError as exc:
                last_exc = exc
                time.sleep(0.002 * (attempt + 1))  # tiny linear backoff
        raise CommitConflictError(
            f"gave up after {self.MAX_COMMIT_ATTEMPTS} commit attempts"
        ) from last_exc

    @staticmethod
    def _manifest_name(sid: int) -> str:
        """Per-attempt-unique manifest name: racers targeting the same
        snapshot id can never overwrite each other's manifest files."""
        return f"m{sid}-{uuid.uuid4().hex[:8]}.json"

    def merge(
        self,
        winners: DataFrame,
        commit_key: str | None = None,
        schema: T.StructType | None = None,
        summary: dict[str, Any] | None = None,
        summary_fn: Any = None,
        props_update: dict[str, Any] | None = None,
    ) -> Snapshot | None:
        """Apply one batch of per-key winning events (merge-on-read append).

        ``winners`` must be LWW-deduped already (one row per key) and carry
        the internal columns ``_lsn``/``_deleted`` plus the payload columns
        of ``schema`` (defaults to the table schema; pass a widened schema
        to evolve). Returns the committed snapshot, or None if ``commit_key``
        was already applied (idempotent replay — including by a concurrent
        writer detected at the commit CAS; the loser's delta files stay
        unreferenced and are GC'd by ``expire_snapshots``).

        ``summary_fn``, if given, is called after the data write and before
        the metadata commit with the total rows just written; its dict is
        folded into the snapshot summary — the hook for Observation-collected
        input metrics, so lineage commits atomically with the data it
        describes. The commit also records per-bucket lineage (rows merged,
        LSN range) collected task-side during the write.

        ``props_update`` updates table properties ATOMICALLY with this data
        commit (fold-forward map, see :class:`Snapshot`) — for derived
        state that must version in lockstep with the rows (e.g. an ANN
        index's quantizer committing with its reassignment epoch).
        """
        if commit_key is not None and self.has_commit_key(commit_key):
            return None
        write_layout = self.current().n_buckets
        new_files, summary = self._write_merge_delta(
            winners, schema, summary, summary_fn
        )
        return self._next_commit(
            new_files,
            schema or self.current().schema,
            dict(summary, operation="merge"),
            commit_key,
            replace_buckets=False,
            props_update=props_update,
            written_n_buckets=write_layout,
        )

    def overwrite(
        self,
        state: DataFrame,
        schema: T.StructType | None = None,
        summary: dict[str, Any] | None = None,
    ) -> Snapshot:
        """Replace the table's ENTIRE data state with ``state`` in one
        atomic commit — the bootstrap/backfill/repair primitive (a mirror's
        full rebuild, cdc/mirror.py, is the flagship caller). Reference
        analog: the clear-and-reload the reference performs on every run
        (/root/reference/scripts/load_data.py:119-131), here as ONE
        snapshot-isolated commit instead of a destructive TRUNCATE window.

        ``state`` must be resolved (at most one row per key) and carry
        ``_lsn`` plus the payload columns of ``schema`` (defaults to the
        current table schema — pass a different one to re-baseline it).
        ``_deleted`` rows are carried as tombstones when present (keep them:
        they guard late lower-LSN arrivals exactly as in ``compact``); the
        patch internals (``_plsn_{c}``/``_dlsn``) are carried when present
        and NULL-defaulted otherwise (a NULL per-column LSN reconstructs
        from ``_lsn`` at read time — the same pre-declaration rule the
        patch reads apply). ``read(include_internal=True,
        include_tombstones=True)`` of another table produces exactly this
        shape.

        Unlike ``merge`` this REPLACES every bucket's file list: keys
        absent from ``state`` are gone from the new snapshot. Pinned
        readers and time travel keep seeing prior snapshots (history is
        preserved, files expire via the normal GC). Because the new state
        is not expressible as a delta of the old, incremental consumers
        treat an overwrite like a rollback: ``changes()`` windows spanning
        it raise (``rollback_in_range`` flags both) and view refreshes fall
        back to a full rebuild. One full-row shuffle (the compaction
        exchange), one write, one metadata commit."""
        snap = self.current()
        target_schema = schema or snap.schema
        if "_lsn" not in state.columns:
            raise ValueError(
                "overwrite: state must carry _lsn (the per-row LWW "
                "position) — read(include_internal=True) preserves it"
            )
        kcol = snap.key_cols[0]
        df = state
        if "_deleted" not in df.columns:
            df = df.withColumn("_deleted", F.lit(False))
        internal = self._internal_fields_for(snap)
        for fld in internal:
            if fld.name not in df.columns and fld.name != "_bucket":
                df = df.withColumn(fld.name, F.lit(None).cast(fld.dataType))
        # always re-bucket under THIS table's layout (an incoming _bucket
        # column belongs to the source table's layout, which may differ)
        df = df.drop("_bucket").withColumn(
            "_bucket", bucket_expr(kcol, snap.n_buckets)
        )
        ordered = [f.name for f in target_schema.fields] + [
            f.name for f in internal
        ]
        df = self._fold_shuffle(
            df.select(*ordered), snap.n_buckets, tuple(snap.key_cols)
        )
        group = f"overwrite-{snap.snapshot_id + 1}-{uuid.uuid4().hex[:8]}"
        commit_dir = os.path.join("data", group)
        zcol = self._zone_ts_col(target_schema)
        raw, _lineage = self._write_data(
            df,
            commit_dir,
            key_col=kcol,
            ts_col=zcol,
            ts_col_id=snap.column_ids.get(zcol) if zcol else None,
            content=self._content_spec(snap),
        )
        new_files = {
            b: [
                dict(e, kind="base", lww_group=group, ts_k=1, key_k=1)
                for e in es
            ]
            for b, es in raw.items()
        }
        for b in range(snap.n_buckets):
            new_files.setdefault(str(b), [])
        out = self._next_commit(
            new_files,
            target_schema,
            dict(summary or {}, operation="overwrite"),
            commit_key=None,
            replace_buckets=True,
            base_snapshot_id=snap.snapshot_id,
        )
        assert out is not None  # no commit_key -> never the racer path
        return out

    @property
    def props(self) -> dict[str, Any]:
        """Current table properties (read-only copy)."""
        return dict(self.current().props)

    def update_props(
        self,
        updates: dict[str, Any],
        commit_key: str | None = None,
    ) -> Snapshot | None:
        """Metadata-only commit updating table properties (value None
        deletes a key). CAS-retried like every commit; pass ``commit_key``
        for exactly-once semantics (non-epoch keys live in the residual
        list — use sparingly, see the commit-key guidance)."""
        if commit_key is not None and self.has_commit_key(commit_key):
            return None
        return self._next_commit(
            {},
            self.current().schema,
            {"operation": "update-props", "keys": sorted(updates)},
            commit_key,
            replace_buckets=False,
            props_update=updates,
        )

    def set_comments(
        self,
        table_comment: str | None = None,
        column_comments: dict[str, str] | None = None,
    ) -> Snapshot | None:
        """Attach/replace human descriptions (a metadata-only commit):
        the reference's dictionary carries per-table and per-column
        COMMENTs end-to-end (obj_description/col_description,
        /root/reference/scripts/generate_postgres_dictionary.py:51,77;
        COMMENT DDL in /root/reference/dags/s3_to_snowflake_dag.py:54-55)
        — this is the lake-side equivalent the data dictionary renders.

        Column comments are stored keyed by the column's stable FIELD ID
        (``comment.cols`` prop), so a rename keeps its comment and a
        drop+re-add does not inherit the dead column's text. Passing a
        column comment of ``""`` clears it; ``table_comment=""`` clears
        the table comment. Unknown column names raise."""
        snap = self.current()
        updates: dict[str, Any] = {}
        if table_comment is not None:
            updates["comment.table"] = table_comment or None
        if column_comments:
            cols = dict(snap.props.get("comment.cols") or {})
            for name, text in column_comments.items():
                fid = snap.column_ids.get(name)
                if fid is None:
                    raise ValueError(
                        f"set_comments: no column {name!r} in the schema"
                    )
                if text:
                    cols[str(fid)] = text
                else:
                    cols.pop(str(fid), None)
            updates["comment.cols"] = cols or None
        if not updates:
            return None
        return self.update_props(updates)

    def comments(self, snap: Snapshot | None = None) -> dict[str, Any]:
        """``{"table": str|None, "columns": {name: comment}}`` resolved
        against ``snap``'s schema (default current) — field-id storage
        means renamed columns keep their comments automatically."""
        snap = snap if snap is not None else self.current()
        by_id = {
            int(k): v for k, v in (snap.props.get("comment.cols") or {}).items()
        }
        return {
            "table": snap.props.get("comment.table"),
            "columns": {
                f.name: by_id[snap.column_ids[f.name]]
                for f in snap.schema.fields
                if snap.column_ids.get(f.name) in by_id
            },
        }

    def rollback_in_range(
        self, since_snapshot_id: int, until_snapshot_id: int | None = None
    ) -> bool:
        """True iff a rollback or overwrite commit exists in
        ``(since, until-or-current]`` of the retained chain — the signal
        that an incremental window spanning it is NOT expressible as a
        delta (state was rewound or wholesale replaced, not advanced).
        ``changes()`` raises on it; the view refreshes fall back to a full
        rebuild. A closed window entirely before the rollback/overwrite
        stays clean (reproducible audit replays keep working)."""
        for s in self.log.history():
            if s.snapshot_id <= since_snapshot_id:
                continue
            if (
                until_snapshot_id is not None
                and s.snapshot_id > until_snapshot_id
            ):
                continue
            if s.summary.get("operation") in (
                "rollback",
                "overwrite",
                "expire_rows",
                "fast-forward",
            ):
                return True
        return False

    def rollback_to(
        self, snapshot_id: int | None = None, tag: str | None = None
    ) -> Snapshot:
        """Iceberg-style rollback: commit a NEW snapshot whose entire table
        descriptor — file map, schema, column ids, key columns, bucket
        count, table properties AND ingestion frontier (epoch watermark +
        commit keys) — equals the target snapshot's. O(metadata): no data
        file is read, copied or deleted. History is preserved: the
        rolled-back commits stay time-travelable until retention expires
        them, and snapshot ids keep advancing, so pinned readers are
        unaffected.

        Rewinding the FRONTIER is the CDC-native half: epochs committed
        after the target become un-applied again, so a corrected feed can
        replay them through the normal idempotent ``apply_batch`` path and
        the table reconverges exactly. ``next_column_id`` alone stays
        monotone across both eras, so schema evolution after a rollback can
        never re-mint a column id the abandoned era used.

        Incremental consumers: a ``changes()`` window SPANNING the rollback
        raises (the rolled-back merges' rows no longer describe state and
        would LWW-poison a downstream consumer) and the view refreshes
        detect it and rebuild fully; ``key_history()`` deliberately keeps
        showing the physical write history across rollbacks — it is the
        forensic tool for "what did the bad epoch write?".

        Operator action: quiesce ingestion first. A writer racing the
        rollback is still safe (its commit rebases or conflicts loudly via
        the layout guard), but its epoch lands in whichever era wins —
        rollback is for correcting history, not for concurrent use.

        The target must still be retained — ``tag()`` restore points to pin
        them against ``expire_snapshots``. Reference analog: the
        reference's only recovery story is re-running the full
        clear-and-reload (/root/reference/scripts/load_data.py:119-131);
        rollback restores the same truth without moving data."""
        if (snapshot_id is None) == (tag is None):
            raise ValueError("pass exactly one of snapshot_id / tag")
        if tag is not None:
            tags = self.log.tags()
            if tag not in tags:
                raise KeyError(f"unknown tag {tag!r}")
            snapshot_id = tags[tag]
        try:
            target = self.log.load(snapshot_id)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot {snapshot_id} is not retained (expired?) — "
                "tag restore points to pin them against expire_snapshots"
            ) from None
        # validate the target's manifests still resolve BEFORE committing
        # anything: a half-GC'd target must fail here, not at read time
        try:
            self.log.resolve_files(target.manifests)
        except FileNotFoundError as exc:
            raise ValueError(
                f"snapshot {snapshot_id} is no longer reconstructible "
                f"(manifest expired): {exc}"
            ) from None
        last_exc: CommitConflictError | None = None
        for attempt in range(self.MAX_COMMIT_ATTEMPTS):
            parent = self.current()
            if parent.snapshot_id == snapshot_id:
                return parent  # already the current state: no-op
            snap = Snapshot(
                snapshot_id=parent.snapshot_id + 1,
                parent_id=parent.snapshot_id,
                schema_json=target.schema_json,
                n_buckets=target.n_buckets,
                key_cols=list(target.key_cols),
                manifests=[dict(m) for m in target.manifests],
                summary={
                    "operation": "rollback",
                    "rollback_to": snapshot_id,
                    "rolled_back_from": parent.snapshot_id,
                    "committed_at_unix": time.time(),
                },
                commit_keys=list(target.commit_keys),
                epoch_watermark=target.epoch_watermark,
                epoch_base=target.epoch_base,
                commit_count=target.commit_count,
                column_ids=dict(target.column_ids),
                prior_names={
                    k: list(v) for k, v in target.prior_names.items()
                },
                retired_names=list(target.retired_names),
                next_column_id=max(
                    parent.next_column_id, target.next_column_id
                ),
                props=dict(target.props),
            )
            try:
                self.log.commit(snap)
                return snap
            except CommitConflictError as exc:
                last_exc = exc
                time.sleep(0.002 * (attempt + 1))
        raise CommitConflictError(
            f"gave up after {self.MAX_COMMIT_ATTEMPTS} commit attempts"
        ) from last_exc

    def _write_merge_delta(
        self,
        winners: DataFrame,
        schema: T.StructType | None,
        summary: dict[str, Any] | None,
        summary_fn: Any,
    ) -> tuple[dict[str, list[dict[str, Any]]], dict[str, Any]]:
        """The data-write half of ``merge``, shared with ``stage_merge``:
        bucket-cluster the winners, write one delta file per affected
        bucket, and return (bucket -> delta entries, summary with lineage
        folded in). No metadata is committed here."""
        snap = self.current()
        target_schema = schema or snap.schema
        kcol = snap.key_cols[0]
        ordered = [f.name for f in target_schema.fields] + [
            f.name for f in self._internal_fields_for(snap)
        ]
        if "_bucket" in winners.columns:
            # caller already bucket-partitioned (apply_batch fuses the dedup
            # and write shuffles) — write directly, no extra exchange
            df = winners.select(*ordered)
        else:
            df = winners.withColumn("_bucket", bucket_expr(kcol, snap.n_buckets))
            # co-locate each bucket in one task -> exactly one delta file per
            # affected bucket per commit (no small-file explosion across epochs)
            df = df.select(*ordered).repartition(F.col("_bucket"))
        # unique per attempt: a concurrent writer guessing the same next
        # snapshot id must never overwrite (mode=overwrite!) our data dir
        commit_dir = os.path.join(
            "data", f"commit-{snap.snapshot_id + 1}-{uuid.uuid4().hex[:8]}"
        )
        zcol = self._zone_ts_col(target_schema)
        raw, bucket_lineage = self._write_data(
            df,
            commit_dir,
            key_col=kcol,
            ts_col=zcol,
            # a zone column added by THIS commit's evolution has no id yet
            # (assigned in _next_commit): skip its stats for one commit
            ts_col_id=snap.column_ids.get(zcol) if zcol else None,
            content=self._content_spec(snap),
        )
        new_files = {b: [dict(e, kind="delta") for e in es] for b, es in raw.items()}
        total_rows = sum(b["rows_merged"] for b in bucket_lineage)
        extra = summary_fn(total_rows) if summary_fn is not None else {}
        return new_files, dict(
            summary or {}, **extra, bucket_lineage=bucket_lineage
        )

    # ------------------------------------------------------------------
    # staged commits (write-audit-publish)
    # ------------------------------------------------------------------
    def stage_merge(
        self,
        winners: DataFrame,
        name: str,
        commit_key: str | None = None,
        schema: T.StructType | None = None,
        summary: dict[str, Any] | None = None,
        summary_fn: Any = None,
    ) -> dict[str, Any] | None:
        """Write a merge batch WITHOUT publishing it — the write half of
        the write-audit-publish pattern (Iceberg WAP). The batch's delta
        files and manifest land on disk exactly as ``merge`` would write
        them, but the snapshot descriptor is a CAS-created sidecar
        (``_meta/staged-{name}.json``) outside the v-chain: no reader, view
        refresh, or changefeed can observe the rows until
        ``publish_staged(name)`` folds them in — so a data-quality gate can
        audit the batch (``read_staged``) against the live table first,
        and a failed audit is a metadata-cheap ``discard_staged``.

        Exactly-once composes with epochs: if ``commit_key`` is already
        applied this is a no-op returning None (same contract as ``merge``);
        the key is checked again at publish time, so stage→publish replayed
        end-to-end after a crash is still applied once. Publishing carries
        its own idempotency key even when ``commit_key`` is None.

        Returns the staged descriptor dict (also retrievable via
        ``staged()``). Raises if ``name`` is already staged — audit
        attempts must be distinguishable, not silently merged."""
        if commit_key is not None and self.has_commit_key(commit_key):
            return None
        if self.log.load_staged(name) is not None:
            raise ValueError(f"staged commit already exists: {name}")
        snap = self.current()
        target_schema = schema or snap.schema
        new_files, full_summary = self._write_merge_delta(
            winners, schema, summary, summary_fn
        )
        # the staged manifest uses the `stg-` name grammar: invisible to
        # list_manifests() (the v-chain manifest GC) and to readers
        mname = f"stg-{name}-{uuid.uuid4().hex[:8]}.json"
        self.log._atomic_write(
            self.log.manifest_path(mname), json.dumps({"files": new_files})
        )
        desc = {
            "name": name,
            "manifest": mname,
            "buckets": sorted(new_files),
            "schema": target_schema.jsonValue(),
            "summary": full_summary,
            "commit_key": commit_key,
            "publish_key": commit_key
            or f"stage-publish:{name}:{uuid.uuid4().hex[:8]}",
            "n_buckets": snap.n_buckets,
            "created_at_unix": time.time(),
        }
        if not self.log.write_staged(name, desc):
            self.log.delete_manifest(mname)
            raise ValueError(f"staged commit already exists: {name}")
        return desc

    def staged(self) -> dict[str, dict[str, Any]]:
        """name -> descriptor for every staged (unpublished) commit."""
        return self.log.staged_list()

    def read_staged(
        self,
        name: str,
        with_base: bool = False,
        include_internal: bool = False,
        include_tombstones: bool = False,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Audit view of a staged commit. ``with_base=False`` (default)
        returns just the staged batch's LWW-resolved rows — what a quality
        gate validates (counts, null rates, predicates). ``with_base=True``
        returns the table AS IT WOULD READ after publish (current files +
        staged delta, one LWW resolution), for invariants that need the
        merged state — without committing anything.

        ``columns`` pushes projection through the merged-preview LWW
        resolve exactly like ``read(columns=...)`` (keys are always kept):
        a merged-scope audit that checks two columns must not scan and
        shuffle the whole table width through the ``max(struct(...))``
        aggregate every epoch."""
        st = self.log.load_staged(name)
        if st is None:
            raise ValueError(f"no such staged commit: {name}")
        snap = self.current()
        staged_schema = T.StructType.fromJson(st["schema"])
        want = list(staged_schema.fields)
        entries = [
            e
            for es in self.log._load_manifest(st["manifest"]).values()
            for e in es
        ]
        if with_base:
            want = list(
                evolve_schema(
                    snap.schema, staged_schema,
                    retired={n.lower() for n in snap.retired_names},
                ).fields
            )
            entries = [
                e for es in snap.files.values() for e in es
            ] + entries
        if columns is not None:
            missing = set(columns) - {f.name for f in want}
            if missing:
                raise ValueError(f"unknown columns: {sorted(missing)}")
            keep = set(columns) | set(snap.key_cols)
            want = [f for f in want if f.name in keep]
        df = self._read_files(snap, entries, fields=want)
        if df is None:
            fields = want + (
                self._internal_fields_for(snap, [f.name for f in want])
                if include_internal
                else []
            )
            return self.spark.createDataFrame([], T.StructType(fields))
        if with_base:
            df = resolve_lww(df, snap.key_cols)
        # batch-only view: a staged commit holds per-key WINNERS by
        # stage_merge's contract (the same one merge() states — the
        # writer deduped before staging), so re-resolving LWW here would
        # spend a full-batch shuffle per audit to rediscover one row per
        # key. Skipping it keeps a batch-scope audit a narrow one-pass
        # scan — the difference between the gate costing O(delta-scan)
        # and O(delta-shuffle) on EVERY epoch (tools/bench_audit_gate.py
        # measured the shuffle as most of a 41% replay overhead).
        if not include_tombstones:
            df = df.filter(~F.col("_deleted"))
        if not include_internal:
            df = df.select(*[f.name for f in want])
        return df

    def publish_staged(
        self, name: str, extra_summary: dict[str, Any] | None = None
    ) -> Snapshot | None:
        """Atomically fold a staged commit into the table — the publish
        half of write-audit-publish. Metadata-only (the data files were
        written at stage time); goes through the same optimistic-CAS rebase
        loop as any merge, so publishes compose with concurrent merges and
        compactions (the staged delta appended after a racing compaction
        still resolves correctly under LWW — same argument as
        ``_rebase_replace``). Idempotent under the descriptor's publish
        key: re-publishing after a crash (or after the same epoch key was
        applied elsewhere) returns None and just cleans up. The staged
        descriptor and manifest are removed on success or no-op.
        ``extra_summary`` folds into the commit summary — e.g. the audit
        report that green-lit the publish, so PASSED gates are as
        inspectable in snapshot history as rejections."""
        st = self.log.load_staged(name)
        if st is None:
            raise ValueError(f"no such staged commit: {name}")
        parent = self.current()
        if parent.n_buckets != st["n_buckets"]:
            raise ValueError(
                f"staged commit {name} was written for n_buckets="
                f"{st['n_buckets']} but the table now has {parent.n_buckets}"
            )
        files = self.log._load_manifest(st["manifest"])
        snap = self._next_commit(
            {b: [dict(e) for e in es] for b, es in files.items()},
            T.StructType.fromJson(st["schema"]),
            dict(
                st["summary"],
                **(extra_summary or {}),
                operation="merge",
                operation_detail="publish-staged",
                staged_name=name,
            ),
            st["publish_key"],
            replace_buckets=False,
            written_n_buckets=st["n_buckets"],
        )
        self.log.delete_staged(name)
        self.log.delete_manifest(st["manifest"])
        return snap

    def discard_staged(self, name: str) -> dict[str, int]:
        """Reject a staged commit: delete its data files, manifest, and
        descriptor. Returns {deleted_files, freed_bytes}."""
        st = self.log.load_staged(name)
        if st is None:
            raise ValueError(f"no such staged commit: {name}")
        deleted = freed = 0
        try:
            files = self.log._load_manifest(st["manifest"])
        except FileNotFoundError:
            files = {}
        for es in files.values():
            for e in es:
                full = os.path.join(self.root, e["path"])
                try:
                    freed += self.fs.getsize(full)
                    self.fs.remove(full)
                    deleted += 1
                except FileNotFoundError:
                    pass
        self.log.delete_staged(name)
        self.log.delete_manifest(st["manifest"])
        return {"deleted_files": deleted, "freed_bytes": freed}

    def reject_staged(
        self,
        name: str,
        reason: str | None = None,
        quarantine: bool = True,
        extra_summary: dict[str, Any] | None = None,
    ) -> Snapshot | None:
        """Reject a staged commit AS A RECORDED DECISION — the audit-failed
        sibling of :meth:`publish_staged`. Unlike ``discard_staged`` (which
        deletes the batch and leaves the epoch unapplied, for "fix the feed
        and re-apply" flows), reject folds an EMPTY commit under the staged
        descriptor's publish key: the epoch becomes APPLIED-AS-REJECTED
        exactly once — replaying it is a no-op, the rejection (with
        ``reason``) is inspectable in snapshot history, and a cross-table
        frontier can still advance past the epoch instead of stalling
        forever on a quarantined table. No reader sees the rows: the commit
        references zero files and the table schema is unchanged (a rejected
        batch must not schema-evolve the table either).

        The batch's data files move to ``_quarantine/{name}/`` under the
        table root — outside ``data/``, so snapshot GC never touches them —
        for inspection and manual backfill; ``quarantine=False`` deletes
        them instead. Idempotent like publish: if the publish key is
        already folded (crash between the reject commit and cleanup, or a
        racer), returns None and just cleans up.

        Ordering matters: the reject COMMITS FIRST and only then touches
        the data files. The inverse order would let a racing
        ``publish_staged`` — metadata-only, referencing the same
        ``data/`` paths — win the publish-key CAS while this call has
        already moved its files out from under the published snapshot;
        and a crash mid-move would strand the descriptor pointing at
        half-moved files, breaking the audit lifecycle's resume-at-audit
        contract. Committing first makes a lost CAS decidable from
        history: a ``publish-staged`` winner means the files are LIVE
        (leave them; clean up metadata only), an ``audit-reject`` winner
        (our own crashed earlier attempt) means finish its quarantine."""
        st = self.log.load_staged(name)
        if st is None:
            raise ValueError(f"no such staged commit: {name}")
        # lineage keys only (epoch, observed rows/LSN range) — NOT
        # bucket_lineage, whose file entries would imply rows this commit
        # does not add
        lineage = {
            k: st["summary"].get(k)
            for k in ("epoch", "rows_in", "lsn_min", "lsn_max")
            if k in st["summary"]
        }
        qroot = os.path.join(self.root, "_quarantine", name)
        snap = self._next_commit(
            {},
            self.current().schema,
            dict(
                lineage,
                **(extra_summary or {}),
                operation="audit-reject",
                staged_name=name,
                reject_reason=reason,
                quarantine_path=(os.path.relpath(qroot, self.root)
                                 if quarantine else None),
            ),
            st["publish_key"],
            replace_buckets=False,
        )
        if snap is None:
            # lost the publish-key CAS (or resuming a crashed attempt):
            # decide from history what happened to the staged files
            ours = any(
                s.summary.get("staged_name") == name
                and s.summary.get("operation") == "audit-reject"
                for s in self.snapshots()
            )
            if not ours:
                # a publish (or a plain apply of the same epoch elsewhere)
                # folded the key — the files are live or orphaned-for-GC;
                # either way they are not ours to move. Metadata only.
                self.log.delete_staged(name)
                self.log.delete_manifest(st["manifest"])
                return None
        try:
            files = self.log._load_manifest(st["manifest"])
        except FileNotFoundError:
            files = {}
        data_root = os.path.join(self.root, "data")
        for es in files.values():
            for e in es:
                full = os.path.join(self.root, e["path"])
                try:
                    if quarantine:
                        dest = os.path.join(
                            qroot, os.path.relpath(full, data_root)
                        )
                        os.makedirs(os.path.dirname(dest), exist_ok=True)
                        os.replace(full, dest)
                    else:
                        os.remove(full)
                except FileNotFoundError:
                    pass  # already quarantined/deleted by a crashed attempt
        self.log.delete_staged(name)
        self.log.delete_manifest(st["manifest"])
        return snap

    def quarantined(self) -> dict[str, dict[str, Any]]:
        """The table's dead-letter queue: name -> info for every
        quarantined (audit-rejected) batch still on disk under
        ``_quarantine/``. Enriched from snapshot history when the reject
        commit is still retained: the rejecting snapshot id, reason,
        origin epoch, and whether a reprocess has already re-admitted the
        batch (``reprocessed=True`` means only the cleanup is pending —
        see :func:`cdc.apply.reprocess_quarantined`)."""
        qroot = os.path.join(self.root, "_quarantine")
        out: dict[str, dict[str, Any]] = {}
        if not os.path.isdir(qroot):
            return out
        rejects = {
            s.summary.get("staged_name"): s
            for s in self.snapshots()
            if s.summary.get("operation") == "audit-reject"
        }
        for name in sorted(os.listdir(qroot)):
            d = os.path.join(qroot, name)
            if not os.path.isdir(d):
                continue
            nbytes = 0
            nfiles = 0
            for dp, _s, fs in os.walk(d):
                for f in fs:
                    try:  # a concurrent reprocess cleanup may race the walk
                        nbytes += os.path.getsize(os.path.join(dp, f))
                        nfiles += 1
                    except FileNotFoundError:
                        pass
            snap = rejects.get(name)
            # the reprocess identity is bound to the LATEST reject for the
            # name (cdc/apply.py::reprocess_quarantined): a reused staged
            # name never aliases an older batch's reprocess commit
            key = (
                f"reprocess:{name}@s{snap.snapshot_id}"
                if snap is not None
                else f"reprocess:{name}"
            )
            info: dict[str, Any] = {
                "path": d,
                "n_files": nfiles,
                "bytes": nbytes,
                "reprocessed": self.has_commit_key(key),
            }
            if snap is not None:
                info["rejected_snapshot_id"] = snap.snapshot_id
                info["reject_reason"] = snap.summary.get("reject_reason")
                info["epoch"] = snap.summary.get("epoch")
            out[name] = info
        return out

    def expire_quarantine(
        self, older_than_seconds: float = 7 * 24 * 3600.0
    ) -> dict[str, int]:
        """Dead-letter retention: delete quarantined batches that nobody is
        coming back for. A batch is eligible when (a) its reprocess commit
        already landed and only the cleanup is pending (crashed
        ``reprocess_quarantined`` / ``keep_quarantine=True`` leftovers —
        age-independent, the data is live), or (b) it is older than
        ``older_than_seconds``, aged from its reject commit's timestamp
        when that snapshot is still retained, else from the newest file
        mtime. Deliberately NOT folded into ``expire_snapshots``: a
        quarantine is operator evidence awaiting a decision, so its
        retention is an explicit separate policy. Returns counts."""
        now = time.time()
        out = {"expired_batches": 0, "deleted_files": 0, "freed_bytes": 0}
        for name, info in self.quarantined().items():
            if info.get("reprocessed"):
                eligible = True
            else:
                ts = None
                sid = info.get("rejected_snapshot_id")
                if sid is not None:
                    try:
                        ts = self.log.load(sid).summary.get("committed_at_unix")
                    except FileNotFoundError:
                        ts = None
                if ts is None:
                    mtimes = [
                        os.path.getmtime(os.path.join(dp, f))
                        for dp, _s, fs in os.walk(info["path"])
                        for f in fs
                    ]
                    # an empty dir is a stale artifact: treat as ancient
                    ts = max(mtimes) if mtimes else 0.0
                eligible = (now - ts) >= older_than_seconds
            if not eligible:
                continue
            out["expired_batches"] += 1
            out["deleted_files"] += info["n_files"]
            out["freed_bytes"] += info["bytes"]
            shutil.rmtree(info["path"], ignore_errors=True)
        return out

    @classmethod
    def rebucket(
        cls,
        spark: SparkSession,
        source: "LakeTable",
        dst_root: str,
        n_buckets: int,
    ) -> "LakeTable":
        """Re-bucket the table into a new root with a different bucket
        count — the answer to "32 buckets were right at launch; the table
        is 100× bigger now".

        One distributed shuffle rewrites the full state (per-row ``_lsn``
        and tombstones carried verbatim, so late lower-LSN events stay
        dead), and the source's exactly-once state (epoch watermark +
        residual commit keys) is adopted by the new table — the CDC
        stream simply points at the new root and resumes: already-applied
        epochs skip, new epochs apply. The source is left untouched for
        cutover/rollback; retire it with its own retention policy.

        This is deliberately an explicit rewrite, not Iceberg-style
        mixed-spec partition evolution: with hash buckets every row moves
        anyway, and one clean rewrite keeps every reader's pruning model
        (bucket = pmod(hash(key), N) under ONE N) trivially true."""
        snap = source.current()
        dst = cls.create(
            spark, dst_root, snap.schema, tuple(snap.key_cols),
            n_buckets=n_buckets,
        )
        rows = source.read(
            include_internal=True, include_tombstones=True
        ).drop("_bucket")  # recomputed under the new bucket count by merge
        committed = dst.merge(
            rows,
            summary={
                "operation_detail": "rebucket",
                "source_root": source.root,
                "source_snapshot": snap.snapshot_id,
            },
        )
        assert committed is not None
        dst._adopt_key_state(snap)
        return dst

    def _adopt_key_state(self, src_snap: Snapshot) -> None:
        """Metadata-only commit copying another snapshot's exactly-once
        state (epoch watermark/base, residual keys, commit count) — the
        rebucket cutover primitive."""
        for _ in range(self.MAX_COMMIT_ATTEMPTS):
            parent = self.current()
            snap = Snapshot(
                snapshot_id=parent.snapshot_id + 1,
                parent_id=parent.snapshot_id,
                schema_json=parent.schema_json,
                n_buckets=parent.n_buckets,
                key_cols=parent.key_cols,
                manifests=list(parent.manifests),
                summary={"operation": "adopt-keys",
                         "committed_at_unix": time.time()},
                commit_keys=list(src_snap.commit_keys),
                epoch_watermark=src_snap.epoch_watermark,
                epoch_base=src_snap.epoch_base,
                commit_count=src_snap.commit_count,
                column_ids=dict(parent.column_ids),
                prior_names={k: list(v) for k, v in parent.prior_names.items()},
                retired_names=list(parent.retired_names),
                next_column_id=parent.next_column_id,
                props=dict(parent.props),
            )
            snap._files = {b: list(fs) for b, fs in parent.files.items()}
            try:
                self.log.commit(snap)
                return
            except CommitConflictError:
                continue
        raise CommitConflictError("could not adopt key state")

    def expire_rows(
        self,
        before: datetime,
        summary: dict[str, Any] | None = None,
    ) -> Snapshot | None:
        """Event-time retention: remove from the CURRENT state every live
        row whose zone timestamp is older than ``before`` — the data-expiry
        half of a retention policy (``expire_snapshots`` is the metadata/
        history half; run it after to reclaim the dropped files' bytes).

        Cost model (the reason this is not ``read().filter().overwrite()``):
        keys are bucket-local and compaction slices are key-disjoint within
        a pass, so expiry decides PER FILE from manifest zone stats —

        - a bucket whose every file has ``ts_max < before`` drops
          METADATA-ONLY (any layout: every version of every key is
          pre-cutoff, so every winner is too);
        - in a fully-folded single-pass bucket (ts/grid-clustered layouts),
          individual slices with ``ts_max < before`` drop metadata-only —
          each key lives in exactly one slice, so a dropped slice holds
          the dropped keys' winners and nothing else;
        - only files actually STRADDLING the cutoff are read: in a
          single-pass bucket the straddling slices alone are re-filtered
          (dead siblings still drop metadata-only, clean siblings are
          kept untouched — keys are slice-local, so no cross-slice LWW
          exists); a bucket with unfolded deltas or mixed passes takes a
          full LWW fold. Both paths keep rows with ``ts >= before`` or
          ``ts IS NULL`` and share one write job.

        Expiry is EVENT-TIME-UNIFORM: every row — live version or
        tombstone (tombstones carry their delete event's ts) — ages out
        by its event time, and null-event-time rows never expire. So a
        delete newer than the cutoff keeps guarding late lower-LSN
        arrivals, while a pre-cutoff delete retires with its era — the
        same contract as Kafka compaction's ``delete.retention.ms``.

        On a time-clustered table with retention ≫ expiry cadence, almost
        all expired bytes leave without being read — at 100 TB that is
        the difference between a metadata commit and a table-sized job.
        A file drop is only taken when its manifest entry records
        ``ts_nulls == 0`` (null-ts rows — e.g. tombstones from feeds
        that null the payload, or ``delete_keys`` erasures — cannot be
        aged by a zone map and must survive via the rewrite path);
        entries from before the ``ts_nulls`` stat conservatively
        rewrite. Rewritten buckets land as a plain unsliced base — an
        explicit ``compact(ts_slices=...)`` restores their clustering;
        untouched siblings keep theirs (layout preservation is per
        bucket).

        CONSUMER CONTRACT: expiry changes state without a changefeed
        delta, so the commit is a BARRIER like ``overwrite`` —
        ``changes()`` windows spanning it raise, incremental views detect
        it and rebuild, mirrors re-baseline. The retention caveat is the
        standard one (Kafka compaction's ``delete.retention.ms``,
        Iceberg's data expiry): events older than ``before`` delivered
        AFTER the expiry re-enter until the next cadence run; within-
        window late arrivals and deletes keep exact LWW semantics.

        Rejected on partial-update tables: per-column patch resolution
        needs every storage row of a key, and the winner-timestamp rule
        itself is ambiguous when ``ts`` is a patch column.

        Returns the committed snapshot, or None when nothing expired.
        Reference analog: the reference keeps only the latest full reload
        per table (scripts/load_data.py truncate) — all-or-nothing
        retention; this is the row-level version with the same end state.
        """
        snap = self.current()
        if self._patch_spec(snap) is not None:
            raise ValueError(
                "expire_rows is unsound on partial-update tables "
                "(patch.columns declared): winner-timestamp expiry needs "
                "whole-row LWW resolution"
            )
        zcol = self._zone_ts_col(snap.schema)
        if zcol is None:
            raise ValueError("expire_rows: schema has no timestamp column")
        zid = snap.column_ids.get(zcol)
        cutoff_us = self._ts_micros(before)

        def dead(e: dict[str, Any]) -> bool:
            return (
                _ts_usable(e, zid)
                and e["ts_max"] < cutoff_us
                and e.get("ts_nulls") == 0
            )

        def clean(e: dict[str, Any]) -> bool:
            # no pre-cutoff LIVE rows; null-ts rows (tombstones, or live
            # rows with no event time — which never expire) are fine. A
            # file with NO ts min/max is clean iff it is provably all
            # null-ts (ts_nulls == rows under the current column
            # identity); otherwise it must take the rewrite path.
            if _ts_usable(e, zid):
                return e["ts_min"] >= cutoff_us
            return (
                zid is not None
                and e.get("ts_id") == zid
                and e.get("ts_nulls") is not None
                and e.get("rows") is not None
                and e["ts_nulls"] == e["rows"]
            )

        new_files: dict[str, list[dict[str, Any]]] = {}
        #: one-pass buckets: bucket -> (clean entries kept as-is,
        #: straddling entries to read+filter — keys are slice-local, so
        #: the clean/dead siblings never need opening and no LWW
        #: resolution is required across them
        slice_rw: dict[str, tuple[list, list]] = {}
        #: multi-group / delta-bearing buckets: full fold + LWW resolve
        full_rw: list[int] = []
        files_dropped = 0
        buckets_dropped = 0
        slices_rewritten = 0
        for b, fs in snap.files.items():
            if not fs:
                continue
            if all(dead(e) for e in fs):
                new_files[b] = []
                buckets_dropped += 1
                files_dropped += len(fs)
                continue
            if self._one_pass(fs):
                kept = [e for e in fs if not dead(e)]
                strad = [e for e in kept if not clean(e)]
                files_dropped += len(fs) - len(kept)
                if not strad:
                    if len(kept) < len(fs):
                        # pure slice-level metadata drop
                        new_files[b] = kept
                    continue
                slices_rewritten += len(strad)
                slice_rw[b] = (
                    [e for e in kept if clean(e)],
                    strad,
                )
            else:
                if all(clean(e) for e in fs):
                    continue  # nothing pre-cutoff in this bucket
                full_rw.append(int(b))
        if slice_rw or full_rw:
            keep = (
                F.col(zcol).isNull()
                | (
                    F.unix_micros(F.col(zcol).cast("timestamp"))
                    >= F.lit(cutoff_us)
                )
            )
            frames = []
            if full_rw:
                frames.append(
                    self.read(
                        include_internal=True,
                        include_tombstones=True,
                        buckets=full_rw,
                    ).filter(keep)
                )
            if slice_rw:
                raw_df = self._read_files(
                    snap,
                    [e for _kept, strad in slice_rw.values() for e in strad],
                )
                assert raw_df is not None
                frames.append(raw_df.filter(keep))
            df = frames[0]
            for f2 in frames[1:]:
                df = df.unionByName(f2)
            n_rw = len(full_rw) + len(slice_rw)
            df = self._fold_shuffle(df, n_rw, snap.key_cols)
            group = f"expire-{snap.snapshot_id + 1}-{uuid.uuid4().hex[:8]}"
            commit_dir = os.path.join("data", group)
            raw, _stats = self._write_data(
                df,
                commit_dir,
                key_col=snap.key_cols[0],
                ts_col=zcol,
                ts_col_id=zid,
                content=self._content_spec(snap),
            )
            for b, es in raw.items():
                fresh = [dict(e, kind="base", lww_group=group) for e in es]
                if b in slice_rw:
                    new_files[b] = slice_rw[b][0] + fresh
                else:
                    new_files[b] = fresh
            for b in full_rw:  # a fully-expired rewrite bucket empties
                new_files.setdefault(str(b), [])
            for b, (kept_clean, _strad) in slice_rw.items():
                new_files.setdefault(b, kept_clean)
        if not new_files:
            return None
        out = self._next_commit(
            new_files,
            snap.schema,
            dict(
                summary or {},
                operation="expire_rows",
                cutoff_us=cutoff_us,
                buckets_dropped=buckets_dropped,
                files_dropped=files_dropped,
                buckets_rewritten=len(full_rw) + len(slice_rw),
                slices_rewritten=slices_rewritten,
            ),
            commit_key=None,
            replace_buckets=True,
            base_snapshot_id=snap.snapshot_id,
        )
        assert out is not None  # no commit_key -> never the racer-applied path
        return out

    def delete_keys(
        self,
        keys: DataFrame,
        summary: dict[str, Any] | None = None,
    ) -> Snapshot | None:
        """Targeted key erasure ("right to be forgotten"): tombstone every
        live row whose key appears in ``keys`` (a DataFrame carrying the
        table's key columns; extra columns ignored). Each delete is minted
        at ``winner_lsn + 1``, so it beats the current version and any
        late re-delivery of it, while genuinely-newer feed events still
        win — CDC semantics preserved. The read is bucket/key-pruned
        (``semi_keys``), so cost is O(probed keys' buckets), not O(table).

        Physical erasure is the documented three-step:
        ``delete_keys`` (logical, immediate) → ``compact()`` (drops the
        dead versions from current files) → ``expire_snapshots`` (drops
        the historical files). Patch tables are supported — the tombstone
        carries ``_dlsn = lsn`` with NULL per-column set-LSNs, killing
        every older patch value without resurrection.

        Naturally idempotent: keys already deleted (or never present) have
        no live winner, so a re-run is a no-op returning None. Emits
        ordinary changefeed deletes — incremental views, mirrors and SCD2
        history stay exact (unlike ``expire_rows``, which is a barrier)."""
        snap = self.current()
        missing = set(snap.key_cols) - set(keys.columns)
        if missing:
            raise ValueError(
                f"delete_keys: keys frame lacks key columns {sorted(missing)}"
            )
        keys_only = keys.select(*snap.key_cols).dropDuplicates(
            list(snap.key_cols)
        )
        cur = self.read(semi_keys=keys_only, include_internal=True)
        sel: list[F.Column] = [F.col(c) for c in snap.key_cols]
        for f in snap.schema.fields:
            if f.name not in snap.key_cols:
                sel.append(F.lit(None).cast(f.dataType).alias(f.name))
        winners = cur.select(
            *sel,
            (F.col("_lsn") + 1).alias("_lsn"),
            F.lit(True).alias("_deleted"),
        )
        patch = self._patch_spec(snap)
        if patch is not None:
            for c in patch[0]:
                winners = winners.withColumn(
                    f"_plsn_{c}", F.lit(None).cast("long")
                )
            winners = winners.withColumn("_dlsn", F.col("_lsn"))
        if winners.isEmpty():
            return None
        return self.merge(
            winners,
            summary=dict(summary or {}, operation_detail="delete_keys"),
        )

    def expire_snapshots(
        self,
        keep_last: int = 3,
        older_than_unix: float | None = None,
        orphan_grace_seconds: float = 600.0,
    ) -> dict[str, int]:
        """Retention: drop snapshot metadata older than the last
        ``keep_last`` commits and physically delete data files no kept
        snapshot references (orphans from expired commits + compacted-away
        deltas + conflict-loser writes). With ``older_than_unix`` set
        (Iceberg's expire-by-age), only snapshots committed BEFORE that
        time are eligible — recent history survives even beyond
        ``keep_last``. Kept snapshots remain fully readable (time travel +
        ``changes()``).

        Multi-writer safety: a concurrent committer's files are
        snapshot-unreferenced between its data/manifest writes and its CAS
        — indistinguishable from orphans by reference-counting alone. So
        unreferenced files younger than ``orphan_grace_seconds`` are left
        alone (Iceberg's orphan-file retention threshold, same reasoning);
        a grace period far above any commit's write-to-CAS window makes
        the race impossible in practice. Returns counts: expired
        snapshots, deleted files, freed bytes."""
        now = time.time()
        snaps = self.snapshots()
        if keep_last < 1 or len(snaps) <= keep_last:
            return {"expired_snapshots": 0, "deleted_files": 0, "freed_bytes": 0}
        keep, expired = snaps[-keep_last:], snaps[:-keep_last]
        if older_than_unix is not None:
            young = [
                s for s in expired
                if s.summary.get("committed_at_unix", 0.0) >= older_than_unix
            ]
            keep = young + keep
            expired = [s for s in expired if s not in young]
        # tagged snapshots are pinned: a tag is a durable restore point, so
        # it (and everything it references) survives any retention policy —
        # including snapshots DETACHED from the parent chain by an earlier
        # expiry (history() can no longer reach them; load by id can)
        tagged = set(self.log.tags().values())
        expired = [s for s in expired if s.snapshot_id not in tagged]
        keep_ids = {s.snapshot_id for s in keep}
        for tid in tagged - keep_ids:
            try:
                keep.append(self.log.load(tid))
                keep_ids.add(tid)
            except FileNotFoundError:
                pass  # tag points past the GC horizon of a pre-tag expiry
        # detached, untagged snapshots (tag dropped after an expiry cut
        # them out of the chain) are unreachable garbage: expire them too.
        # Same in-flight grace as data files: a snapshot file YOUNGER than
        # the window may be a commit that CAS-landed after we read the
        # chain — deleting it would destroy a just-committed table state.
        chain_ids = {s.snapshot_id for s in snaps}
        detached = []
        for sid in self.log.list_snapshot_ids():
            if sid in keep_ids or sid in chain_ids:
                continue
            try:
                age = now - os.path.getmtime(self.log._snap_path(sid))
            except FileNotFoundError:
                continue
            if age >= orphan_grace_seconds:
                detached.append(sid)
        if not expired and not detached:
            return {"expired_snapshots": 0, "deleted_files": 0,
                    "freed_bytes": 0}
        root_abs = os.path.abspath(self.root)
        referenced = set()
        for s in keep:
            for es in s.files.values():
                for e in es:
                    p = e["path"]
                    referenced.add(p)
                    # an absolute reference INTO this root (a fast-forward
                    # adopted a branch entry, or a clone chain looped back)
                    # must also count under its relative form — the GC walk
                    # below compares relative paths
                    if os.path.isabs(p) and p.startswith(root_abs + os.sep):
                        referenced.add(os.path.relpath(p, root_abs))
        # staged (write-audit-publish) commits are pinned like tags: their
        # data files are referenced only by the staged sidecar, never by a
        # kept snapshot — without this, any audit window longer than the
        # orphan grace would see its staged batch GC'd out from under it.
        # Cleanup of rejected batches is explicit (discard_staged).
        for st in self.log.staged_list().values():
            try:
                m = self.log._load_manifest(st["manifest"])
            except FileNotFoundError:
                continue  # concurrently published/discarded mid-scan
            referenced |= {e["path"] for es in m.values() for e in es}
        data_root = os.path.join(self.root, "data")
        deleted = freed = 0
        for full in list(self.fs.walk_files(data_root)):
            rel = os.path.relpath(full, self.root)
            if full.endswith(".parquet") and rel not in referenced:
                if now - self.fs.getmtime(full) < orphan_grace_seconds:
                    continue  # possibly an in-flight commit's write
                freed += self.fs.getsize(full)
                self.fs.remove(full)
                deleted += 1
        self.fs.remove_empty_dirs(data_root)
        for s in expired:
            self.log.delete_snapshot(s.snapshot_id)
        for sid in detached:
            self.log.delete_snapshot(sid)
        # manifest GC: a manifest written by an expired commit stays alive
        # as long as any KEPT snapshot's manifest list points at it; young
        # unreferenced manifests get the same in-flight-commit grace
        live_manifests = {m["path"] for s in keep for m in s.manifests}
        for name in self.log.list_manifests():
            if name not in live_manifests:
                try:
                    age = now - os.path.getmtime(self.log.manifest_path(name))
                except FileNotFoundError:
                    continue
                if age >= orphan_grace_seconds:
                    self.log.delete_manifest(name)
        return {
            "expired_snapshots": len(expired) + len(detached),
            "deleted_files": deleted,
            "freed_bytes": freed,
        }

    def fsck(
        self, deep: bool = False, snapshot_id: int | None = None
    ) -> dict[str, Any]:
        """Offline invariant check (``lake/fsck.py``): snapshot chain,
        manifest-vs-filesystem, property declarations; ``deep=True`` adds
        footer-vs-manifest stat drift (pruning soundness), per-row bucket
        honesty and LSN-tie scans — all without collecting row data.
        Returns a report dict; ``ok`` is False on any error."""
        from postgres_to_snowflake_data_pipeline_spark.lake.fsck import fsck as _fsck

        return _fsck(self, deep=deep, snapshot_id=snapshot_id)

    def bucket_file_counts(self) -> dict[int, int]:
        """Per-bucket FILE-EQUIVALENT counts — the read-amplification
        measure. O(metadata): consults the in-memory file map only, no
        storage listing.

        A compaction pass's time slices (same ``lww_group``) count as ONE
        file-equivalent: the measure bounds amplification from unfolded
        deltas, not from the table's chosen time clustering — otherwise a
        ts-sliced steady state would either permanently exceed any bound
        (useless trigger every batch) or consume it (deltas never
        trigger). The single source of this counting rule — the compaction
        trigger and the soak gates both read it."""
        counts: dict[int, int] = {}
        for b, fs in self.current().files.items():
            n, seen = 0, set()
            for e in fs:
                g = e.get("lww_group")
                if e.get("kind") == "base" and g is not None:
                    if g not in seen:
                        seen.add(g)
                        n += 1
                else:
                    n += 1
            counts[int(b)] = n
        return counts

    def buckets_needing_compaction(self, max_files: int) -> list[int]:
        """Buckets whose file-equivalent count (``bucket_file_counts``)
        exceeds ``max_files`` — the read-amplification trigger."""
        return sorted(
            b for b, n in self.bucket_file_counts().items() if n > max_files
        )

    def compact(
        self,
        buckets: list[int] | None = None,
        ts_slices: int | None = None,
        key_slices: int | None = None,
    ) -> Snapshot:
        """Fold delta files into per-bucket base files (copy-on-write).

        Resolves LWW per key across base+delta, keeps tombstones (they guard
        against late lower-LSN arrivals), sorts within buckets by key for
        locality, and replaces the affected buckets' file lists.

        ``ts_slices > 1`` additionally TIME-CLUSTERS the output: each
        bucket's resolved rows are split at event-time quantiles into up to
        ``ts_slices`` base files with disjoint ts ranges, so the manifest
        zone maps stay selective for ``read(ts_prune=...)`` AFTER
        compaction (a single base file per bucket spans the table's whole
        time range and can never be skipped). All slices of one pass share
        an ``lww_group`` token recording that each key appears in at most
        ONE of them — read pruning (``_plan_scan``'s ``_lww_retain``) uses
        that to skip same-pass siblings outside the window without the
        lsn-floor re-add — plus a ``ts_k`` field recording the pass's
        slicing policy. The trade-off
        is point-lookup fan-out: a key's bucket now holds up to
        ``ts_slices`` files whose key ranges all span the bucket (time
        slicing is orthogonal to key order), so ``read_key`` opens up to
        ``ts_slices`` files instead of one.

        ``key_slices > 1`` is the second layout axis — KEY-CLUSTERED
        output: each bucket's resolved rows are split at bucketing-key
        quantiles (dense rank over ``key_cols[0]``, so one key never
        straddles two files) into up to ``key_slices`` base files with
        DISJOINT key ranges. The manifest's existing per-file key stats
        then prune a point lookup to exactly ONE file — ``read_key`` on a
        key-clustered bucket opens 1/key_slices of the bucket's bytes —
        while file sizes stay bounded as buckets grow (at 100 TB a
        4096-bucket table otherwise folds into ~24 GB single files). The
        trade-off mirrors time clustering: every slice spans the bucket's
        whole ts range, so ``read(ts_prune=...)`` cannot skip within the
        bucket.

        The two axes are independent. Both > 1 is the GRID layout for
        MIXED read workloads — the slice grid a Z-order curve degenerates
        to at file granularity: each key band is cut at the pass's
        event-time quantiles, producing up to ``key_slices × ts_slices``
        files whose manifest entries carry TIGHT ranges on BOTH axes. A
        point lookup opens one key band (= ``1/key_slices`` of the
        bucket's bytes, fanned across its ts slices); a time window opens
        one ts band per key band (= ``~1/ts_slices`` of the bytes).
        Neither axis gets the single-axis layout's optimum, but neither
        gets its pathology — the trade-off table is measured in BENCH.md
        §6f. Pick the axes per table from its read mix.

        ``ts_slices=None and key_slices=None`` (default) PRESERVES the
        table's existing clustering PER BUCKET — each bucket's effective
        k per axis is the max ``ts_k`` / ``key_k`` its current base
        entries carry — so a default-args maintenance ``compact()`` (e.g.
        ``replay_feed``'s cadence) never silently un-slices a clustered
        table, and a table whose buckets sit on DIFFERENT layouts (a
        partial explicit rewrite) folds each layout group separately
        instead of wedging the cadence. An EXPLICIT slicing arg is a
        COMPLETE layout request: it sets BOTH axes (an unnamed one to 1),
        and buckets folded at a different layout are rewritten. Explicit
        time clustering (``ts_slices > 1``) on a schema with no
        timestamp column raises (mirroring ``read(ts_prune=...)``)."""
        snap = self.current()
        zcol = self._zone_ts_col(snap.schema)
        if ts_slices is not None or key_slices is not None:
            # explicit layout request: both axes pinned
            want_k = max(int(ts_slices or 1), 1)
            want_kk = max(int(key_slices or 1), 1)
            if want_k > 1 and zcol is None:
                raise ValueError(
                    "compact: time clustering requested but the schema has "
                    "no timestamp column to cluster by"
                )
        else:
            # preserve the existing clustering PER BUCKET (partial explicit
            # rewrites may have left buckets on different layouts — a mixed
            # table must not wedge the unattended maintenance cadence, so
            # each group folds at its own layout via recursion)
            layouts: dict[str, tuple[int, int] | None] = {}
            pool: list[tuple[int, int]] = []
            for b, fs in snap.files.items():
                if not fs:
                    continue
                if buckets is None or int(b) in buckets:
                    layouts[b] = self._bucket_layout(fs, zcol)
                else:
                    lay = self._bucket_layout(fs, zcol)
                    if lay is not None:
                        pool.append(lay)
            pool += [lay for lay in layouts.values() if lay is not None]
            # a bucket with no base files yet (fresh data hashed into a
            # previously-empty bucket: deltas only) has no layout of its
            # own — it INHERITS the table's dominant known layout, so the
            # first maintenance fold clusters it like its siblings instead
            # of permanently stamping it (1, 1)
            default_lay = (
                max(set(pool), key=lambda l: (pool.count(l), l))
                if pool
                else (1, 1)
            )
            layouts = {
                b: (lay if lay is not None else default_lay)
                for b, lay in layouts.items()
            }
            scoped = set(layouts.values())
            if len(scoped) > 1:
                out_snap = snap
                for k, kk in sorted(scoped):
                    bs = [
                        int(b) for b, lay in layouts.items() if lay == (k, kk)
                    ]
                    out_snap = self.compact(
                        buckets=bs, ts_slices=k, key_slices=kk
                    )
                return out_snap
            want_k, want_kk = next(iter(scoped), (1, 1))
        todo = []
        for b, fs in snap.files.items():
            if buckets is not None and int(b) not in buckets:
                continue
            if not fs:
                continue
            # a bucket is folded AT THE REQUESTED k when all its files are
            # one pass's slices (or a lone base) sliced at k — without
            # this, a ts-sliced bucket would be pointlessly rewritten every
            # compact(), and an explicit re-slice request (different k)
            # would silently no-op
            folded = (
                self._one_pass(fs)
                and {e.get("ts_k", 1) for e in fs} == {want_k}
                and {e.get("key_k", 1) for e in fs} == {want_kk}
            )
            if not folded:
                todo.append(int(b))
        if not todo:
            return snap
        df = self.read(include_internal=True, include_tombstones=True, buckets=todo)
        # _bucket is DERIVED state — recompute it from the key instead of
        # trusting what the files carry, so a row misplaced by a caller
        # lying to merge()'s trusted ``_bucket`` fast path (the documented
        # foot-gun; lake/fsck.py detects it) folds back to its honest
        # bucket. For honest tables this is a no-op on the same column
        # the shuffle hashes anyway.
        df = df.withColumn(
            "_bucket", bucket_expr(snap.key_cols[0], snap.n_buckets)
        )
        df = self._fold_shuffle(df, len(todo), snap.key_cols)
        group = f"compact-{snap.snapshot_id + 1}-{uuid.uuid4().hex[:8]}"
        commit_dir = os.path.join("data", group)
        stat_kwargs = dict(
            key_col=snap.key_cols[0],
            ts_col=zcol,
            ts_col_id=snap.column_ids.get(zcol) if zcol else None,
            content=self._content_spec(snap),
        )
        if want_k > 1 or want_kk > 1:
            # ONE write partitioned by (slice, bucket). Slice index =
            # key_band * ts_bands + ts_band: key bands come from the dense
            # rank (one key never straddles bands), ts bands from the
            # pass's event-time quantiles (null ts rides band 0). Entries
            # are collected per slice subdir, so each file carries tight
            # stats on both axes with the stats machinery unchanged. An
            # axis at 1 costs nothing: no window, no quantile job.
            ksl, helper = F.lit(0), []
            if want_kk > 1:
                df, ksl, helper = self._key_slice_frame(
                    df, snap.key_cols[0], want_kk
                )
            bounds: list[float] = []
            if want_k > 1:
                us = F.unix_micros(F.col(zcol).cast("timestamp"))
                df = df.withColumn("_us", us.cast("double")).persist()
                helper = helper + ["_us"]
            try:
                if want_k > 1:
                    probs = [i / want_k for i in range(1, want_k)]
                    bounds = sorted(
                        set(df.stat.approxQuantile("_us", probs, 0.001))
                    )
                tsl = F.lit(0)
                for i, bnd in enumerate(bounds):
                    # null _us: the comparison is null -> otherwise -> 0
                    tsl = F.when(
                        F.col("_us") >= F.lit(bnd), F.lit(i + 1)
                    ).otherwise(tsl)
                sl = (ksl.cast("long") * (len(bounds) + 1) + tsl).cast("int")
                raw = self._write_sliced(
                    df, sl, helper, commit_dir,
                    want_kk * (len(bounds) + 1), stat_kwargs,
                )
            finally:
                if want_k > 1:
                    df.unpersist()
        else:
            raw, _stats = self._write_data(df, commit_dir, **stat_kwargs)
        new_files = {
            b: [
                dict(e, kind="base", lww_group=group, ts_k=want_k,
                     key_k=want_kk)
                for e in es
            ]
            for b, es in raw.items()
        }
        for b in todo:  # buckets whose rows were all... always rewritten
            new_files.setdefault(str(b), [])
        # bucket repair can re-home rows into buckets OUTSIDE this pass's
        # rewrite set; those APPEND to the destination's existing list as
        # DELTA entries (replacing the list would drop rows this pass
        # never read, and a second base file would skip read-time LWW —
        # the `has_delta` gate is what makes the destination resolve the
        # old-vs-rehomed versions; the next maintenance compact folds the
        # bucket into one base because the delta puts it in `todo`)
        todo_set = {str(b) for b in todo}
        for b in list(new_files):
            if b not in todo_set:
                rehomed = [
                    dict(
                        {
                            k: v
                            for k, v in e.items()
                            if k not in ("lww_group", "ts_k", "key_k")
                        },
                        kind="delta",
                    )
                    for e in new_files[b]
                ]
                new_files[b] = list(snap.files.get(b, ())) + rehomed
        out = self._next_commit(
            new_files,
            snap.schema,
            {"operation": "compact", "buckets": todo},
            commit_key=None,
            replace_buckets=True,
            base_snapshot_id=snap.snapshot_id,
        )
        assert out is not None  # no commit_key -> never the racer-applied path
        return out

    @staticmethod
    def _fold_shuffle(
        df: DataFrame, n_todo: int, key_cols: tuple[str, ...]
    ) -> DataFrame:
        """The compaction shuffle: hash-distribute by ``_bucket`` and sort
        each partition by (bucket, key...) — the ONE exchange every fold
        layout (plain or sliced on either axis) reuses."""
        return df.repartition(max(n_todo // 4, 1), "_bucket").sortWithinPartitions(
            "_bucket", *key_cols
        )

    @staticmethod
    def _key_slice_frame(
        df: DataFrame, key0: str, key_slices: int
    ) -> tuple[DataFrame, F.Column, list[str]]:
        """KEY-MAJOR slice index over ``_fold_shuffle``'s output: the
        slice is the key's dense rank within the bucket scaled to
        ``key_slices`` — every row of one key gets the same slice (ranges
        are DISJOINT, a point lookup opens exactly one file). Both
        windows reuse the fold shuffle's hash distribution and
        (bucket, key) sort — no extra exchange, pinned by
        tests/test_key_clustering.py composing THESE two methods.
        ``dense_rank`` is 32-bit: the rank is cast to long before the
        multiply, or ANSI mode would throw at ~2^31/key_slices distinct
        keys per bucket (reachable at the 4096-bucket / 100 TB sizing
        this layout exists for). Returns (frame, slice_col, helper cols
        to drop before the write)."""
        dr = F.dense_rank().over(Window.partitionBy("_bucket").orderBy(key0))
        df = df.withColumn("_dr", dr).withColumn(
            "_nd", F.max("_dr").over(Window.partitionBy("_bucket"))
        )
        sl = F.floor(
            (F.col("_dr").cast("long") - 1) * key_slices / F.col("_nd")
        ).cast("int")
        return df, sl, ["_dr", "_nd"]

    @staticmethod
    def _one_pass(fs: list[dict[str, Any]]) -> bool:
        """A bucket's entries are ONE fold's output: all ``kind='base'``,
        and either a lone file or every file sharing one non-null
        ``lww_group`` (one compaction pass's slices). Each key then holds
        exactly one storage row in the bucket and no read-time LWW is
        needed across its files."""
        groups = {e.get("lww_group") for e in fs}
        return all(e.get("kind") == "base" for e in fs) and (
            len(fs) == 1 or (len(groups) == 1 and None not in groups)
        )

    @staticmethod
    def _bucket_layout(
        fs: list[dict[str, Any]], zcol: str | None
    ) -> tuple[int, int] | None:
        """One bucket's preserved ``(ts_k, key_k)`` layout from its base
        entries' manifest fields; entries from before the ``ts_k`` field
        fall back to counting same-pass siblings. Both axes > 1 is the
        GRID layout (one pass stamps both fields). ``None`` means the
        bucket has NO base files (never folded — deltas only), i.e. no
        layout of its own: the caller inherits the table's dominant
        layout rather than stamping (1, 1). A dropped zone column
        collapses the ts axis to 1 — the layout cannot be maintained and
        tagging unsliced files with the old k would make the manifest
        lie."""
        k, kk = 1, 1
        any_base = False
        for e in fs:
            if e.get("kind") != "base":
                continue
            any_base = True
            if "key_k" in e:
                kk = max(kk, int(e["key_k"]))
            if "ts_k" in e:
                k = max(k, int(e["ts_k"]))
            elif e.get("lww_group") is not None:
                sibs = sum(
                    1 for x in fs if x.get("lww_group") == e["lww_group"]
                )
                k = max(k, sibs)
        if not any_base:
            return None
        if zcol is None:
            k = 1
        return k, kk

    def _write_sliced(
        self,
        df: DataFrame,
        slice_col: F.Column,
        drop_cols: list[str],
        commit_dir: str,
        n_slices: int,
        stat_kwargs: dict[str, Any],
    ) -> dict[str, list[dict[str, Any]]]:
        """The sliced-compaction write: ONE job partitioned by (slice,
        bucket), then per-bucket manifest entries collected per slice
        subdir (``_sdir=i/_bdir=b``) so each carries THAT slice's
        key/ts/lsn stats — the stats machinery is unchanged. Missing
        subdirs (empty slices: duplicate quantile bounds, fewer distinct
        keys than slices) are skipped."""
        out = os.path.join(self.root, commit_dir)
        with _pinned_conf(self.spark, _PARQUET_TS_CONF, _PARQUET_TS_PINNED):
            (
                df.withColumn("_sdir", slice_col)
                .drop(*drop_cols)
                .withColumn("_bdir", F.col("_bucket"))
                .write.partitionBy("_sdir", "_bdir")
                .mode("overwrite")
                .parquet(out)
            )
        raw: dict[str, list[dict[str, Any]]] = {}
        for i in range(n_slices):
            sub = f"_sdir={i}"
            if not os.path.isdir(os.path.join(out, sub)):
                continue
            r_i, _ = self._collect_entries(
                os.path.join(out, sub),
                os.path.join(commit_dir, sub),
                **stat_kwargs,
            )
            for b, es in r_i.items():
                raw.setdefault(b, []).extend(es)
        return raw
