"""Declarative multi-source pipeline configuration and runner.

The Spark-first analog of the reference's Variables-driven multi-database
DAG (/root/reference/dags/data_pipeline_variables_dag.py:33-45,79-149 and
the per-table fan-out in /root/reference/scripts/load_data.py:49-64): a
JSON-serializable spec names the sources, destination tables, maintained
views, and exports; ``Pipeline.run_epoch`` executes one epoch as

    source reads → tagged union → routed multi-table apply (exactly-once
    per (table, epoch)) → cross-table frontier marker → view refreshes →
    snapshot exports

Where the reference resolves ``Variable.get(...)`` per task, config values
here interpolate ``${ENV_VAR}`` / ``${ENV_VAR:default}`` from the process
environment at load time — same externalized-credentials contract, no
scheduler dependency. Airflow's parallel ``task.expand`` over databases
maps to Spark's own parallelism: the per-source reads are lazy scans
unioned into ONE routed apply, so a 5-source epoch costs one shuffle per
destination table, not five sequential jobs (the feed is persisted once —
see cdc/multi.py).

Everything the runner calls is the already-tested engine surface
(sources/feed.py, sources/files.py, cdc/multi.py, lake/delta_view.py,
lake/view.py, sinks.py); this module adds only the declarative wiring.

At 100 TB: the spec is metadata (bytes); the epoch's work is the same
single-pass routed apply regardless of how many sources feed it, and
per-(table, epoch) commit keys make a crashed epoch resumable by simply
re-running it (only the unapplied tables do work).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from postgres_to_snowflake_data_pipeline_spark.cdc.apply import StagedAudit
from postgres_to_snowflake_data_pipeline_spark.cdc.multi import (
    TABLE_COL,
    MultiApplyResult,
    apply_multi_table,
)
from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import ORDER_COL
from postgres_to_snowflake_data_pipeline_spark.lake.delta_view import DeltaAggView
from postgres_to_snowflake_data_pipeline_spark.lake.metadata import epoch_of
from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable
from postgres_to_snowflake_data_pipeline_spark.lake.view import IncrementalAggView
from postgres_to_snowflake_data_pipeline_spark.sinks import (
    export_partitioned_snapshot,
)
from postgres_to_snowflake_data_pipeline_spark.sources.feed import (
    jdbc_changefeed,
    read_feed_batch,
    read_feed_stream,
)
from postgres_to_snowflake_data_pipeline_spark.sources.files import read_csv_table

_VAR = re.compile(r"\$\{([A-Za-z_][A-Za-z0-9_]*)(?::([^}]*))?\}")


def interpolate(value: Any) -> Any:
    """Resolve ``${ENV}`` / ``${ENV:default}`` in strings, recursively
    through dicts/lists — the Variables.get(name, default_var=...) analog
    (data_pipeline_variables_dag.py:38,66-76). Unset without a default is
    a loud error: a silently-empty credential is how the reference's jobs
    fail three tasks later.

    A value that is ENTIRELY one template is typed by its INLINE DEFAULT
    LITERAL: ``"${PORT:5432}"`` -> int, ``"${DROP_MALFORMED:false}"`` ->
    bool — and an env override is coerced to that same declared type
    (otherwise ``DROP_MALFORMED=false`` in the environment would arrive as
    the truthy string ``"false"`` and silently flip reader behavior). A
    template with NO default (or a string-typed default) keeps the env
    value as a string verbatim — a digit-only password or an ``1e5``-shaped
    path must never be retyped to int/float just because it parses as JSON.
    An env override that cannot be read as the declared bool/number type is
    a loud error, consistent with the unset-without-default case."""
    if isinstance(value, str):
        whole = _VAR.fullmatch(value)
        if whole is not None:
            name, default = whole.group(1), whole.group(2)
            env = os.environ.get(name)
            if env is None and default is None:
                raise KeyError(
                    f"config references ${{{name}}} but it is not "
                    "set and has no default"
                )
            declared: Any = None
            if default is not None:
                try:
                    declared = json.loads(default)
                except ValueError:
                    declared = default  # string-typed default
            if env is None:
                return declared
            if isinstance(declared, bool):
                low = env.strip().lower()
                if low in ("true", "false"):
                    return low == "true"
                raise ValueError(
                    f"${{{name}}} declares a boolean default {default!r} "
                    f"but the environment holds {env!r}"
                )
            if isinstance(declared, (int, float)):
                try:
                    got = json.loads(env)
                except ValueError:
                    got = None
                if isinstance(got, (int, float)) and not isinstance(got, bool):
                    return got
                raise ValueError(
                    f"${{{name}}} declares a numeric default {default!r} "
                    f"but the environment holds {env!r}"
                )
            return env

        def sub(m: re.Match) -> str:
            name, default = m.group(1), m.group(2)
            got = os.environ.get(name, default)
            if got is None:
                raise KeyError(
                    f"config references ${{{name}}} but it is not set and "
                    "has no default"
                )
            return got

        return _VAR.sub(sub, value)
    if isinstance(value, dict):
        return {k: interpolate(v) for k, v in value.items()}
    if isinstance(value, list):
        return [interpolate(v) for v in value]
    return value


# ---------------------------------------------------------------------------
# Spec dataclasses — all JSON round-trippable
# ---------------------------------------------------------------------------

#: source kinds -> required option keys (validated at load, not mid-epoch)
_SOURCE_KINDS = {
    "parquet_feed": {"path"},
    "csv": {"path", "schema_ddl"},
    "jdbc": {"url", "dbtable"},
    "dataframe": set(),  # injected per-run (tests, notebook handoff)
}


@dataclass(frozen=True)
class SourceSpec:
    """One change-feed source.

    ``table``: fixed destination table — rows get tagged with it; omit it
    when the feed already carries a ``_table`` routing column (the WAL
    case). ``options['path']``/``options['dbtable']`` may contain
    ``{epoch}``, formatted per run — the reference's templated per-run
    data dirs (data_pipeline_variables_dag.py:38-43).

    ``csv`` sources are SNAPSHOT loads (the reference's seed CSVs,
    load_data.py:153-155): rows become inserts at a constant
    ``options['lsn']`` (default 0) — one version per key, so the constant
    LSN is total-order enough and needs no global row numbering."""

    name: str
    kind: str
    table: str | None = None
    options: dict[str, Any] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.kind not in _SOURCE_KINDS:
            raise ValueError(
                f"source {self.name!r}: unknown kind {self.kind!r} "
                f"(one of {sorted(_SOURCE_KINDS)})"
            )
        missing = _SOURCE_KINDS[self.kind] - set(self.options)
        if missing:
            raise ValueError(
                f"source {self.name!r} ({self.kind}): missing options {sorted(missing)}"
            )

    def read(self, spark: SparkSession, epoch: int) -> DataFrame:
        opt = dict(self.options)
        if self.kind == "parquet_feed":
            df = read_feed_batch(spark, opt["path"].format(epoch=epoch))
        elif self.kind == "csv":
            df = read_csv_table(
                spark,
                opt["path"].format(epoch=epoch),
                T.StructType.fromDDL(opt["schema_ddl"]),
                drop_malformed=opt.get("drop_malformed", True),
            )
            df = df.withColumn("op", F.lit("insert")).withColumn(
                ORDER_COL, F.lit(int(opt.get("lsn", 0))).cast("long")
            )
        elif self.kind == "jdbc":
            df = jdbc_changefeed(
                spark,
                url=opt.pop("url"),
                dbtable=opt.pop("dbtable").format(epoch=epoch),
                **{
                    k: v
                    for k, v in opt.items()
                    if k
                    in (
                        "lsn_column", "lower_bound", "upper_bound",
                        "num_partitions", "fetch_size", "properties",
                    )
                },
            )
        else:  # dataframe — must be injected via run_epoch(feeds=...)
            raise ValueError(
                f"source {self.name!r} is kind 'dataframe': pass it via "
                "run_epoch(feeds={name: df})"
            )
        if self.table is not None:
            df = df.withColumn(TABLE_COL, F.lit(self.table))
        elif TABLE_COL not in df.columns:
            raise ValueError(
                f"source {self.name!r} has no fixed table and the feed "
                f"carries no {TABLE_COL!r} column"
            )
        return df


#: the layout axes compact() accepts from a TableSpec, validated at load
_LAYOUT_KEYS = ("ts_slices", "key_slices")


@dataclass(frozen=True)
class TableSpec:
    """One destination lake table. ``schema_ddl`` is optional: when absent
    the schema is derived from the first epoch's feed (event columns minus
    op/lsn/_table), the reference's create-from-seed behavior.

    Maintenance policy (round 4c — without one, a long-running declarative
    pipeline accumulates delta files unboundedly): ``compact_every`` folds
    the table every N epochs; ``compact_max_files`` additionally folds
    just the buckets whose file count exceeded the bound (the
    read-amplification guard when batch sizes vary). ``layout`` pins the
    fold's clustering on one or both axes — ``{"ts_slices": k}``,
    ``{"key_slices": k}`` or both (the grid; see ``LakeTable.compact``);
    an unnamed axis is 1. Omitted, each fold PRESERVES whatever layout
    the table already has. Compaction is idempotent under streaming
    re-delivery: a replayed epoch's fold finds the buckets already folded
    at the layout and no-ops."""

    name: str
    key_cols: tuple[str, ...]
    n_buckets: int = 16
    schema_ddl: str | None = None
    compact_every: int = 0
    compact_max_files: int = 0
    layout: dict[str, Any] | None = None
    #: content indexes (lake/content.py), e.g. {"sets": ["tool"],
    #: "tokens": "text"} — reconciled into the table's props on every
    #: Pipeline construction (declarative: the spec owns the declaration,
    #: the table's commit-time validation owns the type checks)
    indexes: dict[str, Any] | None = None
    #: partial-update (TOAST-aware) merge engine, e.g. {"columns":
    #: ["text"], "sentinel": "__unchanged__"} (sentinel optional) —
    #: reconciled into the table's ``patch.columns``/``patch.sentinel``
    #: props the same way; deep validation (string-typed columns, not a
    #: key) happens at the table's commit choke point
    patch: dict[str, Any] | None = None

    def __post_init__(self) -> None:
        if not self.key_cols:
            raise ValueError(f"table {self.name!r}: key_cols must be non-empty")
        if self.indexes is not None:
            bad = set(self.indexes) - {"sets", "tokens"}
            if bad:
                raise ValueError(
                    f"table {self.name!r}: indexes accepts only "
                    f"'sets'/'tokens', got {sorted(bad)}"
                )
        if self.patch is not None:
            bad = set(self.patch) - {"columns", "sentinel"}
            if bad or not self.patch.get("columns"):
                raise ValueError(
                    f"table {self.name!r}: patch accepts 'columns' "
                    f"(non-empty) and optional 'sentinel', got "
                    f"{sorted(self.patch)}"
                )
        if self.layout is not None:
            bad = set(self.layout) - set(_LAYOUT_KEYS)
            if bad or not self.layout:
                raise ValueError(
                    f"table {self.name!r}: layout must name one or both of "
                    f"{_LAYOUT_KEYS}, got {sorted(self.layout)}"
                )
            if not (self.compact_every or self.compact_max_files):
                raise ValueError(
                    f"table {self.name!r}: layout without compact_every/"
                    "compact_max_files would never be applied"
                )


@dataclass(frozen=True)
class ViewSpec:
    """A maintained aggregate view over one table.

    kind='delta'      -> DeltaAggView: ``measures`` maps view column ->
                         ["sum"|"count"|"avg"|"var"|"stddev"|"min"|"max"|
                         "approx_distinct"|"approx_p{1..99}", expr]
                         (count expr may be "*"); approx_p{N} maintains a
                         retractable log-binned histogram (integer-valued
                         expressions, ±6.25% — lake/delta_view.py);
                         min/max/approx_distinct require ``append_only:
                         true`` (no retraction rule on updating sources);
                         avg/var/stddev are moment-decomposed and work on
                         updating sources.
    kind='incremental'-> IncrementalAggView: ``aggs`` maps view column ->
                         SQL aggregate expression (arbitrary aggregates,
                         dirty-group recompute).
    kind='join'       -> IncrementalJoinView: ``table`` is the fact (left)
                         side, ``right_table`` the dim side; ``on_cols``
                         must be a subset of the left key and exactly the
                         right key (lake/join_view.py's fact⋈dim
                         contract); ``how`` 'inner'|'left'; ``left_cols``/
                         ``right_cols`` select carried payload columns.
                         ``group_cols`` must be empty (a join view is
                         keyed by the left table's key).

    Measure ops are validated here — at spec LOAD — so a typo'd op or a
    min/max without append_only fails before any epoch runs, not after
    the tables have already committed."""

    name: str
    table: str
    group_cols: tuple[str, ...] = ()
    kind: str = "delta"
    measures: dict[str, tuple[str, str]] = field(default_factory=dict)
    aggs: dict[str, str] = field(default_factory=dict)
    payload_cols: tuple[str, ...] | None = None
    append_only: bool = False
    n_buckets: int = 8
    right_table: str | None = None
    on_cols: tuple[str, ...] = ()
    how: str = "inner"
    left_cols: tuple[str, ...] | None = None
    right_cols: tuple[str, ...] | None = None

    def __post_init__(self) -> None:
        if self.kind not in ("delta", "incremental", "join"):
            raise ValueError(f"view {self.name!r}: unknown kind {self.kind!r}")
        if self.kind == "join":
            if not self.right_table or not self.on_cols:
                raise ValueError(
                    f"join view {self.name!r}: right_table and on_cols "
                    "required"
                )
            if self.group_cols:
                raise ValueError(
                    f"join view {self.name!r}: group_cols must be empty "
                    "(the view is keyed by the left table's key)"
                )
            if self.measures or self.aggs:
                raise ValueError(
                    f"join view {self.name!r}: measures/aggs do not apply"
                )
            if self.how not in ("inner", "left"):
                raise ValueError(
                    f"join view {self.name!r}: how must be 'inner' or "
                    f"'left', got {self.how!r}"
                )
        elif self.right_table or self.on_cols:
            raise ValueError(
                f"view {self.name!r}: right_table/on_cols are join-view "
                "fields (kind='join')"
            )
        if self.kind != "join" and not self.group_cols:
            raise ValueError(f"view {self.name!r}: group_cols required")
        if self.kind == "delta":
            if not self.measures:
                raise ValueError(f"delta view {self.name!r}: measures required")
            from postgres_to_snowflake_data_pipeline_spark.lake.delta_view import (
                parse_hist_op,
            )

            for col, m in self.measures.items():
                if len(m) != 2 or (
                    m[0] not in (
                        "sum", "count", "avg", "var", "stddev", "min",
                        "max", "approx_distinct",
                    )
                    and parse_hist_op(m[0]) is None
                ):
                    raise ValueError(
                        f"delta view {self.name!r}, measure {col!r}: want "
                        "[op, expr] with op in sum/count/avg/var/stddev/"
                        "min/max/approx_distinct/approx_p{1..99}, got "
                        f"{m!r}"
                    )
                if m[0] in ("min", "max", "approx_distinct") and (
                    not self.append_only
                ):
                    raise ValueError(
                        f"delta view {self.name!r}, measure {col!r}: "
                        f"{m[0]} is only maintainable with append_only=true "
                        "(extrema and HLL sketches cannot be retracted); "
                        "use kind='incremental' over updating sources"
                    )
        if self.kind == "incremental" and not self.aggs:
            raise ValueError(f"incremental view {self.name!r}: aggs required")


#: check kinds an AuditSpec accepts; row-level kinds count violating rows,
#: batch-level kinds bound the row count itself
_ROW_CHECKS = ("expr", "not_null")
_COUNT_CHECKS = ("min_rows", "max_rows")


@dataclass(frozen=True)
class AuditSpec:
    """A declarative data-quality gate on one table's epoch batches —
    the write-audit-publish pattern (Iceberg WAP) as pipeline spec: each
    epoch's batch for ``table`` is STAGED (invisible to readers, views,
    changefeeds), the checks below run over it, and it is published on
    pass. On fail, ``on_fail`` decides:

    - ``'fail'``   — halt: raise ``AuditFailed``, batch stays staged for
      inspection (``table.read_staged``), the epoch stays unapplied.
    - ``'reject'`` — continue: quarantine the batch's files and fold an
      empty commit under the epoch key, so exactly-once and the
      cross-table frontier advance; the rejection + reason are recorded
      in snapshot history (the reference's ON_ERROR='CONTINUE' posture,
      /root/reference/dags/s3_to_snowflake_dag.py COPY options, made
      auditable instead of silent).

    Each check is a JSON-able dict:

    - ``{"kind": "expr", "expr": "<boolean SQL over the batch rows>"}`` —
      rows where the expression is not TRUE (false OR NULL) are
      violations.
    - ``{"kind": "not_null", "columns": [...]}`` — NULL in any listed
      column is a violation (reported per column).
    - ``{"kind": "min_rows", "value": N}`` / ``{"kind": "max_rows",
      "value": N}`` — bounds on the scope's row count (e.g. min_rows=1
      catches a silently-empty feed; max_rows a runaway producer).

    Optional per check: ``"max_violations"`` (int, default 0) tolerates
    up to that many violating rows; ``"scope"``: ``"batch"`` (default —
    the staged batch's LWW survivors, what this epoch adds) or
    ``"merged"`` (the table AS IT WOULD READ post-publish — for
    invariants over merged state); ``"label"`` names the check in
    reports.

    Cost shape: all same-scope checks compile into ONE aggregate pass
    (single job, map-side partials); a ``merged``-scope check reads
    current files + staged delta, so reserve it for invariants that
    genuinely need merged state. Checks see payload columns only.

    Validated at spec LOAD, so a typo'd kind/expr-less check fails before
    any epoch runs."""

    table: str
    checks: tuple[dict[str, Any], ...]
    on_fail: str = "fail"

    def __post_init__(self) -> None:
        if self.on_fail not in ("fail", "reject"):
            raise ValueError(
                f"audit on {self.table!r}: on_fail must be 'fail' or "
                f"'reject', got {self.on_fail!r}"
            )
        if not self.checks:
            raise ValueError(f"audit on {self.table!r}: checks must be non-empty")
        for c in self.checks:
            kind = c.get("kind")
            if kind not in _ROW_CHECKS + _COUNT_CHECKS:
                raise ValueError(
                    f"audit on {self.table!r}: unknown check kind {kind!r} "
                    f"(want one of {_ROW_CHECKS + _COUNT_CHECKS})"
                )
            # unknown keys are rejected, not ignored: a typo'd optional
            # key ("scopes", "max_violation") would otherwise silently
            # weaken the gate to its defaults
            allowed = {"kind", "label", "scope"} | (
                {"value"} if kind in _COUNT_CHECKS
                else {"max_violations", "expr" if kind == "expr" else "columns"}
            )
            extra = set(c) - allowed
            if extra:
                raise ValueError(
                    f"audit on {self.table!r}: unknown keys {sorted(extra)} "
                    f"in {kind} check (allowed: {sorted(allowed)})"
                )
            if kind == "expr" and not isinstance(c.get("expr"), str):
                raise ValueError(
                    f"audit on {self.table!r}: expr check needs a SQL "
                    f"string under 'expr', got {c!r}"
                )
            if kind == "not_null" and not c.get("columns"):
                raise ValueError(
                    f"audit on {self.table!r}: not_null check needs a "
                    f"non-empty 'columns' list, got {c!r}"
                )
            if kind in _COUNT_CHECKS and not isinstance(c.get("value"), int):
                raise ValueError(
                    f"audit on {self.table!r}: {kind} check needs an int "
                    f"'value', got {c!r}"
                )
            if c.get("scope", "batch") not in ("batch", "merged"):
                raise ValueError(
                    f"audit on {self.table!r}: scope must be 'batch' or "
                    f"'merged', got {c.get('scope')!r}"
                )
            mv = c.get("max_violations", 0)
            if not isinstance(mv, int) or mv < 0:
                raise ValueError(
                    f"audit on {self.table!r}: max_violations must be a "
                    f"non-negative int, got {mv!r}"
                )


def compile_audit(spec: AuditSpec):
    """AuditSpec -> ``audit_fn(table, staged_name) -> report`` for
    :func:`apply_audited_batch`. All checks of one scope fold into a
    single aggregate (one Spark job per scope used). Deterministic in the
    staged data, as the resume-at-audit contract requires."""

    def _label(c: dict[str, Any]) -> str:
        if c.get("label"):
            return str(c["label"])
        kind = c["kind"]
        detail = c.get("expr") or ",".join(c.get("columns", ())) or c.get("value")
        return f"{kind}:{detail}"

    def _scope_columns(scoped, table_columns) -> list[str] | None:
        """The column set a scope's checks actually touch — so the merged
        preview prunes its scan+LWW shuffle to that set (read_staged
        ``columns``). not_null checks declare theirs; expr checks are
        matched conservatively by word boundary (over-matching only keeps
        an extra column — safe; a '*' or an expr naming no known column
        falls back to the full width). Count checks touch nothing."""
        needed: set[str] = set()
        for _i, c in scoped:
            if c["kind"] == "not_null":
                needed.update(c["columns"])
            elif c["kind"] == "expr":
                expr = c["expr"]
                if "*" in expr:
                    return None
                refs = {
                    col for col in table_columns
                    if re.search(rf"\b{re.escape(col)}\b", expr)
                }
                if not refs:
                    return None
                needed.update(refs)
        return sorted(needed)

    def audit_fn(table: Any, name: str) -> dict[str, Any]:
        results: list[tuple[int, dict[str, Any]]] = []
        for scope in ("batch", "merged"):
            scoped = [
                (i, c)
                for i, c in enumerate(spec.checks)
                if c.get("scope", "batch") == scope
            ]
            if not scoped:
                continue
            cols = (
                _scope_columns(
                    scoped, [f.name for f in table.schema().fields]
                )
                if scope == "merged"
                else None  # the batch view is prunable by Catalyst alone
            )
            df = table.read_staged(
                name, with_base=(scope == "merged"), columns=cols
            )
            aggs = [F.count(F.lit(1)).alias("_rows")]
            slots: list[tuple[int, dict, list[tuple[str, str]]]] = []
            for i, c in scoped:
                if c["kind"] == "expr":
                    a = f"_v{i}"
                    aggs.append(
                        F.sum(
                            F.when(
                                F.coalesce(F.expr(c["expr"]), F.lit(False)),
                                0,
                            ).otherwise(1)
                        ).alias(a)
                    )
                    slots.append((i, c, [(a, c["expr"])]))
                elif c["kind"] == "not_null":
                    cols = []
                    for j, col in enumerate(c["columns"]):
                        a = f"_v{i}_{j}"
                        aggs.append(
                            F.sum(
                                F.when(F.col(col).isNull(), 1).otherwise(0)
                            ).alias(a)
                        )
                        cols.append((a, col))
                    slots.append((i, c, cols))
                else:  # count checks need only _rows
                    slots.append((i, c, []))
            row = df.agg(*aggs).first().asDict()
            nrows = int(row["_rows"] or 0)
            for i, c, aliases in slots:
                entry: dict[str, Any] = {
                    "label": _label(c), "kind": c["kind"], "scope": scope,
                    "rows": nrows,
                }
                if c["kind"] in _COUNT_CHECKS:
                    entry["value"] = c["value"]
                    entry["passed"] = (
                        nrows >= c["value"]
                        if c["kind"] == "min_rows"
                        else nrows <= c["value"]
                    )
                else:
                    by = {key: int(row[a] or 0) for a, key in aliases}
                    violations = sum(by.values())
                    entry["violations"] = violations
                    if c["kind"] == "not_null":
                        entry["violations_by_column"] = by
                    entry["passed"] = violations <= c.get("max_violations", 0)
                results.append((i, entry))
        checks = [e for _i, e in sorted(results, key=lambda t: t[0])]
        return {"passed": all(e["passed"] for e in checks), "checks": checks}

    return audit_fn


@dataclass(frozen=True)
class ExportSpec:
    """Post-epoch snapshot export of a table (the reference's
    data/{table}/{Y}/{M}/{D} S3 layout, export_to_s3.py:103-106)."""

    table: str
    path: str
    date_col: str = "ts"


@dataclass(frozen=True)
class MirrorSpec:
    """A changefeed-synced replica of a spec table (cdc/mirror.py's
    TableMirror under the declarative layer): synced after every epoch,
    exactly-once from the follower's own commit log, source rollbacks
    propagated. ``n_buckets`` re-layouts the replica (None = source's) —
    the declarative form of a read-optimized copy. ``filter`` (SQL over
    the source columns) declares a PARTIAL replica — the shard/subset
    shape; ``columns`` a THIN one (keys always ride). See
    TableMirror.__init__ for the exact subset semantics."""

    name: str
    table: str
    n_buckets: int | None = None
    filter: str | None = None
    columns: tuple[str, ...] | None = None


@dataclass(frozen=True)
class PipelineSpec:
    lake_root: str
    sources: tuple[SourceSpec, ...]
    tables: tuple[TableSpec, ...]
    views: tuple[ViewSpec, ...] = ()
    exports: tuple[ExportSpec, ...] = ()
    audits: tuple[AuditSpec, ...] = ()
    mirrors: tuple[MirrorSpec, ...] = ()
    frontier: bool = True
    salt_buckets: int | None = None

    def __post_init__(self) -> None:
        names = [t.name for t in self.tables]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate table names: {names}")
        known = set(names)
        mnames = [m.name for m in self.mirrors]
        if len(set(mnames)) != len(mnames):
            raise ValueError(f"duplicate mirror names: {mnames}")
        for m in self.mirrors:
            if m.table not in known:
                raise ValueError(
                    f"mirror {m.name!r} of unknown table {m.table!r}"
                )
            if m.name in known:
                raise ValueError(
                    f"mirror {m.name!r} collides with a table name"
                )
        for s in self.sources:
            if s.table is not None and s.table not in known:
                raise ValueError(
                    f"source {s.name!r} targets unknown table {s.table!r}"
                )
        for v in self.views:
            if v.table not in known:
                raise ValueError(f"view {v.name!r} over unknown table {v.table!r}")
            if v.kind == "join" and v.right_table not in known:
                raise ValueError(
                    f"join view {v.name!r} over unknown right table "
                    f"{v.right_table!r}"
                )
        for e in self.exports:
            if e.table not in known:
                raise ValueError(f"export targets unknown table {e.table!r}")
        audited = [a.table for a in self.audits]
        if len(set(audited)) != len(audited):
            raise ValueError(f"multiple audits for one table: {audited}")
        for a in self.audits:
            if a.table not in known:
                raise ValueError(f"audit targets unknown table {a.table!r}")

    # -- JSON round-trip ----------------------------------------------------
    @classmethod
    def from_dict(cls, raw: dict[str, Any]) -> "PipelineSpec":
        raw = interpolate(raw)
        return cls(
            lake_root=raw["lake_root"],
            sources=tuple(
                SourceSpec(
                    name=s["name"], kind=s["kind"], table=s.get("table"),
                    options=s.get("options", {}),
                )
                for s in raw.get("sources", [])
            ),
            tables=tuple(
                TableSpec(
                    name=t["name"], key_cols=tuple(t["key_cols"]),
                    n_buckets=t.get("n_buckets", 16),
                    schema_ddl=t.get("schema_ddl"),
                    compact_every=t.get("compact_every", 0),
                    compact_max_files=t.get("compact_max_files", 0),
                    layout=t.get("layout"),
                    indexes=t.get("indexes"),
                    patch=t.get("patch"),
                )
                for t in raw.get("tables", [])
            ),
            views=tuple(
                ViewSpec(
                    name=v["name"], table=v["table"],
                    group_cols=tuple(v.get("group_cols") or ()),
                    kind=v.get("kind", "delta"),
                    measures={
                        k: (m[0], m[1]) for k, m in v.get("measures", {}).items()
                    },
                    aggs=dict(v.get("aggs", {})),
                    payload_cols=(
                        tuple(v["payload_cols"]) if v.get("payload_cols") else None
                    ),
                    append_only=v.get("append_only", False),
                    n_buckets=v.get("n_buckets", 8),
                    right_table=v.get("right_table"),
                    on_cols=tuple(v.get("on_cols") or ()),
                    how=v.get("how", "inner"),
                    left_cols=(
                        tuple(v["left_cols"]) if v.get("left_cols") else None
                    ),
                    right_cols=(
                        tuple(v["right_cols"]) if v.get("right_cols") else None
                    ),
                )
                for v in raw.get("views", [])
            ),
            exports=tuple(
                ExportSpec(
                    table=e["table"], path=e["path"],
                    date_col=e.get("date_col", "ts"),
                )
                for e in raw.get("exports", [])
            ),
            audits=tuple(
                AuditSpec(
                    table=a["table"],
                    checks=tuple(dict(c) for c in a["checks"]),
                    on_fail=a.get("on_fail", "fail"),
                )
                for a in raw.get("audits", [])
            ),
            mirrors=tuple(
                MirrorSpec(
                    name=m["name"], table=m["table"],
                    n_buckets=m.get("n_buckets"),
                    filter=m.get("filter"),
                    columns=tuple(m["columns"]) if m.get("columns") else None,
                )
                for m in raw.get("mirrors", [])
            ),
            frontier=raw.get("frontier", True),
            salt_buckets=raw.get("salt_buckets"),
        )

    @classmethod
    def from_json(cls, text_or_path: str) -> "PipelineSpec":
        if os.path.exists(text_or_path):
            with open(text_or_path) as f:
                return cls.from_dict(json.load(f))
        return cls.from_dict(json.loads(text_or_path))

    def to_dict(self) -> dict[str, Any]:
        return {
            "lake_root": self.lake_root,
            "sources": [
                {"name": s.name, "kind": s.kind, "table": s.table,
                 "options": s.options}
                for s in self.sources
            ],
            "tables": [
                {"name": t.name, "key_cols": list(t.key_cols),
                 "n_buckets": t.n_buckets, "schema_ddl": t.schema_ddl,
                 "compact_every": t.compact_every,
                 "compact_max_files": t.compact_max_files,
                 "layout": t.layout,
                 "indexes": t.indexes,
                 "patch": t.patch}
                for t in self.tables
            ],
            "views": [
                {"name": v.name, "table": v.table,
                 "group_cols": list(v.group_cols), "kind": v.kind,
                 "measures": {k: list(m) for k, m in v.measures.items()},
                 "aggs": v.aggs,
                 "payload_cols": (
                     list(v.payload_cols) if v.payload_cols else None
                 ),
                 "append_only": v.append_only,
                 "n_buckets": v.n_buckets,
                 "right_table": v.right_table,
                 "on_cols": list(v.on_cols),
                 "how": v.how,
                 "left_cols": list(v.left_cols) if v.left_cols else None,
                 "right_cols": list(v.right_cols) if v.right_cols else None}
                for v in self.views
            ],
            "exports": [
                {"table": e.table, "path": e.path, "date_col": e.date_col}
                for e in self.exports
            ],
            "audits": [
                {"table": a.table, "checks": [dict(c) for c in a.checks],
                 "on_fail": a.on_fail}
                for a in self.audits
            ],
            "mirrors": [
                {"name": m.name, "table": m.table, "n_buckets": m.n_buckets,
                 "filter": m.filter,
                 "columns": list(m.columns) if m.columns else None}
                for m in self.mirrors
            ],
            "frontier": self.frontier,
            "salt_buckets": self.salt_buckets,
        }


# ---------------------------------------------------------------------------
# Runner
# ---------------------------------------------------------------------------


class Pipeline:
    """Executes a :class:`PipelineSpec` epoch by epoch.

    Tables are loaded if they exist under ``lake_root`` and created on
    first use otherwise (schema from ``schema_ddl`` or derived from the
    first feed). All exactly-once machinery is the tables' own commit
    keys — re-running a completed epoch is a per-table no-op, so crash
    recovery is "run it again", matching the reference's retrying tasks
    (default_args retries, data_pipeline_variables_dag.py:19-20)."""

    def __init__(self, spark: SparkSession, spec: PipelineSpec):
        self.spark = spark
        self.spec = spec
        self.tables: dict[str, LakeTable] = {}
        self._views: dict[str, Any] = {}
        self._mirrors: dict[str, Any] = {}
        self._layout_validated: set[str] = set()
        self._audits = {
            a.table: StagedAudit(compile_audit(a), a.on_fail)
            for a in spec.audits
        }
        for t in spec.tables:
            try:
                self.tables[t.name] = LakeTable.load(
                    spark, os.path.join(spec.lake_root, t.name)
                )
            except FileNotFoundError:
                if t.schema_ddl is not None:
                    self.tables[t.name] = LakeTable.create(
                        spark,
                        os.path.join(spec.lake_root, t.name),
                        T.StructType.fromDDL(t.schema_ddl),
                        key_cols=t.key_cols,
                        n_buckets=t.n_buckets,
                    )
                # else: created lazily from the first epoch's feed schema
            if t.name in self.tables:
                self._reconcile_indexes(self.tables[t.name], t)

    # -- helpers ------------------------------------------------------------
    @staticmethod
    def _reconcile_indexes(table: LakeTable, t: TableSpec) -> None:
        """Fold the spec's declared content indexes into the table's props
        — DECLARATIVELY: the spec is the source of truth, so a changed (or
        removed) declaration updates the table, and an unchanged one is a
        no-op (no commit — a restart loop must not grow the snapshot log).
        Deep validation (shape, column types) happens at the table's own
        commit choke point, same as every other props write."""
        sets = (t.indexes or {}).get("sets")
        pcols = (t.patch or {}).get("columns")
        want = {
            # normalize to the JSON shape props round-trip through — a
            # tuple-typed spec would otherwise never compare equal to the
            # stored list and re-commit on every restart
            "index.sets": list(sets) if sets is not None else None,
            "index.tokens": (t.indexes or {}).get("tokens"),
            "patch.columns": list(pcols) if pcols is not None else None,
            "patch.sentinel": (t.patch or {}).get("sentinel"),
        }
        have = table.props
        # props never store None (update folds None = delete), so
        # have.get(k) != v is exact: absent+None compares equal (no-op)
        delta = {k: v for k, v in want.items() if have.get(k) != v}
        if delta:
            table.update_props(delta)

    def _ensure_tables(
        self, feed: DataFrame, table_columns: dict[str, set[str]]
    ) -> None:
        """Create lazily-derived tables from the feed schema, each scoped to
        ITS OWN sources' columns — not the heterogeneous union's superset
        (which would bake every other source's columns into every table)."""
        missing = [t for t in self.spec.tables if t.name not in self.tables]
        for t in missing:
            fields = [
                f for f in feed.schema.fields if f.name in table_columns[t.name]
            ]
            if not fields:
                raise ValueError(
                    f"table {t.name!r}: no source contributes columns to it "
                    "and no schema_ddl was given"
                )
            self.tables[t.name] = LakeTable.create(
                self.spark,
                os.path.join(self.spec.lake_root, t.name),
                T.StructType(fields),
                key_cols=t.key_cols,
                n_buckets=t.n_buckets,
            )
            self._reconcile_indexes(self.tables[t.name], t)
        # validate each spec-declared layout NOW (schema/axis/shape checks),
        # not inside the first cadence firing N committed epochs into the
        # run — same upfront probe as streaming/pipeline.run_stream: compact
        # with an empty bucket list runs exactly the explicit-layout
        # validation and nothing else. Once per table per Pipeline instance.
        for t in self.spec.tables:
            if t.name in self._layout_validated or not t.layout:
                continue
            try:
                self.tables[t.name].compact(buckets=[], **t.layout)
            except Exception as e:
                raise ValueError(
                    f"table {t.name!r}: spec-declared layout {t.layout!r} "
                    f"is invalid for this table ({e})"
                ) from e
            self._layout_validated.add(t.name)

    def _max_committed_epoch(self) -> int:
        """Highest epoch any already-existing spec table has committed
        (watermark plus residual epoch keys); -1 when none have."""
        best = -1
        for table in self.tables.values():
            snap = table.current()
            best = max(best, snap.epoch_watermark)
            for k in snap.commit_keys:
                e = epoch_of(k)
                if e is not None:
                    best = max(best, e)
        return best

    def _view_handle(self, v: ViewSpec) -> Any:
        if v.name in self._views:
            return self._views[v.name]
        src = self.tables[v.table]
        root = os.path.join(self.spec.lake_root, "_views", v.name)
        if v.kind == "delta":
            h = DeltaAggView(
                self.spark, root, src, v.group_cols, dict(v.measures),
                payload_cols=(
                    list(v.payload_cols) if v.payload_cols is not None else None
                ),
                append_only=v.append_only,
                n_buckets=v.n_buckets,
            )
        elif v.kind == "join":
            from postgres_to_snowflake_data_pipeline_spark.lake.join_view import (
                IncrementalJoinView,
            )

            h = IncrementalJoinView(
                self.spark, root, src, self.tables[v.right_table],
                on_cols=v.on_cols, how=v.how,
                left_cols=list(v.left_cols) if v.left_cols else None,
                right_cols=list(v.right_cols) if v.right_cols else None,
                n_buckets=v.n_buckets,
            )
        else:
            gcols = list(v.group_cols)
            aggs = dict(v.aggs)

            def agg_fn(rows: DataFrame, _g=gcols, _a=aggs) -> DataFrame:
                return rows.groupBy(*_g).agg(
                    *[F.expr(e).alias(n) for n, e in _a.items()]
                )

            h = IncrementalAggView(
                self.spark, root, src, tuple(gcols), agg_fn,
                n_buckets=v.n_buckets,
            )
        self._views[v.name] = h
        return h

    def view(self, name: str) -> DataFrame:
        """Read a maintained view by spec name."""
        for v in self.spec.views:
            if v.name == name:
                return self._view_handle(v).read()
        raise ValueError(
            f"unknown view {name!r} (spec views: "
            f"{[v.name for v in self.spec.views]})"
        )

    def _mirror_handle(self, m: MirrorSpec) -> Any:
        if m.name in self._mirrors:
            return self._mirrors[m.name]
        from postgres_to_snowflake_data_pipeline_spark.cdc.mirror import TableMirror

        h = TableMirror(
            self.spark,
            os.path.join(self.spec.lake_root, "_mirrors", m.name),
            self.tables[m.table],
            n_buckets=m.n_buckets,
            filter_expr=m.filter,
            columns=list(m.columns) if m.columns else None,
        )
        self._mirrors[m.name] = h
        return h

    def mirror(self, name: str) -> DataFrame:
        """Read a maintained replica by spec name."""
        for m in self.spec.mirrors:
            if m.name == name:
                return self._mirror_handle(m).read()
        raise ValueError(
            f"unknown mirror {name!r} (spec mirrors: "
            f"{[m.name for m in self.spec.mirrors]})"
        )

    # -- the epoch ----------------------------------------------------------
    def run_epoch(
        self,
        epoch: int,
        feeds: dict[str, DataFrame] | None = None,
    ) -> dict[str, Any]:
        """Execute one epoch: read + union every source, apply routed,
        mark the frontier, refresh views, export snapshots. ``feeds``
        injects DataFrames for 'dataframe' sources (and may override any
        source by name); keys must name spec sources (a typo'd key would
        otherwise silently fall back to the file-backed read).

        The union carries the SUPERSET of all sources' columns, but each
        destination table only ever sees columns its own sources produce
        (fixed-table sources targeting it plus every ``_table``-routed
        source): per-table column scoping below stops a heterogeneous
        5-source epoch from additively schema-evolving every table with
        every other source's columns. Returns per-stage results."""
        feeds = feeds or {}
        known = {s.name for s in self.spec.sources}
        unknown = set(feeds) - known
        if unknown:
            raise ValueError(
                f"feeds for unknown sources {sorted(unknown)} "
                f"(spec sources: {sorted(known)})"
            )
        parts: list[DataFrame] = []
        routed_cols: set[str] = set()
        fixed_cols: dict[str, set[str]] = {}
        for s in self.spec.sources:
            df = feeds[s.name] if s.name in feeds else s.read(self.spark, epoch)
            if s.table is not None:
                if TABLE_COL not in df.columns:
                    df = df.withColumn(TABLE_COL, F.lit(s.table))
            elif TABLE_COL not in df.columns:
                # same loud contract as SourceSpec.read — injected frames
                # must not fail three stages later as an unresolved column
                raise ValueError(
                    f"source {s.name!r} has no fixed table and the injected "
                    f"feed carries no {TABLE_COL!r} column"
                )
            payload = set(df.columns) - {ORDER_COL, "op", TABLE_COL}
            if s.table is not None:
                fixed_cols.setdefault(s.table, set()).update(payload)
            else:
                routed_cols |= payload
            parts.append(df)
        if not parts:
            raise ValueError("spec has no sources")
        feed = parts[0]
        for p in parts[1:]:
            feed = feed.unionByName(p, allowMissingColumns=True)
        table_columns = {
            t.name: fixed_cols.get(t.name, set()) | routed_cols
            for t in self.spec.tables
        }
        self._ensure_tables(feed, table_columns)

        applied: MultiApplyResult = apply_multi_table(
            self.spark,
            self.tables,
            feed,
            epoch=epoch,
            salt_buckets=self.spec.salt_buckets,
            frontier_root=(
                os.path.join(self.spec.lake_root, "_frontier")
                if self.spec.frontier
                else None
            ),
            table_columns=table_columns,
            audits=self._audits or None,
        )
        # declared maintenance, BEFORE views (the same apply -> fold ->
        # refresh order as streaming/pipeline.run_stream): cadence fold at
        # the spec's layout, or scoped fold of over-amplified buckets.
        # Idempotent on re-delivered epochs — already-folded buckets no-op.
        maintenance: dict[str, str] = {}
        for t in self.spec.tables:
            if not (t.compact_every or t.compact_max_files):
                continue
            tbl = self.tables[t.name]
            layout = dict(t.layout or {})
            if t.compact_every and (epoch + 1) % t.compact_every == 0:
                tbl.compact(**layout)
                maintenance[t.name] = "cadence"
            elif t.compact_max_files:
                over = tbl.buckets_needing_compaction(t.compact_max_files)
                if over:
                    tbl.compact(buckets=over, **layout)
                    maintenance[t.name] = f"files:{len(over)}"
        views = {
            v.name: self._view_handle(v).refresh() for v in self.spec.views
        }
        mirrors: dict[str, Any] = {}
        if self.spec.mirrors:
            # fan-out: replicas of the same source share one changefeed
            # window read per position instead of re-scanning it each
            from postgres_to_snowflake_data_pipeline_spark.cdc.mirror import TableMirror

            handles = [self._mirror_handle(m) for m in self.spec.mirrors]
            stats = TableMirror.sync_group(handles)
            mirrors = {
                m.name: s for m, s in zip(self.spec.mirrors, stats)
            }
        exports = []
        for e in self.spec.exports:
            path = e.path.format(epoch=epoch)
            export_partitioned_snapshot(
                self.tables[e.table].read(), path, date_col=e.date_col
            )
            exports.append(path)
        return {
            "epoch": epoch,
            "tables": applied,
            "unknown_rows": applied.unknown_rows,
            "maintenance": maintenance,
            "views": views,
            "mirrors": mirrors,
            "exports": exports,
            "audits": {
                name: r.audit
                for name, r in applied.items()
                if r.audit is not None
            },
        }

    def reprocess(
        self,
        table: str,
        staged_name: str,
        fix=None,
        keep_quarantine: bool = False,
    ) -> dict[str, Any]:
        """Operator-driven dead-letter reprocessing: re-admit a quarantined
        batch (see ``LakeTable.quarantined()``) through the SAME declarative
        audit gate that rejected it. ``fix`` rewrites the event view
        (op/lsn/payload) before the re-audit; if the table's gate still
        fails, :class:`cdc.apply.AuditFailed` raises and the quarantined
        originals stay put for the next attempt. On success the commit is
        exactly-once under ``reprocess:{staged_name}`` and the spec's views
        refresh so the re-admitted rows flow downstream immediately."""
        from postgres_to_snowflake_data_pipeline_spark.cdc.apply import (
            reprocess_quarantined,
        )

        if table not in self.tables:
            raise ValueError(f"unknown table {table!r}")
        gate = self._audits.get(table)
        res = reprocess_quarantined(
            self.spark,
            self.tables[table],
            staged_name,
            fix=fix,
            audit_fn=gate.audit_fn if gate is not None else None,
            keep_quarantine=keep_quarantine,
        )
        views = {
            v.name: self._view_handle(v).refresh() for v in self.spec.views
        }
        return {"table": table, "result": res, "views": views}

    # -- streaming ----------------------------------------------------------
    def run_stream(
        self,
        feed_path: str,
        event_schema: T.StructType,
        checkpoint_dir: str,
        source_name: str | None = None,
        max_files_per_trigger: int = 1,
        available_now: bool = True,
    ):
        """Run the declarative pipeline CONTINUOUSLY: a readStream over the
        WAL feed whose micro-batches become epochs, each executed by
        :meth:`run_epoch` — routing, frontier, views and exports identical
        to batch.

        ``epoch = base + batch_id``, where ``base`` is one past the highest
        epoch any spec table has already committed (batch ``run_epoch``
        seeds, a previous stream run): without the offset, a seed-then-
        stream flow would hand micro-batch 0 the already-committed commit
        key ``epoch:0`` and the batch's rows would be silently skipped as
        a replay. The base is recorded in ``checkpoint_dir`` on first
        start, so a RESTARTED stream replays re-delivered batch ids under
        identical epoch numbers (the exactly-once proof needs stable
        batch→epoch mapping, not a recomputed one).

        Exactly-once layering is the same proof as streaming/pipeline.py:
        Spark's checkpoint re-delivers an uncommitted batch with the SAME
        id; per-(table, epoch) commit keys make the re-delivery a no-op;
        the frontier marker and view refreshes are idempotent. ``spec``
        must contain exactly one ``dataframe`` source (or name one via
        ``source_name``) — the stream feeds it; other sources are read
        fresh each micro-batch."""
        if source_name is None:
            df_sources = [s.name for s in self.spec.sources if s.kind == "dataframe"]
            if len(df_sources) != 1:
                raise ValueError(
                    "run_stream needs exactly one 'dataframe' source in the "
                    f"spec (found {df_sources}) or an explicit source_name"
                )
            source_name = df_sources[0]

        base_path = os.path.join(checkpoint_dir, "epoch_base.json")
        if os.path.exists(base_path):
            with open(base_path) as f:
                base = int(json.load(f)["base"])
        else:
            base = self._max_committed_epoch() + 1
            os.makedirs(checkpoint_dir, exist_ok=True)
            with open(base_path, "w") as f:
                json.dump({"base": base}, f)

        events = read_feed_stream(
            self.spark, feed_path, event_schema, max_files_per_trigger
        )

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            self.run_epoch(base + int(batch_id), feeds={source_name: batch_df})

        writer = events.writeStream.foreachBatch(_apply).option(
            "checkpointLocation", checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # ------------------------------------------------------------------
    # scheduled batch runner (the reference's Airflow schedule + retries)
    # ------------------------------------------------------------------
    SCHEDULE_STATE = "schedule.json"

    def run_scheduled(
        self,
        feed_dir: str,
        event_schema: T.StructType,
        checkpoint_dir: str,
        source_name: str | None = None,
        *,
        interval_seconds: float = 60.0,
        retries: int = 2,
        retry_delay_seconds: float = 5.0,
        backoff: float = 2.0,
        max_ticks: int | None = None,
        stop_when_idle: bool = False,
        on_exhausted: str = "halt",
        sleep: Any = None,
    ) -> list[dict[str, Any]]:
        """Polling scheduler with retry/backoff — the reference's Airflow
        posture (``default_args`` retries + retry_delay on a schedule
        interval, /root/reference/dags/export_to_s3_dag.py:19-26) over
        the engine's exactly-once epochs, with no scheduler dependency.

        Each TICK lists ``feed_dir`` for parquet files not yet processed
        (producers must land files atomically — write-then-rename, as
        ``write_feed`` does); new files become ONE epoch executed by
        :meth:`run_epoch`. The (epoch, files) INTENT is persisted to
        ``checkpoint_dir`` *before* the attempt, so a crash mid-epoch
        resumes the SAME intent — and because tables skip committed
        commit keys, a retry after a partial failure (two of five tables
        merged) re-applies only the unfinished tables. Retries follow
        Airflow semantics: ``retries`` re-attempts with
        ``retry_delay_seconds`` growing by ``backoff`` per attempt; when
        exhausted, ``on_exhausted='halt'`` re-raises (the intent stays
        pending — the next invocation resumes it), ``'skip'`` shelves
        the files under ``skipped`` and keeps going WITHOUT consuming
        the epoch number (a permanently-missing ``epoch:{n}`` would
        wedge the watermark fold and every later epoch would live in the
        residual key list forever — the O(n²) metadata trap). Unless the
        failure was PARTIAL: when some table already committed
        ``epoch:{n}``, reusing ``n`` would make that table silently skip
        the next batch, so ``n`` is consumed instead — an empty
        ``epoch:{n}`` key is folded on the tables that lack it and the
        skipped record names the ``partial_tables``.

        ``max_ticks`` bounds the loop (None = run until
        ``stop_when_idle`` or forever); ``sleep`` is injectable for
        tests. Returns one record per tick."""
        import time as _time

        from postgres_to_snowflake_data_pipeline_spark.lake.metadata import (
            atomic_write_json,
        )

        if on_exhausted not in ("halt", "skip"):
            raise ValueError(f"on_exhausted: {on_exhausted!r}")
        do_sleep = sleep if sleep is not None else _time.sleep
        if source_name is None:
            df_sources = [
                s.name for s in self.spec.sources if s.kind == "dataframe"
            ]
            if len(df_sources) != 1:
                raise ValueError(
                    "run_scheduled needs exactly one 'dataframe' source in "
                    f"the spec (found {df_sources}) or an explicit "
                    "source_name"
                )
            source_name = df_sources[0]

        state_path = os.path.join(checkpoint_dir, self.SCHEDULE_STATE)
        if os.path.exists(state_path):
            with open(state_path) as f:
                state = json.load(f)
        else:
            state = {
                "processed": [],
                "skipped": [],
                "next_epoch": self._max_committed_epoch() + 1,
                "pending": None,
            }

        def _save() -> None:
            atomic_write_json(state_path, state)

        ticks: list[dict[str, Any]] = []
        while max_ticks is None or len(ticks) < max_ticks:
            if state["pending"] is not None:
                # crash/halt recovery: resume the persisted intent
                epoch = int(state["pending"]["epoch"])
                files = list(state["pending"]["files"])
            else:
                seen = set(state["processed"]) | {
                    f for s in state["skipped"] for f in s["files"]
                }
                try:
                    names = sorted(
                        n
                        for n in os.listdir(feed_dir)
                        if n.endswith(".parquet") and n not in seen
                    )
                except FileNotFoundError:
                    names = []
                if not names:
                    ticks.append({"tick": len(ticks), "idle": True})
                    if stop_when_idle:
                        break
                    do_sleep(interval_seconds)
                    continue
                epoch, files = int(state["next_epoch"]), names
                state["pending"] = {"epoch": epoch, "files": files}
                _save()

            batch = self.spark.read.schema(event_schema).parquet(
                *[os.path.join(feed_dir, f) for f in files]
            )
            attempts, err = 0, None
            while attempts <= retries:
                attempts += 1
                try:
                    res = self.run_epoch(epoch, feeds={source_name: batch})
                    err = None
                    break
                except Exception as exc:  # noqa: BLE001 — retry any failure
                    err = exc
                    if attempts <= retries:
                        do_sleep(
                            retry_delay_seconds * backoff ** (attempts - 1)
                        )
            if err is not None:
                if on_exhausted == "halt":
                    _save()  # intent stays pending for the next invocation
                    raise RuntimeError(
                        f"epoch {epoch} failed after {attempts} attempts "
                        f"({len(files)} files; intent persisted — re-run "
                        "to resume)"
                    ) from err
                key = f"epoch:{epoch}"
                partial = sorted(
                    n for n, t in self.tables.items() if t.has_commit_key(key)
                )
                record = {"epoch_intent": epoch, "files": files,
                          "error": repr(err)}
                if partial:
                    for t in self.tables.values():  # no-op where present
                        t.update_props({}, commit_key=key)
                    state["next_epoch"] = epoch + 1
                    record["partial_tables"] = partial
                state["skipped"].append(record)
                state["pending"] = None
                _save()
                ticks.append(
                    {"tick": len(ticks), "epoch": epoch, "files": files,
                     "attempts": attempts, "skipped": True,
                     "partial_tables": partial}
                )
                continue
            state["processed"].extend(files)
            state["next_epoch"] = epoch + 1
            state["pending"] = None
            _save()
            ticks.append(
                {"tick": len(ticks), "epoch": epoch, "files": files,
                 "attempts": attempts, "skipped": False,
                 "tables": sorted(res["tables"])}
            )
        return ticks
