"""Arrow-vectorized normalization of heterogeneous change-event payloads.

The reference tolerates schema drift between hops with Snowflake's
``MATCH_BY_COLUMN_NAME = CASE_INSENSITIVE`` + ``ON_ERROR='CONTINUE'`` COPY
(/root/reference/dags/s3_to_snowflake_dag.py:144-145): columns match by name
case-insensitively, missing columns become NULL, convertible types are
coerced. This module is the engine's equivalent, as mandated by the north
rule: an **Arrow-vectorized** (``mapInArrow``) normalizer — whole record
batches are aligned to the target schema with pyarrow kernels; no per-row
Python.

Fast path: when the incoming DataFrame already matches the target schema
exactly, return it untouched (zero overhead, stays fully JVM-side).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def schema_diff(incoming: T.StructType, target: T.StructType) -> dict[str, list[str]]:
    """Case-insensitive field diff: names in incoming but not target ('added'),
    in target but not incoming ('missing')."""
    inc = {f.name.lower(): f for f in incoming.fields}
    tgt = {f.name.lower(): f for f in target.fields}
    return {
        "added": [f.name for f in incoming.fields if f.name.lower() not in tgt],
        "missing": [f.name for f in target.fields if f.name.lower() not in inc],
    }


def _orderable(dt: T.DataType) -> bool:
    """Whether Spark can use the type in an ordering (struct-max LWW dedup
    folds every payload column into its comparator — see
    lake/table.py::resolve_lww)."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def assert_orderable_schema(schema: T.StructType) -> None:
    """Reject non-orderable column types (MapType anywhere in a field)
    with a clear error instead of poisoning the dedup/read path with an
    analysis failure deep inside the LWW comparator. Shared by table
    CREATION and schema EVOLUTION — both paths admit payload columns."""
    bad = [f for f in schema.fields if not _orderable(f.dataType)]
    if bad:
        names = ", ".join(f"{f.name}: {f.dataType.simpleString()}" for f in bad)
        raise ValueError(
            f"non-orderable column(s) [{names}]: CDC LWW dedup orders rows "
            "by a struct of every payload column and Spark cannot order "
            "MapType — encode maps as JSON strings or structs"
        )


def evolve_schema(
    target: T.StructType,
    incoming: T.StructType,
    retired: set[str] | None = None,
) -> T.StructType:
    """Additive evolution: target schema plus any new incoming fields
    (appended, forced nullable). Never drops or retypes existing fields.

    ``retired`` is the table's set of dead column names (dropped columns
    and pre-rename names, lowercase): re-introducing one would resurrect
    the values still sitting in old data files under that name, so it is
    rejected loudly."""
    known = {f.name.lower() for f in target.fields}
    extra = [
        T.StructField(f.name, f.dataType, True)
        for f in incoming.fields
        if f.name.lower() not in known
    ]
    if retired:
        clash = [f.name for f in extra if f.name.lower() in retired]
        if clash:
            raise ValueError(
                f"column name(s) {clash} were dropped or renamed away and "
                "cannot be re-introduced: old data files still carry values "
                "under these names and would resurrect"
            )
    assert_orderable_schema(T.StructType(extra))
    return T.StructType(list(target.fields) + extra)


def normalize_to_schema(df: DataFrame, target: T.StructType) -> DataFrame:
    """Align ``df`` to ``target``: name-matched (case-insensitive) column
    selection, NULL-fill for missing fields, Arrow-kernel casts for
    convertible type drift, target column order.
    """
    if df.schema == target:
        return df  # fast path — stays JVM-side

    arrow_target = to_arrow_schema(target)
    # case-insensitive source-name lookup, resolved on the driver
    src_names = {n.lower(): n for n in df.columns}
    col_map = {f.name: src_names.get(f.name.lower()) for f in target.fields}

    def _normalize(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            n = batch.num_rows
            arrays = []
            for field in arrow_target:
                src = col_map.get(field.name)
                if src is not None and src in batch.schema.names:
                    col = batch.column(batch.schema.names.index(src))
                    if col.type != field.type:
                        col = col.cast(field.type, safe=False)
                else:
                    col = pa.nulls(n, type=field.type)
                arrays.append(col)
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_target)

    return df.mapInArrow(_normalize, schema=target)
