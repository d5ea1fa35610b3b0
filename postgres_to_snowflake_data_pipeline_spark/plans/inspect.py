"""Helpers to assert the physical plans we want, not just the answers.

The build brief's rule: after correctness, ``.explain("formatted")`` every
operator and iterate until the plan is the one you'd run at 100 TB — filters
reaching the parquet scan, projections pruned to the read schema, small dims
broadcast, aggregates with map-side partials. These helpers make those
properties *testable* so regressions fail CI instead of showing up as a
10x slowdown on the cluster.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filter expressions pushed into the parquet scan (PushedFilters: [...])."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        body = m.group(1).strip()
        if body:
            out.extend(s.strip() for s in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists actually read from each parquet scan (ReadSchema)."""
    text = explain_str(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df) or "BroadcastNestedLoopJoin" in explain_str(df)

