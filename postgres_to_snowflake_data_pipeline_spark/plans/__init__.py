"""Physical-plan inspection helpers (pushdown / broadcast)."""

from postgres_to_snowflake_data_pipeline_spark.plans.inspect import (  # noqa: F401
    explain_str,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
)
