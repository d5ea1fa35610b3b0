"""Span recorder for the traced benchmark run (``--trace 1``).

Spans are recorded around calls into the engine's public functions by
replacing those attributes for the duration of the run (the engine's own
code is unchanged). Each span keeps its name, start, end, parent span and
thread; spans stay in memory and are written out once, at the end. Counts
are recorded at the same call boundaries, so per-commit and per-read
ratios are taken where the work happens.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict

#: (module path, owner attribute or None for a module function, function name) -> span name.
#: Span names are ``<layer>.<function>``; the layer is everything before the last dot.
TRACED = [
    ("postgres_to_snowflake_data_pipeline_spark.cdc.apply", None, "replay_feed", "cdc.apply.replay_feed"),
    ("postgres_to_snowflake_data_pipeline_spark.cdc.apply", None, "apply_batch", "cdc.apply.apply_batch"),
    # the streaming sink calls apply_batch through its own module binding
    ("postgres_to_snowflake_data_pipeline_spark.streaming.pipeline", None, "apply_batch", "cdc.apply.apply_batch"),
    ("postgres_to_snowflake_data_pipeline_spark.cdc.apply", None, "probe_hot_bucket_share", "cdc.apply.probe"),
    ("postgres_to_snowflake_data_pipeline_spark.cdc.apply", None, "lww_dedup", "cdc.dedup.lww_dedup"),
    ("postgres_to_snowflake_data_pipeline_spark.cdc.apply", None, "normalize_to_schema", "cdc.normalize.normalize_to_schema"),
    ("postgres_to_snowflake_data_pipeline_spark.lake.table", "LakeTable", "merge", "lake.table.merge"),
    ("postgres_to_snowflake_data_pipeline_spark.lake.table", "LakeTable", "compact", "lake.table.compact"),
    ("postgres_to_snowflake_data_pipeline_spark.lake.table", "LakeTable", "read", "lake.table.read"),
    ("postgres_to_snowflake_data_pipeline_spark.lake.table", "LakeTable", "read_key", "lake.table.read_key"),
    ("postgres_to_snowflake_data_pipeline_spark.lake.table", "LakeTable", "point_read_keys", "lake.table.point_read_keys"),
    ("postgres_to_snowflake_data_pipeline_spark.lake.table", "LakeTable", "changes", "lake.table.changes"),
    ("postgres_to_snowflake_data_pipeline_spark.lake.metadata", "MetadataLog", "commit", "lake.metadata.commit"),
    ("postgres_to_snowflake_data_pipeline_spark.lake.metadata", "MetadataLog", "load", "lake.metadata.load"),
    ("postgres_to_snowflake_data_pipeline_spark.lake.metadata", "MetadataLog", "resolve_files", "lake.metadata.resolve_files"),
    ("postgres_to_snowflake_data_pipeline_spark.lake.fs", "LocalFS", "cas_create", "lake.fs.cas_create"),
    ("postgres_to_snowflake_data_pipeline_spark.lake.fs", "LocalFS", "write_atomic", "lake.fs.write_atomic"),
    ("postgres_to_snowflake_data_pipeline_spark.lake.fs", "LocalFS", "read_text", "lake.fs.read_text"),
    ("postgres_to_snowflake_data_pipeline_spark.lake.fs", "LocalFS", "listdir", "lake.fs.listdir"),
    ("postgres_to_snowflake_data_pipeline_spark.lake.fs", "LocalFS", "open_parquet", "lake.fs.open_parquet"),
]


class Tracer:
    """In-memory spans plus the phase each span ran in."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.phase = "setup"
        #: phase -> [wall-clock start, end] (``time.time()``)
        self.phase_wall: dict[str, list[float]] = {"setup": [time.time(), 0.0]}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._restore: list = []

    def set_phase(self, name: str) -> None:
        now = time.time()
        self.phase_wall[self.phase][1] = now
        self.phase_wall[name] = [now, 0.0]
        self.phase = name

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            sid = next(tracer._ids)
            parent = stack[-1] if stack else None
            stack.append(sid)
            error = None
            start = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            except BaseException as exc:
                error = type(exc).__name__
                raise
            finally:
                end = time.perf_counter()
                stack.pop()
                tracer.spans.append({
                    "id": sid, "parent": parent, "name": name, "start": start, "end": end,
                    "phase": tracer.phase, "thread": threading.get_ident(), "error": error,
                })

        return traced

    def install(self) -> None:
        import importlib

        for mod_name, owner_name, attr, span in TRACED:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if owner_name else mod
            orig = getattr(owner, attr)
            setattr(owner, attr, self.wrap(orig, span))
            self._restore.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    def summary(self, phase: str | None = None) -> dict[str, dict[str, float]]:
        """Per span name: count, total seconds and self seconds (duration
        minus the time covered by its child spans, which nest within one
        thread and so never overlap each other)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"count": 0, "total_s": 0.0, "self_s": 0.0})
        for s in self.spans:
            if phase is not None and s["phase"] != phase:
                continue
            d = out[s["name"]]
            dur = s["end"] - s["start"]
            d["count"] += 1
            d["total_s"] += dur
            d["self_s"] += dur - child_time.get(s["id"], 0.0)
        return dict(out)


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of one span around a no-op call, in seconds."""
    t = Tracer()
    f = t.wrap(lambda: None, "noop")
    start = time.perf_counter()
    for _ in range(n):
        f()
    return (time.perf_counter() - start) / n
