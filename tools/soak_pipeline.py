"""Declarative-pipeline soak: Pipeline.run_stream through crash/restart.

tools/soak.py exercises the ENGINE (one table, run_stream from
streaming/pipeline.py). This soak exercises the DECLARATIVE layer on top
(orchestrate.Pipeline): a JSON spec with a routed WAL source feeding TWO
tables, a changefeed-patched delta view and a dirty-group incremental
view, and cross-table frontier markers — run continuously:

1. a producer appends WAL slices (rows routed ta/tb via ``_table``)
   while ``Pipeline.run_stream`` turns micro-batches into epochs
   (routed apply -> frontier marker -> view refreshes);
2. the stream is KILLED mid-flight and a FRESH Pipeline instance
   resumes from the same checkpoint (epoch base must be re-read, not
   recomputed — re-delivered batches replay under identical epochs);
3. between slices the main process reads ``latest_frontier`` and pins
   both tables to the marker's snapshot ids: every pinned read must be
   LWW-consistent (no dup keys, text/_lsn agreement) and frontier
   epochs must be non-decreasing — the "never observe a torn epoch"
   contract under live writers;
4. an availableNow drain catches up after the producer stops;
5. both tables must equal the LWW oracle over the full feed, and both
   views must equal a from-scratch recompute of the final states.

Prints one JSON line; exits non-zero on any violation.

    python tools/soak_pipeline.py [n_events] [n_slices]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_slices = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    from pyspark.sql import functions as F

    from postgres_to_snowflake_data_pipeline_spark.cdc.generator import change_events
    from postgres_to_snowflake_data_pipeline_spark.cdc.multi import (
        latest_frontier,
    )
    from postgres_to_snowflake_data_pipeline_spark.cdc.oracle import (
        diff_count,
        lww_state_oracle,
    )
    from postgres_to_snowflake_data_pipeline_spark.orchestrate import (
        Pipeline,
        PipelineSpec,
    )
    from postgres_to_snowflake_data_pipeline_spark.session import get_spark

    spark = get_spark("soak-pipeline")
    work = os.path.join(tempfile.gettempdir(), "soak_pipeline")
    shutil.rmtree(work, ignore_errors=True)
    feed = os.path.join(work, "feed")
    os.makedirs(feed)
    ckpt = os.path.join(work, "ckpt")
    lake = os.path.join(work, "lake")

    tag = F.when(F.abs(F.xxhash64("lsn")) % 2 == 0, "ta").otherwise("tb")
    full = change_events(spark, n_events, n_convs=20_000).withColumn(
        "_table", tag
    ).persist()
    max_lsn = full.agg(F.max("lsn")).first()[0]
    step = (max_lsn + n_slices) // n_slices

    spec = PipelineSpec.from_dict({
        "lake_root": lake,
        "sources": [{"name": "wal", "kind": "dataframe"}],
        "tables": [
            # spec-DECLARED maintenance (round 4c): ta folds to a grid
            # layout on a 3-epoch cadence, tb holds read amplification
            # via the file-count guard at a key-sliced layout — the soak
            # proves both policies survive kill/restart + re-delivery
            {"name": "ta", "key_cols": ["conv_id", "turn_idx"],
             "n_buckets": 16, "compact_every": 3,
             "layout": {"key_slices": 2, "ts_slices": 2}},
            {"name": "tb", "key_cols": ["conv_id", "turn_idx"],
             "n_buckets": 16, "compact_max_files": 4,
             "layout": {"key_slices": 4}},
        ],
        "views": [
            # changefeed-patched: refresh cost ~ delta, source never rescanned
            {"name": "role_counts", "table": "ta", "group_cols": ["role"],
             "kind": "delta", "measures": {"n_turns": ["count", "*"]},
             "payload_cols": ["role"], "n_buckets": 4},
            # dirty-group recompute over the key prefix
            {"name": "conv_sizes", "table": "tb", "group_cols": ["conv_id"],
             "kind": "incremental",
             "aggs": {"n_turns": "count(1)", "last_ts": "max(ts)"},
             "n_buckets": 8},
        ],
    })

    stream_schema = full.schema
    pipe = Pipeline(spark, spec)

    frontier_probes = 0
    frontier_violations = []
    last_frontier_epoch = -1
    text_pat = r"^turn text conv-\d{8}/\d+ @lsn=(\d+)$"

    def probe_frontier(p: Pipeline) -> None:
        """Pin both tables to the newest frontier marker and assert each
        pinned read is an LWW-consistent committed state."""
        nonlocal frontier_probes, last_frontier_epoch
        fr = latest_frontier(os.path.join(lake, "_frontier"))
        if fr is None:
            return
        frontier_probes += 1
        if fr.epoch < last_frontier_epoch:
            frontier_violations.append(
                f"frontier epoch went backwards: {last_frontier_epoch} -> {fr.epoch}"
            )
        last_frontier_epoch = max(last_frontier_epoch, fr.epoch)
        for name, sid in fr.snapshot_ids.items():
            df = p.tables[name].read(snapshot_id=sid, include_internal=True)
            dups = (
                df.groupBy("conv_id", "turn_idx").count()
                .filter("count > 1").count()
            )
            bad_text = df.filter(
                ~F.col("text").rlike(text_pat)
                | (F.regexp_extract("text", text_pat, 1).cast("long")
                   != F.col("_lsn"))
            ).count()
            if dups or bad_text:
                frontier_violations.append(
                    f"epoch {fr.epoch} table {name}: dups={dups} bad_text={bad_text}"
                )

    t0 = time.perf_counter()
    q = pipe.run_stream(feed, stream_schema, ckpt, max_files_per_trigger=2,
                        available_now=False)
    killed = False
    for s in range(n_slices):
        lo, hi = s * step, (s + 1) * step
        (full.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi))
         .coalesce(1).write.mode("append").parquet(feed))
        if s == n_slices // 2 and not killed:
            q.stop()  # crash mid-flight
            if not q.awaitTermination(60):
                raise RuntimeError("stream did not stop within 60s")
            killed = True
            pipe = Pipeline(spark, spec)  # fresh instance, same checkpoint
            q = pipe.run_stream(feed, stream_schema, ckpt,
                                max_files_per_trigger=2, available_now=False)
        if s % 2 == 1:
            probe_frontier(pipe)
        time.sleep(0.5)
    q.stop()
    if not q.awaitTermination(60):
        raise RuntimeError("stream did not stop within 60s")
    # catch-up drain of anything unprocessed; an un-finished drain must
    # fail loudly, not let the oracle comparison race a live stream
    pipe = Pipeline(spark, spec)
    q2 = pipe.run_stream(feed, stream_schema, ckpt, max_files_per_trigger=4)
    drain_ok = q2.awaitTermination(max(300, n_events // 100_000))
    probe_frontier(pipe)
    wall = time.perf_counter() - t0

    # final states vs the LWW oracle over the full routed feed (shared
    # distributed twin of the driver-side replay_oracle)
    payload = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    mismatches = {}
    for name in ("ta", "tb"):
        oracle = lww_state_oracle(
            full.filter(F.col("_table") == name).drop("_table"),
            ["conv_id", "turn_idx"], payload,
        )
        mismatches[name] = diff_count(
            pipe.tables[name].read().select(*payload), oracle
        )

    # views vs from-scratch recompute of the final table states
    got_rc = pipe.view("role_counts")
    want_rc = (
        pipe.tables["ta"].read().groupBy("role")
        .agg(F.count(F.lit(1)).cast("long").alias("n_turns"))
    )
    view_mismatch_rc = diff_count(got_rc.select("role", "n_turns"), want_rc)
    got_cs = pipe.view("conv_sizes")
    want_cs = (
        pipe.tables["tb"].read().groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"), F.max("ts").alias("last_ts"))
    )
    cs_cols = ["conv_id", "n_turns", "last_ts"]
    view_mismatch_cs = diff_count(
        got_cs.select(*cs_cols), want_cs.select(*cs_cols)
    )

    # declared-maintenance gates: ta's buckets must have folded to the
    # grid layout, tb's read amplification must be bounded by the
    # file-count guard. The file-equivalent counting rule (lww_group
    # slices fold to one) lives in LakeTable.bucket_file_counts — the
    # same source the compaction trigger reads, so the gate can't drift
    def worst_files(tbl) -> int:
        return max(tbl.bucket_file_counts().values(), default=0)

    ta_grid = all(
        {e.get("key_k") for e in fs} == {2}
        and {e.get("ts_k") for e in fs} == {2}
        for fs in pipe.tables["ta"].current().files.values()
        if fs and all(e.get("kind") == "base" for e in fs)
    ) and any(
        fs and all(e.get("kind") == "base" for e in fs)
        for fs in pipe.tables["ta"].current().files.values()
    )
    worst = {n: worst_files(pipe.tables[n]) for n in ("ta", "tb")}

    ok = (
        killed
        and drain_ok
        and all(v == 0 for v in mismatches.values())
        and view_mismatch_rc == 0
        and view_mismatch_cs == 0
        and frontier_probes > 0
        and not frontier_violations
        and last_frontier_epoch >= 0
        and ta_grid
        and worst["tb"] <= 4 + 1  # guard bound + the triggering delta
    )
    print(json.dumps({
        "soak_events": n_events, "slices": n_slices,
        "killed_and_restarted": killed, "drain_ok": drain_ok,
        "wall_sec": round(wall, 1),
        "final_rows": {n: pipe.tables[n].read().count() for n in ("ta", "tb")},
        "state_mismatch_rows": mismatches,
        "view_mismatch_rows": {"role_counts": view_mismatch_rc,
                               "conv_sizes": view_mismatch_cs},
        "frontier_probes": frontier_probes,
        "frontier_last_epoch": last_frontier_epoch,
        "frontier_violations": frontier_violations,
        "ta_grid_layout_held": ta_grid,
        "worst_bucket_files": worst,
        "ok": ok,
    }))
    full.unpersist()
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
