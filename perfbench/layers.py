"""Per-layer metrics of a traced run (``--trace 1``).

Sources: the in-memory spans (spans.py) split by the phase they ran in,
the snapshot log of the timed commits, the streaming query's progress
reports, and Spark's own job and stage records. Every metric named in
``BENCHMARK.json``'s ``per_layer`` list is reported on every workload; a
layer the workload does not exercise reports 0.
"""

from __future__ import annotations

import os
import statistics
import time

import spans

FS_OPS = ("cas_create", "write_atomic", "read_text", "listdir", "open_parquet")
LAYERS = ("cdc.apply", "cdc.dedup", "cdc.normalize", "lake.table", "lake.metadata", "lake.fs")
#: end-to-end metrics repeated from the traced run; the same metric of an
#: untraced run on the same seed, subtracted from these, is the tracing overhead
TRACED_E2E = ("ingest_events_per_s", "commit_p50_s", "freshness_p50_s", "point_read_p50_s", "full_scan_s")


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _submitted_within(seq, t0: float, t1: float) -> list:
    """Items of a Scala Seq of Spark job or stage records submitted within
    the wall-clock interval [t0, t1] (seconds)."""
    out = []
    for i in range(seq.length()):
        item = seq.apply(i)
        sub = item.submissionTime()
        if sub.isDefined() and t0 * 1000 <= sub.get().getTime() <= t1 * 1000:
            out.append(item)
    return out


def _task_skew(spark, st) -> float:
    """max / median executor run time of one stage's tasks."""
    store = spark.sparkContext._jsc.sc().statusStore()
    gw = spark.sparkContext._gateway
    qs = gw.new_array(gw.jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    dist = store.taskSummary(st.stageId(), st.attemptId(), qs)
    if not dist.isDefined():
        return 0.0
    run = dist.get().executorRunTime()
    med, mx = run.apply(0), run.apply(1)
    return mx / med if med > 0 else 0.0


def report(res, sess, tracer: spans.Tracer, work: str) -> None:
    spark = sess.spark
    put = lambda name, value, unit: res.layer.__setitem__(name, (float(value), unit))  # noqa: E731
    data = res.layer_data
    commits = max(len(data.get("merges", [])), 1)
    reads = max(sum(len(v) for v in data.get("read_samples", {}).values()), 1)
    phase = {p: tracer.summary(p) for p in ("write", "read")}

    def span(p: str, name: str, key: str = "total_s") -> float:
        return phase[p].get(name, {}).get(key, 0.0)

    put("session.jvm_start_s", sess.jvm_start_s, "s")
    put("gen.late_s_max", data.get("gen.late_s_max", 0.0), "s")
    put("stream.backlog_max_slices", data.get("stream.backlog_max_slices", 0), "count")
    progress = data.get("progress", [])
    trig = [p["durationMs"].get("triggerExecution", 0) for p in progress]
    add = [p["durationMs"].get("addBatch", 0) for p in progress]
    put("stream.batches", len(progress), "count")
    put("stream.trigger_ms_p50", _median(trig), "ms")
    put("stream.add_batch_ms_p50", _median(add), "ms")
    put("stream.overhead_ms_p50", _median(t - a for t, a in zip(trig, add)), "ms")

    n_apply = span("write", "cdc.apply.apply_batch", "count")
    merges = data.get("merges", [])
    rows_in = sum(m.get("rows_in") or 0 for m in merges)
    rows_kept = sum(b["rows_merged"] for m in merges for b in m.get("bucket_lineage", []))
    put("apply.calls", n_apply, "count")
    put("apply.batch_s", span("write", "cdc.apply.apply_batch") / max(n_apply, 1), "s")
    put("apply.self_s", span("write", "cdc.apply.apply_batch", "self_s") / max(n_apply, 1), "s")
    put("apply.probe_s", span("write", "cdc.apply.probe"), "s")
    put("apply.probe_calls", span("write", "cdc.apply.probe", "count"), "count")
    put("apply.salt_frac", sum(1 for m in merges if (m.get("salt_buckets") or 0) > 1) / commits, "ratio")
    put("apply.keep_ratio", rows_kept / rows_in if rows_in else 0.0, "ratio")

    w0, w1 = tracer.phase_wall["write"]
    store = spark.sparkContext._jsc.sc().statusStore()
    gw = spark.sparkContext._gateway
    jobs = _submitted_within(store.jobsList(None), w0, w1)
    put("apply.spark_jobs_per_commit", len(jobs) / commits, "count")
    stages = _submitted_within(
        store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()),
        w0, w1)
    put("spark.shuffle_write_bytes_per_event",
        sum(st.shuffleWriteBytes() for st in stages) / rows_in if rows_in else 0.0, "B")
    put("spark.spill_bytes", sum(st.memoryBytesSpilled() + st.diskBytesSpilled() for st in stages), "B")
    writes = [st for st in stages if st.shuffleReadBytes() > 0 and st.outputBytes() > 0]
    put("spark.merge_task_skew", _median(_task_skew(spark, st) for st in writes), "ratio")

    n_merge = span("write", "lake.table.merge", "count")
    n_compact = span("write", "lake.table.compact", "count")
    n_key = span("read", "lake.table.read_key", "count")
    n_changes = span("read", "lake.table.changes", "count")
    put("lake.merge_s", span("write", "lake.table.merge") / max(n_merge, 1), "s")
    put("lake.compact_s", span("write", "lake.table.compact") / max(n_compact, 1), "s")
    put("lake.compact_calls", n_compact, "count")
    put("lake.read_key_s", span("read", "lake.table.read_key") / max(n_key, 1), "s")
    put("lake.changes_s", span("read", "lake.table.changes") / max(n_changes, 1), "s")
    table = data["read_table"]
    files, sizes = [], []
    for key in data.get("probe_keys", []):
        paths = table.read_key(key).inputFiles()
        files.append(len(paths))
        sizes.append(sum(os.path.getsize(p.removeprefix("file:")) for p in paths))
    put("read.files_per_point_read", _median(files), "count")
    put("read.bytes_per_point_read", _median(sizes), "B")
    put("lake.bucket_files_max", max(table.bucket_file_counts().values(), default=0), "count")

    n_commit = span("write", "lake.metadata.commit", "count")
    put("meta.commit_s", span("write", "lake.metadata.commit") / max(n_commit, 1), "s")
    put("meta.commit_calls_per_commit", n_commit / commits, "count")
    put("meta.conflict_retries", sum(1 for s in tracer.spans if s["name"] == "lake.metadata.commit"
                                     and s["phase"] == "write" and s.get("error") == "CommitConflictError"),
        "count")
    for p, per, label in (("write", commits, "commit"), ("read", reads, "read")):
        load = span(p, "lake.metadata.load", "self_s") + span(p, "lake.metadata.resolve_files")
        put(f"meta.load_s_per_{label}", load / per, "s")
    head = table.current().snapshot_id
    put("meta.snapshot_bytes", os.path.getsize(os.path.join(table.root, "_meta", f"v{head}.json")), "B")

    for op in FS_OPS:
        for p, per, label in (("write", commits, "commit"), ("read", reads, "read")):
            put(f"fs.{op}_per_{label}", span(p, f"lake.fs.{op}", "count") / per, "count")
            put(f"fs.{op}_ms_per_{label}", 1000 * span(p, f"lake.fs.{op}") / per, "ms")

    for p in ("write", "read"):
        for layer in LAYERS:
            total = sum(v["self_s"] for k, v in phase[p].items() if k.rsplit(".", 1)[0] == layer)
            put(f"self_s.{p}.{layer}", total, "s")

    cost = spans.span_cost_s()
    put("trace.spans", len(tracer.spans), "count")
    put("trace.span_cost_us", cost * 1e6, "us")
    put("trace.overhead_s_est", cost * len(tracer.spans), "s")
    for name in TRACED_E2E:
        value, unit, _ = res.metrics[name]
        put(f"traced.{name}", value, unit)
    out = os.path.join(os.path.dirname(os.path.dirname(work)), ".bench_out")
    os.makedirs(out, exist_ok=True)
    tracer.write(os.path.join(out, f"spans-{res.workload}-{int(time.time())}.json"))
