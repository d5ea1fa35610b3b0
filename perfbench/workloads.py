"""The benchmark's workloads: set-up, warm-up, timed phases and checks.

Every workload runs in one process with one Spark session on
``local[<cores>]`` and reports every end-to-end metric (see README.md):

- ``bulk_replay``: a closed-loop drain of a fixed change-feed backlog
  through ``cdc.apply.replay_feed`` (compaction cadence on), half of it a
  hot-key feed, then a closed-loop read phase on the resulting quiet,
  compacted table.
- ``tail_serve``: an open-loop tail at a fixed slice rate through
  ``streaming.pipeline.run_stream`` onto a seeded, compacted table
  (compaction off), then the same read phase on the quiet table the tail
  left behind: a compacted base plus a dozen small deltas.

Writes and reads are never timed at the same time. Warm-up commits and
reads run untimed and count in ``setup_s``. Correctness is checked after
the timed phases against ``cdc.oracle.lww_state_oracle``.
"""

from __future__ import annotations

import glob
import os
import random
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

from postgres_to_snowflake_data_pipeline_spark.cdc import apply as cdc_apply
from postgres_to_snowflake_data_pipeline_spark.cdc.generator import (
    change_events,
    hot_key_feed,
    write_feed,
)
from postgres_to_snowflake_data_pipeline_spark.cdc.oracle import diff_count, lww_state_oracle
from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import (
    CHANGE_EVENT_SCHEMA,
    KEY_COLS,
    TRANSCRIPT_SCHEMA,
)
from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable
from postgres_to_snowflake_data_pipeline_spark.streaming import pipeline as stream_pipeline

import layers
import spans as tracing

CORES = len(os.sched_getaffinity(0))
ROW_COLS = [f.name for f in TRANSCRIPT_SCHEMA.fields]
N_BUCKETS = 8
HEAP = "2g"
TEXT_BYTES = 256

#: bulk_replay: a fixed backlog (event counts before the generator's 2 %
#: duplicate LSNs) drained in epochs of ~80k events, compacting every 2 epochs.
BULK = {
    "warmup_events": 60_000, "warmup_epochs": 2,
    "normal_events": 240_000, "normal_epochs": 3, "normal_convs": 10_000,
    "hot_events": 160_000, "hot_epochs": 2,
    "compact_every": 2,
}
#: tail_serve: seeded base, then slices of ``slice_events`` published every
#: ``interval_s`` (a fixed offered rate, never calibrated at run time).
TAIL = {
    "seed_events": 30_000, "convs": 10_000,
    "slice_events": 5_000, "interval_s": 1.2, "warmup_slices": 4,
    "write_share": 0.5,
}
#: read phase: closed loop, one client, for ``READ_SHARE`` of --seconds and
#: at least ``READ_MIN_ROUNDS`` rounds
READ_SHARE = 0.4
READ_MIN_ROUNDS = 3
READ_ROUND = ["key_hot", "key_cold", "key_absent", "multi"] + ["changes"] * 3 + ["full"] * 2
MULTI_KEYS = 1000
CHANGES_BACK = 4


@dataclass
class Result:
    workload: str
    trace: bool
    metrics: dict = field(default_factory=dict)        # name -> (value, unit, n)
    layer: dict = field(default_factory=dict)          # name -> (value, unit)
    checks: list = field(default_factory=list)         # (name, ok, detail)
    ops: int = 0
    ops_failed: int = 0
    t_start: float = field(default_factory=time.perf_counter)
    #: what the traced run's per-layer report reads (layers.py)
    layer_data: dict = field(default_factory=dict)

    def put(self, name: str, value: float, unit: str, n: int | None = None) -> None:
        self.metrics[name] = (float(value), unit, n)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    @property
    def attempted(self) -> int:
        return self.ops + len(self.checks)

    @property
    def failed(self) -> int:
        return self.ops_failed + sum(1 for _, ok, _ in self.checks if not ok)

    def report_lines(self) -> list[str]:
        lines = [f"# workload={self.workload} trace={int(self.trace)} cores={CORES}"]
        for name, (v, unit, n) in self.metrics.items():
            lines.append(f"{name:34s} {v:14.6f} {unit:6s} samples={'' if n is None else n}")
        for name, (v, unit) in self.layer.items():
            lines.append(f"{name:34s} {v:14.6f} {unit}")
        for name, ok, detail in self.checks:
            lines.append(f"check {name}: {'ok' if ok else 'FAIL'} {detail}")
        return lines

    def to_json(self) -> dict:
        chosen = self.layer if self.trace else {k: (v, u) for k, (v, u, _) in self.metrics.items()}
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
        }


def steal_s() -> float:
    """CPU time the hypervisor gave to others (all CPUs, /proc/stat), in
    seconds: logged per run, to tell a noisy machine from a slow engine."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def log(msg: str) -> None:
    """Progress line on stderr (stdout carries the result)."""
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- session
def _vmhwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, ValueError, IndexError):
                pass
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Session:
    """The Spark session of one run, with its JVM child process."""

    def __init__(self, work: str):
        from postgres_to_snowflake_data_pipeline_spark.session import get_spark

        tmp = os.path.join(work, "tmp")
        start = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{CORES}]",
            shuffle_partitions=2 * CORES,
            extra_conf={
                # a fixed-size, pre-touched heap: the JVM's peak RSS then
                # does not depend on how far the collector chose to grow it
                "spark.driver.memory": HEAP,
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    # no hsperfdata file in /tmp: the run writes only inside the checkout
                    f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
                ),
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
            },
        )
        self.jvm_start_s = time.perf_counter() - start
        self.proc = getattr(self.spark.sparkContext._gateway, "proc", None)

    def gc(self) -> None:
        """Full JVM and Python GC (untimed) before a timed phase or, for
        the reads, before their warm-up, which absorbs the slow first
        calls that follow a full collection."""
        import gc

        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def peak_rss_mb(self) -> float:
        total = _vmhwm_mb("self")
        if self.proc is not None:
            total += _vmhwm_mb(self.proc.pid)
        return total

    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for every process it started."""
        kids = _descendants(self.proc.pid) if self.proc is not None else []
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        try:
            gateway.shutdown()
        except Exception:  # py4j may already be closed; the JVM is ended below
            pass
        if self.proc is None:
            return
        try:
            self.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        except OSError:
            pass
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=30)
        deadline = time.time() + 30
        for pid in kids:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                os.kill(pid, 9)


# ---------------------------------------------------------------- helpers
def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def merge_snapshots(table: LakeTable, after_sid: int) -> list:
    return [s for s in table.log.history()
            if s.snapshot_id > after_sid and s.summary.get("operation") == "merge"]


def _fingerprint(df) -> tuple[int, int, int]:
    """(row count, sum of per-row 64-bit hashes, bytes of the row values:
    strings as UTF-8, int 4, timestamp 8). Equal multisets of rows give
    equal (count, hash sum); the exact row diff runs only on a mismatch."""
    h = F.xxhash64(*[F.col(c) for c in ROW_COLS]).cast("decimal(38,0)")
    size = (
        F.octet_length("conv_id") + F.lit(12)
        + F.coalesce(F.octet_length("role"), F.lit(0))
        + F.coalesce(F.octet_length("text"), F.lit(0))
        + F.coalesce(F.octet_length("tool"), F.lit(0))
    )
    r = df.agg(F.count(F.lit(1)), F.sum(h), F.sum(size)).first()
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def check_state(res: Result, name: str, table: LakeTable, oracle) -> int:
    """Final table state == LWW oracle state. Returns the live rows' bytes."""
    got, want = _fingerprint(table.read().select(*ROW_COLS)), _fingerprint(oracle)
    detail = f"rows={got[0]} oracle_rows={want[0]}"
    if got[:2] != want[:2]:
        detail += f" diff_rows={diff_count(table.read().select(*ROW_COLS), oracle)}"
    res.check(name, got[:2] == want[:2], detail)
    return got[2]


def oracle_state(events):
    """LWW oracle state of ``events``, cached for the checks that share it."""
    return lww_state_oracle(events, KEY_COLS, ROW_COLS).persist()


# ---------------------------------------------------------------- reads
class ReadPhase:
    """One closed-loop client on a quiet table: a seeded mix of
    ``read_key`` (hot, cold and absent keys), ``point_read_keys`` over
    ~1k keys, ``changes(since=head-k)`` and full LWW scans."""

    def __init__(self, spark, table: LakeTable, rng: random.Random, n_convs: int):
        self.table, self.rng, self.n_convs = table, rng, n_convs
        self.samples: dict[str, list[float]] = {k: [] for k in set(READ_ROUND)}
        self.point_rows: dict[str, list] = {}
        self.since: set[int] = set()
        kschema = T.StructType([T.StructField("conv_id", T.StringType()),
                                T.StructField("turn_idx", T.IntegerType())])
        # conversation ranks skewed like the generator's (u^3), turns uniform
        keys = {(f"conv-{int(n_convs * rng.random() ** 3):08d}", rng.randrange(50))
                for _ in range(MULTI_KEYS)}
        self.keys = spark.createDataFrame(sorted(keys), kschema)

    def _key(self, kind: str) -> str:
        r = self.rng
        if kind == "key_hot":
            return f"conv-{r.randrange(5):08d}"
        if kind == "key_cold":
            return f"conv-{r.randrange(self.n_convs // 2, self.n_convs):08d}"
        return f"conv-{self.n_convs + r.randrange(10**6):08d}"

    def op(self, kind: str) -> None:
        t = self.table
        if kind.startswith("key_"):
            key = self._key(kind)
            rows = t.read_key(key).select(*ROW_COLS).collect()
            self.point_rows.setdefault(key, [tuple(r) for r in rows])
        elif kind == "multi":
            noop_sink(t.point_read_keys(self.keys))
        elif kind == "changes":
            since = max(t.current().snapshot_id - CHANGES_BACK, 0)
            self.since.add(since)
            noop_sink(t.changes(since))
        else:
            noop_sink(t.read())

    def warm_up(self) -> float:
        """Untimed: one round of READ_ROUND on the state the timed reads
        will see. Returns the seconds spent, which count in ``setup_s``."""
        start = time.perf_counter()
        for kind in READ_ROUND:
            self.op(kind)
        self.point_rows.clear()
        self.since.clear()
        return time.perf_counter() - start

    def run(self, res: Result, seconds: float) -> None:
        """Closed loop for ``seconds``, in whole shuffled rounds of READ_ROUND."""
        deadline = time.perf_counter() + seconds
        rounds = 0
        while rounds < READ_MIN_ROUNDS or time.perf_counter() < deadline:
            rounds += 1
            order = list(READ_ROUND)
            self.rng.shuffle(order)
            for kind in order:
                start = time.perf_counter()
                res.ops += 1
                try:
                    self.op(kind)
                except Exception as exc:  # a failed read counts, and the run goes on
                    res.ops_failed += 1
                    log(f"read {kind} failed: {exc!r}"[:300])
                    continue
                self.samples[kind].append(time.perf_counter() - start)

    def report(self, res: Result) -> None:
        log("read samples: " + " ".join(
            f"{k}=[{','.join(f'{x:.3f}' for x in v)}]" for k, v in sorted(self.samples.items()) if v))
        keys = [s for k in ("key_hot", "key_cold", "key_absent") for s in self.samples[k]]
        res.put("point_read_p50_s", statistics.median(keys), "s", len(keys))
        for kind, name in (("multi", "multi_key_read_p50_s"), ("changes", "changefeed_poll_p50_s"),
                           ("full", "full_scan_s")):
            xs = self.samples[kind]
            res.put(name, statistics.median(xs), "s", len(xs))

    def verify(self, res: Result, oracle) -> None:
        """Sampled point reads == oracle rows; changefeed row counts ==
        rows merged by the commits in the window (commit lineage)."""
        keys = sorted(self.point_rows)
        want: dict[str, list] = {k: [] for k in keys}
        for r in oracle.filter(F.col("conv_id").isin(keys)).select(*ROW_COLS).collect():
            want[r["conv_id"]].append(tuple(r))
        bad = [k for k in keys if sorted(self.point_rows[k]) != sorted(want[k])]
        res.check("point_reads_match_oracle", not bad, f"keys={len(keys)} mismatched={bad[:3]}")
        for since in sorted(self.since):
            merged = sum(b["rows_merged"] for s in merge_snapshots(self.table, since)
                         for b in s.summary.get("bucket_lineage", []))
            got = self.table.changes(since).count()
            res.check(f"changefeed_since_{since}_matches_lineage", got == merged,
                      f"rows={got} lineage_rows_merged={merged}")


# ---------------------------------------------------------------- bulk_replay
def _hot_backlog(spark, n: int, seed: int):
    """``hot_key_feed`` (50 % of events on one conversation) with its hot
    and uniform halves interleaved in LSN order, so every epoch is hot."""
    df = hot_key_feed(spark, n, text_bytes=TEXT_BYTES, seed=seed)
    hot = F.col("conv_id") == "conv-hot"
    return df.withColumn(
        "lsn", F.when(hot, (F.col("lsn") - 100_000_000) * 2 + 1).otherwise(F.col("lsn") * 2)
    )


def bulk_replay(sess: Session, work: str, seed: int, seconds: int, res: Result, tracer) -> None:
    spark, c = sess.spark, BULK
    feeds = {name: os.path.join(work, f"feed_{name}") for name in ("normal", "hot")}
    write_feed(change_events(spark, c["normal_events"], n_convs=c["normal_convs"], seed=seed,
                             text_bytes=TEXT_BYTES), feeds["normal"], n_files=2 * c["normal_epochs"])
    write_feed(_hot_backlog(spark, c["hot_events"], seed), feeds["hot"], n_files=2 * c["hot_epochs"])
    log("bulk: feeds written")

    # warm-up: untimed commits and a compaction on a throwaway table
    warm = LakeTable.create(spark, os.path.join(work, "t_warm"), TRANSCRIPT_SCHEMA, KEY_COLS, N_BUCKETS)
    per = c["warmup_events"] // c["warmup_epochs"]
    for e in range(c["warmup_epochs"]):
        batch = change_events(spark, per, n_convs=c["normal_convs"], seed=seed + 1000 + e,
                              text_bytes=TEXT_BYTES).withColumn("lsn", F.col("lsn") + 2 * per * e)
        cdc_apply.apply_batch(spark, warm, batch, epoch=e)
    warm.compact()
    log("bulk: warm-up commits done")
    tables = {
        name: LakeTable.create(spark, os.path.join(work, f"t_{name}"), TRANSCRIPT_SCHEMA, KEY_COLS, N_BUCKETS)
        for name in ("normal", "hot")
    }
    reads = ReadPhase(spark, tables["normal"], random.Random(seed), c["normal_convs"])
    setup_s = time.perf_counter() - res.t_start

    # timed: closed-loop drain of both backlogs
    tracer.set_phase("write")
    sess.gc()
    starts, t0 = {}, time.perf_counter()
    for name in ("normal", "hot"):
        starts[name] = time.time()
        cdc_apply.replay_feed(spark, tables[name], feeds[name], epochs=c[f"{name}_epochs"],
                              compact_every=c["compact_every"])
    drain_s = time.perf_counter() - t0
    log(f"bulk: drain {drain_s:.1f}s")
    res.ops += c["normal_epochs"] + c["hot_epochs"]

    # afterwards, from the snapshot log: each merge's time since the previous
    # commit, and its lag behind the start of its backlog's drain
    commit, fresh, rows_in = [], [], 0
    for name, table in tables.items():
        prev = starts[name]
        for s in table.log.history():
            at = s.summary.get("committed_at_unix", 0.0)
            if s.summary.get("operation") == "merge":
                commit.append(at - prev)
                fresh.append(at - starts[name])
                rows_in += s.summary.get("rows_in") or 0
            if at > starts[name]:
                prev = at
    res.put("ingest_events_per_s", rows_in / drain_s, "1/s", rows_in)
    _put_latency(res, "commit", commit)
    _put_latency(res, "freshness", fresh)
    res.layer_data.update({
        "merges": [s.summary for t in tables.values() for s in merge_snapshots(t, 0)],
        "read_table": tables["normal"],
        "read_samples": reads.samples,
        "probe_keys": ["conv-00000000", "conv-00000001", f"conv-{c['normal_convs'] - 1:08d}"],
    })

    # timed: reads on the quiet table, after an untimed warm-up on it
    tracer.set_phase("read_warmup")
    sess.gc()
    res.put("setup_s", setup_s + reads.warm_up(), "s")
    tracer.set_phase("read")
    reads.run(res, READ_SHARE * seconds)
    reads.report(res)
    res.put("peak_rss_mb", sess.peak_rss_mb(), "MiB")
    log("bulk: reads done")

    tracer.set_phase("check")
    live = 0
    for name, table in tables.items():
        oracle = oracle_state(spark.read.parquet(feeds[name]))
        live += check_state(res, f"state_{name}_matches_oracle", table, oracle)
        if table is reads.table:
            reads.verify(res, oracle)
        oracle.unpersist()
    disk = sum(dir_bytes(t.root) for t in tables.values())
    res.put("storage_bytes_per_live_byte", disk / live, "ratio")
    log("bulk: checks done")


def _put_latency(res: Result, name: str, xs: list[float]) -> None:
    res.put(f"{name}_p50_s", statistics.median(xs), "s", len(xs))


# ---------------------------------------------------------------- tail_serve
class Publisher(threading.Thread):
    """Open-loop generator: lands slice ``i`` in the feed directory by
    atomic rename at ``t0 + i * interval`` (wall clock), whatever the
    engine is doing."""

    def __init__(self, files: list[str], feed_dir: str, first: int, t0: float, interval: float):
        super().__init__(name="perfbench-publisher", daemon=True)
        self.files, self.feed_dir, self.first = files, feed_dir, first
        self.t0, self.interval = t0, interval
        self.due: list[float] = []
        self.landed: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, src in enumerate(self.files):
                due = self.t0 + i * self.interval
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                publish(src, self.feed_dir, self.first + i)
                self.due.append(due)
                self.landed.append(time.time())
        except BaseException as exc:  # surfaced by the main thread after join
            self.error = exc


def publish(src: str, feed_dir: str, i: int) -> None:
    """Land one slice: fresh mtime (the file source orders new files by
    it), then an atomic rename into the watched directory."""
    os.utime(src)
    os.rename(src, os.path.join(feed_dir, f"slice-{i:06d}.parquet"))


def tail_serve(sess: Session, work: str, seed: int, seconds: int, res: Result, tracer) -> None:
    spark, c = sess.spark, TAIL
    n_timed = max(int(c["write_share"] * seconds / c["interval_s"]), 1)
    n_slices = c["warmup_slices"] + n_timed
    se = c["slice_events"]
    events = change_events(spark, c["seed_events"] + n_slices * se, n_convs=c["convs"], seed=seed,
                           text_bytes=TEXT_BYTES)
    # one generation job: the seed (slice -1) and every tail slice, one file each.
    # LSN of event i is about 2i, so slice k holds LSNs [l0 + 2*se*k, l0 + 2*se*(k+1)).
    l0 = 2 * c["seed_events"]
    stage = os.path.join(work, "stage")
    slice_of = F.when(F.col("lsn") < l0, F.lit(-1)).otherwise(((F.col("lsn") - l0) / (2 * se)).cast("int"))
    (events.withColumn("_s", slice_of)
     .repartition(2 * CORES, "_s").write.partitionBy("_s").parquet(stage))
    slices = [glob.glob(os.path.join(stage, f"_s={k}", "*.parquet")) for k in range(-1, n_slices)]
    if any(len(f) != 1 for f in slices):
        raise RuntimeError(f"expected one file per slice, got {[len(f) for f in slices]}")
    seed_df = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(slices[0][0])
    slices = [f[0] for f in slices[1:]]
    log("tail: slices staged")

    table = LakeTable.create(spark, os.path.join(work, "t_tail"), TRANSCRIPT_SCHEMA, KEY_COLS, N_BUCKETS)
    cdc_apply.apply_batch(spark, table, seed_df, epoch=-1)
    table.compact()
    log("tail: table seeded")
    reads = ReadPhase(spark, table, random.Random(seed), c["convs"])

    feed = os.path.join(work, "feed")
    os.makedirs(feed)
    q = stream_pipeline.run_stream(
        spark, table, feed, CHANGE_EVENT_SCHEMA, os.path.join(work, "ckpt"),
        max_files_per_trigger=1, compact_every=0, available_now=False,
    )
    try:
        for k in range(c["warmup_slices"]):  # warm-up: back-to-back slices
            publish(slices[k], feed, k)
        q.processAllAvailable()
        log("tail: warm-up slices done")
        setup_s = time.perf_counter() - res.t_start

        # timed: open-loop tail at a fixed rate
        tracer.set_phase("write")
        sess.gc()
        pub = Publisher(slices[c["warmup_slices"]:], feed, c["warmup_slices"], time.time() + 0.2,
                        c["interval_s"])
        pub.start()
        pub.join()
        if pub.error is not None:
            raise pub.error
        q.processAllAvailable()
        progress = [p for p in q.recentProgress if p.get("numInputRows")]
    finally:
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")

    log("tail: timed tail done")
    # afterwards, from the snapshot log: which commit made each slice visible
    committed: dict[int, tuple[float, int, int]] = {}
    for s in merge_snapshots(table, 0):
        hi = s.summary.get("lsn_max")
        if hi is not None and hi >= l0:
            k = (hi - l0) // (2 * se)
            committed[k] = (s.summary["committed_at_unix"], s.summary["epoch"], s.summary.get("rows_in") or 0)
    timed = range(c["warmup_slices"], n_slices)
    missing = [k for k in timed if k not in committed]
    res.check("every_slice_committed", not missing, f"missing={missing[:5]}")
    res.ops += len(timed)
    res.ops_failed += len(missing)
    ok = [k for k in timed if k in committed]
    fresh = [committed[k][0] - pub.due[k - c["warmup_slices"]] for k in ok]
    epochs = {committed[k][1] for k in ok}
    commit = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress if p["batchId"] in epochs]
    span = max(committed[k][0] for k in ok) - pub.due[0]
    res.put("ingest_events_per_s", sum(committed[k][2] for k in ok) / span, "1/s", len(ok))
    _put_latency(res, "commit", commit)
    _put_latency(res, "freshness", fresh)
    log("commit samples: " + ",".join(f"{x:.3f}" for x in commit))
    backlog = [
        k + 1 - c["warmup_slices"] - sum(1 for j in ok if committed[j][0] <= pub.landed[k - c["warmup_slices"]])
        for k in timed
    ]
    res.layer_data.update({
        "gen.late_s_max": max(l - d for l, d in zip(pub.landed, pub.due)),
        "stream.backlog_max_slices": max(backlog),
        "progress": [p for p in progress if p["batchId"] in epochs],
        "merges": [s.summary for s in merge_snapshots(table, 0) if s.summary.get("epoch") in epochs],
        "read_table": table,
        "read_samples": reads.samples,
        "probe_keys": ["conv-00000000", "conv-00000001", f"conv-{c['convs'] - 1:08d}"],
    })

    # timed: reads on the quiet table the tail left behind, after an
    # untimed warm-up on it
    tracer.set_phase("read_warmup")
    sess.gc()
    res.put("setup_s", setup_s + reads.warm_up(), "s")
    tracer.set_phase("read")
    reads.run(res, READ_SHARE * seconds)
    reads.report(res)
    res.put("peak_rss_mb", sess.peak_rss_mb(), "MiB")
    log("tail: reads done")

    tracer.set_phase("check")
    oracle = oracle_state(spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(feed).unionByName(seed_df))
    live = check_state(res, "state_matches_oracle", table, oracle)
    reads.verify(res, oracle)
    oracle.unpersist()
    res.put("storage_bytes_per_live_byte", dir_bytes(table.root) / live, "ratio")
    log("tail: checks done")


WORKLOADS = {"bulk_replay": bulk_replay, "tail_serve": tail_serve}
#: the end-to-end metrics every workload reports, in report order
E2E = ("setup_s", "ingest_events_per_s", "commit_p50_s", "freshness_p50_s", "point_read_p50_s",
       "multi_key_read_p50_s", "changefeed_poll_p50_s", "full_scan_s", "storage_bytes_per_live_byte",
       "peak_rss_mb", "ops_ok_frac")


def run(workload: str, work: str, seed: int, seconds: int, trace: bool) -> Result:
    res = Result(workload, trace)
    tracer = tracing.Tracer()
    if trace:
        tracer.install()
    sess = Session(work)
    log(f"session up in {sess.jvm_start_s:.1f}s")
    try:
        steal0 = steal_s()
        WORKLOADS[workload](sess, work, seed, seconds, res, tracer)
        log(f"cpu steal during the run: {steal_s() - steal0:.1f}s")
        res.put("ops_ok_frac", (res.attempted - res.failed) / res.attempted, "ratio", res.attempted)
        if trace:
            layers.report(res, sess, tracer, work)
    finally:
        tracer.uninstall()
        sess.stop()
        log("session stopped")
    res.metrics = {k: res.metrics[k] for k in E2E}
    return res
