"""Measure the GRID layout's balanced pruning on a MIXED read workload
(BENCH §6f) — the trade-off table for compact()'s two layout axes.

One merged table, four layouts, TWO read shapes probed on each:

- point lookup  (``read_key`` over the same sampled keys)
- time window   (``read(ts_prune=1 day)`` over a 30-day span)

Layouts (k files per bucket each, so read amplification is comparable):

- plain:      1 base file/bucket — both reads scan the full bucket bytes;
- key_sliced: ``compact(key_slices=k)`` — lookups open 1/k of the bytes,
              windows scan EVERYTHING (slices span the full time range);
- ts_sliced:  ``compact(ts_slices=k)`` — windows open ~1/k, lookups fan
              out to all k files;
- grid:       ``compact(key_slices=s, ts_slices=s)`` with s=√k — BOTH reads open
              ~1/s of the bucket's bytes: neither axis optimal, neither
              pathological. Pick per table from the read mix.

Row results are asserted identical across layouts for both shapes.

    python tools/bench_grid.py [n_rows] [n_buckets] [k_slices]
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_PROBE_KEYS = 8
TRIALS = 3
SPAN_DAYS = 30


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    k_slices = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    side = max(int(round(k_slices ** 0.5)), 2)
    n_convs = max(n_rows // 20, 1)

    from pyspark.sql import functions as F

    from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch
    from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import (
        TRANSCRIPT_SCHEMA,
    )
    from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable
    from postgres_to_snowflake_data_pipeline_spark.session import get_spark

    spark = get_spark("bench-grid")
    work = os.path.join(tempfile.gettempdir(), "bench_grid")
    shutil.rmtree(work, ignore_errors=True)

    table = LakeTable.create(
        spark, os.path.join(work, "t"), TRANSCRIPT_SCHEMA,
        ("conv_id", "turn_idx"), n_buckets=n_buckets,
    )
    day0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    span_secs = SPAN_DAYS * 86_400
    batch = spark.range(n_rows).select(
        F.col("id").alias("lsn"),
        F.lit("insert").alias("op"),
        F.format_string(f"c%0{len(str(n_convs))}d", F.col("id") % n_convs)
        .alias("conv_id"),
        (F.col("id") / n_convs).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("message body for event "), F.col("id")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        (F.lit(day0) + F.make_interval(
            secs=(F.col("id") % span_secs).cast("double"))).alias("ts"),
    )
    apply_batch(spark, table, batch, epoch=0)

    keys = [
        f"c{(i * n_convs // N_PROBE_KEYS):0{len(str(n_convs))}d}"
        for i in range(N_PROBE_KEYS)
    ]
    win = (day0 + dt.timedelta(days=12),
           day0 + dt.timedelta(days=13) - dt.timedelta(seconds=1))

    def stats(df) -> tuple[int, float]:
        fs = df.inputFiles()
        return len(fs), sum(
            os.path.getsize(f.removeprefix("file:")) for f in fs
        ) / 1e6

    def probe() -> dict:
        lk_t, lk_f, lk_mb, lk_rows = [], [], [], 0
        for k in keys:
            df = table.read_key(k)
            nf, mb = stats(df)
            lk_f.append(nf)
            lk_mb.append(mb)
            per = []
            for _ in range(TRIALS):
                t0 = time.perf_counter()
                got = df.collect()
                per.append(time.perf_counter() - t0)
            lk_rows += len(got)
            lk_t.append(statistics.median(per))
        wdf = table.read(ts_prune=win)
        wf, wmb = stats(wdf)
        per = []
        for _ in range(TRIALS):
            t0 = time.perf_counter()
            wrows = wdf.count()
            per.append(time.perf_counter() - t0)
        return {
            "lookup": {
                "sec": round(statistics.median(lk_t), 4),
                "files": round(statistics.mean(lk_f), 2),
                "mb": round(statistics.mean(lk_mb), 2),
            },
            "window": {
                "sec": round(statistics.median(per), 4),
                "files": wf,
                "mb": round(wmb, 2),
            },
            "_rows": (lk_rows, wrows),
        }

    layouts = [
        ("plain", dict(key_slices=1)),
        ("key_sliced", dict(key_slices=k_slices)),
        ("ts_sliced", dict(ts_slices=k_slices)),
        ("grid", dict(key_slices=side, ts_slices=side)),
    ]
    out: dict = {
        "metric": "grid_mixed_workload",
        "n_rows": n_rows,
        "n_buckets": n_buckets,
        "k_slices": k_slices,
        "grid_shape": f"{side}x{side}",
        "probe_keys": N_PROBE_KEYS,
        "window_days": 1,
        "span_days": SPAN_DAYS,
        "trials": TRIALS,
    }
    row_checks = set()
    for name, kwargs in layouts:
        table.compact(**kwargs)
        r = probe()
        row_checks.add(r.pop("_rows"))
        out[name] = r
    out["results_identical"] = len(row_checks) == 1
    assert out["results_identical"], row_checks
    print(json.dumps(out))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
