"""Key-clustered compaction: `compact(key_slices=k)` splits each bucket's
resolved rows at bucketing-key dense-rank quantiles into up to k base
files with DISJOINT key ranges, so the manifest's per-file key stats
prune a point lookup to exactly one file — bounded file sizes without
point-read fan-out (the complement of time clustering, whose slices all
span the bucket's key range)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from postgres_to_snowflake_data_pipeline_spark.cdc.apply import apply_batch
from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import TRANSCRIPT_SCHEMA
from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable

SCHEMA = ("lsn long, op string, conv_id string, turn_idx int, role string, "
          "text string, tool string, ts timestamp")
D0 = dt.datetime(2026, 1, 1)


def _mk_table(spark, path, n_buckets=2):
    return LakeTable.create(
        spark, str(path), TRANSCRIPT_SCHEMA, ("conv_id", "turn_idx"),
        n_buckets=n_buckets,
    )


def _rows(n, lsn0=0, n_convs=40, day=D0):
    return [
        (lsn0 + j, "insert", f"c{j % n_convs:03d}", (lsn0 + j) // n_convs,
         "user", f"txt {lsn0 + j}", None, day + dt.timedelta(hours=j % 48))
        for j in range(n)
    ]


def _state(table):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["text"]) for r in table.read().collect()
    )


def test_key_sliced_layout_prunes_point_reads(spark, tmp_path):
    table = _mk_table(spark, tmp_path / "t")
    apply_batch(spark, table, spark.createDataFrame(_rows(200), SCHEMA), epoch=0)
    before = _state(table)
    snap = table.compact(key_slices=4)
    total = 0
    for _b, fs in snap.files.items():
        assert len(fs) == 4
        total += len(fs)
        # layout fields stamped; key ranges strictly disjoint within bucket
        assert {e["key_k"] for e in fs} == {4}
        assert {e["ts_k"] for e in fs} == {1}
        spans = sorted((e["key_min"], e["key_max"]) for e in fs)
        for (_, hi), (lo2, _) in zip(spans, spans[1:]):
            assert hi < lo2, spans
    assert _state(table) == before  # LWW state untouched by re-layout
    # a point lookup opens exactly ONE of the bucket's files
    opened = table.read_key("c007").inputFiles()
    assert len(opened) == 1 and total == 8
    assert table.read_key("c007").count() > 0


def test_delta_then_default_compact_refolds_at_key_layout(spark, tmp_path):
    table = _mk_table(spark, tmp_path / "t")
    apply_batch(spark, table, spark.createDataFrame(_rows(120), SCHEMA), epoch=0)
    table.compact(key_slices=3)
    # new deltas arrive; point reads stay correct across base+delta
    apply_batch(
        spark, table,
        spark.createDataFrame(_rows(60, lsn0=1000), SCHEMA), epoch=1,
    )
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in table.read_key("c005").collect()
    }
    assert got and all(k[0] == "c005" for k in got)
    # default-args maintenance compact PRESERVES the key layout
    snap = table.compact()
    for _b, fs in snap.files.items():
        assert {e["key_k"] for e in fs} == {3}
        assert all(e["kind"] == "base" for e in fs)
    assert len(table.read_key("c005").inputFiles()) == 1


def test_explicit_layout_overrides(spark, tmp_path):
    table = _mk_table(spark, tmp_path / "t")
    apply_batch(spark, table, spark.createDataFrame(_rows(120), SCHEMA), epoch=0)
    # the two axes are independent: both named is the grid, stamped on
    # every entry
    snap = table.compact(ts_slices=2, key_slices=2)
    for _b, fs in snap.files.items():
        assert {(e["ts_k"], e["key_k"]) for e in fs} == {(2, 2)}
    table.compact(key_slices=4)
    # an explicit ts layout is a COMPLETE request: key axis collapses to 1
    snap = table.compact(ts_slices=2)
    for _b, fs in snap.files.items():
        assert {e.get("key_k", 1) for e in fs} == {1}
        assert {e["ts_k"] for e in fs} == {2}
    # mixed per-bucket layouts (partial explicit rewrite) must NOT wedge
    # unattended maintenance: default compact() folds each layout group at
    # its own axis instead of raising
    table.compact(buckets=[0], key_slices=2)
    apply_batch(
        spark, table,
        spark.createDataFrame(_rows(60, lsn0=5000), SCHEMA), epoch=1,
    )
    snap = table.compact()
    for b, fs in snap.files.items():
        assert all(e["kind"] == "base" for e in fs)  # deltas folded
        want = (1, 2) if int(b) == 0 else (2, 1)
        assert {(e["ts_k"], e["key_k"]) for e in fs} == {want}, (b, fs)


def test_fresh_bucket_inherits_table_layout_on_maintenance_fold(spark, tmp_path):
    """A bucket that was EMPTY when the table was key-clustered (its first
    rows arrive later, deltas only) has no base files to read a layout
    from — the maintenance compact() must cluster it like its siblings,
    not permanently stamp it (1, 1) and silently un-slice the table's
    contract. Also covers the scoped variant (compact(buckets=[fresh]))."""
    from postgres_to_snowflake_data_pipeline_spark.lake.table import bucket_expr

    table = _mk_table(spark, tmp_path / "t")
    # split conv ids by their bucket under n_buckets=2
    ids = [f"c{j:03d}" for j in range(40)]
    bdf = spark.createDataFrame([(c,) for c in ids], "conv_id string")
    bmap = {
        r["conv_id"]: r["b"]
        for r in bdf.select("conv_id", bucket_expr("conv_id", 2).alias("b")).collect()
    }
    in0 = [c for c in ids if bmap[c] == 0]
    in1 = [c for c in ids if bmap[c] == 1]
    assert in0 and in1
    rows0 = [
        (j, "insert", in0[j % len(in0)], j // len(in0), "user",
         f"txt {j}", None, D0 + dt.timedelta(hours=j % 48))
        for j in range(120)
    ]
    apply_batch(spark, table, spark.createDataFrame(rows0, SCHEMA), epoch=0)
    snap = table.compact(key_slices=4)
    assert set(snap.files) == {"0"} or all(
        not fs for b, fs in snap.files.items() if b != "0"
    )
    # first rows for bucket 1 arrive AFTER the clustering pass
    rows1 = [
        (1000 + j, "insert", in1[j % len(in1)], j // len(in1), "user",
         f"txt {1000 + j}", None, D0 + dt.timedelta(hours=j % 48))
        for j in range(120)
    ]
    apply_batch(spark, table, spark.createDataFrame(rows1, SCHEMA), epoch=1)
    snap = table.compact(buckets=[1])  # scoped maintenance fold
    fs1 = snap.files["1"]
    assert fs1 and all(e["kind"] == "base" for e in fs1)
    assert {e["key_k"] for e in fs1} == {4}, fs1
    assert len(table.read_key(in1[0]).inputFiles()) == 1


def test_ts_prune_on_key_clustered_table_stays_correct(spark, tmp_path):
    """Key slices span the whole ts range (zone map can't skip within the
    bucket) — the read must still be CORRECT, just unpruned."""
    table = _mk_table(spark, tmp_path / "t")
    apply_batch(spark, table, spark.createDataFrame(_rows(200), SCHEMA), epoch=0)
    table.compact(key_slices=4)
    lo, hi = D0 + dt.timedelta(hours=10), D0 + dt.timedelta(hours=20)
    got = sorted(
        (r["conv_id"], r["turn_idx"])
        for r in table.read(ts_prune=(lo, hi)).collect()
    )
    want = sorted(
        (r["conv_id"], r["turn_idx"])
        for r in table.read().filter(F.col("ts").between(lo, hi)).collect()
    )
    assert got == want and got


def test_key_slicing_adds_no_exchange_over_the_fold_shuffle(spark, tmp_path):
    """The dense-rank + max windows must reuse the compaction shuffle's
    hash distribution and (bucket, key) sort — exactly ONE Exchange in
    the sliced plan (the repartition), no window-induced re-shuffle.

    Composes compact()'s OWN building blocks (_fold_shuffle +
    _key_slice_frame), so a drift in either — sort prefix, window spec,
    slice expression — re-runs through this pin instead of a hand-built
    replica staying green."""
    table = _mk_table(spark, tmp_path / "t")
    apply_batch(spark, table, spark.createDataFrame(_rows(120), SCHEMA), epoch=0)
    table.compact()  # fold first: a delta-free read has no LWW shuffle,
    # so every Exchange left in the plan is attributable to this pipeline
    df = table.read(include_internal=True, include_tombstones=True)
    df = LakeTable._fold_shuffle(df, 8, table.current().key_cols)
    df, sl, _helper = LakeTable._key_slice_frame(df, "conv_id", 4)
    df = df.withColumn("_sdir", sl)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
