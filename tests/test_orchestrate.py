"""Declarative pipeline config + runner (the reference's Variables-driven
multi-database DAG re-expressed as a JSON spec over the engine surface).

Invariants: env interpolation matches Variable.get semantics (default /
loud-missing); an epoch run routes every source to its table with oracle
parity; re-running a completed epoch is a per-table no-op and leaves the
frontier unchanged; declared views stay equal to recompute; exports land
date-partitioned.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from postgres_to_snowflake_data_pipeline_spark.cdc.generator import change_events
from postgres_to_snowflake_data_pipeline_spark.cdc.multi import latest_frontier
from postgres_to_snowflake_data_pipeline_spark.cdc.oracle import assert_matches_oracle
from postgres_to_snowflake_data_pipeline_spark.orchestrate import (
    Pipeline,
    PipelineSpec,
    SourceSpec,
    interpolate,
)

PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def test_interpolation_matches_variable_get_semantics(monkeypatch):
    monkeypatch.setenv("ORCH_HOST", "db.example")
    monkeypatch.delenv("ORCH_MISSING", raising=False)
    assert interpolate("jdbc://${ORCH_HOST}:5432") == "jdbc://db.example:5432"
    assert interpolate("${ORCH_MISSING:fallback}") == "fallback"
    assert interpolate({"a": ["${ORCH_HOST}"]}) == {"a": ["db.example"]}
    with pytest.raises(KeyError, match="ORCH_MISSING"):
        interpolate("${ORCH_MISSING}")


def test_spec_json_round_trip_and_validation(tmp_path):
    raw = {
        "lake_root": str(tmp_path / "lake"),
        "sources": [
            {"name": "wal", "kind": "parquet_feed",
             "options": {"path": str(tmp_path / "feed/epoch={epoch}")}},
            {"name": "seed", "kind": "csv", "table": "ta",
             "options": {"path": str(tmp_path / "seed.csv"),
                         "schema_ddl": "conv_id string, turn_idx int"}},
        ],
        "tables": [
            {"name": "ta", "key_cols": ["conv_id", "turn_idx"], "n_buckets": 4},
            {"name": "tb", "key_cols": ["conv_id", "turn_idx"], "n_buckets": 4},
        ],
        "views": [
            {"name": "by_role", "table": "ta", "group_cols": ["role"],
             "measures": {"n": ["count", "*"], "chars": ["sum", "length(text)"]}},
        ],
        "exports": [{"table": "tb", "path": str(tmp_path / "out/e{epoch}")}],
    }
    spec = PipelineSpec.from_json(json.dumps(raw))
    spec2 = PipelineSpec.from_json(json.dumps(spec.to_dict()))
    assert spec == spec2
    # validation is loud
    bad = dict(raw, views=[{"name": "v", "table": "nope", "group_cols": ["r"],
                            "measures": {"n": ["count", "*"]}}])
    with pytest.raises(ValueError, match="unknown table"):
        PipelineSpec.from_dict(bad)
    with pytest.raises(ValueError, match="unknown kind"):
        SourceSpec(name="s", kind="kafka", options={})
    with pytest.raises(ValueError, match="missing options"):
        SourceSpec(name="s", kind="jdbc", options={"url": "x"})


def _tagged(ev):
    tag = F.when(F.abs(F.xxhash64("lsn")) % 2 == 0, "ta").otherwise("tb")
    return ev.withColumn("_table", tag)


def test_epoch_run_routes_views_frontier_exports(spark, tmp_path):
    ev = change_events(spark, 4000, n_convs=200).localCheckpoint()
    lo, hi = ev.select(F.min("lsn"), F.max("lsn")).first()
    mid = (lo + hi) // 2
    epochs = {0: _tagged(ev.filter(F.col("lsn") <= mid)),
              1: _tagged(ev.filter(F.col("lsn") > mid))}

    spec = PipelineSpec.from_dict({
        "lake_root": str(tmp_path / "lake"),
        "sources": [{"name": "wal", "kind": "dataframe"}],
        "tables": [
            {"name": "ta", "key_cols": ["conv_id", "turn_idx"], "n_buckets": 4},
            {"name": "tb", "key_cols": ["conv_id", "turn_idx"], "n_buckets": 4},
        ],
        "views": [
            {"name": "by_role", "table": "ta", "group_cols": ["role"],
             "measures": {"n": ["count", "*"], "chars": ["sum", "length(text)"]},
             "payload_cols": ["role", "text"], "n_buckets": 2},
            {"name": "per_conv", "table": "tb", "group_cols": ["conv_id"],
             "kind": "incremental",
             "aggs": {"n_turns": "count(1)", "last_ts": "max(ts)"},
             "n_buckets": 2},
        ],
        "exports": [{"table": "ta", "path": str(tmp_path / "out/e{epoch}")}],
    })
    pipe = Pipeline(spark, spec)
    for e in (0, 1):
        res = pipe.run_epoch(e, feeds={"wal": epochs[e]})
        assert set(res["tables"]) == {"ta", "tb"}
        assert not any(r.skipped for r in res["tables"].values())
        assert res["unknown_rows"] == 0

    # per-table oracle parity over the concatenated feed
    full = epochs[0].unionByName(epochs[1])
    for name in ("ta", "tb"):
        expected = full.filter(F.col("_table") == name).drop("_table")
        assert_matches_oracle(pipe.tables[name].read(), expected, PAYLOAD)

    # views equal recompute
    got = {tuple(r) for r in pipe.view("by_role").collect()}
    want = {
        tuple(r)
        for r in pipe.tables["ta"].read().groupBy("role").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.length("text")).alias("chars"),
        ).collect()
    }
    assert got == want
    got = {tuple(r) for r in pipe.view("per_conv").collect()}
    want = {
        tuple(r)
        for r in pipe.tables["tb"].read().groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n_turns"), F.max("ts").alias("last_ts")
        ).collect()
    }
    assert got == want

    # frontier pinned at the last fully-applied epoch
    fr = latest_frontier(os.path.join(spec.lake_root, "_frontier"))
    assert fr is not None and fr.epoch == 1 and set(fr.snapshot_ids) == {"ta", "tb"}

    # export landed date-partitioned
    assert any(d.startswith("_y=") for d in os.listdir(tmp_path / "out/e1"))

    # re-running a completed epoch: every table skips, frontier unchanged
    res = pipe.run_epoch(1, feeds={"wal": epochs[1]})
    assert all(r.skipped for r in res["tables"].values())
    assert latest_frontier(os.path.join(spec.lake_root, "_frontier")).epoch == 1
    # and a fresh Pipeline over the same spec resumes cleanly (load path)
    pipe2 = Pipeline(spark, spec)
    assert pipe2.run_epoch(0, feeds={"wal": epochs[0]})["tables"]["ta"].skipped


def test_csv_snapshot_source_bootstraps_table(spark, tmp_path):
    """The reference's seed-CSV load: snapshot rows become inserts at a
    constant LSN; later WAL epochs update over them."""
    rows = [
        ("c0", 0, "user", "seed zero", "", "2026-01-01 00:00:00"),
        ("c1", 0, "assistant", "seed one", "grep", "2026-01-01 00:00:00"),
    ]
    csv_path = tmp_path / "seed.csv"
    with open(csv_path, "w") as f:
        f.write("conv_id,turn_idx,role,text,tool,ts\n")
        for r in rows:
            f.write(",".join(map(str, r)) + "\n")
    ddl = ("conv_id string, turn_idx int, role string, text string, "
           "tool string, ts timestamp")
    spec = PipelineSpec.from_dict({
        "lake_root": str(tmp_path / "lake"),
        "sources": [{"name": "seed", "kind": "csv", "table": "ta",
                     "options": {"path": str(csv_path), "schema_ddl": ddl}}],
        "tables": [{"name": "ta", "key_cols": ["conv_id", "turn_idx"],
                    "n_buckets": 2, "schema_ddl": ddl}],
        "frontier": False,
    })
    pipe = Pipeline(spark, spec)
    pipe.run_epoch(0)
    got = {r["conv_id"]: r for r in pipe.tables["ta"].read().collect()}
    assert set(got) == {"c0", "c1"}
    assert got["c1"]["tool"] == "grep"
    assert got["c0"]["tool"] is None  # empty string -> NULL (P5)
    # a WAL epoch with a higher lsn updates over the seed
    upd = spark.createDataFrame(
        [(10, "update", "c0", 0, "user", "updated", None, None)],
        "lsn long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp",
    ).withColumn("_table", F.lit("ta"))
    spec2 = PipelineSpec.from_dict(dict(spec.to_dict(), sources=[
        {"name": "wal", "kind": "dataframe"}]))
    pipe2 = Pipeline(spark, spec2)
    pipe2.run_epoch(1, feeds={"wal": upd})
    got = {r["conv_id"]: r["text"] for r in pipe2.tables["ta"].read().collect()}
    assert got == {"c0": "updated", "c1": "seed one"}


def test_streaming_pipeline_resumes_exactly_once(spark, tmp_path):
    """run_stream drains the feed as micro-batch epochs (routing + frontier
    + views per batch); a restart with the same checkpoint applies only new
    files, and the final state matches the LWW oracle over the whole feed."""
    from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import (
        CHANGE_EVENT_SCHEMA,
    )

    ev = change_events(spark, 3000, n_convs=150).localCheckpoint()
    lo, hi = ev.select(F.min("lsn"), F.max("lsn")).first()
    step = (hi - lo + 1) // 3 + 1
    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()

    def emit(i):
        part = _tagged(ev.filter(
            (F.col("lsn") >= lo + i * step) & (F.col("lsn") < lo + (i + 1) * step)
        ))
        part.coalesce(1).write.parquet(str(tmp_path / f"stage{i}"))
        import glob, shutil
        src = glob.glob(str(tmp_path / f"stage{i}" / "*.parquet"))[0]
        shutil.move(src, feed_dir / f"slice-{i}.parquet")

    emit(0)
    emit(1)
    spec = PipelineSpec.from_dict({
        "lake_root": str(tmp_path / "lake"),
        "sources": [{"name": "wal", "kind": "dataframe"}],
        "tables": [
            {"name": "ta", "key_cols": ["conv_id", "turn_idx"], "n_buckets": 4},
            {"name": "tb", "key_cols": ["conv_id", "turn_idx"], "n_buckets": 4},
        ],
        "views": [
            {"name": "by_role", "table": "ta", "group_cols": ["role"],
             "measures": {"n": ["count", "*"]},
             "payload_cols": ["role"], "n_buckets": 2}],
    })
    ckpt = str(tmp_path / "ckpt")
    pipe = Pipeline(spark, spec)
    # _table is not part of CHANGE_EVENT_SCHEMA; extend it for the stream
    stream_schema = pipe.spark.read.parquet(str(feed_dir)).schema
    q = pipe.run_stream(str(feed_dir), stream_schema, ckpt)
    q.awaitTermination()
    n_after_2 = pipe.tables["ta"].read().count()
    assert n_after_2 > 0
    # restart: one new slice; re-delivered batches are no-ops
    emit(2)
    pipe2 = Pipeline(spark, spec)
    q = pipe2.run_stream(str(feed_dir), stream_schema, ckpt)
    q.awaitTermination()
    full = _tagged(ev)
    for name in ("ta", "tb"):
        expected = full.filter(F.col("_table") == name).drop("_table")
        assert_matches_oracle(pipe2.tables[name].read(), expected, PAYLOAD)
    # view stayed exact through the stream
    got = {(r["role"], r["n"]) for r in pipe2.view("by_role").collect()}
    want = {
        (r["role"], r["n"])
        for r in pipe2.tables["ta"].read().groupBy("role")
        .agg(F.count(F.lit(1)).cast("long").alias("n")).collect()
    }
    assert got == want


def test_whole_template_values_keep_json_types(monkeypatch):
    """An option that is ENTIRELY one template coerces via JSON: booleans
    and numbers from the environment must not arrive as truthy strings
    ('false' would silently flip drop_malformed to DROPMALFORMED)."""
    monkeypatch.delenv("ORCH_DROP", raising=False)
    monkeypatch.delenv("ORCH_PORT", raising=False)
    assert interpolate("${ORCH_DROP:false}") is False
    assert interpolate("${ORCH_PORT:5432}") == 5432
    monkeypatch.setenv("ORCH_DROP", "true")
    assert interpolate("${ORCH_DROP:false}") is True
    monkeypatch.setenv("ORCH_HOST2", "db1")
    assert interpolate("${ORCH_HOST2}") == "db1"  # non-JSON stays a string
    # embedded templates still substitute as text
    assert interpolate("p=${ORCH_PORT:5432}") == "p=5432"
    # env values are typed by the DECLARED default, never re-guessed: a
    # digit-only credential/path with no default (or a string default)
    # must stay a string, not arrive retyped as int/float
    monkeypatch.setenv("ORCH_PASS", "123456")
    assert interpolate("${ORCH_PASS}") == "123456"
    monkeypatch.setenv("ORCH_PATH", "1e5")
    assert interpolate("${ORCH_PATH:/data}") == "1e5"
    # numeric default + numeric env -> number; non-numeric env is loud
    monkeypatch.setenv("ORCH_PORT", "6543")
    assert interpolate("${ORCH_PORT:5432}") == 6543
    monkeypatch.setenv("ORCH_PORT", "not-a-port")
    with pytest.raises(ValueError):
        interpolate("${ORCH_PORT:5432}")
    monkeypatch.setenv("ORCH_DROP", "yes")
    with pytest.raises(ValueError):
        interpolate("${ORCH_DROP:false}")


def test_viewspec_validates_measures_at_load():
    base = {
        "lake_root": "/tmp/x",
        "sources": [{"name": "wal", "kind": "dataframe"}],
        "tables": [{"name": "ta", "key_cols": ["conv_id", "turn_idx"]}],
    }
    with pytest.raises(ValueError, match="sum/count/avg/var/stddev"):
        PipelineSpec.from_dict(dict(base, views=[
            {"name": "v", "table": "ta", "group_cols": ["role"],
             "measures": {"n": ["median", "x"]}}]))
    with pytest.raises(ValueError, match="append_only"):
        PipelineSpec.from_dict(dict(base, views=[
            {"name": "v", "table": "ta", "group_cols": ["role"],
             "measures": {"lo": ["min", "lsn"]}}]))
    with pytest.raises(ValueError, match="append_only"):
        PipelineSpec.from_dict(dict(base, views=[
            {"name": "v", "table": "ta", "group_cols": ["role"],
             "measures": {"u": ["approx_distinct", "conv_id"]}}]))
    # with append_only: true it loads (round-trips too)
    spec = PipelineSpec.from_dict(dict(base, views=[
        {"name": "v", "table": "ta", "group_cols": ["role"],
         "measures": {"lo": ["min", "lsn"],
                      "u": ["approx_distinct", "conv_id"]},
         "append_only": True}]))
    assert PipelineSpec.from_dict(spec.to_dict()) == spec


def test_heterogeneous_sources_do_not_cross_pollute_schemas(spark, tmp_path):
    """Two fixed-table sources with disjoint payload columns: each table's
    schema must contain only ITS source's columns, not the union superset
    (additive evolution would otherwise bake NULL columns into both)."""
    orders = spark.createDataFrame(
        [(1, "insert", "c0", 0, 42.5)],
        "lsn long, op string, conv_id string, turn_idx int, amount double",
    )
    users = spark.createDataFrame(
        [(2, "insert", "u0", 0, "ada")],
        "lsn long, op string, conv_id string, turn_idx int, name string",
    )
    spec = PipelineSpec.from_dict({
        "lake_root": str(tmp_path / "lake"),
        "sources": [
            {"name": "so", "kind": "dataframe", "table": "orders"},
            {"name": "su", "kind": "dataframe", "table": "users"},
        ],
        "tables": [
            {"name": "orders", "key_cols": ["conv_id", "turn_idx"], "n_buckets": 2},
            {"name": "users", "key_cols": ["conv_id", "turn_idx"], "n_buckets": 2},
        ],
        "frontier": False,
    })
    pipe = Pipeline(spark, spec)
    pipe.run_epoch(0, feeds={"so": orders, "su": users})
    o_cols = set(pipe.tables["orders"].current().schema.fieldNames())
    u_cols = set(pipe.tables["users"].current().schema.fieldNames())
    assert "name" not in o_cols and "amount" in o_cols
    assert "amount" not in u_cols and "name" in u_cols
    assert pipe.tables["orders"].read().collect()[0]["amount"] == 42.5


def test_run_epoch_rejects_bad_feeds(spark, tmp_path):
    spec = PipelineSpec.from_dict({
        "lake_root": str(tmp_path / "lake"),
        "sources": [{"name": "wal", "kind": "dataframe"}],
        "tables": [{"name": "ta", "key_cols": ["conv_id", "turn_idx"]}],
        "frontier": False,
    })
    pipe = Pipeline(spark, spec)
    df = spark.createDataFrame(
        [(1, "insert", "c0", 0)],
        "lsn long, op string, conv_id string, turn_idx int",
    )
    with pytest.raises(ValueError, match="unknown sources"):
        pipe.run_epoch(0, feeds={"wall": df.withColumn("_table", F.lit("ta"))})
    # routed source (no fixed table) injected without a _table column
    with pytest.raises(ValueError, match="_table"):
        pipe.run_epoch(0, feeds={"wal": df})
    with pytest.raises(ValueError, match="unknown view"):
        pipe.view("nope")


def test_seed_then_stream_epochs_do_not_collide(spark, tmp_path):
    """run_epoch(0) seeds the table, then run_stream tails new WAL files:
    the stream's first micro-batch must NOT be skipped as a replay of the
    seed's commit key (epoch = base + batch_id, base past the seed)."""
    seed = spark.createDataFrame(
        [(1, "insert", "c0", 0, "seeded")],
        "lsn long, op string, conv_id string, turn_idx int, text string",
    ).withColumn("_table", F.lit("ta"))
    live = spark.createDataFrame(
        [(10, "insert", "c1", 0, "streamed"),
         (11, "update", "c0", 0, "updated")],
        "lsn long, op string, conv_id string, turn_idx int, text string",
    ).withColumn("_table", F.lit("ta"))
    spec = PipelineSpec.from_dict({
        "lake_root": str(tmp_path / "lake"),
        "sources": [{"name": "wal", "kind": "dataframe"}],
        "tables": [{"name": "ta", "key_cols": ["conv_id", "turn_idx"],
                    "n_buckets": 2}],
    })
    pipe = Pipeline(spark, spec)
    pipe.run_epoch(0, feeds={"wal": seed})

    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    live.coalesce(1).write.parquet(str(tmp_path / "stage"))
    import glob, shutil
    shutil.move(glob.glob(str(tmp_path / "stage" / "*.parquet"))[0],
                feed_dir / "slice-0.parquet")
    q = pipe.run_stream(str(feed_dir), live.schema, str(tmp_path / "ckpt"))
    q.awaitTermination()
    got = {r["conv_id"]: r["text"] for r in pipe.tables["ta"].read().collect()}
    assert got == {"c0": "updated", "c1": "streamed"}


def test_declared_maintenance_folds_at_spec_layout(spark, tmp_path):
    """TableSpec maintenance policy (round 4c): compact_every folds the
    table at the declared layout (grid here) on its epoch cadence; a
    re-delivered epoch's fold is a no-op on already-folded buckets; a
    spec layout without a trigger is rejected at load."""
    ev = change_events(spark, 3000, n_convs=150).localCheckpoint()
    lo, hi = ev.select(F.min("lsn"), F.max("lsn")).first()
    mid = (lo + hi) // 2
    epochs = {0: _tagged(ev.filter(F.col("lsn") <= mid)),
              1: _tagged(ev.filter(F.col("lsn") > mid))}

    spec = PipelineSpec.from_dict({
        "lake_root": str(tmp_path / "lake"),
        "sources": [{"name": "wal", "kind": "dataframe"}],
        "tables": [
            {"name": "ta", "key_cols": ["conv_id", "turn_idx"],
             "n_buckets": 4, "compact_every": 2,
             "layout": {"key_slices": 3, "ts_slices": 2}},
            {"name": "tb", "key_cols": ["conv_id", "turn_idx"],
             "n_buckets": 4},  # no policy: never folded by the runner
        ],
    })
    pipe = Pipeline(spark, spec)
    r0 = pipe.run_epoch(0, feeds={"wal": epochs[0]})
    assert r0["maintenance"] == {}  # cadence not reached yet
    r1 = pipe.run_epoch(1, feeds={"wal": epochs[1]})
    assert r1["maintenance"] == {"ta": "cadence"}

    snap = pipe.tables["ta"].current()
    for _b, fs in snap.files.items():
        if not fs:
            continue
        assert all(e["kind"] == "base" for e in fs)
        assert {e["key_k"] for e in fs} == {3}
        assert {e["ts_k"] for e in fs} == {2}
    assert any(
        e["kind"] == "delta"
        for fs in pipe.tables["tb"].current().files.values()
        for e in fs
    )

    # state survives the re-layout; oracle parity holds
    full = epochs[0].unionByName(epochs[1])
    expected = full.filter(F.col("_table") == "ta").drop("_table")
    assert_matches_oracle(pipe.tables["ta"].read(), expected, PAYLOAD)

    # re-delivered epoch: apply skips AND the cadence fold no-ops
    before = pipe.tables["ta"].current().snapshot_id
    r1b = pipe.run_epoch(1, feeds={"wal": epochs[1]})
    assert r1b["tables"]["ta"].skipped
    assert pipe.tables["ta"].current().snapshot_id == before

    with pytest.raises(ValueError, match="never be applied"):
        PipelineSpec.from_dict({
            "lake_root": str(tmp_path / "lake2"),
            "sources": [{"name": "wal", "kind": "dataframe"}],
            "tables": [{"name": "tx", "key_cols": ["conv_id"],
                        "layout": {"key_slices": 4}}],
        })
    with pytest.raises(ValueError, match="one or both of"):
        PipelineSpec.from_dict({
            "lake_root": str(tmp_path / "lake3"),
            "sources": [{"name": "wal", "kind": "dataframe"}],
            "tables": [{"name": "tx", "key_cols": ["conv_id"],
                        "compact_every": 2,
                        "layout": {"grid_slices": [2, 2]}}],
        })


def test_bad_spec_layout_fails_before_the_first_commit(spark, tmp_path):
    """A spec-declared layout that cannot apply to its table (time
    clustering on a schema with no timestamp column here) must fail the
    FIRST run_epoch call upfront — not N epochs in at the first cadence
    firing, after batches have already committed (the late-failure mode
    streaming run_stream also guards against with the same empty-bucket
    compact probe)."""
    ev = _tagged(change_events(spark, 200, n_convs=20))
    spec = PipelineSpec.from_dict({
        "lake_root": str(tmp_path / "lake"),
        "sources": [{"name": "wal", "kind": "dataframe"}],
        "tables": [
            {"name": "ta", "key_cols": ["conv_id", "turn_idx"],
             "n_buckets": 4, "compact_every": 4,
             "schema_ddl": "conv_id string, turn_idx int, role string, "
                           "text string",
             "layout": {"ts_slices": 4}},  # no timestamp to cluster by
        ],
    })
    pipe = Pipeline(spark, spec)
    with pytest.raises(ValueError, match="spec-declared layout.*no timestamp"):
        pipe.run_epoch(0, feeds={"wal": ev})
    # nothing committed: the failure preceded the first apply
    assert pipe.tables["ta"].current().commit_count == 0


def test_spec_declared_content_indexes(spark, tmp_path):
    """TableSpec.indexes (round 4e): the spec declares content indexes;
    Pipeline reconciles them into table props (create AND load paths),
    commit entries carry the per-file stats, a restart with an unchanged
    spec commits NOTHING, and a changed/removed declaration updates the
    table declaratively."""
    ev = change_events(spark, 2000, n_convs=100).localCheckpoint()

    def spec_with(indexes):
        return PipelineSpec.from_dict({
            "lake_root": str(tmp_path / "lake"),
            "sources": [{"name": "wal", "kind": "dataframe"}],
            "tables": [{"name": "ta", "key_cols": ["conv_id", "turn_idx"],
                        "n_buckets": 4, **indexes}],
        })

    spec = spec_with({"indexes": {"sets": ["role"], "tokens": "text"}})
    # the declaration must survive the JSON round-trip — an omission in
    # to_dict would make a reloaded spec silently DELETE the indexes via
    # the declarative reconcile
    rt = PipelineSpec.from_dict(json.loads(json.dumps(spec.to_dict())))
    assert rt.tables[0].indexes == {"sets": ["role"], "tokens": "text"}
    pipe = Pipeline(spark, spec)
    pipe.run_epoch(0, feeds={"wal": ev.withColumn("_table", F.lit("ta"))})
    table = pipe.tables["ta"]
    assert table.props["index.sets"] == ["role"]
    assert table.props["index.tokens"] == "text"
    snap = table.current()
    role_id = str(snap.column_ids["role"])
    data_entries = [
        e for fs in snap.files.values() for e in fs
    ]
    assert data_entries and all(
        role_id in e.get("sets", {}) and "tok" in e for e in data_entries
    )

    # restart with the SAME spec: reconcile is a no-op, zero new commits
    before = table.current().snapshot_id
    pipe2 = Pipeline(spark, spec)
    assert pipe2.tables["ta"].current().snapshot_id == before

    # changed declaration: props follow the spec
    pipe3 = Pipeline(
        spark, spec_with({"indexes": {"sets": ["role", "tool"]}})
    )
    p = pipe3.tables["ta"].props
    assert p["index.sets"] == ["role", "tool"]
    assert "index.tokens" not in p

    # removed declaration: props cleared
    pipe4 = Pipeline(spark, spec_with({}))
    p = pipe4.tables["ta"].props
    assert "index.sets" not in p and "index.tokens" not in p

    # shape validation at spec load; type validation at the table commit
    with pytest.raises(ValueError, match="'sets'/'tokens'"):
        spec_with({"indexes": {"columns": ["role"]}})
    with pytest.raises(ValueError, match="string required"):
        Pipeline(
            spark, spec_with({"indexes": {"tokens": "turn_idx"}})
        )


def test_join_view_in_pipeline(spark, tmp_path):
    """kind='join' views maintain a fact⋈dim join through the declarative
    layer: both sides fed by routed epochs, refreshed per run_epoch, and
    the spec round-trips through JSON with the join fields intact."""
    ev = change_events(spark, 3000, n_convs=150).localCheckpoint()
    convs = sorted(r[0] for r in ev.select("conv_id").distinct().collect())
    lo, hi = ev.select(F.min("lsn"), F.max("lsn")).first()
    mid = (lo + hi) // 2
    fact_epochs = {0: ev.filter(F.col("lsn") <= mid),
                   1: ev.filter(F.col("lsn") > mid)}

    def dim_feed(rows):
        return spark.createDataFrame(
            rows, "lsn long, op string, conv_id string, grp string"
        ).withColumn("ts", F.to_timestamp(F.lit("2026-01-01 00:00:00")))

    dim_epochs = {
        0: dim_feed([(i + 1, "insert", c, f"g{i % 3}")
                     for i, c in enumerate(convs)]),
        # epoch 1: every 5th conv changes group, every 7th(+3) leaves
        1: dim_feed(
            [(10_000 + i, "update", c, "gX")
             for i, c in enumerate(convs) if i % 5 == 0]
            + [(20_000 + i, "delete", c, None)
               for i, c in enumerate(convs) if i % 7 == 3]
        ),
    }

    raw = {
        "lake_root": str(tmp_path / "lake"),
        "sources": [
            {"name": "fw", "kind": "dataframe", "table": "fact"},
            {"name": "dw", "kind": "dataframe", "table": "dim"},
        ],
        "tables": [
            {"name": "fact", "key_cols": ["conv_id", "turn_idx"],
             "n_buckets": 4},
            {"name": "dim", "key_cols": ["conv_id"], "n_buckets": 2},
        ],
        "views": [
            {"name": "fd", "table": "fact", "kind": "join",
             "right_table": "dim", "on_cols": ["conv_id"],
             "left_cols": ["role", "text"], "right_cols": ["grp"],
             "n_buckets": 2},
        ],
    }
    spec = PipelineSpec.from_dict(raw)
    # JSON round-trip preserves the join-view fields
    assert PipelineSpec.from_json(json.dumps(spec.to_dict())) == spec

    pipe = Pipeline(spark, spec)
    for e in (0, 1):
        res = pipe.run_epoch(
            e, feeds={"fw": fact_epochs[e], "dw": dim_epochs[e]}
        )
        assert res["views"]["fd"] is not None
        got = pipe.view("fd")
        want = pipe.tables["fact"].read(columns=["role", "text"]).join(
            pipe.tables["dim"].read(), on=["conv_id"], how="inner"
        ).select(*got.columns)
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    # the epoch-1 dim deletes actually fanned out of the view
    victim = convs[3]
    assert pipe.view("fd").filter(F.col("conv_id") == victim).isEmpty()

    # spec-load validation is loud
    with pytest.raises(ValueError, match="right_table and on_cols"):
        PipelineSpec.from_dict(dict(raw, views=[
            {"name": "v", "table": "fact", "kind": "join"}]))
    with pytest.raises(ValueError, match="unknown right table"):
        PipelineSpec.from_dict(dict(raw, views=[
            {"name": "v", "table": "fact", "kind": "join",
             "right_table": "nope", "on_cols": ["conv_id"]}]))
    with pytest.raises(ValueError, match="group_cols must be empty"):
        PipelineSpec.from_dict(dict(raw, views=[
            {"name": "v", "table": "fact", "kind": "join",
             "right_table": "dim", "on_cols": ["conv_id"],
             "group_cols": ["role"]}]))
    with pytest.raises(ValueError, match="how must be"):
        PipelineSpec.from_dict(dict(raw, views=[
            {"name": "v", "table": "fact", "kind": "join",
             "right_table": "dim", "on_cols": ["conv_id"], "how": "full"}]))
    with pytest.raises(ValueError, match="join-view fields"):
        PipelineSpec.from_dict(dict(raw, views=[
            {"name": "v", "table": "fact", "group_cols": ["role"],
             "measures": {"n": ["count", "*"]},
             "right_table": "dim"}]))


def test_mirror_in_pipeline(spark, tmp_path):
    """Spec-declared mirrors: a re-layout replica synced from its source
    table's changefeed after every routed epoch — exactly-once, resumable
    by a fresh Pipeline instance, JSON round-trip intact."""
    ev = change_events(spark, 3000, n_convs=150).localCheckpoint()
    lo, hi = ev.select(F.min("lsn"), F.max("lsn")).first()
    mid = (lo + hi) // 2
    epochs = {0: ev.filter(F.col("lsn") <= mid),
              1: ev.filter(F.col("lsn") > mid)}
    raw = {
        "lake_root": str(tmp_path / "lake"),
        "sources": [{"name": "w", "kind": "dataframe", "table": "t"}],
        "tables": [{"name": "t", "key_cols": ["conv_id", "turn_idx"],
                    "n_buckets": 4}],
        "mirrors": [
            {"name": "t_replica", "table": "t", "n_buckets": 8},
            {"name": "t_users", "table": "t",
             "filter": "role = 'user'", "columns": ["role", "text"]},
        ],
    }
    spec = PipelineSpec.from_dict(raw)
    assert PipelineSpec.from_json(json.dumps(spec.to_dict())) == spec

    pipe = Pipeline(spark, spec)
    for e in (0, 1):
        res = pipe.run_epoch(e, feeds={"w": epochs[e]})
        assert res["mirrors"]["t_replica"]["mode"] == "incremental"
    got, want = pipe.mirror("t_replica"), pipe.tables["t"].read()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    # the replica took its own layout
    assert pipe._mirror_handle(spec.mirrors[0]).follower.current().n_buckets == 8
    # the partial/thin replica carries exactly its declared subset
    gotp = pipe.mirror("t_users")
    wantp = want.filter("role = 'user'").select(
        "conv_id", "turn_idx", "role", "text"
    )
    assert set(gotp.columns) == {"conv_id", "turn_idx", "role", "text"}
    assert gotp.exceptAll(wantp).isEmpty() and wantp.exceptAll(gotp).isEmpty()

    # a fresh Pipeline resumes the mirror position from the follower alone
    pipe2 = Pipeline(spark, spec)
    res = pipe2.run_epoch(1, feeds={"w": epochs[1]})  # re-delivered epoch
    assert res["tables"]["t"].skipped
    assert res["mirrors"]["t_replica"] is None  # already current

    # validation is loud
    with pytest.raises(ValueError, match="unknown table"):
        PipelineSpec.from_dict(dict(raw, mirrors=[
            {"name": "m", "table": "nope"}]))
    with pytest.raises(ValueError, match="collides"):
        PipelineSpec.from_dict(dict(raw, mirrors=[
            {"name": "t", "table": "t"}]))
    with pytest.raises(ValueError, match="duplicate mirror"):
        PipelineSpec.from_dict(dict(raw, mirrors=[
            {"name": "m", "table": "t"}, {"name": "m", "table": "t"}]))
