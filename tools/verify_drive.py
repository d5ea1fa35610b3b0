"""End-to-end library-surface drive (the /verify recipe, kept runnable).

Runs in a FRESH process that imports the package the way spark-submit
--py-files would: generate a CDC feed, replay it into a lake table,
re-apply an epoch (idempotency), evolve the schema mid-stream, check
lineage totals, time travel, push the report out over the staged JDBC
writeback, and spot-check two catalog queries against their DuckDB
oracles. Exits non-zero on the first failed probe.

Usage: python tools/verify_drive.py
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from postgres_to_snowflake_data_pipeline_spark.session import get_spark  # noqa: E402
from postgres_to_snowflake_data_pipeline_spark.cdc.generator import (  # noqa: E402
    change_events,
    write_feed,
)
from postgres_to_snowflake_data_pipeline_spark.cdc.apply import (  # noqa: E402
    apply_batch,
    export_lineage,
    replay_feed,
)
from postgres_to_snowflake_data_pipeline_spark.cdc.schemas import (  # noqa: E402
    TRANSCRIPT_SCHEMA,
)
from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable  # noqa: E402
from postgres_to_snowflake_data_pipeline_spark.sinks import (  # noqa: E402
    write_report_jdbc_staged,
)

CHECKS: list[tuple[str, bool, str]] = []


def check(name: str, ok: bool, detail: str = "") -> None:
    CHECKS.append((name, bool(ok), detail))
    print(f"[{'PASS' if ok else 'FAIL'}] {name} {detail}", flush=True)


def main() -> int:
    work = tempfile.mkdtemp(prefix="verify_drive_")
    spark = get_spark("verify-drive", master="local[8]", shuffle_partitions=8)
    try:
        # 1. generate -> replay -> read back
        events = change_events(spark, 20_000, n_convs=800).persist()
        feed_path = f"{work}/feed"
        write_feed(events, feed_path, n_files=8)
        table = LakeTable.create(
            spark, f"{work}/lake", TRANSCRIPT_SCHEMA,
            ("conv_id", "turn_idx"), n_buckets=8,
        )
        lineage_path = f"{work}/lineage"
        replay_feed(spark, table, feed_path, epochs=8, compact_every=4)
        export_lineage(spark, table, lineage_path)  # once, after the drain
        state = table.read().persist()
        from postgres_to_snowflake_data_pipeline_spark.cdc.oracle import (
            assert_matches_oracle,
        )
        assert_matches_oracle(
            state, events, ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        check("replayed state matches LWW oracle", True,
              f"({state.count()} rows)")
        max_lsn_row = (
            state.join(
                events.groupBy("conv_id", "turn_idx")
                .agg(F.max("lsn").alias("want_lsn")),
                ["conv_id", "turn_idx"],
            )
            .where(~F.col("text").endswith(F.concat(F.lit("@lsn="), F.col("want_lsn"))))
            .count()
        )
        check("every surviving text carries its max lsn", max_lsn_row == 0)

        # 2. idempotent replay of an already-applied epoch
        batch = spark.read.schema(events.schema).parquet(feed_path)
        before = table.read().count()
        res = apply_batch(spark, table, batch, epoch=3)
        check("re-applied epoch skipped", bool(res.skipped))
        check("row count unchanged after replay",
              table.read().count() == before)

        # 3. schema evolution: evolved feed widens, old rows NULL
        evolved = change_events(spark, 2_000, n_convs=800, evolved_from=0)
        new_cols = [c for c in evolved.columns if c not in events.columns]
        apply_batch(spark, table, evolved, epoch=8)
        after = table.read()
        check("evolved columns present",
              all(c in after.columns for c in new_cols), str(new_cols))

        # 4. lineage totals
        lineage = spark.read.parquet(lineage_path)
        # exported right after replay_feed, before the evolved apply_batch,
        # so the reconciliation target is the original feed
        rows_in = lineage.agg(F.sum("rows_in")).first()[0]
        check("lineage sum(rows_in) == feed count",
              rows_in == events.count(), f"({rows_in} vs {events.count()})")

        # 5. time travel
        snap0 = table.read(snapshot_id=1)
        check("time travel to first commit returns rows", snap0.count() > 0)

        # 5b. content indexes (round 4e): declare, write one epoch, read
        # back through eq_prune + token_prune against naive filters
        table.update_props({"index.sets": ["role"], "index.tokens": "text"})
        tail = change_events(spark, 2_000, n_convs=800, evolved_from=0)
        tail = tail.withColumn("lsn", F.col("lsn") + 10_000_000)
        apply_batch(spark, table, tail, epoch=9)
        cur = table.read().persist()
        naive_eq = cur.where("role = 'assistant'").count()
        got_eq = table.read(eq_prune={"role": "assistant"}).count()
        check("eq_prune matches naive filter", got_eq == naive_eq,
              f"({got_eq} rows)")
        from postgres_to_snowflake_data_pipeline_spark.lake.content import (
            TOKEN_SPLIT_SQL,
        )

        naive_tok = cur.where(
            F.array_contains(F.split(F.lower("text"), TOKEN_SPLIT_SQL), "turn")
        ).count()
        got_tok = table.read(token_prune="turn").count()
        check("token_prune matches naive filter", got_tok == naive_tok,
              f"({got_tok} rows)")
        cur.unpersist()

        # 5c. round-4l lifecycle: metadata state counts, zero-copy branch,
        # divergence, rebase, publish, diff — the whole loop through the
        # public API
        table.compact()
        sc = table.state_counts()
        truth = table.read(
            include_internal=True, include_tombstones=True
        ).agg(
            F.sum(F.col("_deleted").cast("long")).alias("d"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        check(
            "state_counts matches a real read",
            sc["live"] == int(truth["n"]) - int(truth["d"])
            and sc["deleted"] == int(truth["d"]),
            f"(live={sc['live']} via {sc['stats_buckets']} stats buckets)",
        )
        check("folded table counted metadata-only", sc["scanned_buckets"] == 0)

        branch = table.clone_to(f"{work}/branch")
        check("clone is value-identical", branch.read().count() == sc["live"])
        check(
            "clone copied no data files",
            not glob.glob(f"{work}/branch/data/**/*.parquet", recursive=True),
        )
        fix = (
            events.limit(200)
            .withColumn("lsn", F.col("lsn") + 50_000_000)
            .withColumn("op", F.lit("update"))
            .withColumn("text", F.lit("branch-fix"))
        )
        apply_batch(spark, branch, fix, epoch=20)
        apply_batch(
            spark, table,
            fix.withColumn("lsn", F.col("lsn") + 1)
            .withColumn("text", F.lit("trunk-side")),
            epoch=21,
        )
        from postgres_to_snowflake_data_pipeline_spark.cdc.apply import (
            rebase_branch,
        )
        check("rebase applies trunk commits",
              rebase_branch(spark, branch) is not None)
        check("rebase idempotent", rebase_branch(spark, branch) is None)
        table.fast_forward_from(branch)
        check(
            "publish converges trunk to branch",
            table.diff(branch).count() == 0
            and table.read().count() == branch.read().count(),
        )
        check(
            "trunk-side higher-lsn rows won across the rebase",
            table.read().where("text = 'trunk-side'").count() > 0
            and table.read().where("text = 'branch-fix'").count() == 0,
        )

        # 6. staged JDBC writeback round-trips and replaces atomically
        url = f"jdbc:derby:memory:verifydrive;create=true"
        props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
        report = (
            after.groupBy("role")
            .agg(F.count(F.lit(1)).alias("n"), F.max("turn_idx").alias("max_turn"))
        )
        write_report_jdbc_staged(report, url, "verify_report", props)
        write_report_jdbc_staged(report, url, "verify_report", props)  # replace
        back = (
            spark.read.format("jdbc").option("url", url)
            .option("dbtable", "verify_report").option("driver", props["driver"])
            .load()
        )
        check("staged JDBC writeback reads back identically",
              sorted(map(tuple, report.collect()))
              == sorted(map(tuple, back.collect())))

        # 7. __spark_entry__ flagship + two oracle spot-checks
        import __spark_entry__ as entrymod
        flagship = entrymod.entry(spark)
        check("entry() returns rows", flagship.count() > 0,
              f"schema={flagship.schema.simpleString()[:80]}")
        sf_dir = "/root/testdata/sf0.01"
        con = duckdb.connect()
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        queries, oracles = entrymod.queries(), entrymod.oracle_sql()
        for qname in ("q02_silver_report", "t05_dedup_exact"):
            got = queries[qname](spark, sf_dir)
            cols = sorted(got.columns)
            mine = sorted(map(tuple, got.select(*cols).collect()))
            want = con.execute(
                f"SELECT * FROM ({oracles[qname]})"
            ).fetch_df()[cols].itertuples(index=False)
            check(f"{qname} matches DuckDB oracle",
                  mine == sorted(map(tuple, want)))
        events.unpersist()
        state.unpersist()
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    failed = [c for c in CHECKS if not c[1]]
    print(json.dumps({"checks": len(CHECKS), "failed": len(failed)}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
