"""Task entrypoint — the `ape-dts task_config.ini` analog, spark-submit-able.

Run modes (reference task types, dt-main/src/main.rs dispatch):

    python -m ape_dts_spark task_config.ini                 # local run
    spark-submit --py-files ape_dts_spark.zip \
        scripts/run_task.py task_config.ini                 # cluster run

The ini layout mirrors the reference's section names (see config.py).  The
task type comes from `[extractor] extract_type`:

    snapshot          chunked, resume-by-chunk seed load from snapshot_path
    cdc               checkpointed LSN-sliced replay of changes_path
    snapshot_and_cdc  seed load then tail — the reference's full-sync flow
    struct            struct migration: render source DDL + create the lake
                      table with the source's schema (struct extractor/sinker)
    check             source-vs-target consistency check -> check log
                      (miss/diff/extra rows at check_log_path)
    revise            re-apply flagged miss/diff keys from the check log
                      (check-log re-extraction -> MERGE)
    review            re-check ONLY the previously-flagged keys (the
                      reference's check -> revise -> review flow)

On a cluster the SparkSession is owned by spark-submit (builder
.getOrCreate() picks up the submitted master/conf); locally we default to
local[$SPARK_GRAFT_CPUS].  Emits ONE summary JSON line on stdout.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def _get_session(master: str | None) -> SparkSession:
    from ape_dts_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    if master is None:
        # under spark-submit the builder carries the submitted conf; only
        # fall back to the local default when nothing was configured.
        # PYSPARK_GATEWAY_PORT is what spark-submit's PythonRunner actually
        # sets for the driver process (SPARK_SUBMIT_OPTS/SPARK_CONF_DIR are
        # optional user config and absent on a plain `spark-submit --master
        # yarn app.py` — keying on them alone silently forced local[N]).
        import os

        if (
            "PYSPARK_GATEWAY_PORT" in os.environ
            or "SPARK_SUBMIT_OPTS" in os.environ
            or os.environ.get("SPARK_CONF_DIR")
        ):
            return SparkSession.builder.getOrCreate()
    return get_spark("ape-dts-spark-task", master=master)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="ape_dts_spark")
    ap.add_argument("config", help="task_config.ini (reference section layout)")
    ap.add_argument("--master", default=None, help="override Spark master (local runs)")
    ap.add_argument(
        "--task",
        default=None,
        choices=[
            "snapshot", "cdc", "snapshot_and_cdc", "struct", "check", "revise", "review",
        ],
        help="override [extractor] extract_type",
    )
    ap.add_argument("--max-batches", type=int, default=None)
    args = ap.parse_args(argv)

    import configparser

    from ape_dts_spark.config import load_task_config
    from ape_dts_spark.lake.table import LakeTable
    from ape_dts_spark.sources.change_log import ChangeLog
    from ape_dts_spark.sources.generator import PAGES_COLS
    from ape_dts_spark.streaming.driver import CdcEngine
    from ape_dts_spark.streaming.snapshot import snapshot_complete, snapshot_load

    cp = configparser.ConfigParser()
    if not cp.read(args.config):
        # configparser silently returns [] for a missing/unreadable file —
        # without this check a typo'd path runs a default task against
        # empty paths and litters the CWD with auto-created table dirs
        print(f"error: cannot read config file {args.config!r}", file=sys.stderr)
        return 2
    ext = cp["extractor"] if cp.has_section("extractor") else {}
    snk = cp["sinker"] if cp.has_section("sinker") else {}
    task = args.task or ext.get("extract_type", "cdc")
    cfg = load_task_config(args.config)

    spark = _get_session(args.master)
    summary: dict = {"task": task, "job_id": cfg.job_id}

    # check/review verify an EXISTING target (auto-creating one would turn a
    # misconfigured path into an all-miss report); struct's job IS creation
    if task in ("snapshot", "cdc", "snapshot_and_cdc", "revise") and not LakeTable.exists(
        cfg.pages_path
    ):
        LakeTable.create(
            cfg.pages_path,
            PAGES_COLS,
            bucket_key=cfg.key_col,
            bucket_count=int(snk.get("bucket_count", "16")),
        )

    if task == "struct":
        from ape_dts_spark.operators.struct_meta import (
            create_lake_table_like,
            render_create_table,
        )

        src = ext.get("snapshot_path")
        if not src:
            print("error: struct task needs [extractor] snapshot_path", file=sys.stderr)
            return 2
        import os

        tb = os.path.basename(cfg.pages_path.rstrip("/"))
        ddl = render_create_table(spark, src, tb, key_cols=[cfg.key_col])
        created = False
        if not LakeTable.exists(cfg.pages_path):
            create_lake_table_like(
                cfg.pages_path, spark, src,
                bucket_key=cfg.key_col,
                bucket_count=int(snk.get("bucket_count", "16")),
            )
            created = True
        summary["struct"] = {"ddl": ddl, "created": created}

    if task in ("check", "review"):
        from ape_dts_spark.operators.checker import check as run_check
        from ape_dts_spark.operators.checker import review as run_review
        from pyspark.sql import functions as F

        src_path = ext.get("snapshot_path")
        if not src_path:
            print(f"error: {task} task needs [extractor] snapshot_path", file=sys.stderr)
            return 2
        source = spark.read.parquet(src_path)
        target = LakeTable.load(cfg.pages_path).read(spark)
        log_path = snk.get("check_log_path") or cfg.pages_path.rstrip("/") + "_checklog"
        from ape_dts_spark.operators.checker import default_compare_cols

        # [extractor] compare_cols overrides the shared default rule
        compare_cols = [
            c.strip() for c in (ext.get("compare_cols") or "").split(",") if c.strip()
        ] or default_compare_cols(source, target, [cfg.key_col], exclude=("last_lsn",))
        if task == "check":
            res = run_check(
                source, target, [cfg.key_col],
                compare_cols=compare_cols,
                sample_interval=int(ext.get("sample_interval", "1")),
            )
            # the reference's check log records problems only
            problems = res.filter(F.col("check_result") != "match")
            problems.write.mode("overwrite").parquet(log_path)
            out_path = log_path
        else:
            prior = spark.read.parquet(log_path)
            res = run_review(source, target, prior, [cfg.key_col], compare_cols=compare_cols)
            out_path = log_path.rstrip("/") + "_review"
            res.write.mode("overwrite").parquet(out_path)
        counts = {
            r["check_result"]: r["n"]
            for r in res.groupBy("check_result").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        summary[task] = {"log_path": out_path, "counts": counts}

    if task == "revise":
        from ape_dts_spark.operators.merge import merge_into
        from pyspark.sql import functions as F

        src_path = ext.get("snapshot_path")
        if not src_path:
            print("error: revise task needs [extractor] snapshot_path", file=sys.stderr)
            return 2
        from ape_dts_spark.operators.checker import revise_keys

        log_path = snk.get("check_log_path") or cfg.pages_path.rstrip("/") + "_checklog"
        log = spark.read.parquet(log_path)
        keys = revise_keys(log, [cfg.key_col])
        source = spark.read.parquet(src_path)
        table = LakeTable.load(cfg.pages_path)
        # check-log re-extraction (mysql_check_extractor.rs:50-60): pull the
        # flagged keys' CURRENT source rows and re-drive the normal MERGE
        fixes = source.join(F.broadcast(keys), on=cfg.key_col, how="left_semi")
        # Revise rows must beat everything already applied WITHOUT shadowing
        # anything the tail mints later.  Stamp them at EXACTLY
        # max(table last_lsn, stream lsn): the lake's LWW tiebreak is the
        # data sequence number (commit version, lake/table.py _read_kind),
        # so on an equal lsn the revise delta — the later commit — wins
        # deterministically over the already-applied row it corrects, while
        # every future tail event carries a strictly larger lsn and wins
        # over the revise row.  (A "+gap" scheme would instead shadow up to
        # gap legitimate events on dense-lsn streams; "+1" would tie with
        # the next real event.)
        tbl_max = (
            table.read(spark).agg(F.max("last_lsn").alias("m")).collect()[0]["m"] or 0
        )
        # the stream max from the change files' footers; revise without a
        # tail stream is legal (a missing directory lists no file)
        stream_max = ChangeLog(cfg.changes_path).refresh().max_lsn() if cfg.changes_path else 0
        next_lsn = max(tbl_max, stream_max)
        changes = fixes.withColumn("op", F.lit("update")).withColumn(
            "lsn", F.lit(next_lsn).cast("long")
        )
        stats = merge_into(spark, table, changes, dedup_source=False)
        summary["revise"] = {
            "revised_keys": keys.count(),
            "merged_rows": stats.output_rows,
            "snapshot_version": stats.new_version,
        }

    if task in ("snapshot", "snapshot_and_cdc"):
        snapshot_path = ext.get("snapshot_path")
        if not snapshot_path:
            print("error: snapshot task needs [extractor] snapshot_path", file=sys.stderr)
            return 2
        table = LakeTable.load(cfg.pages_path)
        if snapshot_complete(table):
            summary["snapshot"] = {"skipped": "already complete"}
        else:
            seed = spark.read.parquet(snapshot_path)
            summary["snapshot"] = snapshot_load(
                spark, table, seed, n_chunks=int(ext.get("snapshot_chunks", "16"))
            )

    if task in ("cdc", "snapshot_and_cdc"):
        eng = CdcEngine(spark, cfg)
        run = eng.run(max_batches=args.max_batches)
        summary["cdc"] = {
            "events": run["events"],
            "batches": run["batches"],
            "hwm": run.get("hwm"),
            "metrics": run.get("metrics"),
        }

    print(json.dumps(summary, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
