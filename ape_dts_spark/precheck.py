"""Precheck — fail-fast validation before a task runs.

The reference runs connectivity/permission/struct prechecks before starting
any task (dt-precheck/src/prechecker/*).  Our analog validates the lake-side
invariants a CDC run depends on:

* the target pages table exists and has the merge key + last_lsn columns;
* the change stream exists, has the required columns, and its LSNs are
  unique (the total-order assumption every LWW decision rests on);
* the checkpoint high-watermark is not AHEAD of the available stream (a
  truncated/rotated source — the reference's binlog-expired failure mode);
* DDL events, if present, are well-formed.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ape_dts_spark.lake.table import LakeTable
from ape_dts_spark.sources.change_log import ChangeLog
from ape_dts_spark.streaming.driver import EngineConfig

VALID_OPS = {"insert", "update", "delete"}


def required_change_cols(cfg: EngineConfig) -> set[str]:
    """The change stream must carry the LSN order, the op, and the stream's
    configured merge key (NOT a hardcoded 'url' — the engine keys off
    cfg.key_col everywhere else)."""
    return {"lsn", "op", cfg.key_col}


class PrecheckError(RuntimeError):
    pass


def precheck(spark: SparkSession, cfg: EngineConfig, deep: bool = False) -> dict:
    """Raises PrecheckError on the first fatal problem; returns a report."""
    report: dict = {}

    if not LakeTable.exists(cfg.pages_path):
        raise PrecheckError(f"pages table missing at {cfg.pages_path}")
    pages = LakeTable.load(cfg.pages_path)
    names = pages.schema.names()
    for col in (cfg.key_col, "last_lsn"):
        if col not in names:
            raise PrecheckError(f"pages table lacks required column {col}")
    report["pages_version"] = pages.version

    # fast path: columns, count and lsn range come from the footers (the
    # engine's source log, no Spark job); the LSN-uniqueness check needs a
    # countDistinct SHUFFLE over the whole stream — at the 10^10-event
    # design point that is minutes of cluster time before any run starts,
    # so it lives behind deep like the op scan
    try:
        log = ChangeLog(cfg.changes_path).refresh()
    except Exception as e:
        raise PrecheckError(f"change stream unreadable at {cfg.changes_path}: {e}") from e
    if not log.files:
        raise PrecheckError(f"change stream unreadable at {cfg.changes_path}: no data files")
    missing = required_change_cols(cfg) - set(log.columns())
    if missing:
        raise PrecheckError(f"change stream lacks columns {sorted(missing)}")
    ranged = [f for f in log.files if f.lsn_max is not None]
    report["n"] = sum(f.rows for f in log.files)
    report["lsn_min"] = min((f.lsn_min for f in ranged), default=None)
    report["lsn_max"] = max((f.lsn_max for f in ranged), default=None)
    if deep:
        changes = spark.read.parquet(cfg.changes_path)
        n_lsn = changes.agg(F.countDistinct("lsn")).collect()[0][0]
        report["n_lsn"] = n_lsn
        if report["n"] != n_lsn:
            raise PrecheckError(f"duplicate LSNs: {report['n']} rows, {n_lsn} distinct")
        # NULL satisfies neither isin nor its negation — check it explicitly
        # or a corrupt extract with op=NULL sails through
        bad_ops = (
            changes.filter(~F.col("op").isin(list(VALID_OPS)) | F.col("op").isNull())
            .limit(1)
            .collect()
        )
        if bad_ops:
            raise PrecheckError(f"invalid op value: {bad_ops[0]['op']!r}")

    # resume-position sanity: checkpoint must not be ahead of the stream end
    cp_path = cfg.checkpoints_path or cfg.pages_path.rstrip("/") + "_checkpoints"
    if LakeTable.exists(cp_path):
        cp = LakeTable.load(cp_path).read(spark)
        row = cp.filter(F.col("job_id") == cfg.job_id).agg(F.max("hwm_lsn").alias("h")).collect()[0]
        hwm = row["h"] or 0
        report["resume_hwm"] = hwm
        if report["lsn_max"] is not None and hwm > report["lsn_max"]:
            raise PrecheckError(
                f"checkpoint hwm {hwm} is ahead of stream end {report['lsn_max']} "
                "(source truncated/rotated?)"
            )

    if cfg.ddl_path:
        import json

        ddl = spark.read.parquet(cfg.ddl_path)
        for c in ("lsn", "ddl_type", "payload"):
            if c not in ddl.columns:
                raise PrecheckError(f"ddl stream lacks column {c}")
        # the DDL stream is a small control stream (the engine collects it
        # whole at init too) — validate every payload now, not mid-run
        rows = ddl.select("ddl_type", "payload").collect()
        kinds = set()
        for r in rows:
            kinds.add(r["ddl_type"])
            try:
                json.loads(r["payload"])
            except Exception as e:
                raise PrecheckError(
                    f"ddl payload for {r['ddl_type']!r} is not valid JSON: {e}"
                ) from e
        from ape_dts_spark.streaming.driver import CdcEngine

        lifecycle = kinds & CdcEngine.LIFECYCLE_DDL
        if lifecycle and not cfg.catalog_root:
            raise PrecheckError(
                f"ddl stream carries table-lifecycle events {sorted(lifecycle)} "
                "but EngineConfig.catalog_root is not set — the run would fail "
                "at the first lifecycle barrier"
            )
        if lifecycle:
            # fail before any data moves, with the SAME invariant the engine
            # enforces mid-run (one spelling, shared helper — a drifted copy
            # here would let precheck pass what the driver later rejects)
            from ape_dts_spark.streaming.driver import misbound_lifecycle_error

            for r in rows:
                err = misbound_lifecycle_error(
                    r["ddl_type"],
                    json.loads(r["payload"]),
                    cfg.pages_path,
                    cfg.catalog_root,
                )
                if err:
                    raise PrecheckError(err)
        report["n_ddl"] = len(rows)
        report["ddl_kinds"] = sorted(kinds)

    return report
