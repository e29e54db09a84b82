"""Multi-table task orchestration — the reference TaskRunner analog.

Reference: dt-task/src/task_runner.rs:112-307 — list schemas/tables, prune
with the table filter, skip already-finished tables (SnapshotResumer), then
run per-table tasks under a `tb_parallel_size` semaphore; and
dt-parallelizer/src/table_parallelizer.rs (one lane per table).

Spark-first expression: each table is an independent CdcEngine over its own
(pages, changes) pair; concurrency is a thread pool of drivers sharing ONE
SparkSession — Spark's scheduler interleaves their jobs (FAIR pools give
per-table isolation).  Each table keeps its own committed high-watermark,
so resume/skip-finished falls out of the single-table protocol.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field, replace

from pyspark.sql import SparkSession

from ape_dts_spark.operators.filters import TableFilter
from ape_dts_spark.streaming.driver import CdcEngine, EngineConfig


@dataclass
class TableTask:
    name: str  # logical "schema.tb"
    pages_path: str
    changes_path: str
    ddl_path: str | None = None


@dataclass
class MultiTableConfig:
    job_id: str
    tables: list[TableTask] = field(default_factory=list)
    table_filter: TableFilter = field(default_factory=TableFilter)
    tb_parallel_size: int = 4  # reference tb_parallel_size semaphore
    engine_defaults: EngineConfig | None = None  # template (paths overridden)
    use_fair_pools: bool = True


def run_multi_table(spark: SparkSession, cfg: MultiTableConfig) -> dict:
    """Run every selected table's CDC replay; returns per-table summaries.

    Tables failing are reported, not fatal to siblings (the reference spawns
    independent tokio tasks per table; an error interrupts only that task).
    """
    selected = [t for t in cfg.tables if cfg.table_filter.matches(t.name)]
    template = cfg.engine_defaults or EngineConfig(
        job_id=cfg.job_id, pages_path="", changes_path=""
    )

    def one(task: TableTask) -> tuple[str, dict]:
        if cfg.use_fair_pools:
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"tb-{task.name}"
            )
        try:
            import os

            # a template-level derived path (checkpoints/lineage/feed/logs)
            # is a PARENT directory: every table lane gets its own child.
            # Shared verbatim, all lanes would append-commit to ONE LakeTable
            # and race on the manifest version (CommitConflict mid-replay).
            sub = task.name.replace("/", "_")

            def _per_table(p: str | None) -> str | None:
                return os.path.join(p.rstrip("/"), sub) if p else p

            ecfg = replace(
                template,
                job_id=f"{cfg.job_id}:{task.name}",
                pages_path=task.pages_path,
                changes_path=task.changes_path,
                ddl_path=task.ddl_path,
                checkpoints_path=_per_table(template.checkpoints_path),
                lineage_path=_per_table(template.lineage_path),
                feed_path=_per_table(template.feed_path),
                log_dir=_per_table(template.log_dir),
            )
            eng = CdcEngine(spark, ecfg)
            t0 = time.monotonic()
            summary = eng.run()
            summary["wall_sec"] = round(time.monotonic() - t0, 2)
            return task.name, {"ok": True, **summary}
        except Exception as e:  # noqa: BLE001 - per-table fault isolation
            return task.name, {"ok": False, "error": f"{type(e).__name__}: {e}"}
        finally:
            if cfg.use_fair_pools:
                spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

    results: dict[str, dict] = {}
    n_workers = max(1, min(cfg.tb_parallel_size, len(selected) or 1))
    with ThreadPoolExecutor(max_workers=n_workers, thread_name_prefix="tbtask") as ex:
        futs = [ex.submit(one, t) for t in selected]
        for f in as_completed(futs):
            name, summ = f.result()
            results[name] = summ
    return {
        "tables_selected": [t.name for t in selected],
        "tables_skipped": [t.name for t in cfg.tables if t not in selected],
        "results": results,
        "events": sum(r.get("events", 0) for r in results.values() if r.get("ok")),
        "all_ok": all(r.get("ok") for r in results.values()) if results else True,
    }
