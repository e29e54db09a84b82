"""Multi-table TaskRunner tests (table filter pruning, parallel per-table
engines sharing one session, fault isolation)."""

import os

from pyspark.sql import functions as F

from ape_dts_spark.functions.extract_text import extract_text_udf
from ape_dts_spark.lake.table import LakeTable
from ape_dts_spark.operators.filters import TableFilter
from ape_dts_spark.sources.generator import PAGES_COLS, gen_changes, gen_pages_seed
from ape_dts_spark.streaming.driver import EngineConfig
from ape_dts_spark.streaming.task_runner import MultiTableConfig, TableTask, run_multi_table


def _mk_table(spark, root, name, n_seed=60, n_events=300, seed=1):
    pp = f"{root}/{name}_pages"
    ch = f"{root}/{name}_changes"
    t = LakeTable.create(pp, PAGES_COLS, bucket_key="url", bucket_count=4)
    t.append(gen_pages_seed(spark, n_seed, seed=seed))
    gen_changes(spark, n_events, n_seed, seed=seed).write.parquet(ch)
    return TableTask(name=name, pages_path=pp, changes_path=ch)


def test_multi_table_run_and_filter(spark, tmp_path):
    root = str(tmp_path)
    tasks = [
        _mk_table(spark, root, "web.pages_a", seed=1),
        _mk_table(spark, root, "web.pages_b", seed=2),
        _mk_table(spark, root, "tmp.scratch", seed=3),
    ]
    cfg = MultiTableConfig(
        job_id="mt",
        tables=tasks,
        table_filter=TableFilter(do_tbs=["web.*"]),
        tb_parallel_size=2,
    )
    out = run_multi_table(spark, cfg)
    assert out["tables_selected"] == ["web.pages_a", "web.pages_b"]
    assert out["tables_skipped"] == ["tmp.scratch"]
    assert out["all_ok"] and out["events"] == 600
    # each table's final state matches an independent single-table run shape
    for name in ("web.pages_a", "web.pages_b"):
        assert out["results"][name]["batches"] >= 1
        pages = LakeTable.load(f"{root}/{name}_pages").read(spark)
        assert pages.filter(F.col("url").isNull()).count() == 0
        assert pages.count() > 0
    # untouched table has no checkpoints
    assert not LakeTable.exists(f"{root}/tmp.scratch_pages_checkpoints")


def test_multi_table_fault_isolation(spark, tmp_path):
    root = str(tmp_path)
    good = _mk_table(spark, root, "web.ok", seed=4)
    bad = TableTask(name="web.bad", pages_path=f"{root}/missing", changes_path=f"{root}/nope")
    out = run_multi_table(
        spark,
        MultiTableConfig(job_id="mt2", tables=[good, bad], tb_parallel_size=2),
    )
    assert out["results"]["web.ok"]["ok"]
    assert not out["results"]["web.bad"]["ok"]
    assert not out["all_ok"]


def test_multi_table_template_paths_are_per_table(spark, tmp_path):
    tasks = []
    for name in ("web.t1", "web.t2"):
        sub = tmp_path / name.replace(".", "_")
        t = LakeTable.create(str(sub / "pages"), PAGES_COLS, bucket_key="url", bucket_count=4)
        t.append(
            gen_pages_seed(spark, 20, seed=7).withColumn("text", extract_text_udf(F.col("html")))
        )
        gen_changes(spark, 40, 20, seed=7).drop("fetch_status").write.parquet(
            str(sub / "changes")
        )
        tasks.append(TableTask(name=name, pages_path=t.path, changes_path=str(sub / "changes")))
    ckpt, lin = str(tmp_path / "ckpt"), str(tmp_path / "lin")
    mcfg = MultiTableConfig(
        job_id="mt",
        tables=tasks,
        tb_parallel_size=2,
        engine_defaults=EngineConfig(
            job_id="mt", pages_path="", changes_path="",
            checkpoints_path=ckpt, lineage_path=lin,
        ),
    )
    out = run_multi_table(spark, mcfg)
    assert out["all_ok"], out["results"]
    # explicit template paths are parents: one child table per lane, so
    # concurrent lanes never race on a shared manifest
    for name in ("web.t1", "web.t2"):
        assert LakeTable.exists(os.path.join(ckpt, name))
        assert LakeTable.exists(os.path.join(lin, name))
    assert not LakeTable.exists(ckpt)
