"""Regression tests for the round-4 driver/lake review findings.

Each test pins one confirmed failure scenario:
 1. change-stream schema cached for the engine's lifetime (DDL-added columns
    silently nulled into the sink)
 2. restart after an in-stream drop of the bound table crash-loops on
    FileNotFoundError instead of reaching the clean stop
 3. drop_database of the engine's own database kills the run mid-batch
 4. two DDL events at one LSN: only the first ever applied
 5. empty-slice batches must complete (Observation.get blocks forever when
    the observed node runs zero tasks)
 6. streaming tail silently ignored cfg.feed_path
 7. multi-table template with explicit derived paths made all lanes commit
    to one LakeTable (manifest race)
 8. a crash between LakeTable.create's mkdir and the first publish bricked
    the path (exists() False but create() raising forever)
 9. _stage_write_kinds lost exact row counts (rows=None on compacted files)
"""

import os

import pytest
from pyspark.sql import functions as F

from ape_dts_spark.lake.catalog import Catalog
from ape_dts_spark.lake.table import LakeTable
from ape_dts_spark.functions.extract_text import extract_text_udf
from ape_dts_spark.sources.generator import PAGES_COLS, gen_changes, gen_pages_seed
from ape_dts_spark.streaming.driver import CdcEngine, EngineConfig
from ape_dts_spark.streaming.task_runner import MultiTableConfig, TableTask, run_multi_table

N_SEED = 40


def _seed(spark, path, n=N_SEED):
    t = LakeTable.create(str(path), PAGES_COLS, bucket_key="url", bucket_count=4)
    t.append(
        gen_pages_seed(spark, n, seed=7).withColumn("text", extract_text_udf(F.col("html")))
    )
    return t


def _write_ddls(spark, path, rows):
    spark.createDataFrame(rows, "lsn long, ddl_type string, payload string").coalesce(
        1
    ).write.parquet(str(path))


# ----------------------------------------------------------------- finding 1


def test_changes_schema_refreshes_after_add_column(spark, tmp_path):
    """Files appended AFTER an add_column DDL carry the new column; a schema
    pinned at first inference would null it into the sink."""
    ch = str(tmp_path / "changes")
    gen_changes(spark, 100, N_SEED, seed=7).drop("fetch_status").write.parquet(ch)
    # DDL MID-run (not at the stream end): batches after it re-infer over
    # phase-1 files only, so the cache must also refresh at the next run()
    _write_ddls(spark, tmp_path / "ddl", [(50, "add_column", '{"col":"quality","type":"int"}')])
    t = _seed(spark, tmp_path / "pages")
    cfg = EngineConfig(
        job_id="f1",
        pages_path=t.path,
        changes_path=ch,
        ddl_path=str(tmp_path / "ddl"),
        batch_lsn_width=60,
    )
    eng = CdcEngine(spark, cfg)
    eng.run()  # phase 1: no `quality` anywhere; DDL applied at lsn 50
    assert "quality" in [f["name"] for f in t.refresh().schema.fields]

    # phase 2: tail files now carry the DDL-added column
    gen_changes(spark, 100, N_SEED, seed=7, start_lsn=101).drop("fetch_status").withColumn(
        "quality", F.pmod(F.col("lsn"), F.lit(7)).cast("int")
    ).write.mode("append").parquet(ch)
    eng.run()

    got = t.refresh().read(spark).toPandas()
    late = got[(got.last_lsn >= 101)]
    assert len(late) > 0
    # every row whose winning event is post-DDL must carry its quality value
    assert late["quality"].notna().all(), "DDL-added column nulled into the sink"
    assert (late["quality"] == late["last_lsn"] % 7).all()


# ----------------------------------------------------------------- finding 4


def test_equal_lsn_ddls_all_apply(spark, tmp_path):
    ch = str(tmp_path / "changes")
    gen_changes(spark, 100, N_SEED, seed=7).drop("fetch_status").write.parquet(ch)
    _write_ddls(
        spark,
        tmp_path / "ddl",
        [
            (50, "add_column", '{"col":"q2","type":"int"}'),
            (50, "rename_column", '{"from":"lang","to":"language"}'),
        ],
    )
    t = _seed(spark, tmp_path / "pages")
    cfg = EngineConfig(
        job_id="f4",
        pages_path=t.path,
        changes_path=ch,
        ddl_path=str(tmp_path / "ddl"),
        batch_lsn_width=60,
    )
    eng = CdcEngine(spark, cfg)
    eng.run()
    names = [f["name"] for f in t.refresh().schema.fields]
    assert "q2" in names, "second DDL at the same lsn was skipped"
    assert "language" in names and "lang" not in names
    assert eng.metrics["ddl_records"] == 2


# ----------------------------------------------------------------- finding 2


def _lifecycle_cfg(spark, tmp_path, ddl_rows, db="db"):
    root = tmp_path / db
    os.makedirs(root, exist_ok=True)
    t = _seed(spark, root / "pages")
    ch = str(tmp_path / "changes")
    if not os.path.exists(ch):
        gen_changes(spark, 100, N_SEED, seed=7).drop("fetch_status").write.parquet(ch)
    _write_ddls(spark, tmp_path / "ddl", ddl_rows)
    return EngineConfig(
        job_id="lc",
        pages_path=t.path,
        changes_path=ch,
        ddl_path=str(tmp_path / "ddl"),
        batch_lsn_width=60,
        catalog_root=str(root),
    )


def test_restart_after_drop_table_stops_cleanly(spark, tmp_path):
    cfg = _lifecycle_cfg(spark, tmp_path, [(50, "drop_table", '{"table":"pages"}')])
    eng = CdcEngine(spark, cfg)
    s1 = eng.run()
    assert "dropped" in (s1["stopped_reason"] or "")
    # restart against the same config: must reach the same clean stop, not
    # FileNotFoundError (the drop DDL can never be "re-replayed" otherwise)
    eng2 = CdcEngine(spark, cfg)
    s2 = eng2.run()
    assert "dropped" in (s2["stopped_reason"] or "")
    assert s2["batches"] == 0


# ----------------------------------------------------------------- finding 3


def test_drop_database_of_own_db_stops_cleanly(spark, tmp_path):
    cfg = _lifecycle_cfg(
        spark, tmp_path, [(50, "drop_database", '{"db":"db","cascade":true}')]
    )
    eng = CdcEngine(spark, cfg)
    s1 = eng.run()  # must not raise FileNotFoundError mid-run
    assert "database" in (s1["stopped_reason"] or "")
    assert not os.path.isdir(os.path.join(str(tmp_path), "db"))
    # restart: same clean stop
    eng2 = CdcEngine(spark, cfg)
    s2 = eng2.run()
    assert "dropped" in (s2["stopped_reason"] or "")


# ----------------------------------------------------------------- finding 5


def test_empty_slice_batches_complete(spark, tmp_path):
    """lsn gaps produce batches whose slice is empty — the run must complete
    with exact counts, never block on an unresolved Observation."""
    ch = str(tmp_path / "changes")
    df = gen_changes(spark, 10, N_SEED, seed=7).drop("fetch_status")
    df.union(
        gen_changes(spark, 5, N_SEED, seed=7, start_lsn=5001).drop("fetch_status")
    ).write.parquet(ch)
    t = _seed(spark, tmp_path / "pages")
    cfg = EngineConfig(
        job_id="f5", pages_path=t.path, changes_path=ch, batch_lsn_width=2000
    )
    eng = CdcEngine(spark, cfg)
    summary = eng.run()
    assert summary["events"] == 15
    assert summary["batches"] >= 3  # at least one all-empty slice in the gap


# ----------------------------------------------------------------- finding 6


def test_streaming_tail_emits_change_feed(spark, tmp_path):
    from ape_dts_spark.streaming.stream import start_stream

    ch = str(tmp_path / "changes")
    gen_changes(spark, 60, N_SEED, seed=7).drop("fetch_status").write.parquet(ch)
    t = _seed(spark, tmp_path / "pages")
    feed = str(tmp_path / "feed")
    cfg = EngineConfig(
        job_id="f6",
        pages_path=t.path,
        changes_path=ch,
        node_id="nodeA",
        feed_path=feed,
    )
    q = start_stream(spark, cfg, available_now=True)
    q.awaitTermination(120)
    recs = spark.read.parquet(feed)
    assert recs.count() > 0, "streaming tail silently ignored feed_path"
    assert {"key", "topic", "lsn", "value", "origin"} <= set(recs.columns)
    # relayed rows keep their upstream origin (loop-prevention contract);
    # the generator stamps every event origin="node1"
    assert {r.origin for r in recs.select("origin").distinct().collect()} == {"node1"}


# ----------------------------------------------------------------- finding 7


def test_multi_table_template_paths_are_per_table(spark, tmp_path):
    tasks = []
    for name in ("web.t1", "web.t2"):
        sub = tmp_path / name.replace(".", "_")
        t = _seed(spark, sub / "pages", n=20)
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


# ----------------------------------------------------------------- finding 8


def test_create_resumes_after_half_created_dir(tmp_path):
    p = str(tmp_path / "t")
    os.makedirs(os.path.join(p, "_meta"))  # crash between mkdir and publish
    assert not LakeTable.exists(p)
    t = LakeTable.create(p, [("k", "string", False)])  # must not raise
    assert LakeTable.exists(p) and t.version == 0
    with pytest.raises(FileExistsError):
        LakeTable.create(p, [("k", "string", False)])  # committed: still refused


# ----------------------------------------------------------------- finding 9


def test_compacted_entries_carry_footer_rows(spark, tmp_path):
    from ape_dts_spark.operators.merge import merge_into

    t = _seed(spark, tmp_path / "pages", n=20)
    ch = gen_changes(spark, 50, 20, seed=7).drop("fetch_status", "tx_id", "origin")
    merge_into(spark, t, ch)
    assert any(f.get("kind") == "delta" for f in t.manifest.files)
    t.compact(spark)
    for f in t.refresh().manifest.files:
        assert isinstance(f["rows"], int) and f["rows"] >= 0, f
        if f.get("kind") == "tombstone":
            assert f["deletes"] == f["rows"]
        else:
            assert f.get("deletes", 0) == 0
