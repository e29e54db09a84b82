"""In-stream table-lifecycle DDL replay (reference ddl_type.rs:7-36
CreateTable/RenameTable/DropTable; replay coverage
dt-tests/tests/mysql_to_mysql/cdc/ddl_test/src_test.sql:1-60).

The engine is bound to one table inside a Catalog; lifecycle events in the
change stream dispatch through `CdcEngine._apply_lifecycle_ddl`:
* create_table mints a sibling table (if_not_exists replay contract);
* rename_table of the bound table re-points the engine mid-run — and a
  restart whose config still names the OLD table adopts the renamed one
  (`_adopt_renamed_table`);
* drop_table of the bound table ends the stream (stopped_reason).
"""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ape_dts_spark.functions.extract_text import extract_text_udf
from ape_dts_spark.lake.catalog import Catalog
from ape_dts_spark.lake.table import LakeTable
from ape_dts_spark.sources.generator import PAGES_COLS, gen_changes, gen_ddl_events, gen_pages_seed
from ape_dts_spark.streaming.driver import CdcEngine, EngineConfig
from tests.oracle import oracle_replay

N_SEED = 200
N_EVENTS = 800
SEED = 42


@pytest.fixture(scope="module")
def lifecycle_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("cdc_lifecycle")
    gen_changes(spark, N_EVENTS, N_SEED, seed=SEED).write.parquet(str(d / "changes"))
    gen_ddl_events(spark, N_EVENTS, kinds="lifecycle", table_name="pages").write.parquet(
        str(d / "ddl")
    )
    return d


def _mk_catalog(spark, root) -> Catalog:
    cat = Catalog(str(root))
    t = cat.create_table("pages", PAGES_COLS, bucket_key="url", bucket_count=8)
    seed = gen_pages_seed(spark, N_SEED, seed=SEED).withColumn(
        "text", extract_text_udf(F.col("html"))
    )
    t.append(seed)
    return cat


def _cfg(lifecycle_dir, cat_root, table="pages", **kw) -> EngineConfig:
    base = str(cat_root)
    return EngineConfig(
        job_id="lc1",
        pages_path=f"{base}/{table}",
        changes_path=str(lifecycle_dir / "changes"),
        ddl_path=str(lifecycle_dir / "ddl"),
        checkpoints_path=f"{base}_meta/checkpoints",
        lineage_path=f"{base}_meta/lineage",
        batch_lsn_width=200,
        catalog_root=base,
        **kw,
    )


def _want_pd(spark, lifecycle_dir):
    # lifecycle DDL never edits the bound table's rows: the expected final
    # data equals a plain no-DDL replay
    seed_pd = gen_pages_seed(spark, N_SEED, seed=SEED).toPandas()
    changes_pd = pd.read_parquet(str(lifecycle_dir / "changes"))
    return oracle_replay(seed_pd, changes_pd, ddls=[])


def _got_pd(spark, table):
    return table.refresh().read(spark).toPandas().sort_values("url").reset_index(drop=True)


def test_lifecycle_ddl_e2e(spark, lifecycle_dir, tmp_path):
    cat = _mk_catalog(spark, tmp_path / "db")
    eng = CdcEngine(spark, _cfg(lifecycle_dir, tmp_path / "db"))
    summary = eng.run()
    # rename applied: the engine finished the stream under the new root
    assert summary["hwm"] == N_EVENTS
    assert summary["stopped_reason"] is None
    assert cat.list_tables() == ["pages_v2"]  # aux created then dropped; pages renamed
    assert eng.cfg.pages_path.endswith("/pages_v2")
    got = _got_pd(spark, eng.pages)
    want = _want_pd(spark, lifecycle_dir)
    assert list(got["url"]) == list(want["url"])
    assert list(got["last_lsn"]) == list(want["last_lsn"])
    assert [t.encode() for t in got["text"].fillna("")] == [
        t.encode() for t in want["text"].fillna("")
    ]


class _CrashAt:
    def __init__(self, stage, batch_id):
        self.stage, self.batch_id = stage, batch_id

    def __call__(self, stage, batch_id):
        if stage == self.stage and batch_id == self.batch_id:
            raise RuntimeError(f"injected crash at {stage} b{batch_id}")


@pytest.mark.parametrize("stage", ["post_merge", "post_checkpoint"])
def test_lifecycle_crash_replay_adopts_rename(spark, lifecycle_dir, tmp_path, stage):
    """Crash around the rename barrier; the restarted engine's config still
    points at the OLD table name — it must adopt the renamed root and
    converge (create/rename/drop replays are all no-ops)."""
    root = tmp_path / "db"
    cat = _mk_catalog(spark, root)
    # width 200 over 800 lsns + barriers at 240/400/560: rename lands in batch 3
    with pytest.raises(RuntimeError, match="injected crash"):
        CdcEngine(spark, _cfg(lifecycle_dir, root, crash_hook=_CrashAt(stage, 3))).run()
    eng = CdcEngine(spark, _cfg(lifecycle_dir, root))  # config names "pages"
    summary = eng.run()
    assert summary["hwm"] == N_EVENTS
    assert cat.list_tables() == ["pages_v2"]
    got = _got_pd(spark, eng.pages)
    want = _want_pd(spark, lifecycle_dir)
    assert list(got["url"]) == list(want["url"])
    assert list(got["last_lsn"]) == list(want["last_lsn"])


def test_drop_bound_table_stops_stream(spark, lifecycle_dir, tmp_path):
    root = tmp_path / "db"
    cat = _mk_catalog(spark, root)
    drop_lsn = 1 + int(N_EVENTS * 0.45)
    ddl = spark.createDataFrame(
        [(drop_lsn, "drop_table", '{"table":"pages"}')],
        "lsn long, ddl_type string, payload string",
    )
    ddl.write.parquet(str(tmp_path / "ddl_drop"))
    cfg = _cfg(lifecycle_dir, root)
    cfg.ddl_path = str(tmp_path / "ddl_drop")
    eng = CdcEngine(spark, cfg)
    summary = eng.run()
    assert summary["stopped_reason"] and "dropped" in summary["stopped_reason"]
    # drained up to the drop barrier, then stopped — no further batches
    assert summary["hwm"] == drop_lsn
    assert cat.list_tables() == []


def test_lifecycle_ddl_without_catalog_raises(spark, lifecycle_dir, tmp_path):
    t = LakeTable.create(str(tmp_path / "pages"), PAGES_COLS, bucket_key="url", bucket_count=8)
    t.append(
        gen_pages_seed(spark, N_SEED, seed=SEED).withColumn(
            "text", extract_text_udf(F.col("html"))
        )
    )
    cfg = EngineConfig(
        job_id="lc2",
        pages_path=str(tmp_path / "pages"),
        changes_path=str(lifecycle_dir / "changes"),
        ddl_path=str(lifecycle_dir / "ddl"),
        batch_lsn_width=200,
    )
    with pytest.raises(ValueError, match="catalog_root"):
        CdcEngine(spark, cfg).run()


def _restart_cfg(spark, tmp_path, ddl_rows):
    """A 40-page table at <tmp>/db/pages bound to the catalog <tmp>/db,
    100 changes, and the given DDL rows."""
    root = tmp_path / "db"
    os.makedirs(root, exist_ok=True)
    t = LakeTable.create(str(root / "pages"), PAGES_COLS, bucket_key="url", bucket_count=4)
    t.append(
        gen_pages_seed(spark, 40, seed=7).withColumn("text", extract_text_udf(F.col("html")))
    )
    ch = str(tmp_path / "changes")
    gen_changes(spark, 100, 40, seed=7).drop("fetch_status").write.parquet(ch)
    spark.createDataFrame(ddl_rows, "lsn long, ddl_type string, payload string").coalesce(
        1
    ).write.parquet(str(tmp_path / "ddl"))
    return EngineConfig(
        job_id="lc",
        pages_path=t.path,
        changes_path=ch,
        ddl_path=str(tmp_path / "ddl"),
        batch_lsn_width=60,
        catalog_root=str(root),
    )


def test_restart_after_drop_table_stops_cleanly(spark, tmp_path):
    cfg = _restart_cfg(spark, tmp_path, [(50, "drop_table", '{"table":"pages"}')])
    eng = CdcEngine(spark, cfg)
    s1 = eng.run()
    assert "dropped" in (s1["stopped_reason"] or "")
    # restart against the same config: must reach the same clean stop, not
    # FileNotFoundError (the drop DDL can never be "re-replayed" otherwise)
    eng2 = CdcEngine(spark, cfg)
    s2 = eng2.run()
    assert "dropped" in (s2["stopped_reason"] or "")
    assert s2["batches"] == 0


def test_drop_database_of_own_db_stops_cleanly(spark, tmp_path):
    cfg = _restart_cfg(
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


def test_max_rps_pacing_and_ini_parity(spark, tmp_path):
    """Token-bucket pacing (reference max_rps, base_parallelizer.rs:70-79):
    with a tight cap, N replayed events must take >= N/max_rps wall seconds;
    and the [pipeline] max_rps / [sinker] catalog_root ini keys round-trip."""
    import time

    from ape_dts_spark.config import load_task_config

    n_seed, n_events = 60, 240
    changes = str(tmp_path / "changes")
    gen_changes(spark, n_events, n_seed, seed=7).write.parquet(changes)
    pages_path = str(tmp_path / "pages")
    t = LakeTable.create(pages_path, PAGES_COLS, bucket_key="url", bucket_count=4)
    t.append(gen_pages_seed(spark, n_seed, seed=7))

    ini = f"""
[extractor]
changes_path={changes}
batch_lsn_width=120
[sinker]
pages_path={pages_path}
catalog_root={tmp_path}
[pipeline]
job_id=rps1
max_rps=40
"""
    cfg = load_task_config(ini, is_text=True)
    assert cfg.max_rps == 40 and cfg.catalog_root == str(tmp_path)
    cfg.extract_text = False
    t0 = time.monotonic()
    summary = CdcEngine(spark, cfg).run()
    wall = time.monotonic() - t0
    assert summary["events"] == n_events
    # 240 events at 40 ev/s => >= 6s of pacing (minus the last batch's quota,
    # which needs no trailing sleep-off in the worst case) — assert a safe floor
    assert wall >= (n_events / cfg.max_rps) * 0.5
    assert summary["events_per_sec"] <= cfg.max_rps * 1.1
