"""End-to-end replay tests — the engine's acceptance gate (FIXTURES.md §6).

Mirrors the reference's integration-test design: prepare both sides, run the
task, replay the change stream, compare final state row-by-row
(/root/reference/dt-tests/README.md, rdb_test_runner.rs:464-706)."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ape_dts_spark.functions.extract_text import extract_text_udf
from ape_dts_spark.lake.table import LakeTable
from ape_dts_spark.operators.filters import ChangeFilter
from ape_dts_spark.sources.generator import PAGES_COLS, gen_changes, gen_ddl_events, gen_pages_seed
from ape_dts_spark.streaming.driver import CdcEngine, EngineConfig
from tests.oracle import oracle_replay

N_SEED = 300
N_EVENTS = 1200
SEED = 42


@pytest.fixture(scope="module")
def fixture_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("cdc")
    gen_changes(spark, N_EVENTS, N_SEED, seed=SEED).write.parquet(str(d / "changes"))
    gen_ddl_events(spark, N_EVENTS).write.parquet(str(d / "ddl"))
    return d


def _seed_pages(spark, path):
    t = LakeTable.create(str(path), PAGES_COLS, bucket_key="url", bucket_count=8)
    seed = gen_pages_seed(spark, N_SEED, seed=SEED).withColumn(
        "text", extract_text_udf(F.col("html"))
    )
    t.append(seed)
    return t


def _pages_pd(spark, table):
    df = table.refresh().read(spark).toPandas()
    return df.sort_values("url").reset_index(drop=True)


def _oracle_pd(spark, fixture_dir, with_ddl=True, do_events=None):
    seed_pd = gen_pages_seed(spark, N_SEED, seed=SEED).toPandas()
    changes_pd = pd.read_parquet(str(fixture_dir / "changes"))
    ddls = (
        [r.asDict() for r in spark.read.parquet(str(fixture_dir / "ddl")).collect()]
        if with_ddl
        else []
    )
    return oracle_replay(seed_pd, changes_pd, ddls, do_events=do_events)


def _assert_tables_equal(got: pd.DataFrame, want: pd.DataFrame):
    assert list(got["url"]) == list(want["url"])
    assert set(got.columns) == set(want.columns)
    for c in want.columns:
        g, w = got[c], want[c]
        for i, (gv, wv) in enumerate(zip(g, w)):
            gnull = gv is None or (isinstance(gv, float) and math.isnan(gv)) or gv is pd.NaT
            wnull = wv is None or (isinstance(wv, float) and math.isnan(wv)) or wv is pd.NaT
            if gnull or wnull:
                assert gnull and wnull, f"{c}[{i}] ({want['url'][i]}): {gv!r} != {wv!r}"
            elif c == "html":
                assert bytes(gv) == bytes(wv), f"html[{i}] mismatch for {want['url'][i]}"
            elif c == "text":
                assert gv.encode() == wv.encode(), f"text[{i}] not byte-identical: {gv!r} {wv!r}"
            elif c == "warc_ts":
                assert pd.Timestamp(gv) == pd.Timestamp(wv), f"warc_ts[{i}]: {gv} != {wv}"
            else:
                assert gv == wv, f"{c}[{i}] ({want['url'][i]}): {gv!r} != {wv!r}"


def _run(spark, fixture_dir, pages_path, with_ddl=True, **cfg_kw):
    cfg = EngineConfig(
        job_id="job1",
        pages_path=str(pages_path),
        changes_path=str(fixture_dir / "changes"),
        ddl_path=str(fixture_dir / "ddl") if with_ddl else None,
        batch_lsn_width=250,
        **cfg_kw,
    )
    eng = CdcEngine(spark, cfg)
    return eng, eng.run()


def test_final_state_matches_sequential_oracle(spark, fixture_dir, tmp_path):
    t = _seed_pages(spark, tmp_path / "pages")
    eng, summary = _run(spark, fixture_dir, t.path)
    assert summary["batches"] >= 5  # width 250 over 1200 lsns + 3 DDL barriers
    got = _pages_pd(spark, t)
    want = _oracle_pd(spark, fixture_dir)
    # evolved schema present
    assert "fetch_status" in got.columns and "language" in got.columns
    assert "lang" not in got.columns
    _assert_tables_equal(got, want)
    # lineage + checkpoints written
    assert eng.checkpoints.read(spark).count() == summary["batches"]
    ln = eng.lineage.read(spark)
    assert ln.count() > 0
    assert ln.filter(F.col("input_rows") < 0).count() == 0
    # per-bucket rows carry per-bucket counts: summing over the whole run
    # reproduces the engine's sinked totals exactly once (no per-bucket
    # duplication of batch totals)
    sums = ln.agg(
        F.sum("merged_rows").alias("m"), F.sum("deleted_rows").alias("d")
    ).collect()[0]
    assert sums["m"] == eng.metrics["sinked_records"]
    # several batches touch >1 bucket; with duplicated totals the sum would
    # overshoot by the affected-bucket multiplicity
    multi = (
        ln.groupBy("batch_id").agg(F.count(F.lit(1)).alias("nb")).filter(F.col("nb") > 1)
    )
    assert multi.count() > 0


def test_rerun_after_completion_is_noop(spark, fixture_dir, tmp_path):
    t = _seed_pages(spark, tmp_path / "pages")
    _run(spark, fixture_dir, t.path)
    v = t.refresh().version
    s1 = _pages_pd(spark, t)
    _, summary2 = _run(spark, fixture_dir, t.path)
    assert summary2["batches"] == 0
    assert t.refresh().version == v
    _assert_tables_equal(_pages_pd(spark, t), s1)


class _CrashAt:
    def __init__(self, stage, batch_id):
        self.stage, self.batch_id = stage, batch_id

    def __call__(self, stage, batch_id):
        if stage == self.stage and batch_id == self.batch_id:
            raise RuntimeError(f"injected crash at {stage} b{batch_id}")


@pytest.mark.parametrize("stage", ["post_merge", "post_checkpoint"])
def test_crash_and_resume_converges(spark, fixture_dir, tmp_path, stage):
    t = _seed_pages(spark, tmp_path / f"pages_{stage}")
    with pytest.raises(RuntimeError, match="injected crash"):
        _run(spark, fixture_dir, t.path, crash_hook=_CrashAt(stage, 2))
    # fresh engine resumes from the last committed checkpoint
    _, summary = _run(spark, fixture_dir, t.path)
    assert summary["batches"] > 0
    _assert_tables_equal(_pages_pd(spark, t), _oracle_pd(spark, fixture_dir))


def test_event_filter_excludes_deletes(spark, fixture_dir, tmp_path):
    t = _seed_pages(spark, tmp_path / "pages")
    _run(
        spark,
        fixture_dir,
        t.path,
        with_ddl=False,
        filter=ChangeFilter(do_events=["insert", "update"]),
    )
    got = _pages_pd(spark, t)
    want = _oracle_pd(spark, fixture_dir, with_ddl=False, do_events={"insert", "update"})
    _assert_tables_equal(got, want)


@pytest.fixture(scope="module")
def full_ddl_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("cdc_full_ddl")
    gen_changes(spark, N_EVENTS, N_SEED, seed=SEED).write.parquet(str(d / "changes"))
    gen_ddl_events(spark, N_EVENTS, kinds="full").write.parquet(str(d / "ddl"))
    return d


def test_full_ddl_set_matches_oracle(spark, full_ddl_dir, tmp_path):
    """Extended DDL replay (reference ddl_type.rs:7-36 / ddl_test/src_test.sql):
    add_column, rename_column, truncate_table, widen_column, drop_column —
    each fires mid-stream with live traffic before and after."""
    t = _seed_pages(spark, tmp_path / "pages")
    _, summary = _run(spark, full_ddl_dir, t.path)
    got = _pages_pd(spark, t)
    want = _oracle_pd(spark, full_ddl_dir)
    # schema after the full DDL set: evolved + truncated + dropped
    assert "fetch_status" in got.columns and "language" in got.columns
    assert "lang" not in got.columns and "warc_ts" not in got.columns
    # truncate wiped the seed: every surviving row postdates it
    assert (got["last_lsn"] > int(N_EVENTS * 0.55)).all()
    _assert_tables_equal(got, want)


@pytest.mark.parametrize("stage", ["post_merge", "post_checkpoint"])
def test_full_ddl_crash_replay_converges(spark, full_ddl_dir, tmp_path, stage):
    """Crash right around the truncate barrier: the replayed truncate and
    drop_column must be no-ops, and the final state still equals the oracle."""
    t = _seed_pages(spark, tmp_path / f"pages_{stage}")
    # batch 3 is the truncate-barrier batch at width 250 over 1200 lsns
    with pytest.raises(RuntimeError, match="injected crash"):
        _run(spark, full_ddl_dir, t.path, crash_hook=_CrashAt(stage, 3))
    _, summary = _run(spark, full_ddl_dir, t.path)
    assert summary["batches"] > 0
    _assert_tables_equal(_pages_pd(spark, t), _oracle_pd(spark, full_ddl_dir))


def test_engine_retention_bounds_history(spark, fixture_dir, tmp_path):
    """expire_keep_last: per-batch snapshot retention keeps every engine
    table's manifest count O(keep_last) over the tail — with the final state
    still equal to the oracle and resume bookkeeping intact."""
    t = _seed_pages(spark, tmp_path / "pages")
    eng, summary = _run(spark, fixture_dir, t.path, expire_keep_last=2)
    assert summary["batches"] >= 5
    _assert_tables_equal(_pages_pd(spark, t), _oracle_pd(spark, fixture_dir))
    assert len(t.refresh().history()) <= 3  # keep_last + the batch's own commits
    assert len(eng.checkpoints.history()) <= 3
    assert len(eng.lineage.history()) <= 3
    # resume protocol unaffected: a rerun replays nothing
    _, summary2 = _run(spark, fixture_dir, t.path, expire_keep_last=2)
    assert summary2["batches"] == 0
