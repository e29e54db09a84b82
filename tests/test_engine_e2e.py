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


@pytest.mark.parametrize("redeliver", [False, True])
def test_tail_files_between_runs_converge(spark, fixture_dir, tmp_path, redeliver):
    """A follower calling run() as files land: wave 1 (lsn <= 300), then
    wave 2 — either the remaining events, or one file re-delivering every
    event (an at-least-once upstream).  Re-delivered events at or below the
    committed hwm are never re-read, and the final table, text included,
    equals the sequential oracle."""
    source = spark.read.parquet(str(fixture_dir / "changes"))
    changes = str(tmp_path / "changes")
    source.filter(F.col("lsn") <= 300).coalesce(2).write.parquet(changes)
    t = _seed_pages(spark, tmp_path / "pages")
    eng = CdcEngine(
        spark, EngineConfig(job_id="tail", pages_path=t.path, changes_path=changes)
    )
    assert eng.run()["hwm"] == 300

    wave2 = source if redeliver else source.filter(F.col("lsn") > 300)
    wave2.coalesce(1).write.mode("append").parquet(changes)
    summary = eng.run()
    assert summary["batches"] >= 1 and summary["hwm"] == N_EVENTS
    assert summary["events"] == N_EVENTS  # cumulative over both runs
    _assert_tables_equal(_pages_pd(spark, t), _oracle_pd(spark, fixture_dir, with_ddl=False))


def test_empty_poll_on_missing_or_empty_changes_dir(spark, tmp_path):
    """Nothing published yet: run() on a missing, then an empty, change
    directory is an empty poll at the committed hwm, and a pending DDL waits
    for the changes."""
    t = LakeTable.create(str(tmp_path / "pages"), PAGES_COLS, bucket_key="url", bucket_count=4)
    ddl = str(tmp_path / "ddl")
    spark.createDataFrame(
        [(5, "add_column", '{"col":"quality","type":"int"}')],
        "lsn long, ddl_type string, payload string",
    ).write.parquet(ddl)
    changes = tmp_path / "changes"
    eng = CdcEngine(
        spark,
        EngineConfig(job_id="idle", pages_path=t.path, changes_path=str(changes), ddl_path=ddl),
    )
    for _ in ("missing", "empty"):
        summary = eng.run()
        assert (summary["batches"], summary["hwm"], summary["events"]) == (0, 0, 0)
        changes.mkdir(exist_ok=True)
        (changes / "_SUCCESS").write_text("")
    assert "quality" not in [f["name"] for f in t.refresh().schema.fields]
    assert eng.committed_hwm() == (0, -1)


# ------------------------------------- DDL and changes-schema, small streams

SMALL_SEED = 40


def _small_pages(spark, path, n=SMALL_SEED):
    t = LakeTable.create(str(path), PAGES_COLS, bucket_key="url", bucket_count=4)
    t.append(
        gen_pages_seed(spark, n, seed=7).withColumn("text", extract_text_udf(F.col("html")))
    )
    return t


def _write_ddls(spark, path, rows):
    spark.createDataFrame(rows, "lsn long, ddl_type string, payload string").coalesce(
        1
    ).write.parquet(str(path))


def test_changes_schema_refreshes_after_add_column(spark, tmp_path):
    """Files appended AFTER an add_column DDL carry the new column; a schema
    pinned at first inference would null it into the sink."""
    ch = str(tmp_path / "changes")
    gen_changes(spark, 100, SMALL_SEED, seed=7).drop("fetch_status").write.parquet(ch)
    # DDL MID-run (not at the stream end): batches after it re-infer over
    # phase-1 files only, so the cache must also refresh at the next run()
    _write_ddls(spark, tmp_path / "ddl", [(50, "add_column", '{"col":"quality","type":"int"}')])
    t = _small_pages(spark, tmp_path / "pages")
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
    gen_changes(spark, 100, SMALL_SEED, seed=7, start_lsn=101).drop("fetch_status").withColumn(
        "quality", F.pmod(F.col("lsn"), F.lit(7)).cast("int")
    ).write.mode("append").parquet(ch)
    eng.run()

    got = t.refresh().read(spark).toPandas()
    late = got[(got.last_lsn >= 101)]
    assert len(late) > 0
    # every row whose winning event is post-DDL must carry its quality value
    assert late["quality"].notna().all(), "DDL-added column nulled into the sink"
    assert (late["quality"] == late["last_lsn"] % 7).all()


def test_equal_lsn_ddls_all_apply(spark, tmp_path):
    ch = str(tmp_path / "changes")
    gen_changes(spark, 100, SMALL_SEED, seed=7).drop("fetch_status").write.parquet(ch)
    _write_ddls(
        spark,
        tmp_path / "ddl",
        [
            (50, "add_column", '{"col":"q2","type":"int"}'),
            (50, "rename_column", '{"from":"lang","to":"language"}'),
        ],
    )
    t = _small_pages(spark, tmp_path / "pages")
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


def test_empty_slice_batches_complete(spark, tmp_path):
    """lsn gaps produce batches whose slice is empty — the run must complete
    with exact counts, never block on an unresolved Observation."""
    ch = str(tmp_path / "changes")
    df = gen_changes(spark, 10, SMALL_SEED, seed=7).drop("fetch_status")
    df.union(
        gen_changes(spark, 5, SMALL_SEED, seed=7, start_lsn=5001).drop("fetch_status")
    ).write.parquet(ch)
    t = _small_pages(spark, tmp_path / "pages")
    cfg = EngineConfig(
        job_id="f5", pages_path=t.path, changes_path=ch, batch_lsn_width=2000
    )
    eng = CdcEngine(spark, cfg)
    summary = eng.run()
    assert summary["events"] == 15
    assert summary["batches"] >= 3  # at least one all-empty slice in the gap


def test_infer_changes_schema_widen_long_double_restart(spark, tmp_path):
    """A widen_column long->double mid-stream leaves mixed int64/double
    footers.  mergeSchema throws; the fallback must promote the sampled
    footer type to the SINK's type for every pair widen_column allows
    (_WIDEN_OK), long->double included — a literal promote set missed it and
    the restart crash-looped on post-DDL files."""
    from pyspark.sql import types as T

    cols = [
        ("url", "string", False),
        ("score", "double", True),  # sink already widened long -> double
        ("last_lsn", "long", True),
    ]
    LakeTable.create(str(tmp_path / "pages"), cols, bucket_key="url", bucket_count=2)
    ch = str(tmp_path / "changes")
    pre = spark.createDataFrame(
        [(1, "insert", "u1", 100)], "lsn long, op string, url string, score long"
    )
    post = spark.createDataFrame(
        [(2, "insert", "u2", 1.5)], "lsn long, op string, url string, score double"
    )
    pre.write.parquet(ch, mode="append")
    post.write.parquet(ch, mode="append")

    eng = CdcEngine(
        spark, EngineConfig(job_id="j", pages_path=str(tmp_path / "pages"), changes_path=ch)
    )
    eng._ddls = []
    df = eng._slice(0, eng.max_lsn())
    assert dict((f.name, f.dataType) for f in df.schema.fields)["score"] == T.DoubleType()
    rows = {r["url"]: r["score"] for r in df.collect()}
    assert rows == {"u1": 100.0, "u2": 1.5}
    # live tail: a file appended AFTER inference must be picked up by the
    # cached grouped reader (the file list is re-listed per call, not frozen)
    spark.createDataFrame(
        [(3, "insert", "u3", 250)], "lsn long, op string, url string, score long"
    ).write.parquet(ch, mode="append")
    rows2 = {r["url"]: r["score"] for r in eng._slice(0, eng.max_lsn()).collect()}
    assert rows2 == {"u1": 100.0, "u2": 1.5, "u3": 250.0}


def test_infer_changes_schema_widen_int_long_single_scan(spark, tmp_path):
    """int->long mixed footers ARE reader-promotable: the fallback must
    return ONE explicit read schema (single scan over the dir, no per-group
    union) with the sink's widened type."""
    from pyspark.sql import types as T

    cols = [("url", "string", False), ("n", "long", True), ("last_lsn", "long", True)]
    LakeTable.create(str(tmp_path / "pages"), cols, bucket_key="url", bucket_count=2)
    ch = str(tmp_path / "changes")
    spark.createDataFrame(
        [(1, "insert", "u1", 7)], "lsn long, op string, url string, n int"
    ).write.parquet(ch, mode="append")
    spark.createDataFrame(
        [(2, "insert", "u2", 9)], "lsn long, op string, url string, n long"
    ).write.parquet(ch, mode="append")
    eng = CdcEngine(
        spark, EngineConfig(job_id="j", pages_path=str(tmp_path / "pages"), changes_path=ch)
    )
    eng._ddls = []
    files = eng.log.refresh().files
    sch = eng.log.scan_schema(eng._slice(0, eng.max_lsn()).schema, files)
    assert isinstance(sch, T.StructType)  # single-scan fast path
    assert dict((f.name, f.dataType) for f in sch.fields)["n"] == T.LongType()
    rows = {r["url"]: r["n"] for r in eng._slice(0, eng.max_lsn()).collect()}
    assert rows == {"u1": 7, "u2": 9}


@pytest.mark.parametrize("case", ["ddl_straddle", "no_statistics", "zero_rows"])
def test_slice_reads_only_overlapping_files(spark, tmp_path, case):
    """The source log hands batch (lo, hi] exactly the change files whose lsn
    range meets it: the file straddling the DDL barrier goes to the batches
    on both sides, a file without lsn statistics is placed by its lsn
    column, a zero-row file goes to none.  The applied table equals the
    oracle replay of the whole directory."""
    import os

    import pyarrow.parquet as pq

    staged = str(tmp_path / "staged")
    gen_changes(spark, 60, SMALL_SEED, seed=7).coalesce(1).write.parquet(staged)
    tbl = pq.read_table(staged).sort_by("lsn")
    ch = tmp_path / "changes"
    ch.mkdir()
    ranges = {}  # file name -> (first lsn, last lsn); None for no rows
    for first, last in [(1, 20), (21, 40), (41, 60)]:
        name = f"c-{first:03d}.parquet"
        pq.write_table(
            tbl.slice(first - 1, last - first + 1),
            str(ch / name),
            use_deprecated_int96_timestamps=True,
            write_statistics=not (case == "no_statistics" and first == 21),
        )
        ranges[name] = (first, last)
    if case == "zero_rows":
        pq.write_table(
            tbl.slice(0, 0), str(ch / "c-030.parquet"), use_deprecated_int96_timestamps=True
        )
        ranges["c-030.parquet"] = None
    ddl = [(30, "add_column", '{"col":"fetch_status","type":"int"}')]
    _write_ddls(spark, tmp_path / "ddl", ddl)
    t = _small_pages(spark, tmp_path / "pages")
    eng = CdcEngine(
        spark,
        EngineConfig(
            job_id="slice",
            pages_path=t.path,
            changes_path=str(ch),
            ddl_path=str(tmp_path / "ddl"),
            batch_lsn_width=25,
        ),
    )
    eng.run()
    cuts = [(b["lo"], b["hi"]) for b in eng.batch_log]
    assert cuts == [(0, 25), (25, 30), (30, 55), (55, 60)]
    for lo, hi in cuts:
        got = {os.path.basename(u) for u in eng._slice(lo, hi).inputFiles()}
        want = {n for n, r in ranges.items() if r and r[1] > lo and r[0] <= hi}
        assert got == want, (lo, hi)

    seed_pd = gen_pages_seed(spark, SMALL_SEED, seed=7).toPandas()
    ddls = [dict(zip(("lsn", "ddl_type", "payload"), d)) for d in ddl]
    want = oracle_replay(seed_pd, pd.read_parquet(staged), ddls)
    _assert_tables_equal(_pages_pd(spark, t), want)


def test_poll_without_new_files_runs_no_change_scan(spark, tmp_path):
    """A run() that finds no new change file runs no Spark job over the
    change directory: its job count equals that of committed_hwm() alone."""
    ch = str(tmp_path / "changes")
    gen_changes(spark, 30, SMALL_SEED, seed=7).coalesce(1).write.parquet(ch)
    t = _small_pages(spark, tmp_path / "pages")
    eng = CdcEngine(spark, EngineConfig(job_id="poll", pages_path=t.path, changes_path=ch))
    assert eng.run()["hwm"] == 30
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    hwm_jobs = jobs("poll-hwm", eng.committed_hwm)
    assert hwm_jobs >= 1
    assert jobs("poll-run", lambda: eng.run()) == hwm_jobs
