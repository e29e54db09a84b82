"""Plan-shape assertions (pushdown/pruning/codegen) + precheck validation."""

import pytest
from pyspark.sql import functions as F

from ape_dts_spark.lake.table import LakeTable
from ape_dts_spark.plans.inspect import (
    _balanced_span,
    _split_top,
    pushed_filters,
    scan_columns,
    wholestage_spans,
)
from ape_dts_spark.precheck import PrecheckError, precheck
from ape_dts_spark.sources.generator import PAGES_COLS, gen_changes
from ape_dts_spark.streaming.driver import EngineConfig

SF = "/root/testdata/sf0.001"


def test_lsn_slice_predicate_is_pushed_to_scan(spark, tmp_path):
    gen_changes(spark, 1000, 100, seed=1).write.parquet(str(tmp_path / "ch"))
    df = spark.read.parquet(str(tmp_path / "ch")).filter(
        (F.col("lsn") > 100) & (F.col("lsn") <= 200)
    )
    pf = " ".join(pushed_filters(df))
    assert "GreaterThan(lsn,100)" in pf and "LessThanOrEqual(lsn,200)" in pf


def test_column_pruning_drops_html(spark, tmp_path):
    gen_changes(spark, 1000, 100, seed=1).write.parquet(str(tmp_path / "ch"))
    df = spark.read.parquet(str(tmp_path / "ch")).groupBy("op").count()
    cols = scan_columns(df)
    assert cols and all("html" not in c for c in cols)  # 1-16KB column never read
    assert wholestage_spans(df) >= 1


def test_where_condition_pushdown_via_filter_config(spark, tmp_path):
    from ape_dts_spark.operators.filters import ChangeFilter

    gen_changes(spark, 1000, 100, seed=1).write.parquet(str(tmp_path / "ch"))
    df = ChangeFilter(where_condition="lang = 'en'").apply(
        spark.read.parquet(str(tmp_path / "ch"))
    )
    assert any("lang" in f for f in pushed_filters(df))


def test_bucket_aligned_merge_prep_is_single_shuffle(spark, tmp_path):
    """The whole merge prep (filter -> split -> dedup -> extract) must cost
    exactly ONE Exchange: the bucket-aligned dedup's hash partition, which
    the delta write then reuses (pre_clustered)."""
    from ape_dts_spark.plans.inspect import exchange_count
    from ape_dts_spark.streaming.driver import prepare_changes

    gen_changes(spark, 2000, 200, seed=3).write.parquet(str(tmp_path / "ch"))
    pp = str(tmp_path / "pages")
    LakeTable.create(pp, PAGES_COLS, bucket_key="url", bucket_count=8)
    pages = LakeTable.load(pp)
    cfg = EngineConfig(job_id="ps", pages_path=pp, changes_path=str(tmp_path / "ch"))
    deduped = prepare_changes(pages, spark.read.parquet(str(tmp_path / "ch")), cfg)
    assert "_bucket" in deduped.columns
    assert exchange_count(deduped) == 1

    # a table bucketed on another column takes the plain per-key window;
    # both branches keep the same survivors
    pp2 = str(tmp_path / "pages_by_lang")
    LakeTable.create(pp2, PAGES_COLS, bucket_key="lang", bucket_count=8)
    cfg2 = EngineConfig(job_id="ps2", pages_path=pp2, changes_path=str(tmp_path / "ch"))
    ref = prepare_changes(
        LakeTable.load(pp2), spark.read.parquet(str(tmp_path / "ch")), cfg2
    )
    assert "_bucket" not in ref.columns
    got = {tuple(r) for r in deduped.drop("_bucket").select("url", "lsn", "op").collect()}
    want = {tuple(r) for r in ref.select("url", "lsn", "op").collect()}
    assert got == want


def _mk_cfg(tmp_path, spark, with_pages=True, n_events=500):
    ch = str(tmp_path / "changes")
    gen_changes(spark, n_events, 100, seed=1).write.parquet(ch)
    pp = str(tmp_path / "pages")
    if with_pages:
        LakeTable.create(pp, PAGES_COLS, bucket_key="url", bucket_count=4)
    return EngineConfig(job_id="pc", pages_path=pp, changes_path=ch)


def test_precheck_ok_and_failures(spark, tmp_path):
    cfg = _mk_cfg(tmp_path, spark)
    rep = precheck(spark, cfg, deep=True)
    assert rep["n"] == 500 and rep["n_lsn"] == 500

    cfg2 = _mk_cfg(tmp_path / "x", spark, with_pages=False)
    with pytest.raises(PrecheckError, match="pages table missing"):
        precheck(spark, cfg2)

    # duplicate LSNs are fatal (the total-order assumption)
    dup = str(tmp_path / "dup")
    gen_changes(spark, 100, 50, seed=1).withColumn("lsn", F.lit(7)).write.parquet(dup)
    cfg3 = _mk_cfg(tmp_path / "y", spark)
    cfg3 = EngineConfig(job_id="pc", pages_path=cfg3.pages_path, changes_path=dup)
    # (uniqueness needs a full countDistinct shuffle -> deep-only)
    with pytest.raises(PrecheckError, match="duplicate LSNs"):
        precheck(spark, cfg3, deep=True)
    # the fast path skips the expensive scan and accepts the stream shape
    assert "n_lsn" not in precheck(spark, cfg3)

    # lifecycle DDL without a catalog_root fails at precheck, not mid-run
    from ape_dts_spark.sources.generator import gen_ddl_events

    cfg4 = _mk_cfg(tmp_path / "z", spark)
    lc_ddl = str(tmp_path / "lc_ddl")
    gen_ddl_events(spark, 500, kinds="lifecycle").write.parquet(lc_ddl)
    cfg4.ddl_path = lc_ddl
    with pytest.raises(PrecheckError, match="catalog_root"):
        precheck(spark, cfg4)
    # catalog_root must CONTAIN the bound table when lifecycle DDL names it
    # (r4 coherence check) — point it at pages' parent dir
    cfg4.catalog_root = str(tmp_path / "z")
    rep4 = precheck(spark, cfg4)
    assert rep4["n_ddl"] == 3 and "rename_table" in rep4["ddl_kinds"]

    # malformed DDL payload JSON is fatal
    bad_ddl = str(tmp_path / "bad_ddl")
    spark.createDataFrame(
        [(10, "add_column", "{not json")], "lsn long, ddl_type string, payload string"
    ).write.parquet(bad_ddl)
    cfg4.ddl_path = bad_ddl
    with pytest.raises(PrecheckError, match="not valid JSON"):
        precheck(spark, cfg4)
    # a DDL path with no data files is as fatal as an empty change stream
    cfg4.ddl_path = str(tmp_path / "no_ddl")
    with pytest.raises(PrecheckError, match="no data files"):
        precheck(spark, cfg4)

    # the committed position must not be ahead of the stream end (a
    # truncated or rotated source): complete a job, then shorten its stream
    from ape_dts_spark.streaming.driver import CdcEngine

    cfg5 = _mk_cfg(tmp_path / "r", spark)
    assert CdcEngine(spark, cfg5).run()["hwm"] == 500
    assert precheck(spark, cfg5)["resume_hwm"] == 500
    cfg5.changes_path = str(tmp_path / "short")
    gen_changes(spark, 200, 100, seed=1).write.parquet(cfg5.changes_path)
    with pytest.raises(PrecheckError, match="checkpoint hwm 500 is ahead of stream end 200"):
        precheck(spark, cfg5)


def test_resolved_read_is_bucket_aligned_single_shuffle(spark, tmp_path):
    """MOR resolved reads must shuffle exactly ONCE, on the table's bucket
    column (bounded lanes aligned with the file layout) — never a
    whole-table hash Exchange keyed on the raw key (VERDICT r1 #4)."""
    from ape_dts_spark.operators.merge import merge_into
    from ape_dts_spark.plans.inspect import exchange_count, explain_str

    cols = [("url", "string", False), ("v", "int", True), ("last_lsn", "long", True)]
    t = LakeTable.create(str(tmp_path / "p"), cols, bucket_key="url", bucket_count=4)
    t.append(
        spark.createDataFrame(
            [(f"u{i}", i, 0) for i in range(50)], "url string, v int, last_lsn long"
        )
    )
    ch = spark.createDataFrame(
        [("u1", 100, "update", 5), ("u2", None, "delete", 6), ("zz", 7, "insert", 7)],
        "url string, v int, op string, lsn long",
    )
    merge_into(spark, t, ch)
    resolved = t.read(spark)
    assert exchange_count(resolved) == 1
    txt = explain_str(resolved, "simple").split("== Initial Plan ==")[0]
    import re

    parts = re.findall(r"hashpartitioning\(([^,)]+)", txt)
    assert parts and all(p.strip().startswith("_bucket") for p in parts)
    # and the resolved content is right
    got = {r["url"]: r["v"] for r in resolved.collect()}
    assert got["u1"] == 100 and "u2" not in got and got["zz"] == 7


def test_corpus_topk_plan_is_take_ordered(spark):
    """Global top-N must compile to TakeOrderedAndProject (per-partition
    heads + single reduce), never a full global Sort of the vocabulary."""
    from ape_dts_spark.operators.text_analysis import corpus_ngram_topk
    from ape_dts_spark.plans.inspect import explain_str

    docs = spark.createDataFrame([(1, "a b c a b"), (2, "b c d")], ["doc_id", "text"])
    plan = explain_str(corpus_ngram_topk(docs, topn=5))
    assert "TakeOrderedAndProject" in plan


def test_repetition_stats_array_side_is_shuffle_free(spark):
    """ttr/dup_bigram_frac come from array expressions; the only exchanges
    allowed are the per-doc top-word aggregation + its join back."""
    from ape_dts_spark.operators.text_analysis import repetition_stats
    from ape_dts_spark.plans.inspect import exchange_count

    docs = spark.createDataFrame([(1, "a b c a b")], ["doc_id", "text"])
    assert exchange_count(repetition_stats(docs)) <= 3


def test_precheck_lifecycle_bound_table_outside_catalog(spark, tmp_path):
    # a drop/rename DDL naming the BOUND table is fatal when pages_path does
    # not live under catalog_root (the DDL would act on a same-named catalog
    # table instead); lifecycle events about OTHER tables stay legal.
    import json as _json

    cfg = _mk_cfg(tmp_path, spark)  # pages under tmp_path, not under db/
    cfg.catalog_root = str(tmp_path / "db")
    bound = cfg.pages_path.rstrip("/").split("/")[-1]
    ddl_dir = str(tmp_path / "lc_ddl_bound")
    spark.createDataFrame(
        [(600, "rename_table", _json.dumps({"from": bound, "to": "pages2"}))],
        "lsn long, ddl_type string, payload string",
    ).write.parquet(ddl_dir)
    cfg.ddl_path = ddl_dir
    with pytest.raises(PrecheckError, match="wrong table"):
        precheck(spark, cfg)

    # same shape but naming an unrelated table: passes
    ddl_ok = str(tmp_path / "lc_ddl_other")
    spark.createDataFrame(
        [(600, "rename_table", _json.dumps({"from": "other_tb", "to": "other2"}))],
        "lsn long, ddl_type string, payload string",
    ).write.parquet(ddl_ok)
    cfg.ddl_path = ddl_ok
    precheck(spark, cfg)


def test_precheck_null_op_and_key_col(spark, tmp_path):
    """deep=True must catch op=NULL (NULL satisfies neither isin nor its
    negation), and the required-columns check keys off cfg.key_col, not a
    hardcoded 'url'."""
    cfg = _mk_cfg(tmp_path, spark)
    nul = str(tmp_path / "nullop")
    gen_changes(spark, 100, 50, seed=3).withColumn(
        "op", F.when(F.col("lsn") == 5, F.lit(None).cast("string")).otherwise(F.col("op"))
    ).write.parquet(nul)
    cfg_nul = EngineConfig(job_id="pc", pages_path=cfg.pages_path, changes_path=nul)
    with pytest.raises(PrecheckError, match="invalid op"):
        precheck(spark, cfg_nul, deep=True)
    precheck(spark, cfg_nul)  # fast path skips the deep op scan

    # a stream keyed on something else: required cols follow the config
    other = str(tmp_path / "otherkey")
    gen_changes(spark, 100, 50, seed=4).withColumnRenamed("url", "page_id").write.parquet(other)
    cfg_other = EngineConfig(job_id="pc", pages_path=cfg.pages_path, changes_path=other)
    with pytest.raises(PrecheckError, match="url"):
        precheck(spark, cfg_other)  # default key_col missing -> named in error


def test_load_task_config_missing_file_raises(tmp_path):
    from ape_dts_spark.config import load_task_config

    with pytest.raises(FileNotFoundError, match="task config"):
        load_task_config(str(tmp_path / "nope.ini"))


# --------------------------------------------------- plan-string parsing


def test_split_top_keeps_nested_brackets_whole():
    body = "In(lang, [en,de]), IsNotNull(lang), GreaterThan(lsn,100)"
    assert _split_top(body, "()[]") == [
        "In(lang, [en,de])",
        "IsNotNull(lang)",
        "GreaterThan(lsn,100)",
    ]


def test_balanced_span_stops_at_matching_close():
    txt = "PushedFilters: [In(lang, [en,de]), IsNotNull(lang)], ReadSchema: ..."
    marker = "PushedFilters: ["
    body = _balanced_span(txt, txt.find(marker) + len(marker), "[", "]")
    assert body == "In(lang, [en,de]), IsNotNull(lang)"


def test_pushed_filters_survive_in_list_values(spark, tmp_path):
    # an isin() filter stringifies as In(lang, [en,de]) — a ']' INSIDE the
    # PushedFilters body; a first-']' regex truncated the list here and
    # dropped every filter after the In entry
    gen_changes(spark, 500, 50, seed=1).write.parquet(str(tmp_path / "ch"))
    df = spark.read.parquet(str(tmp_path / "ch")).filter(
        F.col("lang").isin("en", "de") & (F.col("lsn") > 10)
    )
    pf = pushed_filters(df)
    ins = [f for f in pf if f.startswith("In(")]
    assert ins and all(f.endswith(")") for f in ins), pf
    assert any("GreaterThan(lsn,10)" in f for f in pf), pf


def test_scan_columns_handle_nested_and_parameterized_types(spark, tmp_path):
    df = spark.range(5).select(
        F.struct(F.col("id").alias("y")).alias("x"),
        F.col("id").cast("decimal(10,2)").alias("d"),
        F.lit("payload").alias("html"),
    )
    df.write.parquet(str(tmp_path / "t"))
    rdf = spark.read.parquet(str(tmp_path / "t")).select("x", "d")
    cols = scan_columns(rdf)
    # nested struct<> must not truncate the list; decimal(10,2) must not
    # split at its comma; pruning evidence (no html) must stay trustworthy
    assert cols == [["x", "d"]], cols
