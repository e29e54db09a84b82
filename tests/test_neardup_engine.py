"""Ingest-time NEAR-dup dedup wired into the CDC engine: inserts whose
extracted text is MinHash-similar to anything the NearDupIndex has seen
are dropped before the MERGE; updates/deletes pass through; the index
survives engine restarts; the knob is off by default; combined with the
exact ContentIndex both record only inserts that actually merged."""

import datetime

import pytest
from pyspark.sql import functions as F

from ape_dts_spark.functions.extract_text import extract_text_udf
from ape_dts_spark.lake.table import LakeTable
from ape_dts_spark.sources.generator import PAGES_COLS, gen_pages_seed
from ape_dts_spark.streaming.driver import CdcEngine, EngineConfig

_BODY_A = (
    "the quick brown fox jumps over the lazy dog while a distant band plays "
    "a slow tune in the warm evening air near the old stone bridge tonight "
    "as the river runs quietly beneath the arches carrying small boats home "
    "toward the harbor lights that flicker against the purple dusk horizon"
)
# near-dup of A: true jaccard ~0.93, matches 2 of 4 bands, est 13/16 —
# probed against the pinned minhash family (deterministic across runs)
_BODY_A2 = _BODY_A + " with two extra trailing words"
_BODY_B = (
    "completely different page describing spark adaptive query execution "
    "plans partition pruning and shuffle statistics in great detail"
)
_BODY_C = (
    "novel third body text about minhash signatures band buckets and the "
    "jaccard estimate used by locality sensitive hashing indexes"
)

HA = f"<html><body>{_BODY_A}</body></html>".encode()
HA2 = f"<html><body>{_BODY_A2}</body></html>".encode()
HB = f"<html><body>{_BODY_B}</body></html>".encode()
HC = f"<html><body>{_BODY_C}</body></html>".encode()

_SCHEMA = (
    "lsn long, op string, url string, before_url string, warc_ts timestamp,"
    " html binary, lang string, fetch_status int, tx_id long, origin string"
)


def _ev(lsn, op, url, html):
    return (
        lsn,
        op,
        url,
        None,
        datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=lsn),
        html,
        "en" if html is not None else None,
        200 if html is not None else None,
        lsn // 2,
        "node1",
    )


def _setup(spark, tmp_path, events, **cfg_kw):
    pages = LakeTable.create(
        str(tmp_path / "pages"), PAGES_COLS, bucket_key="url", bucket_count=4
    )
    seed = gen_pages_seed(spark, 4, seed=7).withColumn(
        "text", extract_text_udf(F.col("html"))
    )
    pages.append(seed)
    spark.createDataFrame(events, _SCHEMA).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "changes")
    )
    cfg = EngineConfig(
        job_id="nd1",
        pages_path=pages.path,
        changes_path=str(tmp_path / "changes"),
        batch_lsn_width=2,
        **cfg_kw,
    )
    return pages, cfg


EVENTS = [
    # batch 1 (lsn 1-2): two distinct inserts — both indexed
    _ev(1, "insert", "https://a.com/1", HA),
    _ev(2, "insert", "https://a.com/2", HB),
    # batch 2 (lsn 3-4): near-dup of A under a NEW url -> dropped;
    # novel body -> kept
    _ev(3, "insert", "https://a.com/3", HA2),
    _ev(4, "insert", "https://a.com/4", HC),
    # batch 3 (lsn 5-6): an update re-serving near-A on an existing url
    # passes (key identity governs updates); a delete passes
    _ev(5, "update", "https://a.com/2", HA2),
    _ev(6, "delete", "https://a.com/1", None),
]


def test_near_dups_dropped_updates_and_deletes_pass(spark, tmp_path):
    pages, cfg = _setup(
        spark,
        tmp_path,
        EVENTS,
        near_dup_index_path=str(tmp_path / "ndidx"),
        near_dup_threshold=0.5,
    )
    eng = CdcEngine(spark, cfg)
    eng.run()
    rows = {
        r["url"]: r["text"]
        for r in pages.refresh().read(spark).filter("url LIKE 'https://a.com/%'").collect()
    }
    assert "https://a.com/1" not in rows  # deleted
    assert "https://a.com/3" not in rows  # near-dup insert dropped
    assert _BODY_A2 in rows["https://a.com/2"]  # update passed through
    assert _BODY_C in rows["https://a.com/4"]  # novel insert kept
    drops = [b.get("near_dups", 0) for b in eng.batch_log]
    assert sum(drops) == 1
    # only MERGED inserts were indexed: urls 1, 2, 4
    assert eng._ndidx.stats()["total_docs"] == 3


def test_off_by_default_applies_everything(spark, tmp_path):
    pages, cfg = _setup(spark, tmp_path, EVENTS)
    CdcEngine(spark, cfg).run()
    urls = {
        r["url"]
        for r in pages.refresh().read(spark).filter("url LIKE 'https://a.com/%'").collect()
    }
    assert "https://a.com/3" in urls  # no near-dup filter -> kept


def test_index_survives_restart(spark, tmp_path):
    pages, cfg = _setup(
        spark,
        tmp_path,
        EVENTS[:2],
        near_dup_index_path=str(tmp_path / "ndidx"),
        near_dup_threshold=0.5,
    )
    CdcEngine(spark, cfg).run()
    # second engine, same index: a near-dup of run-1 content arrives
    spark.createDataFrame(
        [_ev(10, "insert", "https://a.com/9", HA2)], _SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "changes"))
    eng2 = CdcEngine(spark, cfg)
    eng2.run()
    urls = {
        r["url"]
        for r in pages.refresh().read(spark).filter("url LIKE 'https://a.com/%'").collect()
    }
    assert "https://a.com/9" not in urls
    assert eng2._ndidx.stats()["total_docs"] == 2  # nothing new indexed


def test_combined_with_content_index(spark, tmp_path):
    events = [
        _ev(1, "insert", "https://a.com/1", HA),
        _ev(2, "insert", "https://a.com/2", HB),
        # batch 2: EXACT re-crawl of A (exact filter drops it) and a
        # NEAR dup of A (near filter drops it)
        _ev(3, "insert", "https://a.com/3", HA),
        _ev(4, "insert", "https://a.com/4", HA2),
    ]
    pages, cfg = _setup(
        spark,
        tmp_path,
        events,
        content_index_path=str(tmp_path / "cidx"),
        near_dup_index_path=str(tmp_path / "ndidx"),
        near_dup_threshold=0.5,
    )
    eng = CdcEngine(spark, cfg)
    eng.run()
    urls = {
        r["url"]
        for r in pages.refresh().read(spark).filter("url LIKE 'https://a.com/%'").collect()
    }
    assert urls == {"https://a.com/1", "https://a.com/2"}
    assert sum(b.get("content_dups", 0) for b in eng.batch_log) == 1
    assert sum(b.get("near_dups", 0) for b in eng.batch_log) == 1
    # both indexes recorded only the two MERGED inserts
    assert eng._cidx.stats()["total_keys"] == 2
    assert eng._ndidx.stats()["total_docs"] == 2
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_batches_release_their_checkpoints(spark, tmp_path):
    """Three batches with both indexes on leave no persistent RDD behind:
    each batch releases its checkpointed drop keys and band rows (and its
    pinned frames) itself, without waiting for a JVM GC.  One bucket per
    index makes every batch past the first compact and expire both index
    tables, so the data directories end holding only live files."""
    import os

    pages, cfg = _setup(
        spark,
        tmp_path,
        EVENTS,
        content_index_path=str(tmp_path / "cidx"),
        content_index_buckets=1,
        near_dup_index_path=str(tmp_path / "ndidx"),
        near_dup_buckets=1,
        near_dup_threshold=0.5,
        index_compact_max_files=1,
        expire_keep_last=1,
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    eng = CdcEngine(spark, cfg)
    eng.run()
    assert len(eng.batch_log) == 3
    assert set(jsc.getPersistentRDDs().keys()) - before == set()
    assert eng._cidx.stats()["total_keys"] == 3
    assert eng._ndidx.stats()["total_docs"] == 3
    for idx in (eng._cidx, eng._ndidx):
        assert sorted(os.listdir(idx.table.path)) == ["_meta", "data"]
        live = {os.path.basename(f["path"]) for f in idx.table.manifest.files}
        assert set(os.listdir(os.path.join(idx.table.path, "data"))) == live


def test_requires_text_column(spark, tmp_path):
    pages, cfg = _setup(
        spark,
        tmp_path,
        EVENTS,
        near_dup_index_path=str(tmp_path / "ndidx"),
        extract_text=False,
    )
    with pytest.raises(ValueError, match="text"):
        CdcEngine(spark, cfg).run()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_ini_exposes_near_dup_knobs():
    from ape_dts_spark.config import load_task_config

    cfg = load_task_config(
        """
[extractor]
changes_path = /tmp/ch
[sinker]
pages_path = /tmp/pg
near_dup_index_path = /tmp/ndidx
near_dup_threshold = 0.65
near_dup_buckets = 32
near_dup_max_bucket = 128
""",
        is_text=True,
    )
    assert cfg.near_dup_index_path == "/tmp/ndidx"
    assert cfg.near_dup_threshold == 0.65
    assert cfg.near_dup_buckets == 32
    assert cfg.near_dup_max_bucket == 128
    cfg2 = load_task_config(
        "[extractor]\nchanges_path=/tmp/ch\n[sinker]\npages_path=/tmp/pg\n",
        is_text=True,
    )
    assert cfg2.near_dup_index_path is None


def test_engine_auto_compacts_index(spark, tmp_path):
    """With index_compact_max_files=1, every batch past the first trips the
    per-bucket file cap and the engine folds the index; the run ends with
    one file per touched bucket and unchanged dedup behavior."""
    pages, cfg = _setup(
        spark,
        tmp_path,
        EVENTS,
        near_dup_index_path=str(tmp_path / "ndidx"),
        near_dup_threshold=0.5,
        index_compact_max_files=1,
    )
    eng = CdcEngine(spark, cfg)
    eng.run()
    st = eng._ndidx.stats()
    assert st["max_files_per_bucket"] == 1
    assert st["total_docs"] == 3  # same merged-insert set as the uncompacted run
    urls = {
        r["url"]
        for r in pages.refresh().read(spark).filter("url LIKE 'https://a.com/%'").collect()
    }
    assert "https://a.com/3" not in urls  # near-dup still dropped mid-run
