"""ContentIndex — incremental content dedup against a historical corpus.

Oracle: the operator's contract is EXACT md5-content membership, so DuckDB
mirrors it with a plain semi/anti-join on md5(text); the bloom sidecar is
an optimization that must never change the output.
"""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from ape_dts_spark.lake.table import CommitConflict, LakeTable
from ape_dts_spark.operators.incremental_dedup import (
    BITS_PER_KEY,
    ContentIndex,
    _build_segment,
    _check_segment,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )


def test_dedup_batch_matches_duckdb_oracle(spark, tmp_path):
    docs = _docs(spark)
    hist = docs.filter("CAST(url AS BIGINT) % 2 = 0")
    batch = docs.filter("CAST(url AS BIGINT) % 3 = 0")  # overlaps on mult of 6

    idx = ContentIndex.create(str(tmp_path / "idx"), n_buckets=8)
    idx.append(hist)
    idx = ContentIndex.load(str(tmp_path / "idx"))
    fresh, dups = idx.dedup_batch(spark, batch)
    got_fresh = {r["url"] for r in fresh.collect()}
    got_dups = {r["url"] for r in dups.collect()}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW docs AS SELECT CAST(doc_id AS VARCHAR) url, text "
        f"FROM read_parquet('{SF}/documents.parquet')"
    )
    want_dups = {
        r[0]
        for r in con.execute(
            """
        SELECT b.url FROM docs b
        WHERE CAST(b.url AS BIGINT) % 3 = 0
          AND md5(b.text) IN (SELECT md5(h.text) FROM docs h
                              WHERE CAST(h.url AS BIGINT) % 2 = 0)
        """
        ).fetchall()
    }
    want_all = {
        r[0]
        for r in con.execute(
            "SELECT url FROM docs WHERE CAST(url AS BIGINT) % 3 = 0"
        ).fetchall()
    }
    assert got_dups == want_dups and want_dups
    assert got_fresh == want_all - want_dups and got_fresh
    # fresh/dups partition the batch: disjoint and exhaustive
    assert not (got_fresh & got_dups)
    # fresh rows keep the batch's columns plus the audit hash
    assert set(fresh.columns) == {"url", "text", "h"}


def test_append_is_incremental_and_idempotent_recheck(spark, tmp_path):
    docs = _docs(spark)
    idx = ContentIndex.create(str(tmp_path / "idx"), n_buckets=4)

    # empty index: everything is fresh
    batch = docs.filter("CAST(url AS BIGINT) % 5 = 0")
    fresh, dups = idx.dedup_batch(spark, batch)
    assert dups.count() == 0 and fresh.count() == batch.count()

    # index the batch, re-present it: every row (and every other doc with
    # identical text) now reports duplicate
    idx.append(batch)
    fresh2, dups2 = idx.dedup_batch(spark, batch)
    assert fresh2.count() == 0 and dups2.count() == batch.count()

    # a second disjoint-content append only adds keys
    before = idx.stats()["total_keys"]
    more = docs.filter("CAST(url AS BIGINT) % 5 = 1")
    f3, _ = idx.dedup_batch(spark, more)
    idx.append(f3)
    assert idx.stats()["total_keys"] >= before


def test_bloom_segment_no_false_negatives_and_low_fpr():
    import numpy as np

    rng_h1 = np.arange(1, 20_001, dtype=np.int64) * 1_000_003 % (1 << 60)
    rng_h2 = (np.arange(1, 20_001, dtype=np.int64) * 998_244_353 % (1 << 60)) * 2 + 1
    blob = _build_segment(rng_h1[:10_000], rng_h2[:10_000])
    assert len(blob) * 8 >= 10_000 * BITS_PER_KEY
    # members: never a false negative
    assert _check_segment(blob, rng_h1[:10_000], rng_h2[:10_000]).all()
    # non-members: FPR well under 1%
    fpr = _check_segment(blob, rng_h1[10_000:], rng_h2[10_000:]).mean()
    assert fpr < 0.01


def test_create_refuses_existing_index(tmp_path):
    ContentIndex.create(str(tmp_path / "idx"))
    with pytest.raises(FileExistsError):
        ContentIndex.create(str(tmp_path / "idx"))


def test_commit_conflict_single_winner(spark, tmp_path):
    docs = _docs(spark)
    ContentIndex.create(str(tmp_path / "cidx"), n_buckets=2)
    a = ContentIndex.load(str(tmp_path / "cidx"))
    b = ContentIndex.load(str(tmp_path / "cidx"))
    a.append(docs.filter("CAST(url AS BIGINT) % 7 = 0"))
    with pytest.raises(CommitConflict):
        b.append(docs.filter("CAST(url AS BIGINT) % 7 = 1"))
    # the losing append's files are unreferenced; the index reloads with
    # the winner's keys only
    won = ContentIndex.load(str(tmp_path / "cidx"))
    assert won.stats()["total_keys"] == a.stats()["total_keys"] > 0
    _, dups = won.dedup_batch(spark, docs.filter("CAST(url AS BIGINT) % 7 = 1"))
    winner_texts = {r["text"] for r in docs.filter("CAST(url AS BIGINT) % 7 = 0").collect()}
    assert {r["text"] for r in dups.collect()} <= winner_texts


def test_compact_folds_files_and_preserves_membership(spark, tmp_path):
    docs = _docs(spark)
    idx = ContentIndex.create(str(tmp_path / "cidx"), n_buckets=4)
    for m in (2, 3):  # overlapping appends -> duplicate hash generations
        idx.append(docs.filter(f"CAST(url AS BIGINT) % {m} = 0"))
    pre = idx.stats()
    assert pre["max_files_per_bucket"] > 1
    batch = docs.filter("CAST(url AS BIGINT) % 5 = 0")
    _, pre_dups = idx.dedup_batch(spark, batch)
    pre_set = {r["url"] for r in pre_dups.collect()}

    v = idx.compact(spark)
    post = idx.stats()
    assert post["max_files_per_bucket"] == 1
    assert post["version"] == v
    # one bloom segment per bucket as well
    blooms = [f["bucket"] for f in idx.table.manifest.files if f["kind"] == "bloom"]
    assert sorted(blooms) == sorted(set(blooms))
    # duplicate generations collapsed to distinct hashes
    con = duckdb.connect()
    want = con.execute(
        f"SELECT count(DISTINCT md5(text)) FROM read_parquet('{SF}/documents.parquet') "
        f"WHERE doc_id % 2 = 0 OR doc_id % 3 = 0"
    ).fetchone()[0]
    assert post["total_keys"] == want
    _, post_dups = idx.dedup_batch(spark, batch)
    assert {r["url"] for r in post_dups.collect()} == pre_set

    # the index is a plain LakeTable: only _meta/ and data/, and a table
    # read of it sees every indexed hash once
    path = str(tmp_path / "cidx")
    assert sorted(os.listdir(path)) == ["_meta", "data"]
    assert LakeTable.load(path).read(spark).count() == want

    # expire_snapshots(keep_last=1) deletes the superseded pre-compact
    # parquet files and bloom segments but keeps a file a writer has left
    # for the next commit; membership is unchanged (without GC the sidecar
    # grows O(index x compaction count))
    data = os.path.join(path, "data")
    in_flight = os.path.join(data, f"v{v + 1}-b0-inflight.bloom")
    open(in_flight, "wb").close()
    before = set(os.listdir(data))
    assert any(f.endswith(".bloom") for f in before)
    report = idx.table.expire_snapshots(keep_last=1)
    after = set(os.listdir(data))
    live = {os.path.basename(f["path"]) for f in idx.table.manifest.files}
    assert after == live | {os.path.basename(in_flight)}
    gone = before - after
    assert any(f.endswith(".parquet") for f in gone) and any(f.endswith(".bloom") for f in gone)
    assert report["deleted_files"] == len(gone)
    _, vac_dups = idx.dedup_batch(spark, batch)
    assert {r["url"] for r in vac_dups.collect()} == pre_set
    assert idx.table.expire_snapshots(keep_last=1)["deleted_files"] == 0  # idempotent
