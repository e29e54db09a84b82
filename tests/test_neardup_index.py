"""NearDupIndex — incremental MinHash near-dup detection at ingest.

Oracle: signatures/banding reuse the board-oracled minhash literals, so
DuckDB mirrors match_batch end-to-end (shingles -> minhashes -> band
collision -> component-match estimate -> best match per arriving doc).
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from ape_dts_spark.lake.table import CommitConflict, LakeTable
from ape_dts_spark.operators.neardup_index import NearDupIndex
from ape_dts_spark.operators.text_dedup import MINHASH_PRIME, minhash_params

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


def test_match_batch_matches_duckdb_oracle(spark, tmp_path):
    docs = _docs(spark)
    hist = docs.filter("doc_id % 2 = 0")
    batch = docs.filter("doc_id % 3 = 0")  # overlap on multiples of 6

    idx = NearDupIndex.create(str(tmp_path / "ndi"), n_buckets=8)
    idx.append(hist, id_col="doc_id")
    idx = NearDupIndex.load(str(tmp_path / "ndi"))
    fresh, dups = idx.match_batch(
        spark, batch, id_col="doc_id", threshold=0.5, max_bucket=None
    )
    got = {
        (r["doc_id"], r["matched_id"], round(r["est_jaccard"], 6))
        for r in dups.collect()
    }
    got_fresh = {r["doc_id"] for r in fresh.collect()}

    K, bands = 16, 4
    a, b = minhash_params(K)
    mh = ", ".join(
        f"min(({a[i]} * x + {b[i]}) % {MINHASH_PRIME}) AS mh{i}" for i in range(K)
    )
    rpb = K // bands
    band_cases = " ".join(
        "WHEN {bb} THEN {sig}".format(
            bb=bb,
            sig=" || '|' || ".join(f"CAST(mh{bb * rpb + r} AS VARCHAR)" for r in range(rpb)),
        )
        for bb in range(bands)
    )
    eq = " + ".join(f"CASE WHEN h.mh{i} = t.mh{i} THEN 1 ELSE 0 END" for i in range(K))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    )
    want = {
        (r[0], r[1], round(r[2], 6))
        for r in con.execute(
            f"""
        WITH src AS (SELECT doc_id, text FROM documents),
        words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM src),
        pos AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 3 + 1, 1) + 1)) AS i FROM words),
        sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
               FROM pos WHERE length(array_to_string(list_slice(w, i, i + 2), ' ')) > 0),
        mh AS (SELECT doc_id, {mh}
               FROM (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 12))::BIGINT % {MINHASH_PRIME} AS x FROM sh)
               GROUP BY doc_id),
        hb AS (SELECT m.doc_id, band, CASE band {band_cases} END AS sig
               FROM mh m CROSS JOIN (SELECT unnest(range(0, {bands})) AS band)
               WHERE m.doc_id % 2 = 0),
        tb AS (SELECT m.doc_id, band, CASE band {band_cases} END AS sig
               FROM mh m CROSS JOIN (SELECT unnest(range(0, {bands})) AS band)
               WHERE m.doc_id % 3 = 0),
        cand AS (SELECT DISTINCT t.doc_id AS bid, h.doc_id AS hid
                 FROM tb t JOIN hb h ON t.band = h.band AND t.sig = h.sig),
        est AS (SELECT c.bid, c.hid, ({eq}) / {K}.0 AS ej
                FROM cand c
                JOIN mh t ON t.doc_id = c.bid JOIN mh h ON h.doc_id = c.hid
                WHERE ({eq}) / {K}.0 >= 0.5),
        top AS (SELECT bid, max(ej) AS ej FROM est GROUP BY bid)
        SELECT CAST(e.bid AS VARCHAR), min(CAST(e.hid AS VARCHAR)), e.ej
        FROM est e JOIN top USING (bid, ej) GROUP BY e.bid, e.ej
        """
        ).fetchall()
    }
    want = {(int(d), int(m), e) for d, m, e in want}
    got = {(int(d), int(m), e) for d, m, e in got}
    assert got == want
    assert got_fresh == {
        r["doc_id"] for r in _docs(spark).filter("doc_id % 3 = 0").collect()
    } - {d for d, _, _ in got}
    # the exact-overlap docs (multiples of 6) are indexed verbatim, so each
    # must match at est 1.0 (possibly against an identical-signature peer
    # with a lexicographically smaller id, not necessarily itself)
    overlap = {r["doc_id"] for r in _docs(spark).filter("doc_id % 6 = 0").collect()}
    hits = {d for d, _, e in got if e == 1.0}
    assert overlap <= hits


def test_near_miss_caught_exact_diff_fresh(spark, tmp_path):
    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a slow tune in the warm evening air near the old stone bridge"
    )
    hist = spark.createDataFrame([(1, base)], "url long, text string")
    batch = spark.createDataFrame(
        [
            (100, base + " extra trailing words"),  # near-dup of 1
            (101, "completely different content about spark query planning"),
        ],
        "url long, text string",
    )
    idx = NearDupIndex.create(str(tmp_path / "ndi"), n_buckets=4)
    idx.append(hist)
    fresh, dups = idx.match_batch(spark, batch, threshold=0.5)
    assert {r["url"] for r in dups.collect()} == {100}
    d = dups.collect()[0]
    assert int(d["matched_id"]) == 1 and d["est_jaccard"] >= 0.5
    assert {r["url"] for r in fresh.collect()} == {101}


def test_incremental_appends_accumulate(spark, tmp_path):
    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t2 = "one two three four five six seven eight nine ten eleven twelve"
    idx = NearDupIndex.create(str(tmp_path / "ndi"), n_buckets=4)
    idx.append(spark.createDataFrame([(1, t1)], "url long, text string"))
    # t2 not yet indexed -> fresh
    fresh, dups = idx.match_batch(
        spark, spark.createDataFrame([(2, t2)], "url long, text string")
    )
    assert dups.count() == 0 and fresh.count() == 1
    idx.append(spark.createDataFrame([(2, t2)], "url long, text string"))
    idx = NearDupIndex.load(str(tmp_path / "ndi"))
    assert idx.stats()["total_docs"] == 2
    # now both match, each against its own generation
    _, dups = idx.match_batch(
        spark,
        spark.createDataFrame([(10, t1), (11, t2)], "url long, text string"),
        threshold=0.9,
    )
    assert {(r["url"], int(r["matched_id"])) for r in dups.collect()} == {(10, 1), (11, 2)}


def test_commit_conflict_single_winner(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "some words repeated here for a viable shingle count today")],
        "url long, text string",
    )
    NearDupIndex.create(str(tmp_path / "ndi"), n_buckets=2)
    a = NearDupIndex.load(str(tmp_path / "ndi"))
    b = NearDupIndex.load(str(tmp_path / "ndi"))
    a.append(df)
    with pytest.raises(CommitConflict):
        b.append(df)
    # the losing append's files are unreferenced, the index still loads
    assert NearDupIndex.load(str(tmp_path / "ndi")).stats()["total_docs"] == 1


def test_no_shingle_docs_never_indexed_never_match(spark, tmp_path):
    idx = NearDupIndex.create(str(tmp_path / "ndi"), n_buckets=2)
    empt = spark.createDataFrame([(1, ""), (2, "   ")], "url long, text string")
    assert idx.append(empt) == 0
    fresh, dups = idx.match_batch(spark, empt)
    assert dups.count() == 0 and fresh.count() == 2


def test_hot_band_cap_drops_megagroup(spark, tmp_path):
    text = "identical boilerplate page body shared by very many urls indeed"
    n = 120
    hist = spark.range(n).select(
        F.col("id").alias("url"), F.lit(text).alias("text")
    )
    idx = NearDupIndex.create(str(tmp_path / "ndi"), n_buckets=4)
    idx.append(hist)
    probe = spark.createDataFrame([(999, text)], "url long, text string")
    # capped: the 120-row band groups exceed max_bucket=50 -> dropped whole
    fresh, dups = idx.match_batch(spark, probe, max_bucket=50)
    assert dups.count() == 0 and fresh.count() == 1
    # uncapped: matches (est 1.0 against the whole group, min id picked)
    _, dups = idx.match_batch(spark, probe, max_bucket=None)
    row = dups.collect()[0]
    assert int(row["matched_id"]) == 0 and row["est_jaccard"] == 1.0


def test_create_param_validation(tmp_path):
    with pytest.raises(ValueError, match="divide"):
        NearDupIndex.create(str(tmp_path / "x"), num_hashes=10, bands=4)
    NearDupIndex.create(str(tmp_path / "y"))
    with pytest.raises(FileExistsError):
        NearDupIndex.create(str(tmp_path / "y"))


def test_compact_folds_files_and_preserves_matches(spark, tmp_path):
    texts = [
        (i, f"document number {i} with some shared vocabulary plus unique "
            f"token{i} marker{i} body words going on for a while here")
        for i in range(12)
    ]
    idx = NearDupIndex.create(str(tmp_path / "ndi"), n_buckets=4)
    # several appends -> several files per bucket (incl. duplicate
    # generations of doc 0)
    for lo in (0, 4, 8):
        idx.append(
            spark.createDataFrame(texts[lo : lo + 4], "url long, text string")
        )
    idx.append(spark.createDataFrame(texts[:1], "url long, text string"))  # re-append
    pre = idx.stats()
    assert pre["max_files_per_bucket"] > 1
    probe = spark.createDataFrame(texts[2:3], "url long, text string")
    _, pre_dups = idx.match_batch(spark, probe, threshold=0.9)
    pre_rows = {(r["url"], int(r["matched_id"]), r["est_jaccard"]) for r in pre_dups.collect()}

    v = idx.compact(spark)
    post = idx.stats()
    assert post["max_files_per_bucket"] == 1
    assert post["version"] == v
    # duplicate generations collapsed: total_docs == 12 distinct signatures
    assert post["total_docs"] == 12
    _, post_dups = idx.match_batch(spark, probe, threshold=0.9)
    post_rows = {(r["url"], int(r["matched_id"]), r["est_jaccard"]) for r in post_dups.collect()}
    assert post_rows == pre_rows
    # index still loads fresh and keeps matching
    idx2 = NearDupIndex.load(str(tmp_path / "ndi"))
    assert idx2.stats()["total_docs"] == 12

    # expire_snapshots(keep_last=1) drops the superseded pre-compact files
    # and snapshots; matches unchanged
    import os

    assert sorted(os.listdir(tmp_path / "ndi")) == ["_meta", "data"]
    table_rows = LakeTable.load(str(tmp_path / "ndi")).read(spark)
    assert table_rows.select("doc_id").distinct().count() == 12
    assert idx.table.expire_snapshots(keep_last=1)["deleted_files"] > 0
    live = {os.path.basename(f["path"]) for f in idx.table.manifest.files}
    assert live == set(os.listdir(tmp_path / "ndi" / "data"))
    assert idx.table.history() == [v]
    _, vac_dups = idx.match_batch(spark, probe, threshold=0.9)
    assert {
        (r["url"], int(r["matched_id"]), r["est_jaccard"]) for r in vac_dups.collect()
    } == pre_rows
