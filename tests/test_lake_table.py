"""LakeTable format: atomic commits, bucket pruning, schema evolution."""

import os

import pytest
from pyspark.sql import functions as F

from ape_dts_spark.lake.table import CommitConflict, LakeTable

COLS = [("k", "string", False), ("v", "int", True)]


def _mk(tmp_path, name="t", bucket_count=4):
    return LakeTable.create(str(tmp_path / name), COLS, bucket_key="k", bucket_count=bucket_count)


def test_create_append_read(spark, tmp_path):
    t = _mk(tmp_path)
    df = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "k string, v int")
    t.append(df)
    got = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert got == [("a", 1), ("b", 2), ("c", 3)]
    # reload from disk sees the same committed state
    t2 = LakeTable.load(t.path)
    assert t2.version == 1
    assert sorted((r["k"], r["v"]) for r in t2.read(spark).collect()) == got


def test_bucket_pruning_reads_only_affected_files(spark, tmp_path):
    t = _mk(tmp_path, bucket_count=8)
    rows = [(f"k{i}", i) for i in range(100)]
    t.append(spark.createDataFrame(rows, "k string, v int"))
    # pick the bucket of k0 and prune to it
    b0 = int(
        spark.range(1).select(F.pmod(F.xxhash64(F.lit("k0")), F.lit(8)).cast("int")).collect()[0][0]
    )
    pruned = t.read(spark, buckets=[b0])
    assert any(r["k"] == "k0" for r in pruned.collect())
    assert len(t.input_files(buckets=[b0])) < len(t.input_files())
    # every row in the pruned read actually belongs to bucket b0
    chk = pruned.select(F.pmod(F.xxhash64(F.col("k")), F.lit(8)).cast("int").alias("b")).distinct()
    assert [r["b"] for r in chk.collect()] == [b0]


def test_schema_evolution_add_rename_widen(spark, tmp_path):
    t = _mk(tmp_path)
    t.append(spark.createDataFrame([("a", 1)], "k string, v int"))
    t.add_column("score", "int")
    t.append(spark.createDataFrame([("b", 2, 7)], "k string, v int, score int"))
    t.rename_column("score", "rank")
    t.widen_column("rank", "long")
    rows = {r["k"]: r for r in t.read(spark).collect()}
    # old file null-padded; new file's values mapped by field id through rename+widen
    assert rows["a"]["rank"] is None
    assert rows["b"]["rank"] == 7
    assert dict(t.read(spark).dtypes)["rank"] == "bigint"
    # illegal widens rejected
    with pytest.raises(ValueError):
        t.widen_column("k", "long")
    with pytest.raises(ValueError):
        t.add_column("rank", "int")


def test_time_travel_and_history(spark, tmp_path):
    t = _mk(tmp_path)
    t.append(spark.createDataFrame([("a", 1)], "k string, v int"))
    v1 = t.version
    t.append(spark.createDataFrame([("b", 2)], "k string, v int"))
    assert t.read_version(spark, v1).count() == 1
    assert t.read(spark).count() == 2
    assert t.history() == [0, 1, 2]


def test_commit_conflict_single_winner(spark, tmp_path):
    t = _mk(tmp_path)
    t.append(spark.createDataFrame([("a", 1)], "k string, v int"))
    stale = LakeTable.load(t.path)
    stale.manifest.version = t.version  # simulate a racing writer staging v(N+1)
    m = stale._next_manifest()
    t._publish(t._next_manifest())  # winner commits first
    with pytest.raises(CommitConflict):
        stale._publish(m)


def test_unbucketed_table(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "log"), [("a", "long"), ("b", "string")])
    t.append(spark.createDataFrame([(1, "x")], "a long, b string"))
    t.append(spark.createDataFrame([(2, "y")], "a long, b string"))
    assert t.read(spark).count() == 2
    assert os.path.isdir(os.path.join(t.path, "_meta"))


def test_drop_column_and_truncate(spark, tmp_path):
    t = _mk(tmp_path)
    t.append(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"))
    t.drop_column("v")
    assert t.schema.names() == ["k"]
    assert sorted(r["k"] for r in t.read(spark).collect()) == ["a", "b"]
    # re-adding the same name mints a new field id: old values never resurrect
    t.add_column("v", "int")
    assert [r["v"] for r in t.read(spark).collect()] == [None, None]
    with pytest.raises(ValueError, match="cannot drop bucket key"):
        t.drop_column("k")
    v_before = t.version
    t.truncate()
    assert t.version == v_before + 1
    assert t.read(spark).count() == 0
    assert t.schema.names() == ["k", "v"]  # schema survives truncate
    # time travel still sees pre-truncate data
    assert t.read_version(spark, v_before).count() == 2


def test_catalog_table_lifecycle(spark, tmp_path):
    from ape_dts_spark.lake.catalog import Catalog

    cat = Catalog(str(tmp_path / "db"))
    cat.create_table("t1", COLS, bucket_key="k", bucket_count=2)
    cat.table("t1").append(spark.createDataFrame([("a", 1)], "k string, v int"))
    assert cat.list_tables() == ["t1"]
    # idempotent create (crash replay)
    t1b = cat.create_table("t1", COLS, if_not_exists=True)
    assert t1b.read(spark).count() == 1
    with pytest.raises(ValueError, match="already exists"):
        cat.create_table("t1", COLS)
    # rename: atomic, data survives, replay-idempotent
    cat.rename_table("t1", "t2")
    assert cat.list_tables() == ["t2"]
    assert cat.table("t2").read(spark).count() == 1
    assert cat.rename_table("t1", "t2", if_exists=True) is False  # already applied
    # truncate through the catalog
    cat.truncate_table("t2")
    assert cat.table("t2").read(spark).count() == 0
    # drop: gone, replay-idempotent
    assert cat.drop_table("t2") is True
    assert cat.list_tables() == []
    assert cat.drop_table("t2", if_exists=True) is False
    with pytest.raises(ValueError, match="no table"):
        cat.drop_table("t2")


def test_manifest_segmentation_bounds_commit_size(spark, tmp_path, monkeypatch):
    """With 10^5+ files a flat manifest is O(table) JSON per commit; sealed
    per-bucket segments keep the committed manifest O(tail) while readers
    still see every live file (incl. time travel)."""
    import json as _json
    import os as _os

    from ape_dts_spark.lake.table import _Manifest

    monkeypatch.setattr(_Manifest, "SEAL_PER_BUCKET", 4)
    t = _mk(tmp_path, bucket_count=2)
    df = spark.createDataFrame([(f"k{i}", i) for i in range(40)], "k string, v int")
    for _ in range(8):
        t.append(df)
    n_files = len(t.manifest.files)
    assert n_files >= 16
    # on-disk manifest holds only the tail; segments carry the rest
    raw = _json.load(open(_os.path.join(t.path, "_meta", f"v{t.version}.json")))
    assert raw["file_segments"], "sealing never triggered"
    assert len(raw["files"]) < n_files
    assert sum(s["n"] for s in raw["file_segments"]) + len(raw["files"]) == n_files
    # a fresh load materializes the full list and reads all rows
    t2 = LakeTable.load(t.path)
    assert len(t2.manifest.files) == n_files
    assert t2.read(spark).count() == 8 * 40
    # later commits reuse untouched segments verbatim (no rewrite)
    segs_before = {s["path"] for s in raw["file_segments"]}
    t2.append(df)
    raw2 = _json.load(open(_os.path.join(t2.path, "_meta", f"v{t2.version}.json")))
    assert segs_before <= {s["path"] for s in raw2["file_segments"]}
    # folding one bucket invalidates only that bucket's segments: a delta
    # upsert of k0 (v orders the writes) then a compaction of its bucket
    v_pre = t2.version
    t2.set_properties({"merge_order_col": "v"})
    up = spark.createDataFrame([("k0", 999, "upsert")], "k string, v int, _op string")
    b = up.select(t2.bucket_expr()).collect()[0][0]
    t2.append_delta(up)
    files_pre = {f["path"] for f in t2.manifest.files}
    t2.compact(spark, buckets=[b])
    raw3 = _json.load(open(_os.path.join(t2.path, "_meta", f"v{t2.version}.json")))
    segs_after = {s["path"] for s in raw3["file_segments"]}
    segs_other = {s for s in segs_before if f"-b{1 - b}-" in s}
    assert segs_other and segs_other <= segs_after
    assert not {s for s in segs_after if f"-b{b}-" in s}
    bucket_b = [f for f in t2.manifest.files if f["bucket"] == b]
    assert bucket_b and all(f["path"] not in files_pre for f in bucket_b)
    assert all(f["path"] in files_pre for f in t2.manifest.files if f["bucket"] != b)
    # bucket b now holds ONE resolved row per key, k0's the delta's; the
    # other bucket keeps its 9 appended copies of each key
    keys_b = {
        r["k"]
        for r in df.withColumn("_b", F.pmod(F.xxhash64(F.col("k")), F.lit(2)).cast("int"))
        .filter(F.col("_b") == b)
        .collect()
    }
    live = t2.read(spark).collect()
    assert {r["k"]: r["v"] for r in live}["k0"] == 999
    assert sorted(r["k"] for r in live if r["k"] in keys_b) == sorted(keys_b)
    assert len(live) == len(keys_b) + 9 * (40 - len(keys_b))
    # time travel through a segmented manifest still works
    assert t2.read_version(spark, v_pre).count() == 9 * 40


def test_catalog_database_lifecycle(tmp_path):
    """CREATE/DROP DATABASE (ddl_type.rs CreateDatabase/DropDatabase):
    idempotent create, non-cascade refusal on non-empty, cascade drop."""
    import pytest

    from ape_dts_spark.lake.catalog import Catalog

    base = str(tmp_path / "warehouse")
    db = Catalog.create_database(base, "analytics")
    # replay-idempotent
    Catalog.create_database(base, "analytics")
    with pytest.raises(FileExistsError):
        Catalog.create_database(base, "analytics", if_not_exists=False)
    assert Catalog.list_databases(base) == ["analytics"]

    db.create_table("t1", [("id", "long"), ("v", "string")], bucket_key="id", bucket_count=2)
    with pytest.raises(ValueError, match="not empty"):
        Catalog.drop_database(base, "analytics")
    assert Catalog.drop_database(base, "analytics", cascade=True)
    assert Catalog.list_databases(base) == []
    assert Catalog.drop_database(base, "analytics", if_exists=True) is False
    with pytest.raises(FileNotFoundError):
        Catalog.drop_database(base, "analytics")


def test_catalog_rejects_empty_and_path_names(tmp_path):
    """The empty string must be illegal everywhere a name maps to a path:
    '' resolves to the warehouse/catalog root itself, so a cascade
    drop_database('') would delete every database (round-3 advice fix)."""
    import pytest

    from ape_dts_spark.lake.catalog import Catalog

    base = str(tmp_path / "warehouse")
    Catalog.create_database(base, "db1")
    for bad in ("", "a/b", ".hidden"):
        with pytest.raises(ValueError, match="illegal"):
            Catalog.create_database(base, bad)
        with pytest.raises(ValueError, match="illegal"):
            Catalog.drop_database(base, bad, cascade=True)
    assert Catalog.list_databases(base) == ["db1"]
    cat = Catalog(os.path.join(base, "db1"))
    for bad in ("", "x/y", ".t"):
        with pytest.raises(ValueError, match="illegal"):
            cat.create_table(bad, [("id", "long")])
        with pytest.raises(ValueError, match="illegal"):
            cat.drop_table(bad)


def test_expire_snapshots_bounds_history_and_gcs_orphans(spark, tmp_path):
    """Iceberg expire_snapshots analog: keep the newest N manifests, drop
    older manifest JSONs, GC data files no kept snapshot references —
    without ever touching files newer than the expired versions, and
    idempotently (a second run is a no-op)."""
    from ape_dts_spark.operators.merge import merge_into

    cols = [("url", "string", False), ("v", "int", True), ("last_lsn", "long", True)]
    t = LakeTable.create(str(tmp_path / "p"), cols, bucket_key="url", bucket_count=2)
    t.append(spark.createDataFrame([(f"u{i}", i, 0) for i in range(20)],
                                   "url string, v int, last_lsn long"))
    def one_merge(r):
        ch = spark.createDataFrame(
            [(f"u{i}", 100 * r + i, "update", 10 * r + i + 1) for i in range(10)],
            "url string, v int, op string, lsn long",
        )
        merge_into(spark, t, ch)

    for r in range(3):  # MOR deltas accrue
        one_merge(r)
    t.compact(spark)  # folds the deltas: pre-compact files become history-only
    one_merge(3)  # keep_last=2 window = [compact, this merge] -> orphans exist
    want = {r["url"]: r["v"] for r in t.read(spark).collect()}
    versions = t.history()
    assert len(versions) >= 6

    dry = t.expire_snapshots(keep_last=2, dry_run=True)
    assert dry["expired_versions"] == versions[:-2] and dry["deleted_files"] > 0
    assert t.history() == versions  # dry run touched nothing

    rep = t.expire_snapshots(keep_last=2)
    assert t.history() == versions[-2:]
    assert rep["deleted_files"] == dry["deleted_files"] > 0
    # current state fully intact after GC
    t2 = LakeTable.load(str(tmp_path / "p"))
    assert {r["url"]: r["v"] for r in t2.read(spark).collect()} == want
    # expired versions are no longer time-travelable
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t2.read_version(spark, versions[0])
    # kept history still time-travels
    assert t2.read_version(spark, versions[-2]).count() > 0
    # idempotent
    rep2 = t2.expire_snapshots(keep_last=2)
    assert rep2["deleted_files"] == 0 and rep2["expired_versions"] == []


def test_lake_create_refuses_unrelated_directory(tmp_path):
    """create() must not adopt a pre-existing directory holding unrelated
    content; a crashed half-made layout (bare _meta/data, no committed
    manifest) stays resumable."""
    cols = [("url", "string", False)]
    # unrelated content -> loud failure
    bad = tmp_path / "existing"
    bad.mkdir()
    (bad / "precious.txt").write_text("not a table")
    with pytest.raises(FileExistsError, match="refusing to adopt"):
        LakeTable.create(str(bad), cols)
    assert (bad / "precious.txt").read_text() == "not a table"
    # resumable half-made layout -> adopted
    half = tmp_path / "half"
    os.makedirs(half / "_meta")
    os.makedirs(half / "data")
    t = LakeTable.create(str(half), cols)
    assert t.manifest.version == 0
    # committed table -> still the original already-committed error
    with pytest.raises(FileExistsError, match="already committed"):
        LakeTable.create(str(half), cols)


def test_create_resumes_after_half_created_dir(tmp_path):
    p = str(tmp_path / "t")
    os.makedirs(os.path.join(p, "_meta"))  # crash between mkdir and publish
    assert not LakeTable.exists(p)
    t = LakeTable.create(p, [("k", "string", False)])  # must not raise
    assert LakeTable.exists(p) and t.version == 0
    with pytest.raises(FileExistsError):
        LakeTable.create(p, [("k", "string", False)])  # committed: still refused


def test_compacted_entries_carry_footer_rows(spark, tmp_path):
    """Every manifest entry, compacted ones included, carries its exact
    footer row count; tombstone files count only deletes."""
    from ape_dts_spark.functions.extract_text import extract_text_udf
    from ape_dts_spark.operators.merge import merge_into
    from ape_dts_spark.sources.generator import PAGES_COLS, gen_changes, gen_pages_seed

    t = LakeTable.create(str(tmp_path / "pages"), PAGES_COLS, bucket_key="url", bucket_count=4)
    t.append(
        gen_pages_seed(spark, 20, seed=7).withColumn("text", extract_text_udf(F.col("html")))
    )
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
