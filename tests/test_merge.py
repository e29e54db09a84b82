"""merge_into semantics: upsert/delete, LWW, idempotence, bucket pruning."""

from pyspark.sql import functions as F

from ape_dts_spark.lake.table import LakeTable
from ape_dts_spark.operators.dedup import lww_dedup, reverse_ops, split_key_change_updates
from ape_dts_spark.operators.merge import merge_into

PAGES = [
    ("url", "string", False),
    ("v", "int", True),
    ("last_lsn", "long", True),
]


def _table(spark, tmp_path, rows):
    t = LakeTable.create(str(tmp_path / "pages"), PAGES, bucket_key="url", bucket_count=4)
    if rows:
        t.append(spark.createDataFrame(rows, "url string, v int, last_lsn long"))
    return t


def _changes(spark, rows):
    return spark.createDataFrame(rows, "url string, v int, op string, lsn long")


def _state(spark, t):
    return {r["url"]: (r["v"], r["last_lsn"]) for r in t.read(spark).collect()}


def test_insert_update_delete(spark, tmp_path):
    t = _table(spark, tmp_path, [("a", 1, 0), ("b", 2, 0), ("c", 3, 0)])
    ch = _changes(
        spark,
        [
            ("a", 10, "update", 5),   # update existing
            ("b", None, "delete", 6),  # delete existing
            ("d", 40, "insert", 7),   # brand new
            ("e", 50, "update", 8),   # update-on-missing upserts (REPLACE semantics)
        ],
    )
    merge_into(spark, t, ch)
    assert _state(spark, t) == {"a": (10, 5), "c": (3, 0), "d": (40, 7), "e": (50, 8)}


def test_lww_within_batch(spark, tmp_path):
    t = _table(spark, tmp_path, [])
    ch = _changes(
        spark,
        [
            ("a", 1, "insert", 1),
            ("a", 2, "update", 3),
            ("a", 9, "update", 2),  # stale, must lose
            ("b", 1, "insert", 4),
            ("b", None, "delete", 5),  # delete wins
            ("c", 1, "insert", 6),
            ("c", None, "delete", 7),
            ("c", 8, "insert", 9),  # delete-then-reinsert
        ],
    )
    stats = merge_into(spark, t, ch)
    assert _state(spark, t) == {"a": (2, 3), "c": (8, 9)}
    assert stats.source_rows == 3  # post-dedup: one survivor per url
    assert stats.deleted_rows == 1  # b


def test_per_bucket_merge_counts_are_exact(spark, tmp_path):
    """MOR MergeStats.per_bucket must carry each bucket's OWN (rows, deletes)
    — the per-lane counters lineage consumes — and sum to the batch totals
    exactly once (round-2 verdict: duplicated batch totals per bucket)."""
    t = _table(spark, tmp_path, [])
    rows = [(f"u{i}", i, "insert", i + 1) for i in range(40)] + [
        (f"u{i}", None, "delete", 100 + i) for i in range(6)
    ]
    stats = merge_into(spark, t, _changes(spark, rows))
    assert stats.per_bucket is not None and len(stats.per_bucket) > 1
    # independent per-bucket expectation via the table's own bucket transform
    src = _changes(spark, rows)
    deduped = lww_dedup(src, ["url"], "lsn")
    want = {
        r["b"]: (r["n"], r["d"])
        for r in deduped.groupBy(t.bucket_expr().alias("b"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("d"),
        )
        .collect()
    }
    got = {b: (c["rows"], c["deletes"]) for b, c in stats.per_bucket.items()}
    assert got == want
    assert sum(c["rows"] for c in stats.per_bucket.values()) == stats.source_rows == 40
    assert sum(c["deletes"] for c in stats.per_bucket.values()) == stats.deleted_rows == 6


def test_idempotent_replay_is_noop(spark, tmp_path):
    t = _table(spark, tmp_path, [("a", 1, 0)])
    ch = _changes(spark, [("a", 10, "update", 5), ("b", 2, "insert", 6), ("a", None, "delete", 7)])
    merge_into(spark, t, ch)
    s1 = _state(spark, t)
    merge_into(spark, t, ch)  # full replay
    merge_into(spark, t, _changes(spark, [("b", 99, "update", 3)]))  # stale straggler
    assert _state(spark, t) == s1 == {"b": (2, 6)}


def test_bucket_pruning_on_merge(spark, tmp_path):
    t = _table(spark, tmp_path, [(f"u{i}", i, 0) for i in range(100)])
    before = {f["path"] for f in t.manifest.files}
    stats = merge_into(spark, t, _changes(spark, [("u0", 999, "update", 1)]))
    assert len(stats.affected_buckets) == 1
    untouched = [f for f in t.manifest.files if f["bucket"] not in stats.affected_buckets]
    assert all(f["path"] in before for f in untouched)
    assert _state(spark, t)["u0"] == (999, 1)
    assert _state(spark, t)["u99"] == (99, 0)


def test_split_key_change_updates(spark):
    df = spark.createDataFrame(
        [
            ("new", "old", "update", 5, 1),
            ("x", None, "update", 6, 2),
            ("y", None, "insert", 7, 3),
        ],
        "url string, before_url string, op string, lsn long, v int",
    )
    out = split_key_change_updates(df)
    rows = {(r["url"], r["op"]) for r in out.collect()}
    assert rows == {
        ("old", "delete"),
        ("new", "insert"),
        ("x", "update"),
        ("y", "insert"),
    }
    assert out.count() == 4


def test_reverse_ops(spark):
    df = spark.createDataFrame(
        [("a", "insert"), ("b", "delete"), ("c", "update")], "url string, op string"
    )
    got = {r["url"]: r["op"] for r in reverse_ops(df).collect()}
    assert got == {"a": "delete", "b": "insert", "c": "update"}
    # reversed key-changing update points back at the old key (image swap)
    df2 = spark.createDataFrame(
        [("new", "old", "update"), ("x", None, "update"), ("y", "z", "insert")],
        "url string, before_url string, op string",
    )
    rows = {r["op"] + ":" + str(r["before_url"]): r["url"] for r in reverse_ops(df2).collect()}
    assert rows["update:new"] == "old"  # swapped
    assert rows["update:None"] == "x"  # no before image: unchanged
    assert rows["delete:z"] == "y"  # non-update: key untouched


def test_reverse_ops_custom_key_col(spark):
    # ADVICE r3: the full-before-image path must treat the CONFIGURED key
    # column specially — for a stream keyed on 'id', a reversed delete/update
    # with before_exists=true must NOT take the generic payload swap (its
    # before_id is NULL for non-key-change events -> NULL-key corruption).
    df = spark.createDataFrame(
        [
            (1, None, "v2", "v1", "update", True),
            (2, None, None, "old9", "delete", True),
        ],
        "id long, before_id long, val string, before_val string, "
        "op string, before_exists boolean",
    )
    out = {r["id"]: (r["op"], r["val"]) for r in reverse_ops(df, key_col="id").collect()}
    # keys intact (not nulled from before_id), payloads restored
    assert out[1] == ("update", "v1")
    assert out[2] == ("insert", "old9")


def test_maybe_compact_byte_budget_spreads_folds(spark, tmp_path):
    """compact_byte_budget bounds the bytes ONE fold rewrites: with a tiny
    budget the first maintenance call folds only the largest-delta bucket(s)
    and later calls converge the rest — the 50s first-fold stall becomes
    several bounded folds.  Unbounded (0) folds everything at once."""
    from ape_dts_spark.streaming.driver import EngineConfig, maybe_compact

    def seed(path):
        t = LakeTable.create(str(path), PAGES, bucket_key="url", bucket_count=4)
        t.append(spark.createDataFrame(
            [(f"u{i}", i, 0) for i in range(64)], "url string, v int, last_lsn long"))
        # pile deltas onto every bucket, well past compact_ratio
        ch = _changes(spark, [(f"u{i}", i + 1, "update", 10 + i) for i in range(64)])
        merge_into(spark, t, ch)
        return t

    def delta_buckets(t):
        return {f["bucket"] for f in t.manifest.files if f.get("kind") == "delta"}

    t1 = seed(tmp_path / "bounded")
    assert len(delta_buckets(t1)) == 4
    cfg = EngineConfig(job_id="c", pages_path="", changes_path="",
                       compact_ratio=0.25, compact_byte_budget=1)
    # budget of 1 byte -> exactly one bucket (the largest delta) per call,
    # and repeated calls converge to no deltas
    calls = 0
    while maybe_compact(spark, t1, cfg):
        calls += 1
        assert calls <= 8
    assert delta_buckets(t1) == set()
    assert calls == 4  # one bucket per bounded fold

    t2 = seed(tmp_path / "unbounded")
    cfg0 = EngineConfig(job_id="c", pages_path="", changes_path="",
                        compact_ratio=0.25, compact_byte_budget=0)
    assert maybe_compact(spark, t2, cfg0)
    assert delta_buckets(t2) == set()  # single stop-the-world fold
    # both paths converge to the same table state
    assert _state(spark, t1) == _state(spark, t2)


def test_equal_lsn_later_commit_wins_deterministically(spark, tmp_path):
    """Data-sequence-number LWW (Iceberg sequence-number analog): two delta
    commits carrying the SAME lsn for the same key must resolve to the
    later COMMIT, not an arbitrary file order — this is what lets a revise
    task stamp fixes at exactly max(lsn) and still deterministically beat
    the already-applied row it corrects (see __main__ revise)."""
    t = _table(spark, tmp_path, [("a", 1, 0)])
    merge_into(spark, t, _changes(spark, [("a", 10, "update", 7)]))
    # same lsn, later commit — e.g. a revise re-extraction of key "a"
    merge_into(spark, t.refresh(), _changes(spark, [("a", 99, "update", 7)]))
    assert _state(spark, t.refresh()) == {"a": (99, 7)}
    # and a STRICTLY newer event still beats the equal-lsn fix
    merge_into(spark, t.refresh(), _changes(spark, [("a", 123, "update", 8)]))
    assert _state(spark, t.refresh()) == {"a": (123, 8)}
    # the rule survives compaction: fold everything, then an equal-lsn
    # delta on top of the folded base must still win (base seq < delta seq)
    t.refresh().compact(spark)
    merge_into(spark, t.refresh(), _changes(spark, [("a", 7, "update", 8)]))
    assert _state(spark, t.refresh()) == {"a": (7, 8)}


def test_lww_plain_plan_uses_group_limit(spark):
    """The plain lww_dedup's skew guard IS the WindowGroupLimit rewrite
    (Partial pass pre-reduces hot-key bursts before the Exchange) — pin the
    plan shape so a refactor that breaks the row_number()==1 pattern fails
    here instead of silently funneling a burst into one task."""
    df = spark.createDataFrame([(1, "u", "insert")], "lsn long, url string, op string")
    plan = lww_dedup(df, ["url"], "lsn")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "Partial" in plan and "Final" in plan
