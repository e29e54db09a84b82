"""The synthetic change generator's invariants: the key-change id namespace
under start_lsn continuation tails and the stream's structural contract."""

from pyspark.sql import functions as F

from ape_dts_spark.sources.generator import KC_ID_BASE, gen_changes


def _url_id(url: str) -> int:
    return int(url.rsplit("/p", 1)[1])


def test_kc_targets_disjoint_from_insert_mints_across_tails(spark):
    n_seed, n = 200, 2000
    tail1 = gen_changes(spark, n, n_seed, seed=7).toPandas()
    tail2 = gen_changes(spark, n, n_seed, seed=7, start_lsn=n + 1).toPandas()

    kc_urls = set(tail1[tail1.before_url.notna()].url) | set(
        tail2[tail2.before_url.notna()].url
    )
    assert kc_urls, "fixture produced no key-change events"
    ins_urls = set(tail1[tail1.op == "insert"].url) | set(
        tail2[tail2.op == "insert"].url
    )
    # the documented invariant: a key-change moved-to url can never collide
    # with ANY minted insert url — including a LATER tail's mints, which
    # under the old n_seed+n_events+lsn offset landed exactly on an earlier
    # tail's kc-target range
    assert not (kc_urls & ins_urls)
    # namespace check, stronger than the sampled-set intersection above
    assert all(_url_id(u) >= KC_ID_BASE for u in kc_urls)
    assert all(_url_id(u) < KC_ID_BASE for u in ins_urls)


def test_gen_changes_stream_invariants(spark):
    """The synthetic binlog's structural contract, pinned: lsn strictly
    increasing and unique (the engine's total order), ops within the
    documented vocabulary, deletes carry null payload, tx_id non-null."""
    from ape_dts_spark.sources.generator import gen_changes

    ch = gen_changes(spark, 5000, 800, seed=11)
    n = ch.count()
    lsns = [r["lsn"] for r in ch.select("lsn").orderBy("lsn").collect()]
    assert len(lsns) == n and len(set(lsns)) == n
    assert all(b > a for a, b in zip(lsns, lsns[1:]))
    ops = {r["op"] for r in ch.select("op").distinct().collect()}
    assert ops <= {"insert", "update", "delete"}
    bad_del = ch.filter((F.col("op") == "delete") & F.col("html").isNotNull()).count()
    assert bad_del == 0
    assert ch.filter(F.col("tx_id").isNull()).count() == 0
    assert ch.filter(F.col("url").isNull()).count() == 0
