"""Unit tests: checker, filters/router/config, text ops, similarity, multimodal."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ape_dts_spark.config import load_task_config
from ape_dts_spark.operators.checker import check, revise
from ape_dts_spark.operators.filters import ChangeFilter, Router, TableFilter, wildcard_match
from ape_dts_spark.operators.multimodal import frame_sample_plan, media_metadata
from ape_dts_spark.operators.similarity import brute_force_topk, lsh_topk
from ape_dts_spark.operators.text_analysis import language_id, quality_score, token_stats
from ape_dts_spark.operators.text_dedup import (
    _byte_string,
    _drop_hot_keys,
    contaminated_train_docs,
    decontaminate,
    exact_duplicates,
    lsh_candidate_pairs,
    minhash_signatures,
    minhash_signatures_fused,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dups,
    word_shingles,
)

SF = "/root/testdata/sf0.001"


def test_checker_classifies_miss_diff_extra(spark):
    src = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    tgt = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 99.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    out = {r["k"]: (r["check_result"], list(r["diff_cols"])) for r in check(src, tgt, ["k"]).collect()}
    assert out[1] == ("match", [])
    assert out[2] == ("diff", ["v"])
    assert out[3] == ("miss", [])
    assert out[4][0] == "extra"
    # revise restricts the change stream to miss/diff keys
    rev = revise(src, check(src, tgt, ["k"]), ["k"])
    assert sorted(r["k"] for r in rev.collect()) == [2, 3]


def test_review_after_revise(spark):
    """check -> revise -> review task flow (reference review task type):
    review re-checks ONLY the previously-flagged keys, confirming fixes and
    still reporting unfixed ones."""
    from ape_dts_spark.operators.checker import review

    src = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    tgt = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 99.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    prior = check(src, tgt, ["k"])
    # simulate a revise that fixed key 2 but not key 3
    tgt_revised = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    out = {r["k"]: r["check_result"] for r in review(src, tgt_revised, prior, ["k"]).collect()}
    # only the flagged keys (2 miss->fixed, 3 still missing) are re-checked
    assert out == {2: "match", 3: "miss"}


def test_wildcard_match_reference_semantics():
    # reference rdb_filter.rs wildcard dialect: * ? with escapes
    assert wildcard_match("web_*", "web_pages")
    assert wildcard_match("t?", "t1")
    assert not wildcard_match("t?", "t12")
    assert wildcard_match(r"a\*b", "a*b")
    assert not wildcard_match(r"a\*b", "aXb")
    tf = TableFilter(do_tbs=["web_*"], ignore_tbs=["web_tmp*"])
    assert tf.matches("web_pages") and not tf.matches("web_tmp_1") and not tf.matches("other")


def test_change_filter_and_router(spark):
    df = spark.createDataFrame(
        [(1, "insert", "node1", 5.0), (2, "delete", "node1", 6.0), (3, "insert", "node2", 7.0)],
        "lsn long, op string, origin string, v double",
    )
    f = ChangeFilter(do_events=["insert"], do_origins=["node1"], where_condition="v > 4")
    assert [r["lsn"] for r in f.apply(df, ts_col="v").collect()] == [1]
    r = Router(col_map={"v": "value"})
    assert "value" in r.route_cols(df).columns
    assert r.reverse().col_map == {"value": "v"}


def test_config_ini_roundtrip(tmp_path):
    ini = """
[extractor]
extract_type=cdc
changes_path=/x/changes
ddl_path=/x/ddl
batch_lsn_width=5000

[filter]
do_events=insert,update
where_condition=lang = 'en'
ignore_cols=tx_id

[router]
col_map=lang:language

[sinker]
pages_path=/x/pages
compact_ratio=0.25

[pipeline]
job_id=t1

[parallelizer]
parallel_type=rdb_merge
"""
    cfg = load_task_config(ini, is_text=True)
    assert cfg.job_id == "t1"
    assert cfg.changes_path == "/x/changes" and cfg.pages_path == "/x/pages"
    assert cfg.batch_lsn_width == 5000
    assert cfg.compact_ratio == 0.25
    assert cfg.filter.do_events == ["insert", "update"]
    assert cfg.filter.where_condition == "lang = 'en'"
    assert cfg.router.col_map == {"lang": "language"}


def test_text_dedup_finds_planted_duplicates(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    all_docs = docs.unionByName(planted)
    ex = exact_duplicates(all_docs)
    assert ex.count() == 5
    sh = word_shingles(all_docs, "doc_id", "text", k=5)
    sig = minhash_signatures(sh, num_hashes=8)
    pairs = {(r["a"], r["b"]) for r in lsh_candidate_pairs(sig, num_hashes=8, bands=4).collect()}
    for i in range(5):
        assert (i, i + 1000) in pairs  # identical docs always collide in LSH
    jac = {
        (r["a"], r["b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(all_docs, threshold=0.99).collect()
    }
    for i in range(5):
        assert jac[(i, i + 1000)] == pytest.approx(1.0)
    fps = simhash(all_docs)
    nd = {(r["a"], r["b"]) for r in simhash_near_dups(fps, max_hamming=0).collect()}
    for i in range(5):
        assert (i, i + 1000) in nd


def test_fused_minhash_equivalence(spark):
    """minhash_signatures_fused must be bit-for-bit equal to the explode ->
    groupBy path (which the driver's SQL oracle mirrors), including edge
    docs: empty text, whitespace-only, and shorter-than-k texts."""
    from ape_dts_spark.operators.text_dedup import minhash_signatures_fused

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    edge = spark.createDataFrame(
        [(9001, ""), (9002, "   "), (9003, "one"), (9004, "two words")],
        "doc_id long, text string",
    )
    all_docs = docs.unionByName(edge)
    for k, num in ((5, 8), (3, 16)):
        old = minhash_signatures(word_shingles(all_docs, "doc_id", "text", k=k), "doc_id", num)
        new = minhash_signatures_fused(all_docs, "doc_id", "text", k=k, num_hashes=num)
        assert old.exceptAll(new).count() == 0
        assert new.exceptAll(old).count() == 0
    # empty/whitespace docs yield no signature row on either path
    ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    assert 9001 not in ids and 9002 not in ids and 9003 in ids


def test_fused_paths_plan_shape(spark):
    """Pin the r6 plan contract of the signature/fingerprint/repetition
    paths.  The signature paths are explode -> map-side-combined groupBy:
    exactly ONE hash exchange beyond the _spread repartition, and the
    aggregation below that exchange must be PARTIAL (the per-doc combine is
    what bounds the shuffle at ~(K+1) longs per doc instead of per-shingle
    rows).  repetition_stats stays a zero-exchange narrow projection.  The
    r5 zero-shuffle higher-order formulation was retired after measurement:
    interpreted transform/filter passes re-scanned the hashed arrays K (or
    64) times and its size() guard was re-evaluated below the repartition
    (see minhash_signatures_fused docstring)."""
    from ape_dts_spark.operators.text_analysis import repetition_stats
    from ape_dts_spark.operators.text_dedup import minhash_signatures_fused, simhash
    from ape_dts_spark.plans.inspect import exchange_count, explain_str

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    base = exchange_count(docs.select("doc_id"))
    # _spread may add one round-robin repartition on a small scan, and the
    # groupBy adds exactly one hash exchange; more means a surprise shuffle
    allowed = base + 2
    sig = minhash_signatures_fused(docs, num_hashes=8)
    assert exchange_count(sig) <= allowed
    assert "partial_min" in explain_str(sig, "simple")
    fp = simhash(docs)
    assert exchange_count(fp) <= allowed
    assert "partial_sum" in explain_str(fp, "simple")
    # repetition_stats remains fully fused: no exchange beyond _spread
    assert exchange_count(repetition_stats(docs)) <= base + 1
    # no InferFiltersFromGenerate size() guard below the signature explode:
    # the generator is inlined, so the plan carries no size(...) > 0 filter
    # re-evaluating the shingle expression pre-repartition
    assert "size(filter(array_distinct" not in explain_str(sig, "simple").replace(" ", "")


def test_domain_cap_quota_and_determinism(spark):
    """Per-domain quota: at most cap docs per registered domain, stable
    deterministic selection (rerun-identical)."""
    from ape_dts_spark.operators.url_tools import domain_cap

    rows = [
        (i, f"https://pile.example.com/p{i}") for i in range(40)
    ] + [
        (100 + i, f"https://sub{i}.news.co.uk/a") for i in range(7)
    ] + [
        (200, "https://lone.org/x")
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    capped = domain_cap(docs, cap=5)
    got = capped.groupBy(
        F.expr("doc_id >= 100 and doc_id < 200").alias("is_uk"),
        F.expr("doc_id = 200").alias("is_lone"),
    ).count().collect()
    by = {(r["is_uk"], r["is_lone"]): r["count"] for r in got}
    assert by[(False, False)] == 5  # example.com capped 40 -> 5
    assert by[(True, False)] == 5  # news.co.uk capped 7 -> 5 (PSL groups subs)
    assert by[(False, True)] == 1  # under-cap domain untouched
    assert set(capped.columns) == {"doc_id", "url"}
    # deterministic: identical kept set on re-evaluation
    ids_a = {r["doc_id"] for r in capped.select("doc_id").collect()}
    ids_b = {r["doc_id"] for r in domain_cap(docs, cap=5).select("doc_id").collect()}
    assert ids_a == ids_b
    with pytest.raises(ValueError):
        domain_cap(docs, cap=0)


def test_domain_cap_plan_uses_group_limit(spark):
    """The skew guard IS the WindowGroupLimit rewrite: the physical plan
    must carry the Partial (pre-shuffle, per-map-task top-cap) and Final
    passes.  If a refactor breaks the row_number()<=k filter pattern the
    rewrite silently vanishes and a megadomain funnels into one task —
    fail here instead."""
    from ape_dts_spark.operators.url_tools import domain_cap

    docs = spark.createDataFrame([(1, "https://a.com/x")], "doc_id long, url string")
    plan = domain_cap(docs, cap=10)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "Partial" in plan and "Final" in plan


def test_deterministic_split_stability_and_proportions(spark):
    from ape_dts_spark.operators.text_analysis import deterministic_split

    docs = spark.range(0, 20000).select(F.col("id").alias("doc_id"))
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = deterministic_split(docs, w)
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 20000 - 0.8) < 0.02
    assert abs(counts["val"] / 20000 - 0.1) < 0.01
    # stable: same assignment on re-run and on a subset (adding docs never
    # moves existing ones)
    a = dict((r["doc_id"], r["split"]) for r in out.collect())
    sub = deterministic_split(docs.filter("doc_id < 1000"), w)
    for r in sub.collect():
        assert a[r["doc_id"]] == r["split"]
    # different seed re-deals
    b = dict(
        (r["doc_id"], r["split"])
        for r in deterministic_split(docs, w, seed="v2").collect()
    )
    assert any(a[i] != b[i] for i in a)
    with pytest.raises(ValueError):
        deterministic_split(docs, {})


def test_decontaminate_flags_planted_overlap(spark):
    """Verbatim copies of train docs -> overlap 1.0; alien text -> 0.0;
    half-spliced text -> strictly between, flagged by threshold."""
    from ape_dts_spark.operators.text_dedup import decontaminate

    train = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    rows = train.orderBy("doc_id").limit(2).collect()
    t0, t1 = rows[0]["text"], rows[1]["text"]
    spliced = " ".join(t0.split()[:40]) + " zq" + " xk".join(str(i) for i in range(40))
    evalset = spark.createDataFrame(
        [
            (1, t0),  # verbatim copy
            (2, "zz" + " qq".join(str(i) for i in range(50))),  # alien
            (3, spliced),  # partial copy
            (4, t1),  # verbatim copy
        ],
        "doc_id long, text string",
    )
    rep = {r["doc_id"]: r for r in decontaminate(train, evalset, k=3, threshold=0.5).collect()}
    assert rep[1]["overlap_frac"] == 1.0 and rep[1]["contaminated"]
    assert rep[4]["overlap_frac"] == 1.0 and rep[4]["contaminated"]
    assert rep[2]["overlap_frac"] == 0.0 and not rep[2]["contaminated"]
    assert 0.0 < rep[3]["overlap_frac"] < 1.0
    # n_matched never exceeds n_shingles; every eval doc got a row
    for r in rep.values():
        assert 0 <= r["n_matched"] <= r["n_shingles"]
    assert set(rep) == {1, 2, 3, 4}


def test_fused_simhash_equivalence(spark):
    """Frozen simhash fingerprints (doc_id, fp_hi, fp_lo) for five documents
    and the edge docs: any change to the word split, the md5-nibble votes or
    the bit packing (which the driver's SQL oracle mirrors) shows up here.
    Empty and blank docs get no fingerprint."""
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 5)
    )
    edge = spark.createDataFrame(
        [(9001, ""), (9002, "   "), (9003, "one"), (9004, "a b a b")],
        "doc_id long, text string",
    )
    got = sorted(tuple(r) for r in simhash(docs.unionByName(edge)).collect())
    assert got == [
        (0, 556149129, 3988835623),
        (1, 23736136, 2683608707),
        (2, 2764619, 2548337795),
        (3, 3026248, 2682555411),
        (4, 1244344072, 400920085),
        (9003, 2982129993, 2463483807),
        (9004, 2321680908, 2337610752),
    ]


def test_text_analysis_shapes(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox and the lazy dog"), (2, "xyzzy! plugh?"), (3, "")],
        "doc_id long, text string",
    )
    ts = {r["doc_id"]: r for r in token_stats(docs).collect()}
    assert ts[1]["n_tokens_ws"] == 8
    assert ts[2]["n_tokens_bpe"] == 4  # xyzzy ! plugh ?
    q = {r["doc_id"]: r for r in quality_score(docs).collect()}
    assert 0 <= q[1]["quality_score"] <= 1
    assert q[1]["stopword_ratio"] > 0 and q[2]["stopword_ratio"] == 0
    li = {r["doc_id"]: r["pred_lang"] for r in language_id(docs).collect()}
    assert li[1] == "en" and li[2] == "und"


def test_similarity_topk_exact_vs_lsh(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    exact = brute_force_topk(emb, q, k=3)
    rows = exact.collect()
    assert len(rows) == 9
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cos_sim"]))
    for qid, rr in by_q.items():
        sims = [s for _, s in sorted(rr)]
        assert sims == sorted(sims, reverse=True)  # ranked by similarity
    # LSH returns a subset-quality result with the same schema
    approx = lsh_topk(emb, q, dim=64, k=3, n_planes=4)
    assert set(approx.columns) == set(exact.columns)
    assert approx.count() > 0


def test_lsh_multiprobe_recall_on_planted_neighbors(spark):
    """Multi-probe LSH (n_probe nearest 1-bit-flip buckets, smallest |dot|
    margin first) must recover the single-probe recall cliff on a corpus
    with PLANTED near-duplicates: each query's true top-5 are tiny
    perturbations of itself (cos >= 0.99), so they sit 0-1 bucket bits away
    and probing the smallest-margin flips finds them."""
    import math

    def vec(seed, j):
        # deterministic pseudo-random unit-ish vector
        vals = [((seed * 2654435761 + j * 97 + d * 131) % 1999) / 999.5 - 1.0 for d in range(64)]
        n = math.sqrt(sum(x * x for x in vals))
        return [x / n for x in vals]

    rows, qrows = [], []
    vid = 1000
    for qid in range(20):
        base = vec(qid + 7, 0)
        qrows.append((qid, base))
        for c in range(5):  # 5 planted copies: deterministic noise sized so
            # a few copies straddle a hyperplane (the single-probe misses)
            noise = vec(qid + 7, c + 1)
            eps = 0.4
            per = [b + eps * x for b, x in zip(base, noise)]
            rows.append((vid, per))
            vid += 1
    for f in range(300):  # background fill (far from every query)
        rows.append((vid, vec(10_000 + f, 0)))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = spark.createDataFrame(qrows, "query_id long, embedding array<double>")
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, qs, k=5, query_id_col="query_id").collect()
    }

    def recall(n_probe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in lsh_topk(
                emb, qs, dim=64, k=5, n_planes=8, n_probe=n_probe,
                query_id_col="query_id",
            ).collect()
        }
        return len(got & truth) / len(truth)

    r1, r4 = recall(1), recall(4)
    assert r4 >= 0.9, f"multi-probe recall {r4} below 0.9 (single-probe {r1})"
    # the probes recover the single-probe misses (measured: 0.95 -> 1.0)
    assert r4 > r1, f"n_probe=4 recall {r4} not above single-probe {r1}"


def test_multimodal_stub_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, b"hello media bytes"), (2, None), (3, b"")], "doc_id long, payload binary"
    )
    meta = {r["doc_id"]: r for r in media_metadata(docs).collect()}
    assert meta[1]["n_bytes"] == 17 and meta[1]["decode_ok"]
    assert meta[1]["width"] >= 64 and meta[1]["n_frames"] >= 1
    assert not meta[2]["decode_ok"] and not meta[3]["decode_ok"]
    # deterministic across runs
    meta2 = {r["doc_id"]: r for r in media_metadata(docs).collect()}
    assert meta[1] == meta2[1]
    plan = frame_sample_plan(media_metadata(docs))
    assert plan.count() >= 1


def test_connected_components_empty_pairs(spark):
    """No candidate pairs -> empty result, terminating immediately (the
    Observation-based convergence probe yields NULL sums on empty input and
    would otherwise never satisfy the unchanged-sum test)."""
    from ape_dts_spark.operators.dedup_clusters import connected_components

    pairs = spark.createDataFrame([], "a long, b long")
    out = connected_components(pairs)
    assert out.columns == ["doc_id", "cluster_id"]
    assert out.count() == 0


def test_connected_components_chain_and_clique(spark):
    """A-B, B-C chain must collapse to one cluster even though A,C never
    paired; an isolated pair stays its own cluster."""
    from ape_dts_spark.operators.dedup_clusters import cluster_keep_list, connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (4, 5), (5, 6), (4, 6)], ["a", "b"]
    )
    cc = connected_components(pairs).collect()
    lbl = {r.doc_id: r.cluster_id for r in cc}
    assert lbl[1] == lbl[2] == lbl[3] == 1
    assert lbl[7] == lbl[9] == 7
    assert lbl[4] == lbl[5] == lbl[6] == 4
    # the driver union-find fast path (auto-selected here) and the
    # distributed label loop are the same operator: identical output
    dist = connected_components(pairs, driver_max_pairs=0).collect()
    assert {(r.doc_id, r.cluster_id) for r in dist} == {
        (r.doc_id, r.cluster_id) for r in cc
    }
    keep = {r.cluster_id: (r.n_members, r.keeper)
            for r in cluster_keep_list(connected_components(pairs)).collect()}
    assert keep == {1: (3, 1), 7: (2, 7), 4: (3, 4)}


def test_connected_components_long_chain_converges_fast(spark):
    """Diameter >> max_iters (a 120-hop chain vs the 20-round cap): plain
    neighbor-min propagation would need 120 rounds and warn; hook + full
    path compression converges in O(log n) rounds WITHOUT the
    non-convergence warning and with every node labeled by the chain's
    minimum."""
    import warnings

    from ape_dts_spark.operators.dedup_clusters import connected_components

    n = 121  # nodes 0..120 in one chain, diameter 120
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["a", "b"])
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning -> test failure
        # driver_max_pairs=0 forces the DISTRIBUTED loop (the graph is small
        # enough that the union-find fast path would otherwise absorb it)
        rows = connected_components(pairs, max_iters=20, driver_max_pairs=0).collect()
    lbl = {r.doc_id: r.cluster_id for r in rows}
    assert len(lbl) == n
    assert set(lbl.values()) == {0}


def test_connected_components_scrambled_chain_converges_fast(spark):
    """The adversarial layout for single-jump propagation: a 120-hop chain
    whose doc ids are a fixed pseudo-random permutation of chain order, so
    the min id sits mid-chain and labels cannot ride monotone id runs.  A
    single pointer jump per round needs ~n rounds here; full per-round path
    compression must converge within the same 20-round cap, warning-free,
    with one cluster labeled by the global min id."""
    import warnings

    from ape_dts_spark.operators.dedup_clusters import connected_components

    n = 121
    # deterministic scramble: multiply by a unit mod a prime > n, then
    # rank-compress to 0..n-1 so ids are a permutation of chain positions
    keys = sorted(range(n), key=lambda i: (i * 73) % 127)
    ids = {pos: rank for rank, pos in enumerate(keys)}
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)], ["a", "b"]
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        rows = connected_components(pairs, max_iters=20, driver_max_pairs=0).collect()
    lbl = {r.doc_id: r.cluster_id for r in rows}
    assert len(lbl) == n
    assert set(lbl.values()) == {0}


def test_repetition_stats_values(spark):
    from ape_dts_spark.operators.text_analysis import repetition_stats

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "w x y z")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in repetition_stats(docs).collect()}
    # doc 1: 4 words, 1 type, top word 4/4, bigrams [a a]x3 -> 1 distinct of 3
    assert rows[1].n_words == 4 and rows[1].ttr == 0.25
    assert rows[1].top_word_frac == 1.0
    assert rows[1].dup_bigram_frac == round(2 / 3, 4)
    # doc 2: all distinct
    assert rows[2].ttr == 1.0 and rows[2].dup_bigram_frac == 0.0


def test_corpus_ngram_topk_deterministic_cut(spark):
    from ape_dts_spark.operators.text_analysis import corpus_ngram_topk

    docs = spark.createDataFrame(
        [(1, "x y x y"), (2, "x y z"), (3, "q r")], ["doc_id", "text"]
    )
    top = corpus_ngram_topk(docs, topn=2).collect()
    # ties at the cut broken by ngram asc: "q r" < "y x" < "y z"
    assert [(r.ngram, r.n_occurrences) for r in top] == [("x y", 3), ("q r", 1)]


def test_embedding_centroids_and_norms(spark):
    from ape_dts_spark.operators.similarity import embedding_centroids, embedding_norm_stats

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [3.0, 4.0], 0), (3, [0.0, 2.0], 1)],
        ["vec_id", "embedding", "label"],
    )
    cents = {(r.label, r.dim): r.centroid for r in embedding_centroids(emb).collect()}
    assert cents[(0, 0)] == 2.0 and cents[(0, 1)] == 2.0 and cents[(1, 1)] == 2.0
    norms = {r.label: r for r in embedding_norm_stats(emb).collect()}
    assert norms[0].min_norm == 1.0 and norms[0].max_norm == 5.0 and norms[0].avg_norm == 3.0
    assert norms[1].n_vecs == 1 and norms[1].max_norm == 2.0


def test_pii_scrub_redacts_and_counts(spark):
    from ape_dts_spark.operators.pii import scrub_pii

    docs = spark.createDataFrame(
        [
            (1, "mail me at bob.smith+x@corp.example.org today"),
            (2, "server 192.168.1.10 answered"),
            (3, "call +1 (555) 123-4567 now"),
            (4, "clean text only"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in scrub_pii(docs).collect()}
    assert rows[1].n_emails == 1 and "<EMAIL>" in rows[1].text_scrubbed
    assert "bob.smith" not in rows[1].text_scrubbed
    assert rows[2].n_ips == 1 and "<IP>" in rows[2].text_scrubbed
    assert rows[2].n_phones == 0  # IP digits must not double-count as phone
    assert rows[3].n_phones == 1 and "<PHONE>" in rows[3].text_scrubbed
    assert rows[4].text_scrubbed == "clean text only"
    assert (rows[4].n_emails, rows[4].n_phones, rows[4].n_ips) == (0, 0, 0)


def test_pii_phone_boundary_shapes(spark):
    """Boundary cases of the word-bounded PHONE_RE: a maximal-length E.164
    number redacts in full (the {8,14} bound left 15-digit numbers fully
    in clear text — review finding), over-long digit runs are numeric junk
    and stay, and punctuated shapes can't start mid-digit-run."""
    from ape_dts_spark.operators.pii import scrub_pii

    docs = spark.createDataFrame(
        [
            (1, "+999999999999999"),  # '+' + 15 digits: valid E.164 max
            (2, "+9999999999999999"),  # '+' + 16 digits: not a phone
            (3, "999999999999999-456-456"),  # punctuated tail of a 15-run
            (4, "(555).123.4567"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in scrub_pii(docs).collect()}
    assert rows[1].text_scrubbed == "<PHONE>" and rows[1].n_phones == 1
    assert rows[2].text_scrubbed == "+9999999999999999" and rows[2].n_phones == 0
    assert rows[3].text_scrubbed == "999999999999999-456-456"
    assert rows[4].text_scrubbed == "<PHONE>"


def test_hot_key_report_and_salt_suggestion(spark):
    from ape_dts_spark.operators.profiling import hot_key_report, suggest_salt

    rows = [("hot", i) for i in range(90)] + [(f"k{i}", i) for i in range(10)]
    df = spark.createDataFrame(rows, ["url", "lsn"])
    top, summary = hot_key_report(df, key_col="url", top_k=3)
    t = top.collect()
    assert t[0].url == "hot" and t[0].n == 90
    s = summary.collect()[0]
    assert s.n_events == 100 and s.n_keys == 11 and s.max_per_key == 90
    assert s.top1_frac == 0.9
    assert suggest_salt(s, bucket_count=4, target_rows_per_task=30) == 3


def test_near_dup_skew_caps_bound_quadratic_blowup(spark):
    """Megabucket stress (the verdict's skew test): thousands of identical
    items must NOT produce O(M^2) pairs in any near-dup operator, and the
    duplicate set must still come out as ONE cluster."""
    import time

    from pyspark.sql import functions as F

    from ape_dts_spark.operators.dedup_clusters import connected_components
    from ape_dts_spark.operators.similarity import embedding_near_dup_pairs
    from ape_dts_spark.operators.text_dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        word_shingles,
    )

    # --- text LSH: 3000 identical docs + 50 distinct -> megabucket dropped
    n_dup = 3000
    docs = spark.range(n_dup).select(
        F.col("id").alias("doc_id"), F.lit("spam spam wonderful spam and eggs").alias("text")
    ).union(
        spark.range(n_dup, n_dup + 50).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("unique words number "), F.col("id").cast("string"),
                     F.lit(" tail marker alpha beta")).alias("text"),
        )
    )
    t0 = time.monotonic()
    sig = minhash_signatures(word_shingles(docs, "doc_id", "text", k=3), "doc_id", 8)
    n_pairs = lsh_candidate_pairs(sig, "doc_id", num_hashes=8, bands=4, max_bucket=64).count()
    assert time.monotonic() - t0 < 120
    # cap=64 -> at most 64*63/2 pairs per band from the megabucket, never ~4.5M
    assert n_pairs < 4 * 64 * 64

    # --- jaccard: hot-shingle cap keeps the self-join linear-ish
    t0 = time.monotonic()
    jp = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5, max_doc_freq=100)
    assert jp.count() < 100 * 100
    assert time.monotonic() - t0 < 120

    # --- embeddings: 2000 identical vectors -> star-capped, one cluster
    n_vec = 2000
    vec = [1.0, 0.5] + [0.0] * 62
    emb = spark.range(n_vec).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(x) for x in vec]).alias("embedding"),
    )
    t0 = time.monotonic()
    pairs = embedding_near_dup_pairs(emb, threshold=0.95, max_bucket=50)
    pdf = pairs.persist()
    n = pdf.count()
    # core all-pairs (<=3*50*49/2) + star (<=3*(2000-50)) -- far below 2M
    assert n < 3 * (50 * 49 // 2) + 3 * n_vec
    cc = connected_components(pdf)
    assert cc.select("cluster_id").distinct().count() == 1
    assert cc.count() == n_vec  # every duplicate member reached the cluster
    pdf.unpersist()
    assert time.monotonic() - t0 < 180


# The frequency-cap guards (lsh max_bucket, jaccard/decontaminate
# max_doc_freq) must NOT be window counts: count() OVER (PARTITION BY
# hot_key) gets no partial aggregation and cannot be AQE-skew-split, so the
# megakey the cap exists to drop first lands whole on one task.  The
# groupBy + left_anti form is identical in output; these tests pin both the
# plan shape (no Window node) and the row-level equivalence.


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BOILER = "the quick brown fox jumps over the lazy dog again and again"


def test_drop_hot_keys_equals_window_form(spark):
    """groupBy+anti must keep/drop exactly the rows the window form did."""
    rows = [(i, "hot") for i in range(50)] + [(i + 100, f"k{i % 7}") for i in range(30)]
    df = spark.createDataFrame(rows, "id long, key string")
    got = {tuple(r) for r in _drop_hot_keys(df, ["key"], 10).collect()}
    w = Window.partitionBy("key")
    want = {
        tuple(r)
        for r in df.withColumn("_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_n") <= 10)
        .drop("_n")
        .collect()
    }
    assert got == want and len(got) == 30


def test_frequency_caps_have_no_window_node(spark):
    """None of the four capped operators may plan a Window for the cap."""
    docs = _docs(spark, [(i, BOILER + f" doc {i}") for i in range(6)])
    sig = minhash_signatures_fused(docs, num_hashes=8)
    plans = {
        "lsh": _physical(lsh_candidate_pairs(sig, num_hashes=8, bands=4, max_bucket=3)),
        "jaccard": _physical(ngram_jaccard_pairs(docs, k=3, threshold=0.1, max_doc_freq=3)),
        "decon": _physical(decontaminate(docs, docs, k=3, max_doc_freq=3)),
        "train_drop": _physical(contaminated_train_docs(docs, docs, k=3, max_doc_freq=3)),
    }
    for name, plan in plans.items():
        assert "Window" not in plan, f"{name} cap regressed to a window:\n{plan}"
        assert "LeftAnti" in plan or "partial_count" in plan.lower() or "partial" in plan, name


def test_lsh_cap_drops_megabucket_identically(spark):
    """Planted megabucket: 20 byte-identical docs (one band bucket of 20)
    plus a 2-doc near-pair.  cap=8 must drop the megabucket's pairs whole
    and keep the small bucket's pair — same rows as the (removed) window
    form, which the DuckDB oracle still mirrors."""
    mega = [(i, BOILER) for i in range(20)]
    pairX = [(100, "alpha beta gamma delta epsilon zeta"), (101, "alpha beta gamma delta epsilon zeta")]
    sig = minhash_signatures_fused(_docs(spark, mega + pairX), num_hashes=8)
    capped = {
        (r["a"], r["b"])
        for r in lsh_candidate_pairs(sig, num_hashes=8, bands=4, max_bucket=8).collect()
    }
    assert capped == {(100, 101)}
    uncapped = lsh_candidate_pairs(sig, num_hashes=8, bands=4, max_bucket=None).count()
    assert uncapped == 20 * 19 // 2 + 1


def test_decontaminate_cap_fused_into_vocab_agg(spark):
    """With the cap, the train vocab is ONE groupBy (doc-freq filter fused);
    a stop-shingle in every train doc must not count as contamination."""
    train = _docs(spark, [(i, f"unique text number {i} " + BOILER) for i in range(10)])
    evalset = _docs(spark, [(1, BOILER)])
    rep = decontaminate(train, evalset, k=3, threshold=0.5, max_doc_freq=5).collect()[0]
    assert rep["n_matched"] == 0 and not rep["contaminated"]
    exact = decontaminate(train, evalset, k=3, threshold=0.5, max_doc_freq=None).collect()[0]
    assert exact["contaminated"]


def test_byte_string_suffixes():
    """_byte_string parses Spark size-conf suffixes (digit-stripping once
    turned '128m' into 128 bytes)."""
    assert _byte_string("134217728") == 134217728
    assert _byte_string("128m") == 128 * 1024 * 1024
    assert _byte_string("128MB") == 128 * 1024 * 1024
    assert _byte_string("1g") == 1 << 30
    assert _byte_string("512k") == 512 * 1024
    assert _byte_string("64b") == 64
    assert _byte_string("2t") == 2 << 40
    assert _byte_string("garbage") == 134217728
    assert _byte_string("12x") == 134217728
    assert _byte_string("") == 134217728


def test_url_canonicalization_rules(spark):
    """Canonical form: fragment stripped, scheme+host lowercased (path case
    kept), DEFAULT ports only stripped, bare '?' dropped, root slash dropped,
    non-root trailing slash and query order KEPT."""
    from ape_dts_spark.operators.url_tools import canonicalize_urls

    cases = [
        (1, "HTTP://Example.COM:80/Path/To#frag", "http://example.com/Path/To"),
        (2, "https://A.B.Example.org:443/", "https://a.b.example.org"),
        (3, "http://h.io:443/x", "http://h.io:443/x"),  # NOT http's default port
        (4, "https://U:p@Host.NET/Deep/?", "https://u:p@host.net/Deep/"),
        (5, "  https://W.co/a?b=1&a=2  ", "https://w.co/a?b=1&a=2"),
        (6, "https://x.y.z.co/", "https://x.y.z.co"),
    ]
    docs = spark.createDataFrame([(i, u) for i, u, _ in cases], "doc_id long, url string")
    out = {r.doc_id: r for r in canonicalize_urls(docs).collect()}
    for i, _, want in cases:
        assert out[i].url_canonical == want, f"case {i}: {out[i].url_canonical!r}"
    assert out[4].host == "host.net"  # userinfo stripped from host
    assert out[2].domain == "example.org"
    assert out[6].domain == "z.co"


def test_spread_widens_small_inputs(spark, tmp_path):
    """_spread must actually widen a small single-partition input — scans
    AND derived plans.  Round 4 shipped a silent no-op (a py4j type change
    swallowed by a broad except) that serialized every explode-heavy text
    operator; this pins the contract."""
    from ape_dts_spark.operators.text_dedup import _spread

    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    p = str(tmp_path / "docs")
    spark.range(100).selectExpr("id as doc_id", "repeat('x', 50) as text").coalesce(
        1
    ).write.parquet(p)
    scan = spark.read.parquet(p)
    assert scan.rdd.getNumPartitions() < target  # premise: starts narrow
    assert _spread(scan).rdd.getNumPartitions() == target
    derived = scan.groupBy("doc_id").count()
    assert _spread(derived).rdd.getNumPartitions() == target


def test_connected_components_distributed_matches_union_find(spark):
    """Equivalence oracle on a mixed-shape graph (near-cliques + scrambled
    chains): the distributed contraction loop must produce EXACTLY the
    driver union-find labeling — same nodes, same min-id cluster labels."""
    from ape_dts_spark.operators.dedup_clusters import (
        _driver_union_find,
        connected_components,
    )

    edges = []
    for c in range(40):  # 40 near-cliques of 30 nodes
        base = c * 100
        edges += [(base + (i * 7) % 30, base + (i * 11) % 30) for i in range(60)]
    for c in range(10):  # 10 scrambled 60-hop chains
        base = 10_000 + c * 100
        ids = sorted(range(61), key=lambda i: (i * 37) % 61)
        edges += [(base + ids[i], base + ids[i + 1]) for i in range(60)]
    pairs = (
        spark.createDataFrame(edges, ["x", "y"])
        .where(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .distinct()
    )
    dist = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, driver_max_pairs=0).collect()
    }
    uf = {
        r.doc_id: r.cluster_id
        for r in _driver_union_find(
            spark, pairs, pairs.select("a", "b").collect(), "a", "b"
        ).collect()
    }
    assert dist == uf


def test_router_simultaneous_rename_and_collision(spark):
    """Overlapping col_maps must apply as ONE simultaneous mapping — the old
    sequential withColumnRenamed cascaded ({a->b, b->c} pushed a's data all
    the way to c and conflated columns)."""
    df = spark.createDataFrame([(1, 2, 3)], "a long, b long, c long")
    out = Router(col_map={"a": "b", "b": "a"}).route_cols(df).collect()[0]
    assert out.b == 1 and out.a == 2 and out.c == 3
    df2 = df.select("a", "b")
    out2 = Router(col_map={"a": "b", "b": "c"}).route_cols(df2).collect()[0]
    assert out2.b == 1 and out2.c == 2 and "a" not in out2.asDict()
    with pytest.raises(ValueError, match="col_map"):
        Router(col_map={"a": "x", "b": "x"}).route_cols(df)
    # mapping onto a column that also exists unmapped is a collision too
    with pytest.raises(ValueError, match="col_map"):
        Router(col_map={"a": "b", "b": "c"}).route_cols(df)


def test_split_updates_phase_orders_halves(spark):
    """Both halves of a split update share the update's lsn; the phase
    column (0=delete-before, 1=insert-after) is the only total order — a
    consumer replaying insert-then-delete would tombstone a live row."""
    from ape_dts_spark.operators.dedup import split_updates

    df = spark.createDataFrame(
        [
            (10, "insert", "k1", 5.0, None),
            (11, "update", "k1", 6.0, 5.0),
            (12, "delete", "k1", 6.0, 6.0),
        ],
        "lsn long, op string, url string, value double, before_value double",
    )
    rows = sorted(split_updates(df).collect(), key=lambda r: (r.lsn, r.phase))
    assert [(r.lsn, r.op, r.phase) for r in rows] == [
        (10, "insert", 1),
        (11, "delete", 0),
        (11, "insert", 1),
        (12, "delete", 1),
    ]
    d = next(r for r in rows if r.lsn == 11 and r.phase == 0)
    i = next(r for r in rows if r.lsn == 11 and r.phase == 1)
    assert d.value == 5.0 and i.value == 6.0  # before restored / after kept


def test_url_host_stops_at_fragment(spark):
    """'#' must terminate the authority: url_host runs on the RAW url, so a
    pathless 'https://h#frag' would otherwise leak the fragment into the
    host and mis-key domain grouping/salting."""
    from ape_dts_spark.operators.url_tools import registered_domain, url_host

    df = spark.createDataFrame(
        [
            (1, "https://Example.co.uk#top"),
            (2, "https://h.com:443#f"),
            (3, "http://u@h.org?q#f"),
        ],
        "doc_id long, url string",
    )
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            url_host(F.col("url")).alias("h"),
            registered_domain(F.col("url")).alias("d"),
        ).collect()
    }
    assert out[1].h == "example.co.uk" and out[1].d == "example.co.uk"
    assert out[2].h == "h.com" and out[3].h == "h.org"


def test_psl_wildcard_and_exception_rules(spark):
    """*.ck wildcard: any label under ck is a public suffix, so the
    registered domain is the last THREE labels and a bare 2-label host has
    no registrable domain; !www.ck exception: registrable as-is.  Checked
    on BOTH engines from the same snapshot literals."""
    import duckdb
    import pandas as pd

    from ape_dts_spark.operators.url_tools import (
        registered_domain_from_host,
        registered_domain_sql,
    )

    cases = {
        "foo.bar.ck": "foo.bar.ck",   # bar.ck is a suffix (wildcard)
        "x.foo.bar.ck": "foo.bar.ck",
        "bar.ck": "",                 # a public suffix itself
        "ck": "",
        "www.ck": "www.ck",           # exception: registrable as-is
        "a.www.ck": "www.ck",
        "shop.er": "",                # *.er, no exception
        "b.shop.er": "b.shop.er",
        "news.fk": "",
        "a.news.fk": "a.news.fk",
        "foo.co.uk": "foo.co.uk",     # plain rules unaffected
        "plain.com": "plain.com",
    }
    df = spark.createDataFrame([(h,) for h in cases], "host string")
    got = {
        r["host"]: r["d"]
        for r in df.select("host", registered_domain_from_host(F.col("host")).alias("d")).collect()
    }
    assert got == cases
    con = duckdb.connect()
    con.register("hosts", pd.DataFrame({"host": list(cases)}))
    sql = f"SELECT host, {registered_domain_sql('host')} AS d FROM hosts"
    want = dict(con.execute(sql).fetchall())
    assert want == cases


def test_quantize_embeddings_roundtrip_and_error_bound(spark):
    from ape_dts_spark.operators.similarity import (
        dequantize_embeddings,
        quantization_error_stats,
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    vec_col = [c for c in emb.columns if c in ("embedding", "emb", "vector")][0]
    id_col = [c for c in emb.columns if c.endswith("id")][0]
    emb = emb.select(id_col, vec_col)
    zero = spark.createDataFrame(
        [(999_999, [0.0] * 8)], f"{id_col} long, {vec_col} array<float>"
    )
    allv = emb.unionByName(zero)
    qz = quantize_embeddings(allv, id_col, vec_col)
    row = qz.filter(F.col(id_col) == 999_999).collect()[0]
    assert row["scale"] == 0.0 and set(row["qvec"]) == {0}
    # reconstruction error bounded by half a quantization step everywhere
    stats = quantization_error_stats(allv, id_col, vec_col).collect()[0]
    assert stats["n_vecs"] == allv.count()
    assert stats["worst_abs_err"] <= stats["max_half_step"] + 1e-6
    # dequantize returns float vectors of the original arity
    rec = dequantize_embeddings(qz, id_col)
    one = rec.join(allv, id_col).filter(F.col(id_col) != 999_999).first()
    assert len(one["embedding"]) == len(one[vec_col])
    # codes actually span the int8 range (not degenerate)
    mx = qz.select(F.max(F.array_max("qvec")).alias("m")).collect()[0]["m"]
    assert mx == 127


def test_deterministic_sample_stability_and_monotonicity(spark):
    from ape_dts_spark.operators.text_analysis import deterministic_sample

    docs = spark.range(0, 10000).select(F.col("id").alias("doc_id"))
    s10 = {r["doc_id"] for r in deterministic_sample(docs, 0.1).collect()}
    s20 = {r["doc_id"] for r in deterministic_sample(docs, 0.2).collect()}
    assert s10 == {r["doc_id"] for r in deterministic_sample(docs, 0.1).collect()}
    assert s10 < s20  # nested samples, same seed
    assert abs(len(s10) / 10000 - 0.1) < 0.02 and abs(len(s20) / 10000 - 0.2) < 0.02
    assert deterministic_sample(docs, 0.0).count() == 0
    assert deterministic_sample(docs, 1.0).count() == 10000
    # different seed re-deals
    other = {r["doc_id"] for r in deterministic_sample(docs, 0.1, seed="v2").collect()}
    assert other != s10
    with pytest.raises(ValueError):
        deterministic_sample(docs, 1.5)


def test_corpus_mix_proportions_and_determinism(spark):
    from ape_dts_spark.operators.text_analysis import corpus_mix

    web = spark.range(0, 10000).select(F.col("id").alias("doc_id"))
    code = spark.range(20000, 21000).select(F.col("id").alias("doc_id"))
    books = spark.range(30000, 34000).select(F.col("id").alias("doc_id"))
    mixed = corpus_mix(
        {"web": web, "code": code, "books": books},
        {"web": 0.7, "code": 0.1, "books": 0.2},
    )
    counts = {r["source"]: r["count"] for r in mixed.groupBy("source").count().collect()}
    total = sum(counts.values())
    # scarcest source relative to share: code (1000 / 0.1 = 10k budget) ->
    # code keeps everything, web thins to ~7000, books to ~2000
    assert counts["code"] == 1000
    assert abs(counts["web"] - 7000) < 200 and abs(counts["books"] - 2000) < 150
    for name, share in (("web", 0.7), ("code", 0.1), ("books", 0.2)):
        assert abs(counts[name] / total - share) < 0.03
    # deterministic: same rows on recompute
    a = {(r["source"], r["doc_id"]) for r in mixed.collect()}
    b = {
        (r["source"], r["doc_id"])
        for r in corpus_mix(
            {"web": web, "code": code, "books": books},
            {"web": 0.7, "code": 0.1, "books": 0.2},
        ).collect()
    }
    assert a == b
    with pytest.raises(ValueError):
        corpus_mix({"web": web}, {"other": 1.0})


def test_domain_cap_no_domain_and_ip_hosts_not_lumped(spark):
    """Dotless hosts cap per-host, IPv4 hosts per-address, unparseable urls
    are exempt — none of them share the single '' quota (review finding)."""
    from ape_dts_spark.operators.url_tools import domain_cap

    rows = (
        [(i, f"https://localhost:8080/p{i}") for i in range(8)]
        + [(100 + i, f"https://intranet/x{i}") for i in range(8)]
        + [(200 + i, f"https://10.1.3.{i}/a") for i in range(4)]  # 4 distinct IPs
        + [(300 + i, f"https://99.9.3.4/b{i}") for i in range(8)]  # one IP, 8 docs
        + [(400 + i, f"not a url {i}") for i in range(8)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"] for r in domain_cap(docs, cap=5).select("doc_id").collect()}
    n = lambda lo, hi: len([i for i in got if lo <= i < hi])
    assert n(0, 100) == 5      # localhost capped per-host
    assert n(100, 200) == 5    # intranet capped per-host, independently
    assert n(200, 300) == 4    # 4 distinct IPs: all kept (1 each)
    assert n(300, 400) == 5    # single hot IP capped
    assert n(400, 500) == 8    # unparseable urls exempt (singleton groups)


def test_corpus_mix_rejects_empty_positive_weight_source(spark):
    from ape_dts_spark.operators.text_analysis import corpus_mix

    web = spark.range(0, 100).select(F.col("id").alias("doc_id"))
    empty = web.filter("doc_id < 0")
    with pytest.raises(ValueError, match="zero rows"):
        corpus_mix({"web": web, "code": empty}, {"web": 0.9, "code": 0.1})
    # zero-weight empty source is fine (contributes nothing)
    out = corpus_mix({"web": web, "code": empty}, {"web": 1.0, "code": 0.0})
    assert out.count() == 100


def test_deterministic_split_rejects_sub_resolution_weight(spark):
    from ape_dts_spark.operators.text_analysis import deterministic_split

    docs = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="empty slot range"):
        deterministic_split(docs, {"train": 0.9999996, "holdout": 0.0000004})
    # zero-weight splits are allowed and simply get no rows
    out = deterministic_split(docs, {"train": 1.0, "never": 0.0})
    assert {r["split"] for r in out.collect()} == {"train"}


def test_contaminated_train_docs_containment_shape(spark):
    """A long train page containing a short eval item verbatim must be
    flagged (eval-side coverage), while the per-eval audit direction
    (decontaminate) correctly reports the same situation as low TRAIN-side
    overlap — the two directions answer different questions."""
    from ape_dts_spark.operators.text_dedup import contaminated_train_docs, decontaminate

    noise = " ".join(f"w{i}" for i in range(400))
    bench = "what is the airspeed velocity of an unladen swallow exactly"
    train = spark.createDataFrame(
        [(1, noise + " " + bench + " " + noise), (2, noise)],
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame([(10, bench)], "doc_id long, text string")
    flagged = {r["doc_id"]: r for r in contaminated_train_docs(train, evalset, k=3).collect()}
    assert 1 in flagged and flagged[1]["max_coverage"] == 1.0
    assert 2 not in flagged
    # the audit direction: eval doc 10 is fully covered by the corpus
    audit = decontaminate(train, evalset, k=3).collect()[0]
    assert audit["overlap_frac"] == 1.0 and audit["contaminated"]


def test_quantized_topk_recall(spark):
    """SQ8 top-k must agree with the float brute force on nearly all
    neighbors (reconstruction error is bounded by half a quantization
    step, so rank inversions only happen between near-ties)."""
    from ape_dts_spark.operators.similarity import (
        brute_force_topk_quantized,
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    vec_col = [c for c in emb.columns if c in ("embedding", "emb", "vector")][0]
    id_col = [c for c in emb.columns if c.endswith("id")][0]
    emb = emb.select(id_col, vec_col)
    # deterministic query set: bare limit() without ordering may pick
    # different rows on each action, desynchronizing the two collects
    queries = (
        emb.orderBy(id_col).limit(8).select(F.col(id_col).alias("query_id"), F.col(vec_col))
    )
    exact = brute_force_topk(emb, queries, id_col=id_col, vec_col=vec_col, k=10)
    qz = quantize_embeddings(emb, id_col, vec_col)
    approx = brute_force_topk_quantized(qz, queries, id_col=id_col, vec_col=vec_col, k=10)
    want = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(want & got) / len(want)
    assert recall >= 0.9, recall
    assert approx.columns == exact.columns


def test_topk_zero_vector_never_ranks_first(spark):
    """0/0 cosine = NaN, and Spark sorts NaN FIRST in descending order — an
    all-zero corpus vector must score 0.0 and rank last, not poison every
    query's top-1 (review finding)."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 0.0])], "query_id long, embedding array<float>"
    )
    got = brute_force_topk(corpus, queries, k=3).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in got] == [1, 2, 3]
    assert got[-1]["cos_sim"] == 0.0
