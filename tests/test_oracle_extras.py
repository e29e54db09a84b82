"""DuckDB-mirror checks for operators that live OFF the driver's 50-row
oracle board (the board is capped; these get the same engine-vs-SQL
treatment inside pytest instead).  Same discipline as the driver gate:
identical formulas on both engines, exact value comparison."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

_SHINGLES = """
{name}_words AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM ({src})
),
{name}_pos AS (
  SELECT doc_id, w, unnest(range(1, greatest(len(w) - {k} + 1, 1) + 1)) AS i
  FROM {name}_words
),
{name}_sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(w, i, i + {k} - 1), ' ') AS shingle
  FROM {name}_pos
  WHERE length(array_to_string(list_slice(w, i, i + {k} - 1), ' ')) > 0
)
"""


def test_decontaminate_matches_duckdb_oracle(spark):
    from ape_dts_spark.operators.text_dedup import decontaminate

    k, max_df, threshold = 3, 1000, 0.5
    train = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    t0, t1 = [r["text"] for r in train.orderBy("doc_id").limit(2).collect()]
    eval_rows = [
        (1, t0),
        (2, "alien " + " ".join(f"zq{i}" for i in range(30))),
        (3, " ".join(t1.split()[:25]) + " " + " ".join(f"xk{i}" for i in range(25))),
        (4, ""),
    ]
    evalset = spark.createDataFrame(eval_rows, "doc_id long, text string")

    got = (
        decontaminate(train, evalset, k=k, threshold=threshold, max_doc_freq=max_df)
        .orderBy("doc_id")
        .toPandas()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW train AS SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    )
    con.register("evalset", pd.DataFrame(eval_rows, columns=["doc_id", "text"]))
    sql = (
        "WITH "
        + _SHINGLES.format(name="t", src="SELECT doc_id, text FROM train", k=k)
        + ", "
        + _SHINGLES.format(name="e", src="SELECT doc_id, text FROM evalset", k=k)
        + f"""
        , vocab AS (
          SELECT DISTINCT shingle FROM (
            SELECT shingle, count(*) OVER (PARTITION BY shingle) AS df FROM t_sh
          ) WHERE df <= {max_df}
        ), sizes AS (
          SELECT doc_id, count(*) AS n_shingles FROM e_sh GROUP BY doc_id
        ), matched AS (
          SELECT doc_id, count(*) AS n_matched
          FROM e_sh SEMI JOIN vocab USING (shingle)
          GROUP BY doc_id
        )
        SELECT s.doc_id,
               s.n_shingles,
               coalesce(m.n_matched, 0) AS n_matched,
               ((20000::HUGEINT * coalesce(m.n_matched, 0) + s.n_shingles)
                 // (2 * s.n_shingles)) / 10000.0 AS overlap_frac,
               ((20000::HUGEINT * coalesce(m.n_matched, 0) + s.n_shingles)
                 // (2 * s.n_shingles)) / 10000.0 >= {threshold} AS contaminated
        FROM sizes s LEFT JOIN matched m USING (doc_id)
        ORDER BY s.doc_id
        """
    )
    want = con.execute(sql).df()

    assert list(got["doc_id"]) == list(want["doc_id"])
    for col in ("n_shingles", "n_matched"):
        assert list(got[col]) == list(want[col].astype(int)), col
    assert [float(v) for v in got["overlap_frac"]] == [
        float(v) for v in want["overlap_frac"]
    ]
    assert list(got["contaminated"]) == list(want["contaminated"])
    # sanity on the planted structure
    by = {int(r.doc_id): r for r in got.itertuples()}
    assert by[1].overlap_frac == 1.0 and bool(by[1].contaminated)
    assert by[2].overlap_frac == 0.0 and not bool(by[2].contaminated)
    assert 0.0 < by[3].overlap_frac < 1.0
    assert 4 not in by  # empty text -> no row on either engine


def test_contaminated_train_docs_matches_duckdb_oracle(spark):
    from ape_dts_spark.operators.text_dedup import contaminated_train_docs

    k, max_df, threshold = 3, 1000, 0.5
    train0 = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    rows = train0.orderBy("doc_id").limit(2).collect()
    bench = " ".join(rows[0]["text"].split()[:10])
    # plant: a long train doc containing the bench snippet verbatim
    long_doc = rows[1]["text"] + " " + bench
    train = train0.unionByName(
        spark.createDataFrame([(77_000, long_doc)], "doc_id long, text string")
    )
    eval_rows = [(1, bench), (2, "alien " + " ".join(f"qq{i}" for i in range(20)))]
    evalset = spark.createDataFrame(eval_rows, "doc_id long, text string")

    got = (
        contaminated_train_docs(train, evalset, k=k, threshold=threshold, max_doc_freq=max_df)
        .orderBy("doc_id")
        .toPandas()
    )

    con = duckdb.connect()
    con.register("train_pdf", train.toPandas())
    con.register("evalset", pd.DataFrame(eval_rows, columns=["doc_id", "text"]))
    sql = (
        "WITH "
        + _SHINGLES.format(name="t", src="SELECT doc_id, text FROM train_pdf", k=k)
        + ", "
        + _SHINGLES.format(name="e", src="SELECT doc_id, text FROM evalset", k=k)
        + f"""
        , t_capped AS (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
            FROM t_sh
          ) WHERE df <= {max_df}
        ), esz AS (
          SELECT doc_id AS eid, count(*) AS n FROM e_sh GROUP BY doc_id
        ), inter AS (
          SELECT t.doc_id, e.doc_id AS eid, count(*) AS i
          FROM t_capped t JOIN e_sh e USING (shingle)
          GROUP BY t.doc_id, e.doc_id
        ), cov AS (
          SELECT doc_id,
                 ((20000::HUGEINT * i + n) // (2 * n)) / 10000.0 AS c
          FROM inter JOIN esz USING (eid)
        )
        SELECT doc_id, max(c) AS max_coverage, count(*) AS n_eval_hit
        FROM cov WHERE c >= {threshold}
        GROUP BY doc_id ORDER BY doc_id
        """
    )
    want = con.execute(sql).df()
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert [float(v) for v in got["max_coverage"]] == [float(v) for v in want["max_coverage"]]
    assert list(got["n_eval_hit"]) == list(want["n_eval_hit"].astype(int))
    # the planted containment is present on both engines
    assert 77_000 in set(got["doc_id"])


def test_canonicalize_cross_engine_on_url_soup(spark):
    """Spark's canonicalize_url vs the DuckDB spelling of the SAME regex
    chain, over url shapes the generator never produces (userinfo, weird
    ports, multiple '?', uppercase paths, fragments-only).  The board
    oracle covers generator shapes; this extends the cross-engine contract
    to the messy tail."""
    from pyspark.sql import functions as F

    from ape_dts_spark.operators.url_tools import _SCHEME_AUTH, canonicalize_url

    urls = [
        "HTTP://Example.COM:80/Path/To?a=1&B=2#Frag",
        "https://User:Pw@Host.co.uk:443/p?",
        "https://h/p??",
        "ftp://H:8080/",
        "  http://X.org/  ",
        "https://h#only-frag",
        "http://h:443/keep-port",
        "https://h:80/keep-port-too",
        "no-scheme-at-all",
        "http://h?",
        "http://h/?",
        "HTTPS://A.B.CO.UK",
        "http://h/p/?q=#",
        "://missing-scheme",
        "http://", "?", "#", "",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [
        r["c"]
        for r in df.select(canonicalize_url(F.col("url")).alias("c"))
        .orderBy(F.col("url"))
        .collect()
    ]

    con = duckdb.connect()
    con.register("urls", pd.DataFrame({"url": urls}))
    sa = f"^({_SCHEME_AUTH[1:]})"
    sa_bare = _SCHEME_AUTH
    want = [
        r[0]
        for r in con.execute(
            f"""
        WITH c1 AS (
          SELECT url, regexp_replace(trim(url), '#.*$', '') AS u FROM urls
        ), c2 AS (
          SELECT url,
                 regexp_replace(
                   regexp_replace(
                     lower(regexp_extract(u, '{sa}', 1)),
                     '^(http://[^/:]+):80$', '\\1'),
                   '^(https://[^/:]+):443$', '\\1')
                 || regexp_replace(u, '{sa_bare}', '') AS u2
          FROM c1
        )
        SELECT regexp_replace(regexp_replace(u2, '^([^?]*)\\?$', '\\1'),
                              '^([a-z][a-z0-9+.-]*://[^/?]+)/$', '\\1') AS c
        FROM c2 ORDER BY url
        """
        ).fetchall()
    ]
    assert got == want


def test_line_dedup_matches_duckdb_oracle(spark):
    """CCNet-style line-level boilerplate removal: planted cookie-banner /
    nav lines on half the corpus must be dropped everywhere (doc frequency
    over the cap), unique lines kept verbatim, documents reassembled in
    line order — value-compared against the DuckDB spelling of the same
    plan."""
    from ape_dts_spark.operators.text_analysis import line_dedup

    max_df, min_chars = 10, 1
    boiler = "Accept  COOKIES to continue\nHome | About | Contact"
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.col("text"), F.lit("\n" + boiler)),
            ).otherwise(F.col("text")),
        )
    )
    got = (
        line_dedup(docs, max_line_docs=max_df, min_line_chars=min_chars)
        .orderBy("doc_id")
        .toPandas()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW raw AS SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    )
    sql = rf"""
        WITH docs AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 2 = 0
                      THEN text || chr(10) || 'Accept  COOKIES to continue'
                           || chr(10) || 'Home | About | Contact'
                      ELSE text END AS text
          FROM raw
        ), lines AS (
          SELECT doc_id, ln - 1 AS line_no, line FROM (
            SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
                   generate_subscripts(string_split(text, chr(10)), 1) AS ln
            FROM docs)
        ), keyed AS (
          SELECT doc_id, line_no, line,
                 md5(regexp_replace(lower(trim(line)), '\s+', ' ', 'g')) AS h,
                 length(trim(line)) < {min_chars} AS skip
          FROM lines
        ), hot AS (
          SELECT h FROM (SELECT DISTINCT h, doc_id FROM keyed WHERE NOT skip)
          GROUP BY h HAVING count(*) > {max_df}
        ), kept AS (
          SELECT * FROM keyed ANTI JOIN hot USING (h)
        ), re AS (
          SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text_clean,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id
        ), tot AS (
          SELECT doc_id, len(string_split(text, chr(10))) AS n_lines FROM docs
        )
        SELECT t.doc_id, coalesce(re.text_clean, '') AS text_clean,
               t.n_lines, coalesce(re.n_kept, 0) AS n_kept
        FROM tot t LEFT JOIN re USING (doc_id)
        ORDER BY t.doc_id
    """
    want = con.execute(sql).df()
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["text_clean"]) == list(want["text_clean"])
    assert list(got["n_lines"]) == list(want["n_lines"].astype(int))
    assert list(got["n_kept"]) == list(want["n_kept"].astype(int))
    # planted structure: the boilerplate lines are gone from every doc...
    joined = "\n".join(got["text_clean"])
    assert "Accept  COOKIES to continue" not in joined
    assert "Home | About | Contact" not in joined
    # ...original (odd) docs are byte-identical, even docs lost ONLY the plant
    orig = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").collect()
    }
    by = dict(zip(got["doc_id"], got["text_clean"]))
    assert by[1] == orig[1]
    assert by[0] == orig[0]


def test_doc_chunk_matches_duckdb_oracle(spark):
    """Fixed word-window chunking with overlap: every chunk boundary, id,
    and word count must match the DuckDB spelling of the same exact-integer
    plan (stride = chunk - overlap, ceil division, short-doc single chunk)."""
    from ape_dts_spark.operators.text_analysis import doc_chunk

    chunk, overlap = 40, 8
    stride = chunk - overlap
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    got = (
        doc_chunk(docs, chunk_words=chunk, overlap_words=overlap)
        .orderBy("doc_id", "chunk_id")
        .toPandas()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW docs AS SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    )
    sql = rf"""
        WITH w AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> length(x) > 0) AS w
          FROM docs
        ), base AS (
          SELECT doc_id, w, len(w) AS n,
                 greatest((len(w) - {overlap} + {stride - 1}) // {stride}, 1) AS nc
          FROM w WHERE len(w) > 0
        ), c AS (
          SELECT doc_id, unnest(range(0, nc)) AS chunk_id, w, n FROM base
        )
        SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
               array_to_string(list_slice(w, chunk_id * {stride} + 1,
                                          chunk_id * {stride} + {chunk}), ' ')
                 AS text_chunk,
               CAST(least({chunk}, n - chunk_id * {stride}) AS BIGINT) AS n_words
        FROM c ORDER BY doc_id, chunk_id
    """
    want = con.execute(sql).df()
    assert len(got) == len(want)
    for col in ("doc_id", "chunk_id", "n_words"):
        assert list(got[col]) == list(want[col].astype(int)), col
    assert list(got["text_chunk"]) == list(want["text_chunk"])
    # structure: consecutive chunks overlap by `overlap` words
    first = got[got.doc_id == got.doc_id.iloc[0]]
    if len(first) > 1:
        a, b = first.iloc[0]["text_chunk"].split(), first.iloc[1]["text_chunk"].split()
        assert a[stride:] == b[: overlap]


def test_winnowing_fingerprints_matches_duckdb_oracle(spark):
    """MOSS winnowing: k-gram md5 hashes, window minima, distinct per doc —
    and the guarantee that docs sharing a long verbatim run share >=1
    fingerprint."""
    from ape_dts_spark.operators.text_analysis import winnowing_fingerprints

    k, window = 5, 4
    base = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    # plant: doc 90001 copies a long run out of doc 0's text
    import pyspark.sql.functions as Fx
    plant = base.filter(Fx.col("doc_id") == 0).select(
        Fx.lit(90001).alias("doc_id"),
        Fx.concat(Fx.lit("totally different prefix "), Fx.col("text")).alias("text"),
    )
    docs = base.unionByName(plant)
    got = (
        winnowing_fingerprints(docs, k=k, window=window)
        .orderBy("doc_id", "fp")
        .toPandas()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW base AS SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    )
    sql = rf"""
        WITH docs AS (
          SELECT doc_id, text FROM base
          UNION ALL
          SELECT 90001 AS doc_id, 'totally different prefix ' || text
          FROM base WHERE doc_id = 0
        ), w AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             x -> length(x) > 0) AS w
          FROM docs
        ), h AS (
          SELECT doc_id,
                 list_transform(range(0, greatest(len(w) - {k}, 0) + 1),
                     i -> ('0x' || substr(md5(array_to_string(
                              list_slice(w, i + 1, i + {k}), ' ')), 1, 12))::BIGINT) AS hs
          FROM w WHERE len(w) >= {k}
        ), f AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                     range(0, greatest(len(hs) - {window}, 0) + 1),
                     j -> list_min(list_slice(hs, j + 1, j + {window})))) AS fps
          FROM h
        )
        SELECT doc_id, unnest(fps) AS fp FROM f ORDER BY doc_id, fp
    """
    want = con.execute(sql).df()
    assert list(got["doc_id"]) == list(want["doc_id"].astype(int))
    assert list(got["fp"]) == list(want["fp"].astype(int))
    # the planted copy shares fingerprints with its source
    s0 = set(got[got.doc_id == 0]["fp"])
    s1 = set(got[got.doc_id == 90001]["fp"])
    assert s0 & s1


def test_stratified_sample_matches_duckdb_oracle(spark):
    """Per-group Bernoulli rebalancing: membership must match the DuckDB
    spelling of the same slot/threshold plan, nested-superset must hold per
    group, and unlisted groups must follow default_fraction."""
    from ape_dts_spark.operators.text_analysis import stratified_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    fr = {"en": 0.1, "de": 1.0}
    got = {
        r["doc_id"]
        for r in stratified_sample(docs, fr, default_fraction=0.5).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW docs AS SELECT doc_id, lang FROM read_parquet('{SF}/documents.parquet')"
    )
    slot = "('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 1000000"
    want = {
        r[0]
        for r in con.execute(
            f"""
        SELECT doc_id FROM docs
        WHERE {slot} < CASE WHEN lang = 'de' THEN 1000000
                            WHEN lang = 'en' THEN 100000
                            ELSE 500000 END
        """
        ).fetchall()
    }
    assert got == want and got
    # every 'de' doc kept; nested superset per group when a fraction rises
    de = {r["doc_id"] for r in docs.filter("lang = 'de'").collect()}
    assert de <= got
    bigger = {
        r["doc_id"]
        for r in stratified_sample(docs, {"en": 0.3, "de": 1.0}, default_fraction=0.5).collect()
    }
    assert got <= bigger


# ---- whitespace properties against the frozen board oracles ----
#
# Spark's trim strips only spaces, so text made of tabs and newlines (or
# words wrapped in them) is where a guard written as length(trim(text)) > 0
# and the oracles' token filters part ways.  Each example is one small
# corpus, run through the board query and the board's own DuckDB SQL.

from hypothesis import HealthCheck, example, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_WS_PROP = settings(
    max_examples=8,
    derandomize=True,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
_ws_atom = st.sampled_from(["alpha", "beta", "Gamma", "delta", "eps", "x", " ", "\t", "\n"])
_ws_corpus = st.lists(
    st.lists(_ws_atom, min_size=0, max_size=14).map("".join), min_size=1, max_size=10
)
# a tab-only doc, words behind a tab, and k=5 words padded so that the
# untrimmed split counts more tokens than there are words
_WS_EDGES = ["\t", "\n\n", " \t ", "\talpha beta", "alpha beta gamma delta\t\n", "x"]


def _ws_documents(tmp: str, texts: list[str]):
    """documents.parquet for the board queries (doc_id 37*i: every doc is
    also a planted eval prefix in q_corpus_decontam) + a DuckDB view."""
    import os

    pdf = pd.DataFrame({"doc_id": [37 * i for i in range(len(texts))], "text": texts})
    pdf.to_parquet(os.path.join(tmp, "documents.parquet"), index=False)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp}/documents.parquet')"
    )
    return con


def _rows(values) -> list[tuple]:
    from decimal import Decimal

    return sorted(
        (tuple(round(float(v), 9) if isinstance(v, (float, Decimal)) else v for v in r)
         for r in values),
        key=repr,
    )


@_WS_PROP
@given(_ws_corpus)
@example(_WS_EDGES)
def test_chunk_winnow_whitespace_matches_board_oracle(spark, texts):
    import tempfile

    import __spark_entry__ as entry

    with tempfile.TemporaryDirectory() as tmp:
        con = _ws_documents(tmp, texts)
        got = entry.q_text_chunk_winnow(spark, tmp).collect()
        want = con.execute(entry._chunk_winnow_oracle_sql()).fetchall()
    assert _rows(got) == _rows(want)


@_WS_PROP
@given(_ws_corpus, st.sampled_from([1, 2, 3]))
@example(_WS_EDGES, 1)
@example(_WS_EDGES, 3)
def test_decontam_whitespace_matches_board_oracle(spark, texts, k):
    """The board row at shingle width k, and the per-eval audit with the
    raw corpus as its own eval set (so whitespace-only eval docs reach the
    guard), against the board oracle and its shingle SQL."""
    import tempfile

    import __spark_entry__ as entry
    from ape_dts_spark.operators.text_dedup import decontaminate

    audit_sql = (
        "WITH "
        + entry._NAMED_SHINGLES_SQL.format(name="t", src="SELECT doc_id, text FROM documents", k=k)
        + f"""
        , vocab AS (
          SELECT shingle FROM t_sh GROUP BY shingle HAVING count(*) <= 1000
        ), sizes AS (
          SELECT doc_id, count(*) AS n FROM t_sh GROUP BY doc_id
        ), matched AS (
          SELECT doc_id, count(*) AS m FROM t_sh SEMI JOIN vocab USING (shingle)
          GROUP BY doc_id
        )
        SELECT s.doc_id, CAST(s.n AS BIGINT), CAST(coalesce(m.m, 0) AS BIGINT),
               ((20000::HUGEINT * coalesce(m.m, 0) + s.n) // (2 * s.n)) / 10000.0
        FROM sizes s LEFT JOIN matched m USING (doc_id)
        """
    )
    with tempfile.TemporaryDirectory() as tmp:
        con = _ws_documents(tmp, texts)
        got = entry.q_corpus_decontam(spark, tmp, k=k).collect()
        want = con.execute(entry._corpus_decontam_oracle_sql(k=k)).fetchall()
        assert _rows(got) == _rows(want)
        docs = spark.read.parquet(f"{tmp}/documents.parquet")
        got = decontaminate(docs, docs, k=k, max_doc_freq=1000).select(
            "doc_id", "n_shingles", "n_matched", "overlap_frac"
        ).collect()
        want = con.execute(audit_sql).fetchall()
    assert _rows(got) == _rows(want)
