"""Output checks, independent of the engine: DuckDB over the generated parquet.

Each check returns the number of mismatches; the caller counts a check with
any mismatch as one failed operation.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from ape_dts_spark.functions.extract_text import extract_text_series

TEXT_SAMPLE = 200


def _glob(path: str) -> str:
    return os.path.join(path, "*.parquet")


def reference_keyset(seed_dir: str, change_files: list[str]) -> pd.DataFrame:
    """Live (url, last_lsn) after applying the changes to the seed.

    Every event sets its url live (insert/update) or dead (delete) at its lsn;
    a key-changing update also sets before_url dead at the same lsn.  The
    latest effect per url decides.  Column DDL does not touch the keyset."""
    files = ", ".join(f"'{f}'" for f in change_files)
    return duckdb.sql(
        f"""
        WITH ch AS (SELECT lsn, op, url, before_url FROM read_parquet([{files}])),
        eff AS (
            SELECT url, 0::BIGINT AS lsn, TRUE AS live FROM read_parquet('{_glob(seed_dir)}')
            UNION ALL SELECT url, lsn, op <> 'delete' FROM ch
            UNION ALL SELECT before_url, lsn, FALSE FROM ch WHERE before_url IS NOT NULL
        ),
        last AS (SELECT url, max(lsn) AS last_lsn, arg_max(live, lsn) AS live FROM eff GROUP BY url)
        SELECT url, last_lsn FROM last WHERE live
        """
    ).df()


def keyset_mismatches(engine: pd.DataFrame, ref: pd.DataFrame, subset: bool = False) -> int:
    """Rows in one keyset and not the other.  subset=True only counts engine
    rows missing from the reference (the engine may drop inserts)."""
    con = duckdb.connect()
    con.register("e", engine)
    con.register("r", ref)
    extra = con.sql(
        "SELECT count(*) FROM (SELECT url, last_lsn FROM e EXCEPT ALL SELECT url, last_lsn FROM r)"
    ).fetchone()[0]
    if subset:
        return int(extra)
    missing = con.sql(
        "SELECT count(*) FROM (SELECT url, last_lsn FROM r EXCEPT ALL SELECT url, last_lsn FROM e)"
    ).fetchone()[0]
    return int(extra + missing)


def engine_keyset(spark, table) -> pd.DataFrame:
    return table.refresh().read(spark).select("url", "last_lsn").toPandas()


def text_mismatches(spark, table, seed: int) -> int:
    """On a seeded sample of live rows, text must equal extract_text_series(html)
    byte for byte."""
    rows = (
        table.refresh()
        .read(spark)
        .filter(F.col("html").isNotNull())
        .orderBy(F.xxhash64(F.col("url"), F.lit(seed)))
        .limit(TEXT_SAMPLE)
        .select("html", "text")
        .toPandas()
    )
    if rows.empty:
        return 1
    want = extract_text_series(rows["html"])
    return int((want != rows["text"].fillna("\0")).sum())


def insert_count(changes_dir: str) -> int:
    """Inserts with a body: the rows the content index is asked about."""
    return int(
        duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{_glob(changes_dir)}') "
            "WHERE op = 'insert' AND html IS NOT NULL"
        ).fetchone()[0]
    )


def expected_exact_drops(changes_dir: str, batch_width: int) -> int:
    """Inserts whose extracted text equals that of an insert from an earlier
    batch.  Batch 0 runs against an empty index, so it drops nothing and
    indexes all of its inserts; later batches drop exact copies of anything
    indexed before them (inserts mint fresh urls, so no later event touches a
    dropped key).  Exact for two batches, which is what ingest_dedup runs."""
    ins = duckdb.sql(
        f"""SELECT lsn, html FROM read_parquet('{_glob(changes_dir)}')
            WHERE op = 'insert' AND html IS NOT NULL ORDER BY lsn"""
    ).df()
    ins["text"] = extract_text_series(ins["html"])
    ins["batch"] = (ins["lsn"] - 1) // batch_width
    first = set(ins.loc[ins["batch"] == 0, "text"])
    return int((ins["batch"].eq(1) & ins["text"].isin(first)).sum())
