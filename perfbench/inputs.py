"""Seeded inputs for the CDC workloads.

Every input is a function of the seed alone, generated with
``sources.generator`` on Spark into the run's own directory.  Each run
generates afresh rather than reusing a cache: generation is also the JVM's
warm-up, and a run that skipped it measured its first replay and tail
15-25% slower than a run that generated, on the same seed.  Generation time
is never part of any reported metric.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ape_dts_spark.sources import generator as g

#: table and index bucket count; the session's shuffle partitions are set
#: to it.  Fixed rather than derived from the host so inputs and layouts
#: compare across hosts; 4 keeps each Python-UDF stage to one wave of tasks
#: on a 4-CPU host
BUCKETS = 4

#: input sizes per input family
SIZES = {
    # seed pages, a catch-up backlog of `n_files` files replayed closed-loop
    # (the 3 DDL barriers of gen_ddl_events cut it into 4 batches), then
    # DDL-free tail files published open-loop at `files_per_s`; the tail
    # file count comes from --seconds and never drops below 100.  100 files
    # give freshness p90 10 files beyond it
    "cdc": {"n_seed": 1500, "n_events": 2000, "n_files": 100, "events_per_file": 2,
            "files_per_s": 12.5},
    # re-crawl stream replayed in `batches` batches with both sidecar
    # indexes on
    "ingest_dedup": {"n_seed": 300, "n_events": 500, "n_files": 100, "batches": 2},
}

#: re-crawl stream shape: distinct bodies the copied inserts draw from
RECRAWL_POOL = 300


def _write_changes(df, path: str, per_file: int) -> list[dict]:
    """Write a change stream as files of per_file contiguous lsns; returns
    [{file, first, last, rows}] in lsn order.

    Spark writes the stream in parallel, then pyarrow cuts it by lsn, so
    file boundaries do not depend on the host's parallelism.  INT96
    timestamps and Spark's schema metadata keep the files' Spark schema
    identical to the one Spark itself writes."""
    staged = path + ".spark"
    df.write.parquet(staged)
    tbl = pq.read_table(staged).sort_by("lsn")
    shutil.rmtree(staged)
    os.makedirs(path)
    files = []
    for i in range(0, tbl.num_rows, per_file):
        part = tbl.slice(i, per_file)
        first, last = part.column("lsn")[0].as_py(), part.column("lsn")[-1].as_py()
        # the backlog and the tail share the live change directory: a name
        # per (stream, first lsn) keeps a publish from replacing a file
        name = f"{os.path.basename(path)}-{first:012d}.parquet"
        pq.write_table(
            part, os.path.join(path, name), compression="zstd", use_deprecated_int96_timestamps=True
        )
        files.append({"file": name, "first": first, "last": last, "rows": part.num_rows})
    return files


def recrawl_changes(spark, n_events: int, n_seed: int, seed: int):
    """Seeded re-crawl stream: ~80/10/10 insert/update/delete, and among
    inserts ~30% exact and ~20% near copies of a small body pool (a pool body
    with one injected paragraph), the rest unique."""
    df = spark.range(n_events).select((F.col("id") + 1).alias("lsn"))
    h = g._h(F.col("lsn"), seed, 11)
    r = F.pmod(h, F.lit(10))
    op = F.when(r < 8, F.lit("insert")).when(r < 9, F.lit("update")).otherwise(F.lit("delete"))
    url_id = F.when(op == "insert", F.lit(n_seed) + F.col("lsn")).otherwise(
        F.pmod(g._h(F.col("lsn"), seed, 13), F.lit(n_seed))
    ).cast("long")
    cls = F.pmod(g._h(F.col("lsn"), seed, 17), F.lit(10))
    content_h = F.when((op == "insert") & (cls < 5), F.pmod(h, F.lit(RECRAWL_POOL))).otherwise(h)
    body = g._html(content_h).cast("string")
    near = (op == "insert") & (cls >= 3) & (cls < 5)
    html = F.when(
        near,
        F.regexp_replace(
            body,
            "</body>",
            F.concat(
                F.lit("<p>near variant marker "),
                F.pmod(F.col("lsn"), F.lit(7)).cast("string"),
                F.lit(" extra</p></body>"),
            ),
        ),
    ).otherwise(body)
    deleted = op == "delete"
    return df.select(
        F.col("lsn"),
        op.alias("op"),
        g._url(url_id, seed).alias("url"),
        F.lit(None).cast("string").alias("before_url"),
        F.timestamp_seconds(F.lit(g.EPOCH) + F.col("lsn")).alias("warc_ts"),
        F.when(deleted, F.lit(None).cast("binary")).otherwise(html.cast("binary")).alias("html"),
        F.when(deleted, F.lit(None).cast("string")).otherwise(g._lang(url_id, seed)).alias("lang"),
        F.when(deleted, F.lit(None).cast("int")).otherwise(F.lit(200)).alias("fetch_status"),
        F.floor(F.col("lsn") / 50).alias("tx_id"),
        F.lit("node1").alias("origin"),
    )


def _generate(spark, path: str, family: str, seed: int, size: dict) -> dict:
    """Write the inputs; returns the file index of each change stream."""
    g.gen_pages_seed(spark, size["n_seed"], seed=seed).write.parquet(os.path.join(path, "seed"))
    per_file = -(-size["n_events"] // size["n_files"])
    if family == "ingest_dedup":
        changes = recrawl_changes(spark, size["n_events"], size["n_seed"], seed)
        return {"files": _write_changes(changes, os.path.join(path, "changes"), per_file),
                "tail_files": []}
    files = _write_changes(
        g.gen_changes(spark, size["n_events"], size["n_seed"], seed=seed),
        os.path.join(path, "changes"),
        per_file,
    )
    g.gen_ddl_events(spark, size["n_events"]).write.parquet(os.path.join(path, "ddl"))
    # the tail continues the lsn sequence after the backlog and carries no
    # DDL (NOTES.md says why)
    n_tail = size["tail_files"] * size["events_per_file"]
    tail_files = _write_changes(
        g.gen_changes(spark, n_tail, size["n_seed"], seed=seed, start_lsn=size["n_events"] + 1),
        os.path.join(path, "tail"),
        size["events_per_file"],
    )
    return {"files": files, "tail_files": tail_files}


def build_inputs(spark, path: str, family: str, seed: int, seconds: int) -> dict:
    """Generate a family's inputs under path; returns their paths and the lsn
    index of the change files the run replays or publishes."""
    size = dict(SIZES[family])
    if family == "cdc":
        size["tail_files"] = max(100, round(seconds * size["files_per_s"]))
    # the generators' html expressions are large and the inputs small:
    # compiling them costs more than interpreting them
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try:
        index = _generate(spark, path, family, seed, size)
    finally:
        spark.conf.unset("spark.sql.codegen.wholeStage")
    return {
        "seed": os.path.join(path, "seed"),
        "changes": os.path.join(path, "changes"),
        "ddl": os.path.join(path, "ddl") if family == "cdc" else None,
        "tail": os.path.join(path, "tail"),
        **index,
        "size": size,
    }
