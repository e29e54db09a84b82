"""MERGE INTO — keyed upsert/delete apply as a merge-on-read delta append.

The single operator that replaces the reference's whole sink layer: batched
DELETE + batched INSERT/REPLACE + serial UPDATE with retry fallbacks
(reference dt-connector/src/sinker/mysql/mysql_sinker.rs:42-247,
rdb_query_builder.rs:122-351) and the foxlake lake-merge two-phase push
(sinker/foxlake/foxlake_merger.rs:49-118 — `MERGE INTO ... DEDUPLICATION=
'SOURCE'`), the reference's own lake-sink precedent for this shape.

The deduped batch is appended as bucket-partitioned delta files with
upsert/delete markers.  NO target read, NO rewrite: IO is O(batch)
regardless of table size, which is what lets throughput scale with
executors instead of saturating on rewrite IO (this is the Flink-CDC ->
Iceberg equality-delete design).  Readers resolve last-write-wins per key;
LakeTable.compact() folds deltas into base files, per bucket, when their
fraction passes a threshold.

The apply is idempotent on (url, lsn): every row carries `last_lsn`, so a
replayed slice loses/ties the LWW resolution and the result is value-
identical (the reference's REPLACE idempotence, docs/en/config.md:30, made
exact).  Row counts come from the written files' parquet footers — no extra
pass over the data.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ape_dts_spark.lake.table import BUCKET_COL, OP_MARKER_COL, LakeTable, spark_type
from ape_dts_spark.operators.dedup import lww_dedup

OP_COL = "op"
LSN_COL = "lsn"
LAST_LSN_COL = "last_lsn"


@dataclass
class MergeStats:
    affected_buckets: list[int]
    source_rows: int
    output_rows: int
    deleted_rows: int
    new_version: int
    wall_ms: int
    # per-bucket {"rows", "deletes"} from the written delta files' footers —
    # the reference's per-lane counters (counter_type.rs:4-49); summing rows
    # over buckets gives the batch's sinked total exactly once
    per_bucket: dict


def _source_payload(table: LakeTable, src: DataFrame) -> list:
    types = {f["name"]: f["type"] for f in table.schema.fields}
    cols = []
    for f in table.schema.fields:
        c = f["name"]
        if c == LAST_LSN_COL:
            cols.append(F.col(LSN_COL).cast("long").alias(LAST_LSN_COL))
            continue
        cols.append(
            (
                F.col(c).cast(spark_type(types[c]))
                if c in src.columns
                else F.lit(None).cast(spark_type(types[c]))
            ).alias(c)
        )
    return cols


def merge_into(
    spark: SparkSession,
    table: LakeTable,
    changes: DataFrame,
    properties: dict[str, str] | None = None,
    dedup_source: bool = True,
    pre_clustered: bool = False,
) -> MergeStats:
    """Apply a keyed change batch (op in insert|update|delete, lsn-ordered).

    `changes` columns: the table's payload columns (current schema, minus
    `last_lsn`; missing payload columns are null-padded) + `op` + `lsn`.
    insert/update are both upserts (reference REPLACE semantics); delete
    removes the row.  One committed snapshot per call.
    """
    key = table.manifest.bucket_key
    t0 = time.monotonic()

    src = lww_dedup(changes, [key], LSN_COL) if dedup_source else changes
    carry = [F.col(BUCKET_COL)] if BUCKET_COL in src.columns else []
    delta = src.select(
        *_source_payload(table, src),
        F.when(F.col(OP_COL) == "delete", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias(OP_MARKER_COL),
        *carry,
    )
    # counts come from the written delta files' parquet footers (exact,
    # driver-side, zero extra Spark work) — unlike an Observation they
    # exist on every plan shape, an empty slice included
    new_version, affected, per_bucket = table.append_delta(
        delta, properties=properties, pre_clustered=pre_clustered
    )
    n_rows = sum(c["rows"] for c in per_bucket.values())
    n_del = sum(c["deletes"] for c in per_bucket.values())
    return MergeStats(
        affected_buckets=affected,
        source_rows=n_rows,
        output_rows=n_rows - n_del,
        deleted_rows=n_del,
        new_version=new_version,
        wall_ms=int((time.monotonic() - t0) * 1000),
        per_bucket=per_bucket,
    )
