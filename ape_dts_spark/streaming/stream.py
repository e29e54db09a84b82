"""Structured Streaming tail — the continuous-ingest flavor of the engine.

The batch driver (driver.py) replays a bounded LSN range; this module tails
the change-stream directory with Spark Structured Streaming (file source)
and applies each micro-batch through the SAME transform + MERGE chain via
``foreachBatch`` — the canonical Spark pattern for CDC-to-lake sinks.

Exactly-once: the streaming checkpoint tracks which source files were
consumed; the sink side is idempotent anyway (MERGE keyed on (url, lsn)),
so replays after a crash converge — the same two-layer guarantee as the
batch driver (and as the reference's ack-after-commit protocol,
pg_cdc_extractor.rs:230-262).

Constraint of the streaming flavor (v1): no mid-stream DDL barriers (run
the batch driver for schema-evolving replays).  The file source gives no
LSN-slice ordering, so a late file may carry a lower-lsn upsert for a key
an earlier batch already deleted; the merge-on-read sink keeps delete
markers (and compaction retains them as tombstones), so such late arrivals
only ever lose the LWW race, never resurrect the key.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ape_dts_spark.lake.table import LakeTable
from ape_dts_spark.operators.merge import merge_into
from ape_dts_spark.streaming.driver import (
    EngineConfig,
    emit_change_feed,
    maybe_compact,
    prepare_changes,
)


def start_stream(
    spark: SparkSession,
    cfg: EngineConfig,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    stale_guard: bool = False,
):
    """Start the streaming tail; returns the StreamingQuery.

    available_now=True drains everything currently in the directory then
    stops (catch-up mode); False keeps tailing until query.stop().
    """
    if cfg.ddl_path:
        raise ValueError("streaming mode does not support DDL barriers; use CdcEngine")
    pages = LakeTable.load(cfg.pages_path)
    schema = spark.read.parquet(cfg.changes_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(cfg.changes_path)
    if stale_guard:
        # cross-batch per-key lsn high-watermark state: drops events an
        # at-least-once upstream re-delivers below what an earlier batch
        # already applied (streaming/stateful.py; the idempotent MERGE
        # absorbs them anyway — this saves the merge probes)
        from ape_dts_spark.streaming.stateful import stale_event_guard

        stream = stale_event_guard(stream, key_col=cfg.key_col, lsn_col="lsn")

    def sink_batch(batch_df, batch_id: int):
        deduped = prepare_changes(pages.refresh(), batch_df, cfg)
        pinned = None
        try:
            if cfg.feed_path:
                # same contract as the batch driver: feed BEFORE merge (before-
                # images reflect pre-batch committed state), persist so the prep
                # chain runs once for feed + merge
                pinned = deduped = deduped.persist()
                emit_change_feed(spark, pages, deduped, cfg)
            merge_into(
                spark,
                pages,
                deduped,
                properties={"stream_batch_id": str(batch_id), "job_id": cfg.job_id},
                dedup_source=False,
                pre_clustered=pages.manifest.bucket_key == cfg.key_col,
            )
        finally:
            # release even when feed/merge raises — a failed micro-batch must
            # not leave the frame pinned in the CacheManager (Structured
            # Streaming retries the batch with a FRESH prepare chain)
            if pinned is not None:
                pinned.unpersist()
        maybe_compact(spark, pages, cfg)

    checkpoint_dir = checkpoint_dir or os.path.join(
        cfg.pages_path.rstrip("/") + "_streamckpt"
    )
    writer = (
        stream.writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", checkpoint_dir)
        # foreachBatch applies the same MERGE either way; the declared mode
        # just has to agree with the plan (applyInPandasWithState = append)
        .outputMode("append" if stale_guard else "update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
