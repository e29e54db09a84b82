"""Task configuration — ini-format parity with the reference engine.

The reference is driven by a `task_config.ini` with sections
[extractor]/[filter]/[router]/[sinker]/[pipeline]/[parallelizer]
(reference docs/en/config.md, dt-common/src/config/task_config.rs).  This
module reads the same shape and produces an EngineConfig, so a reference
user's mental model maps 1:1:

    [extractor]                         ; where the change stream comes from
    db_type=lake                        ; (reference: mysql|pg|... -> our lake)
    extract_type=cdc                    ; snapshot | cdc
    changes_path=/data/changes
    ddl_path=/data/ddl
    batch_lsn_width=100000              ; DtQueue cap / maxOffsetsPerTrigger analog
    start_lsn=0                         ; first-run tail position (binlog-position analog)

    [filter]
    do_events=insert,update,delete      ; rdb_filter do_events
    do_origins=node1                    ; data-marker loop prevention
    where_condition=lang = 'en'         ; pushed into the scan
    ignore_cols=tx_id

    [router]
    col_map=lang:language               ; rdb_router col_map

    [sinker]
    sink_type=write                     ; write | check
    pages_path=/data/pages
    compact_ratio=0.5
    catalog_root=/data/db               ; enables in-stream table-lifecycle DDL
    expire_keep_last=10                 ; snapshot retention + orphan GC (0 = off)
    feed_path=/data/feed                ; outbound change feed (KafkaSinker analog)
    feed_format=json                    ; json | avro (reference AvroData envelope)
    feed_before_images=false            ; attach true before-images to the feed
    node_id=node_a                      ; data-marker identity for two-way sync

    [pipeline]
    job_id=job1
    checkpoints_path=/data/checkpoints
    lineage_path=/data/lineage
    max_rps=50000                       ; token-bucket pacing cap (0 = off)
    log_dir=/data/logs                  ; position.log/monitor.log emitters (off when unset)

    [processor]
    transform=my_pkg.hooks:clean_rows   ; Lua-processor analog: vectorized
                                        ; DataFrame->DataFrame user hook
                                        ; (row drops = .filter inside it)

    [parallelizer]
    parallel_type=rdb_merge             ; kept for parity; Spark plans the lanes
    files_per_bucket=1                  ; write lanes (and files) per bucket per batch
"""

from __future__ import annotations

import configparser

from ape_dts_spark.operators.filters import ChangeFilter, Router
from ape_dts_spark.streaming.driver import EngineConfig


def _feed_format(v: str) -> str:
    """Case-normalize and VALIDATE: a typo'd feed_format silently falling
    back to JSON would hand an Avro consumer an undecodable feed."""
    fmt = str(v).strip().lower()
    if fmt not in ("json", "avro"):
        raise ValueError(f"feed_format must be 'json' or 'avro', got {v!r}")
    return fmt


def _split(v: str | None) -> list[str]:
    return [x.strip() for x in v.split(",") if x.strip()] if v else []


def load_task_config(path_or_text: str, is_text: bool = False) -> EngineConfig:
    cp = configparser.ConfigParser()
    if is_text:
        cp.read_string(path_or_text)
    else:
        # configparser.read silently skips missing/unreadable files; an
        # unchecked typo'd path would yield an all-defaults config with
        # empty paths and fail much later with an opaque Spark error
        if not cp.read(path_or_text):
            raise FileNotFoundError(f"task config not readable: {path_or_text!r}")

    ext = cp["extractor"] if cp.has_section("extractor") else {}
    flt = cp["filter"] if cp.has_section("filter") else {}
    rtr = cp["router"] if cp.has_section("router") else {}
    snk = cp["sinker"] if cp.has_section("sinker") else {}
    ppl = cp["pipeline"] if cp.has_section("pipeline") else {}
    par = cp["parallelizer"] if cp.has_section("parallelizer") else {}
    prc = cp["processor"] if cp.has_section("processor") else {}

    change_filter = ChangeFilter(
        do_events=_split(flt.get("do_events")) or ["insert", "update", "delete"],
        do_origins=_split(flt.get("do_origins")) or None,
        start_time_utc=ext.get("start_time_utc") or None,
        end_time_utc=ext.get("end_time_utc") or None,
        where_condition=flt.get("where_condition") or None,
        ignore_cols=_split(flt.get("ignore_cols")),
    )
    col_map = {}
    for pair in _split(rtr.get("col_map")):
        src, _, dst = pair.partition(":")
        if src and dst:
            col_map[src] = dst

    return EngineConfig(
        job_id=ppl.get("job_id", "task"),
        pages_path=snk.get("pages_path", ""),
        changes_path=ext.get("changes_path", ""),
        ddl_path=ext.get("ddl_path") or None,
        checkpoints_path=ppl.get("checkpoints_path") or None,
        lineage_path=ppl.get("lineage_path") or None,
        batch_lsn_width=int(ext.get("batch_lsn_width", "100000")),
        start_lsn=int(ext.get("start_lsn", "0")),
        filter=change_filter,
        router=Router(col_map=col_map),
        files_per_bucket=int(par.get("files_per_bucket", "1")),
        compact_ratio=float(snk.get("compact_ratio", "0.5")),
        transform=prc.get("transform") or None,
        catalog_root=snk.get("catalog_root") or None,
        expire_keep_last=int(snk.get("expire_keep_last", "0")),
        max_rps=int(ppl.get("max_rps", "0")),
        log_dir=ppl.get("log_dir") or None,
        feed_path=snk.get("feed_path") or None,
        feed_format=_feed_format(snk.get("feed_format", "json")),
        feed_before_images=str(snk.get("feed_before_images", "false")).lower()
        in ("1", "true", "yes"),
        node_id=snk.get("node_id") or None,
        # opt-in ingest content dedup (sinker section — it gates what
        # reaches the sink, like the reference's sinker-side filters)
        content_index_path=snk.get("content_index_path") or None,
        content_index_buckets=int(snk.get("content_index_buckets", "64")),
        near_dup_index_path=snk.get("near_dup_index_path") or None,
        near_dup_threshold=float(snk.get("near_dup_threshold", "0.8")),
        near_dup_buckets=int(snk.get("near_dup_buckets", "64")),
        near_dup_max_bucket=int(snk.get("near_dup_max_bucket", "64")),
        index_compact_max_files=int(snk.get("index_compact_max_files", "64")),
    )
