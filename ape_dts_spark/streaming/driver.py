"""The micro-batch CDC driver loop — the Spark expression of the reference's
pipeline (reference dt-pipeline/src/base_pipeline.rs:59-141: drain -> dispatch
-> sink -> checkpoint) plus its resume protocol (CdcResumer / position.log,
docs/en/monitor/position.md:5-12) and DDL barrier (base_extractor.rs:118-124,
base_pipeline.rs:198-222).

One batch = one LSN slice (hwm, hi]:
  read slice (only the change files whose lsn range meets (hwm, hi], listed
  by the driver-side source log; the lsn predicate pushed into the scan)
  -> filter/route (ChangeFilter, Router)
  -> split key-changing updates into delete+insert
  -> quarantine NULL-key rows
  -> LWW dedup per url (sharing its one shuffle with the bucket layout)
  -> vectorized text extraction (Arrow pandas UDF)
  -> merge-on-read delta append into the pages LakeTable
  -> lineage rows (per affected bucket) + checkpoint row (high-watermark)

Exactly-once: the MERGE commit carries `hwm_lsn` in the table manifest; the
checkpoint row is a second commit.  A crash between the two leaves the
manifest ahead of the checkpoint — on resume the slice is replayed, the
driver sees manifest.hwm >= slice end and skips the (already applied) MERGE,
then re-writes the checkpoint.  Even without the skip, replay is a value-
identical no-op because MERGE is idempotent on (url, lsn).

DDL barrier: a DDL event at lsn L caps the batch at hi=L; changes with
lsn <= L are merged first (drain-before-DDL), then the DDL is applied as a
metadata-only schema commit, then the stream continues under the evolved
schema.  DDL application is idempotent so replay after a crash is safe.
"""

from __future__ import annotations

import json
import logging
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ape_dts_spark.functions.extract_text import extract_text_udf
from ape_dts_spark.lake.table import BUCKET_COL, LakeTable, spark_type
from ape_dts_spark.operators.dedup import (
    lww_dedup,
    lww_dedup_bucket_aligned,
    quarantine_null_keys,
    split_key_change_updates,
)
from ape_dts_spark.operators.filters import ChangeFilter, Router
from ape_dts_spark.operators.merge import merge_into
from ape_dts_spark.sources.change_log import ChangeLog

_LOG = logging.getLogger(__name__)

#: at most this many buckets are compacted after any one batch — bounds the
#: per-batch maintenance stall and amortizes compaction across the tail
#: instead of a whole-table stop-the-world rewrite
COMPACT_MAX_BUCKETS = 16

CHECKPOINT_COLS = [
    ("job_id", "string"),
    ("batch_id", "long"),
    ("hwm_lsn", "long"),
    ("committed_at", "timestamp"),
    ("snapshot_id", "long"),
]

LINEAGE_COLS = [
    ("job_id", "string"),
    ("batch_id", "long"),
    ("partition_id", "int"),
    ("lsn_min", "long"),
    ("lsn_max", "long"),
    ("input_rows", "long"),
    ("merged_rows", "long"),
    ("deleted_rows", "long"),
    ("snapshot_id", "long"),
    ("wall_ms", "long"),
]


@dataclass
class EngineConfig:
    job_id: str
    pages_path: str
    changes_path: str  # parquet dir with the LSN-ordered change stream
    ddl_path: str | None = None
    checkpoints_path: str | None = None  # default: <pages>/../checkpoints
    lineage_path: str | None = None
    batch_lsn_width: int = 100_000  # maxOffsetsPerTrigger analog (DtQueue cap)
    # first-run start position (reference: resuming from a configured binlog
    # file/position or lsn, position.md:5-12 / task_config [extractor]
    # binlog_position): a FRESH job (no committed checkpoint) begins the tail
    # strictly AFTER this lsn; once any checkpoint exists it wins — a
    # configured start never rewinds an established job.
    start_lsn: int = 0
    key_col: str = "url"
    filter: ChangeFilter = field(default_factory=ChangeFilter)
    router: Router = field(default_factory=Router)
    extract_text: bool = True
    # pluggable user transform (the reference's Lua processor hook,
    # dt-pipeline/src/lua_processor.rs:14-53): a callable DataFrame ->
    # DataFrame, or "module:function" resolved at engine start.  Runs after
    # filter/route, before the key-change split — vectorized (whole-batch),
    # and row drops (the Lua `row_type=""` idiom) are just a .filter inside
    # the hook.  None disables.
    transform: object | None = None
    # write-parallelism multiplier: bucket_count x files_per_bucket concurrent
    # lanes through dedup/extract/delta-write (keys stay whole per lane; the
    # sink gets this many files per bucket per batch).  Raise when executor
    # count exceeds the table's bucket_count.
    files_per_bucket: int = 1
    # two-way-sync identity + outbound change feed (reference data_marker.rs
    # + kafka_sinker.rs): when feed_path is set, every applied batch is also
    # emitted as keyed change records stamped with node_id (locally-born rows
    # only — relayed rows keep their original origin, so a peer consuming the
    # feed with ChangeFilter(do_origins=...) cuts the A->B->A cycle).
    node_id: str | None = None
    feed_path: str | None = None
    # attach true before-images (in-batch lag + committed-state lookup) to
    # the outbound feed records (reference RowData before/after fidelity)
    feed_before_images: bool = False
    # outbound feed wire format: "json" (default) | "avro" — avro emits the
    # reference's pinned AvroData binary envelope (avro_converter_schema.rs:
    # 5-121) so consumers built against the reference's Kafka feed decode it
    feed_format: str = "json"
    # compact a bucket when its delta bytes exceed this fraction of the
    # bucket's total bytes; <= 0 disables auto-compaction
    compact_ratio: float = 0.5
    # per-fold byte budget: one maybe_compact call rewrites at most ~this
    # many bytes (sum of base+delta of the selected buckets).  Bucket COUNT
    # alone doesn't bound the stall — the FIRST fold after a seed load hits
    # COMPACT_MAX_BUCKETS buckets whose accumulated bytes dwarf steady-state
    # deltas (measured 50.3s vs 8-16s steady in BENCH/endurance_10M_r3.json).  The
    # largest-delta bucket is always folded even when it alone exceeds the
    # budget (otherwise it could starve forever).  0 = unbounded.
    compact_byte_budget: int = 512 << 20
    # snapshot retention (Iceberg expire_snapshots analog): keep this many
    # manifests per engine table (pages + checkpoints + lineage) and GC
    # superseded data files each batch.  0 disables (unbounded time travel).
    # At a 10^10-event tail, unbounded history means every commit's manifest
    # and every superseded file lives forever — retention is what keeps
    # metadata listing and storage O(keep_last), not O(batches).
    expire_keep_last: int = 0
    # OPTIONAL ingest-time content dedup (operators/incremental_dedup.py
    # ContentIndex, a LakeTable of md5 rows + bloom segments at this path):
    # when set, each batch's surviving INSERT rows whose extracted text
    # already exists anywhere in the index are dropped BEFORE the MERGE
    # (and before feed emission), and the remaining fresh inserts' hashes
    # are appended to the index AFTER the merge commits.
    # This deliberately changes replication semantics (content-identity
    # dedup across keys — the curation knob a training-corpus ingest wants),
    # so it is OFF by default; parity/replay-equality runs keep it off.
    # Updates and deletes always pass through (key identity governs them),
    # which also means a url deleted and later re-inserted with content the
    # index has seen stays dropped — content is ingested once, ever.
    # Crash window: merge commits first, then the index append — a crash
    # between them replays as already_applied and skips the append, so
    # those hashes are missed (future identical content would be ingested
    # again).  Best-effort by design: the window can only under-drop,
    # never lose data.
    content_index_path: str | None = None
    content_index_buckets: int = 64
    # OPTIONAL ingest-time NEAR-dup dedup (operators/neardup_index.py
    # NearDupIndex, a LakeTable of band signatures at this path): the
    # MinHash analog of content_index_path for content that re-arrives
    # ALMOST identical (trailing timestamps, rotated ads) and defeats md5
    # equality.  INSERT rows whose text matches any indexed
    # page at est_jaccard >= near_dup_threshold are dropped before the
    # MERGE; the surviving inserts' signatures are appended AFTER the merge
    # commits (same best-effort crash window as the content index — a
    # missed append can only under-drop).  When both indexes are enabled
    # the exact filter runs first (cheaper: bloom + md5) and BOTH indexes
    # record only the inserts that actually merged.  OFF by default for
    # the same replication-semantics reason as content_index_path.
    near_dup_index_path: str | None = None
    near_dup_threshold: float = 0.8
    near_dup_buckets: int = 64
    # hot band-signature cap forwarded to NearDupIndex.match_batch
    near_dup_max_bucket: int = 64
    # auto-compact either sidecar index when any bucket accumulates more
    # than this many per-append data files (every batch appends one per
    # touched bucket, so file count otherwise grows linearly with batch
    # count — 10k batches x 64 buckets = 640k small files and the match
    # read becomes listing/footer-bound).  Compaction is one distributed
    # pass + one LakeTable commit, same crash contract as appends; with
    # expire_keep_last > 0 the index table's expire_snapshots then deletes
    # the superseded files.  0 disables.
    index_compact_max_files: int = 64
    # catalog directory for in-stream table-lifecycle DDL (reference
    # ddl_type.rs:7-36 CreateTable/DropTable/RenameTable/Create+DropDatabase,
    # replayed as change events in ddl_test/src_test.sql:1-60).  When set,
    # those ddl_types dispatch to lake.catalog.Catalog(catalog_root); when
    # None (single-table task, no catalog), they raise — a stream carrying
    # lifecycle DDL needs the catalog layer.  NOTE: a task whose bound table
    # can be renamed mid-stream should pin checkpoints_path/lineage_path
    # explicitly — the pages_path-derived defaults would re-derive differently
    # after a restart under the new name.
    catalog_root: str | None = None
    # token-bucket pacing cap, events/sec (reference max_rps,
    # dt-parallelizer/src/base_parallelizer.rs:70-79: drain at most
    # max_rps/batch_interval records per tick).  0 disables.  Spark-native
    # pacing is the batch_lsn_width cap; max_rps adds wall-clock pacing on
    # top: after a batch of R events, sleep until R/max_rps seconds have
    # elapsed since the batch started.
    max_rps: int = 0
    # ops text-log surface (reference position.log/monitor.log,
    # base_pipeline.rs:365-390 + log4rs appenders): when set, every batch
    # appends current/checkpoint position lines and per-counter monitor
    # lines under this directory.  The lake checkpoint/lineage tables stay
    # the richer queryable source; this is file-tail parity.  None = off.
    log_dir: str | None = None
    # test hook: callable(stage: str, batch_id: int) that may raise to
    # simulate a crash at a precise point ("post_merge", "post_checkpoint")
    crash_hook: object | None = None


def misbound_lifecycle_error(
    ddl_type: str, payload: dict, pages_path: str, catalog_root: str
) -> str | None:
    """The ONE spelling of the bound-table-outside-catalog invariant, shared
    by precheck() (fail before data moves) and _apply_lifecycle_ddl (catch
    engines constructed without a precheck).  Lifecycle names resolve
    against catalog_root; if an event names the BOUND table (as target,
    rename source, or rename DESTINATION) while the bound table lives
    elsewhere, the operation would act on — or collide with — a same-named
    catalog table instead of the one this engine replicates.  Returns the
    error text, or None when the event is safe."""
    import os as _os

    if ddl_type not in ("drop_table", "rename_table"):
        return None
    pages_dir = _os.path.dirname(_os.path.abspath(pages_path.rstrip("/")))
    if pages_dir == _os.path.abspath(catalog_root.rstrip("/")):
        return None
    bound = _os.path.basename(pages_path.rstrip("/"))
    if payload.get("table") == bound or payload.get("from") == bound:
        return (
            f"lifecycle ddl {ddl_type!r} names the bound table {bound!r} but "
            f"pages_path {pages_path!r} is not directly under catalog_root "
            f"{catalog_root!r} — the DDL would resolve against the catalog "
            "and act on the wrong table"
        )
    if ddl_type == "rename_table" and payload.get("to") == bound:
        return (
            f"lifecycle ddl rename_table renames {payload.get('from')!r} TO the "
            f"bound table's name {bound!r} while pages_path {pages_path!r} is "
            f"not directly under catalog_root {catalog_root!r} — a same-named "
            "catalog table would shadow the bound table for later lifecycle "
            "events"
        )
    return None


def emit_change_feed(
    spark: SparkSession, pages: LakeTable, deduped: DataFrame, cfg: "EngineConfig"
) -> None:
    """Outbound keyed change feed (reference kafka_sinker.rs:56-97).  Must
    run BEFORE the merge so attached before-images reflect pre-batch
    committed state; the caller persists `deduped` so the prep chain
    (extraction included) runs once for feed + merge."""
    from ape_dts_spark.operators.before_image import attach_before_images
    from ape_dts_spark.operators.change_feed import (
        avro_encode_records,
        change_feed_records,
        write_change_feed,
    )

    feed_df = deduped
    before_col = None
    if cfg.feed_before_images:
        feed_df = attach_before_images(spark, pages, feed_df, key_col=cfg.key_col)
        before_col = "before"
    records = change_feed_records(
        feed_df,
        key_col=cfg.key_col,
        origin=cfg.node_id or cfg.job_id,
        before_col=before_col,
    )
    if cfg.feed_format == "avro":
        records = avro_encode_records(records)
    write_change_feed(records, cfg.feed_path)


def maybe_compact(
    spark: SparkSession, pages: LakeTable, cfg: "EngineConfig"
) -> dict | None:
    """Incremental MOR maintenance: compact the hottest buckets (per-bucket
    delta fraction above cfg.compact_ratio), at most COMPACT_MAX_BUCKETS
    per call.  Bounded per-batch work — at 10^10 events a whole-table
    compaction is a multi-minute stall; per-bucket folding keeps the tail
    latency flat while converging to the same state.

    Returns the fold composition ({"buckets": n, "bytes_est": packed cost})
    when a fold ran, else None — recorded in the batch log so a slow fold is
    attributable (oversized single bucket vs packing underestimate vs host
    window; r4 verdict item 6)."""
    if cfg.compact_ratio <= 0:
        return None
    per = pages.delta_stats()["per_bucket"]
    cand = [
        (b, v["delta"])
        for b, v in per.items()
        if v["delta"] > 0 and v["delta"] > cfg.compact_ratio * (v["base"] + v["delta"])
    ]
    if not cand:
        return None
    cand.sort(key=lambda x: x[1], reverse=True)
    # greedy pack under the byte budget (fold cost ~ base+delta rewritten);
    # later, smaller buckets may still fit after a large one is skipped
    budget = cfg.compact_byte_budget
    sel: list[int] = []
    cost = 0
    for b, _ in cand:
        if len(sel) >= COMPACT_MAX_BUCKETS:
            break
        fold_cost = per[b]["base"] + per[b]["delta"]
        if sel and budget > 0 and cost + fold_cost > budget:
            continue
        sel.append(b)
        cost += fold_cost
    pages.compact(spark, buckets=sel)
    return {"buckets": len(sel), "bytes_est": cost}


def historical_names(pages: LakeTable) -> dict[str, list[str]]:
    """current column name -> older names of the same field id (a rename DDL
    means the change stream may still carry the old name)."""
    m = pages.manifest
    cur = {f["id"]: f["name"] for f in pages.schema.fields}
    hist: dict[str, list[str]] = {}
    for sv in sorted(m.schemas, key=int, reverse=True):
        for f in m.schemas[sv]["fields"]:
            curname = cur.get(f["id"])
            if curname and f["name"] != curname:
                hist.setdefault(curname, []).append(f["name"])
    return hist


def resolve_transform(spec) -> object | None:
    """Resolve a transform hook: a callable passes through; "module:function"
    is imported (the config-file spelling, reference [processor] section)."""
    if spec is None or callable(spec):
        return spec
    if isinstance(spec, str) and ":" in spec:
        import importlib

        mod, _, fn = spec.partition(":")
        return getattr(importlib.import_module(mod), fn)
    raise ValueError(f"transform must be callable or 'module:function', got {spec!r}")


def prepare_changes(pages: LakeTable, df: DataFrame, cfg: "EngineConfig") -> DataFrame:
    """The per-batch transform chain: filter -> route -> user transform hook
    -> key-change split -> NULL-key quarantine -> schema projection
    (rename-aware) -> LWW dedup -> vectorized extraction."""
    df = cfg.filter.apply(df)
    df = cfg.router.route_cols(df)
    hook = resolve_transform(cfg.transform)
    if hook is not None:
        df = hook(df)
    df = split_key_change_updates(df, key_col=cfg.key_col)
    df, _quarantined = quarantine_null_keys(df, [cfg.key_col])

    schema = pages.schema
    hist = historical_names(pages)
    src_cols = set(df.columns)
    payload = []
    for f in schema.fields:
        name = f["name"]
        if name in ("text", "last_lsn"):
            continue
        cands = [c for c in [name] + hist.get(name, []) if c in src_cols]
        if not cands:
            continue  # merge_into null-pads missing payload columns
        # a mixed-schema stream (rename_column mid-stream) carries the old
        # name in pre-DDL files and the new in post-DDL ones — coalesce so
        # each row keeps its value regardless of which file it came from
        expr = F.col(cands[0]) if len(cands) == 1 else F.coalesce(*[F.col(c) for c in cands])
        payload.append(expr.alias(name))
    # origin rides along for feed emission (merge_into ignores non-schema
    # columns); dropped implicitly by the sink's schema projection
    carry = [F.col("origin")] if cfg.feed_path and "origin" in df.columns else []
    projected = df.select(*payload, F.col("op"), F.col("lsn"), *carry)

    # LWW compaction BEFORE the expensive text extraction: a url hit by a
    # burst of B events is extracted once, not B times.
    if pages.manifest.bucket_key == cfg.key_col:
        # single shuffle, shared with the delta write's bucket layout
        projected = projected.withColumn(BUCKET_COL, pages.bucket_expr())
        deduped = lww_dedup_bucket_aligned(
            projected, [cfg.key_col], "lsn", BUCKET_COL, key_salt=cfg.files_per_bucket
        )
    else:
        # a table bucketed on another column (or not at all): the plain
        # per-key window, whose WindowGroupLimit pre-reduces hot-key bursts
        # map-side with one Exchange
        deduped = lww_dedup(projected, [cfg.key_col], "lsn")
    if cfg.extract_text and "html" in projected.columns:
        deduped = deduped.withColumn(
            "text",
            F.when(F.col("op") != "delete", extract_text_udf(F.col("html"))).otherwise(
                F.lit(None).cast("string")
            ),
        )
    return deduped


class CdcEngine:
    def __init__(self, spark: SparkSession, cfg: EngineConfig):
        self.spark = spark
        self.cfg = cfg
        self.stopped_reason: str | None = None
        if not LakeTable.exists(cfg.pages_path) and cfg.catalog_root:
            self._adopt_renamed_table()
        if not LakeTable.exists(cfg.pages_path) and self._stream_drops_bound():
            # crash-replay contract for in-stream DROP: a restart after the
            # bound table (or its database) was dropped must reach the same
            # clean stop as the run that applied the DDL — not crash-loop on
            # FileNotFoundError before the drop event can ever be re-replayed
            self.stopped_reason = (
                f"table {self._bound_table_name()} dropped at ddl replay (restart)"
            )
            self.pages = None
        else:
            self.pages = LakeTable.load(cfg.pages_path)
        cp = cfg.checkpoints_path or cfg.pages_path.rstrip("/") + "_checkpoints"
        ln = cfg.lineage_path or cfg.pages_path.rstrip("/") + "_lineage"
        if self.stopped_reason is not None:
            # dropped-table restart: never CREATE bookkeeping tables under a
            # path whose table (or database) the stream just dropped
            self.checkpoints = LakeTable.load(cp) if LakeTable.exists(cp) else None
            self.lineage = LakeTable.load(ln) if LakeTable.exists(ln) else None
        else:
            self.checkpoints = (
                LakeTable.load(cp) if LakeTable.exists(cp) else LakeTable.create(cp, CHECKPOINT_COLS)
            )
            self.lineage = (
                LakeTable.load(ln) if LakeTable.exists(ln) else LakeTable.create(ln, LINEAGE_COLS)
            )
        self.metrics: dict[str, float] = {
            "record_count": 0,
            "data_bytes": 0,
            "sinked_records": 0,
            "ddl_records": 0,
            "batches": 0,
        }
        self._ddls = getattr(self, "_ddls", None) or self._load_ddls()
        self.log = ChangeLog(cfg.changes_path)
        self._cidx = None
        if cfg.content_index_path and self.stopped_reason is None:
            from ape_dts_spark.operators.incremental_dedup import ContentIndex

            self._cidx = (
                ContentIndex.load(cfg.content_index_path)
                if LakeTable.exists(cfg.content_index_path)
                else ContentIndex.create(
                    cfg.content_index_path, n_buckets=cfg.content_index_buckets
                )
            )
        self._ndidx = None
        if cfg.near_dup_index_path and self.stopped_reason is None:
            from ape_dts_spark.operators.neardup_index import NearDupIndex

            self._ndidx = (
                NearDupIndex.load(cfg.near_dup_index_path)
                if LakeTable.exists(cfg.near_dup_index_path)
                else NearDupIndex.create(
                    cfg.near_dup_index_path, n_buckets=cfg.near_dup_buckets
                )
            )
        self.batch_log: list[dict] = []  # per-batch stage timings (profiling)
        if cfg.log_dir:
            from ape_dts_spark.streaming.monitor_log import MonitorLogEmitter

            self.oplog = MonitorLogEmitter(cfg.log_dir)
        else:
            self.oplog = None

    # ------------------------------------------------------------- positions

    def _adopt_renamed_table(self) -> None:
        """Crash-replay contract for in-stream RENAME TABLE: a restart whose
        config still names the pre-rename table must adopt the renamed one
        (the reference reloads table meta from the target after replaying the
        DDL, refresh_meta).  Walk the stream's rename chain from the
        configured name and re-point at the furthest name that exists."""
        import os

        name = os.path.basename(self.cfg.pages_path.rstrip("/"))
        chain = [name]
        self._ddls = self._load_ddls()
        for d in self._ddls:
            if d["ddl_type"] == "rename_table":
                p = json.loads(d["payload"])
                if p.get("from") == chain[-1]:
                    chain.append(p["to"])
        for cand in reversed(chain[1:]):
            cand_path = os.path.join(self.cfg.catalog_root, cand)
            if LakeTable.exists(cand_path):
                self.cfg.pages_path = cand_path
                return

    def _stream_drops_bound(self) -> bool:
        """True when the DDL stream drops the bound table (under any name on
        its rename chain) or cascade-drops the database holding it — the
        reason a restart may legitimately find no table at pages_path."""
        import os

        self._ddls = getattr(self, "_ddls", None) or self._load_ddls()
        names = {os.path.basename(self.cfg.pages_path.rstrip("/"))}
        db = (
            os.path.basename(self.cfg.catalog_root.rstrip("/"))
            if self.cfg.catalog_root
            else None
        )
        for d in self._ddls:
            p = json.loads(d["payload"])
            t = d["ddl_type"]
            if t == "rename_table" and p.get("from") in names:
                names.add(p["to"])
            elif t == "drop_table" and p.get("table") in names:
                return True
            elif t == "drop_database" and p.get("cascade") and p.get("db") == db:
                return True
        return False

    def _load_ddls(self) -> list[dict]:
        if not self.cfg.ddl_path:
            return []
        rows = (
            self.spark.read.parquet(self.cfg.ddl_path)
            .select("lsn", "ddl_type", "payload")
            .collect()
        )
        return sorted(({**r.asDict()} for r in rows), key=lambda d: d["lsn"])

    def committed_hwm(self) -> tuple[int, int]:
        """(hwm_lsn, batch_id) of the last committed checkpoint (reference
        checkpoint_position semantics: resume from last *committed* batch)."""
        df = self.checkpoints.read(self.spark).filter(F.col("job_id") == self.cfg.job_id)
        row = df.agg(F.max("hwm_lsn").alias("h"), F.max("batch_id").alias("b")).collect()[0]
        return (row["h"] or 0), (row["b"] if row["b"] is not None else -1)

    def max_lsn(self) -> int:
        """Highest published lsn (0 when none), from the source log's footer
        statistics: a listing plus the footers of new files, no Spark job."""
        return self.log.refresh().max_lsn()

    def _slice(self, lo: int, hi: int) -> DataFrame:
        """The change events with lo < lsn <= hi, scanning only the files
        whose lsn range meets the slice.  The read schema is worked out per
        call from the log's footers and the current sink schema, so files
        appended since the last call (DDL-added columns included) are
        always read with their columns."""
        self.log.refresh()
        sink = {f["name"]: spark_type(f["type"]) for f in self.pages.schema.fields}
        added = {}
        for d in self._ddls:
            if d["ddl_type"] == "add_column":
                p = json.loads(d["payload"])
                added[p["col"]] = spark_type(p["type"])
        return self.log.read(self.spark, lo, hi, self.log.read_schema(sink, added))

    # ------------------------------------------------------------- main loop

    def run(self, max_batches: int | None = None) -> dict:
        """Consume the change stream to its current end (snapshot+tail replay)."""
        t0 = time.monotonic()
        if self.stopped_reason is not None:
            # constructed against an already-dropped table: same clean stop
            # the run that applied the drop DDL reached
            return {
                "batches": 0,
                "hwm": 0,
                "events": 0,
                "wall_sec": 0.0,
                "events_per_sec": 0.0,
                "metrics": dict(self.metrics),
                "stopped_reason": self.stopped_reason,
            }
        hwm, last_batch = self.committed_hwm()
        if last_batch < 0 and self.cfg.start_lsn > hwm:
            hwm = self.cfg.start_lsn  # fresh job: begin after the configured position
        end = self.max_lsn()
        if not self.log.files:
            # empty poll: nothing published yet, so there is no position to
            # reach; pending DDL waits for changes
            end = hwm
        else:
            pending_ddl_lsns = [d["lsn"] for d in self._ddls]
            if pending_ddl_lsns:
                end = max(end, max(pending_ddl_lsns))
        batch_id = last_batch
        n = 0
        while hwm < end and self.stopped_reason is None:
            if max_batches is not None and n >= max_batches:
                break
            batch_id += 1
            ddl = next((d for d in self._ddls if d["lsn"] > hwm), None)
            hi = min(hwm + self.cfg.batch_lsn_width, end)
            barrier = None
            if ddl is not None and ddl["lsn"] <= hi:
                hi = ddl["lsn"]  # DDL barrier caps the batch (changes lsn <= L first)
                # ALL events at this lsn form one barrier group: real sources
                # emit several ALTERs at one position, and advancing hwm past
                # L after applying only the first would skip the rest forever
                barrier = [d for d in self._ddls if d["lsn"] == hi]
            tb0 = time.monotonic()
            before = self.metrics["record_count"]
            self._apply_batch(batch_id, hwm, hi, barrier)
            if self.cfg.max_rps > 0:
                # token-bucket pacing (reference max_rps): this batch's R
                # events entitle it to R/max_rps seconds of wall; sleep off
                # any surplus so sustained rate never exceeds the cap
                quota = (self.metrics["record_count"] - before) / self.cfg.max_rps
                surplus = quota - (time.monotonic() - tb0)
                if surplus > 0:
                    time.sleep(surplus)
            hwm = hi
            n += 1
        wall = time.monotonic() - t0
        return {
            "batches": n,
            "hwm": hwm,
            "events": int(self.metrics["record_count"]),
            "wall_sec": wall,
            "events_per_sec": (self.metrics["record_count"] / wall) if wall > 0 else 0.0,
            "metrics": dict(self.metrics),
            "stopped_reason": self.stopped_reason,
        }

    # ------------------------------------------------------------- one batch

    def _index_filter(self, deduped, checkpoints: list, option: str, find_dups):
        """(filtered, fresh_inserts, fresh_rows, n_dropped): drop INSERT rows
        whose text a sidecar index already holds; updates/deletes pass
        through (key identity governs them).  ``find_dups(inserts,
        checkpoints)`` is the index's lookup: it returns ``(dups, rows)``,
        where ``rows`` is its checkpointed append frame or None.

        The lookup runs EXACTLY ONCE per batch: only the tiny drop-key set is
        materialized (eager localCheckpoint, bounded by the batch's duplicate
        count), and the outputs are cheap anti-joins from the already-pinned
        batch.  Leaving the lookup join in the output lineage would re-run it
        on EVERY downstream action (feed emit, merge's several jobs, the
        post-merge append, metrics counts) — measured as a many-minute stall
        per batch before this shape.  Every checkpointed frame goes on
        ``checkpoints`` for the caller to release once the batch is done."""
        key = self.cfg.key_col
        if "text" not in deduped.columns:
            raise ValueError(
                f"{option} requires a 'text' column in the prepared "
                "batch — enable extract_text or carry text in the stream"
            )
        is_candidate = (F.col("op") == "insert") & F.col("text").isNotNull()
        dups, rows = find_dups(deduped.filter(is_candidate), checkpoints)
        # the prepared batch is LWW-deduped per key, so the key alone
        # identifies the dropped insert rows
        drop_keys = dups.select(key).localCheckpoint()
        checkpoints.append(drop_keys)
        n_dropped = drop_keys.count()  # checkpoint already materialized
        filtered = deduped.join(drop_keys, key, "left_anti").select(*deduped.columns)
        if rows is not None:
            rows = rows.join(
                drop_keys.select(F.col(key).cast("string").alias("doc_id")),
                "doc_id",
                "left_anti",
            )
        return filtered, filtered.filter(is_candidate), rows, n_dropped

    def _content_dups(self, inserts, checkpoints: list):
        """ContentIndex lookup: exact by construction (md5 equality; the
        bloom only prunes)."""
        _, dups = self._cidx.dedup_batch(
            self.spark, inserts, text_col="text", id_col=self.cfg.key_col
        )
        return dups, None

    def _near_dups(self, inserts, checkpoints: list):
        """NearDupIndex lookup at the configured threshold.  ONE signature
        pass per batch: the band-rows frame is narrow (~200B x bands per
        doc), eagerly checkpointed, and shared between the match here and
        the post-merge append (minus the drop set) — without this the
        expensive minhash projection over the batch's text runs twice."""
        cfg = self.cfg
        rows = self._ndidx.band_rows(
            inserts, text_col="text", id_col=cfg.key_col
        ).localCheckpoint()
        checkpoints.append(rows)
        _, dups = self._ndidx.match_batch(
            self.spark,
            inserts,
            text_col="text",
            id_col=cfg.key_col,
            threshold=cfg.near_dup_threshold,
            max_bucket=cfg.near_dup_max_bucket or None,
            rows=rows,
        )
        return dups, rows

    def _apply_batch(self, batch_id: int, lo: int, hi: int, ddls: list[dict] | None) -> None:
        t0 = time.monotonic()
        cfg = self.cfg
        self.pages.refresh()

        # job-scoped hwm guard: a table fed by several jobs (two-way sync,
        # multi-source fan-in) keeps one watermark per job — a peer job's
        # merge must not make this job's slice look already-applied.
        # Legacy single-key fallback only when the last writer WAS this job.
        props = self.pages.manifest.properties
        hwm_prop = props.get(f"hwm_lsn.{cfg.job_id}")
        if hwm_prop is None and props.get("job_id") == cfg.job_id:
            hwm_prop = props.get("hwm_lsn")
        already_applied = int(hwm_prop or 0) >= hi
        slice_df = self._slice(lo, hi)
        obs = Observation()
        input_metrics = (
            F.count(F.lit(1)).alias("records"),
            F.sum(F.coalesce(F.length("html"), F.lit(0))).alias("bytes"),
        )
        deduped = prepare_changes(self.pages, slice_df.observe(obs, *input_metrics), cfg)

        cd_fresh = nd_fresh = nd_rows = None
        cd_dropped = nd_dropped = 0
        # every persist() and localCheckpoint() in this batch is released in
        # the finally below: an exception between a pin and its unpersist
        # (content filter validation, feed emit, a merge CommitConflict)
        # must not leave the frame registered in the CacheManager, and a
        # checkpoint's blocks would otherwise stay until a JVM GC happens
        # to collect the frame
        pinned: list = []
        checkpoints: list = []
        try:
            if self._cidx is not None and not already_applied:
                # persist the prepared batch: the bloom/verify classification
                # and the post-merge index append both re-read it, and without
                # a pin each pass would re-run the extraction UDF over the html
                deduped = deduped.persist()
                pinned.append(deduped)
                deduped, cd_fresh, _, cd_dropped = self._index_filter(
                    deduped, checkpoints, "content_index_path", self._content_dups
                )
            if self._ndidx is not None and not already_applied:
                # pin for the same reason as the exact filter (the match and
                # the post-merge append both re-read the batch); when the
                # exact filter already pinned, this pins its OUTPUT so the
                # bloom/verify work is not re-run either
                deduped = deduped.persist()
                pinned.append(deduped)
                deduped, nd_fresh, nd_rows, nd_dropped = self._index_filter(
                    deduped, checkpoints, "near_dup_index_path", self._near_dups
                )

            t_prep = time.monotonic() - t0
            t_feed = 0.0
            if cfg.feed_path and not already_applied:
                tf0 = time.monotonic()
                deduped = deduped.persist()
                pinned.append(deduped)
                emit_change_feed(self.spark, self.pages, deduped, cfg)
                t_feed = time.monotonic() - tf0
            if not already_applied:
                stats = merge_into(
                    self.spark,
                    self.pages,
                    deduped,
                    properties={
                        "hwm_lsn": str(hi),
                        f"hwm_lsn.{cfg.job_id}": str(hi),
                        "batch_id": str(batch_id),
                        "job_id": cfg.job_id,
                    },
                    dedup_source=False,  # already deduped above
                    pre_clustered=self.pages.manifest.bucket_key == cfg.key_col,
                )
                # AFTER the merge commit (see EngineConfig.content_index_path
                # for the crash-window contract): record only the inserts
                # that actually MERGED — when the near-dup filter also ran,
                # its survivors are the final set for both indexes
                to_index = nd_fresh if self._ndidx is not None else cd_fresh
                if self._cidx is not None and to_index is not None:
                    self._cidx.append(to_index, text_col="text", id_col=cfg.key_col)
                if self._ndidx is not None and nd_fresh is not None:
                    # rows= reuses the batch's checkpointed signatures —
                    # the append pays only the bucket shuffle + write
                    self._ndidx.append(
                        nd_fresh, text_col="text", id_col=cfg.key_col, rows=nd_rows
                    )
                # bounded index maintenance (the sidecar analog of the lake's
                # maybe_compact): fold per-append files once any bucket's
                # count exceeds the cap, so match/verify reads stay
                # data-bound instead of file-listing-bound over a long tail;
                # after a compaction the snapshot GC drops the generations
                # it superseded when retention is on (the lake tables' knob)
                for idx in (self._cidx, self._ndidx):
                    if (
                        idx is not None
                        and cfg.index_compact_max_files > 0
                        and idx.stats()["max_files_per_bucket"] > cfg.index_compact_max_files
                    ):
                        idx.compact(self.spark)
                        if cfg.expire_keep_last > 0:
                            idx.table.expire_snapshots(keep_last=cfg.expire_keep_last)
                # Observation.get BLOCKS FOREVER when the CollectMetrics node ran
                # zero tasks (a plan the optimizer collapses to an empty relation
                # never resolves it) — an `except` around .get can't catch a hang.
                # Probe the JVM row non-blockingly first (getRowOrEmpty compiles
                # public from Scala's private[spark]); only then read .get.
                # The accessor leans on private PySpark internals (obs._jo +
                # getRowOrEmpty): if a Spark upgrade removes either, EVERY batch
                # would silently pay the counted fallback's extra scan — probe
                # once per engine, cache, and warn loudly the moment the
                # fallback becomes the steady-state path (r4 ADVICE).
                resolved = False
                if getattr(self, "_obs_accessor_ok", True):
                    try:
                        jopt = obs._jo.getRowOrEmpty()
                        # zero-task runs can also resolve to a schema-less EMPTY
                        # row, which .get cannot convert — unresolved too (this
                        # is a per-batch condition, NOT an accessor failure)
                        resolved = (not jopt.isEmpty()) and jopt.get().length() > 0
                        self._obs_accessor_ok = True
                    except Exception:
                        self._obs_accessor_ok = False
                        _LOG.warning(
                            "Observation.getRowOrEmpty accessor unavailable on "
                            "this Spark build — every batch will now run an "
                            "extra aggregate job over its slice for input metrics"
                        )
                if resolved:
                    got = obs.get
                    input_records = int(got["records"] or 0)
                    input_bytes = int(got["bytes"] or 0)
                else:
                    # unresolved Observation (an empty slice; also seen on a
                    # first batch with both sidecar indexes on): one bounded
                    # aggregate job over the slice computes the same metrics
                    got = slice_df.agg(*input_metrics).collect()[0]
                    input_records = int(got["records"])
                    input_bytes = int(got["bytes"] or 0)
                self.metrics["record_count"] += input_records
                self.metrics["data_bytes"] += input_bytes
                self.metrics["sinked_records"] += stats.output_rows if stats.output_rows > 0 else 0
                self._write_lineage(batch_id, lo, hi, stats, input_records, t0)
            else:
                # crash-recovery replay: MERGE already committed for this slice —
                # skip it (manifest hwm guard) and just restore the checkpoint row.
                stats = None

        finally:
            for _p in pinned:
                _p.unpersist()
            # a local checkpoint's blocks belong to the RDD its LogicalRDD
            # wraps; dropping them leaves every plan as is (the context
            # call skips RDD.unpersist's lost-lineage warning)
            sc = self.spark.sparkContext._jsc.sc()
            for _c in checkpoints:
                sc.unpersistRDD(_c._jdf.queryExecution().analyzed().rdd().id(), False)
        self._hook("post_merge", batch_id)

        t_merge = time.monotonic() - t0 - t_prep - t_feed

        # fold delta files into base when they dominate (MOR maintenance;
        # crash-safe: compaction is one atomic commit, a no-op to replay)
        compacted = maybe_compact(self.spark, self.pages, cfg)
        if cfg.expire_keep_last > 0:
            # bounded-retention GC (driver-side metadata + unlink, no Spark
            # job); crash-safe: leftover orphans are re-collected next batch
            self.pages.expire_snapshots(keep_last=cfg.expire_keep_last)
            self.checkpoints.expire_snapshots(keep_last=cfg.expire_keep_last)
            self.lineage.expire_snapshots(keep_last=cfg.expire_keep_last)
        t_compact = time.monotonic() - t0 - t_prep - t_feed - t_merge

        for d in ddls or []:
            self._apply_ddl(d)
            self.metrics["ddl_records"] += 1

        # a lifecycle DDL that just dropped the database holding this
        # engine's own bookkeeping tables leaves nowhere to checkpoint —
        # probing existence only on the stop path keeps the hot loop free
        # of an extra listing
        if self.stopped_reason is None or LakeTable.exists(self.checkpoints.path):
            self._write_checkpoint(batch_id, hi)
        if self.oplog is not None:
            # file-tail ops surface (position.log / monitor.log parity):
            # after the checkpoint commit, received == committed == hi
            pos = {"type": "LakeCdc", "job_id": cfg.job_id, "lsn": hi,
                   "batch_id": batch_id}
            self.oplog.log_position("current_position", pos)
            self.oplog.log_position("checkpoint_position", pos)
            wall = time.monotonic() - t0
            self.oplog.log_counter(
                "pipeline", cfg.job_id, "record_count",
                {"sum": input_records if not already_applied else 0},
            )
            self.oplog.log_counter(
                "pipeline", cfg.job_id, "data_bytes",
                {"sum": input_bytes if not already_applied else 0},
            )
            self.oplog.log_counter(
                "pipeline", cfg.job_id, "rt_per_query",
                {"avg_by_count": int(wall * 1000)},
            )
        self.metrics["batches"] += 1
        self.batch_log.append(
            {
                "batch_id": batch_id,
                "lo": lo,
                "hi": hi,
                "prep_s": round(t_prep, 2),
                "feed_s": round(t_feed, 2),
                "merge_s": round(t_merge, 2),
                "compact_s": round(t_compact, 2),
                "compacted": compacted is not None,
                "compact_detail": compacted,
                "bookkeep_s": round(
                    time.monotonic() - t0 - t_prep - t_feed - t_merge - t_compact, 2
                ),
                "skipped_merge": already_applied,
                **({"content_dups": cd_dropped} if self._cidx is not None else {}),
                **({"near_dups": nd_dropped} if self._ndidx is not None else {}),
            }
        )
        self._hook("post_checkpoint", batch_id)

    LIFECYCLE_DDL = frozenset(
        {"create_table", "drop_table", "rename_table", "create_database", "drop_database"}
    )

    def _apply_ddl(self, ddl: dict) -> None:
        """Apply a schema-evolution or table-lifecycle event; idempotent so
        crash replay is safe (reference refresh_meta after DDL,
        mysql_sinker.rs:123-128).

        Covered kinds (reference ddl_type.rs:7-36): add/rename/widen/drop
        column and truncate_table on the replicated table, plus — when
        cfg.catalog_root is set — create/drop/rename_table and create/drop_
        database replayed through lake.catalog.Catalog (reference replay
        coverage dt-tests/tests/mysql_to_mysql/cdc/ddl_test/src_test.sql:
        1-60).  Dropping the bound table ends this stream (stopped_reason);
        renaming it re-points the engine at the new root, mid-run and — via
        _adopt_renamed_table — across restarts."""
        p = json.loads(ddl["payload"])
        t = ddl["ddl_type"]
        if t in self.LIFECYCLE_DDL:
            return self._apply_lifecycle_ddl(t, p)
        try:
            if t == "add_column":
                self.pages.add_column(p["col"], p["type"])
            elif t == "rename_column":
                self.pages.rename_column(p["from"], p["to"])
            elif t == "widen_column":
                self.pages.widen_column(p["col"], p["to_type"])
            elif t == "drop_column":
                self.pages.drop_column(p["col"])
            elif t == "truncate_table":
                # naturally idempotent: re-truncating after a crash replay
                # re-commits the same (empty) visible state
                if p.get("table") and p["table"] != self._bound_table_name():
                    from ape_dts_spark.lake.catalog import Catalog

                    Catalog(self._require_catalog_root(t)).truncate_table(p["table"])
                else:
                    self.pages.truncate()
            else:
                raise ValueError(f"unknown ddl_type {t}")
        except ValueError as e:
            msg = str(e)
            already_applied = (
                "already exists" in msg  # add/rename replay
                or msg == f"no column {p.get('from', '')}"  # rename replay
                or (t == "drop_column" and msg == f"no column {p.get('col', '')}")
            )
            if already_applied:
                return
            raise

    def _bound_table_name(self) -> str:
        import os

        return os.path.basename(self.cfg.pages_path.rstrip("/"))

    def _require_catalog_root(self, ddl_type: str) -> str:
        if not self.cfg.catalog_root:
            raise ValueError(
                f"ddl_type {ddl_type!r} needs EngineConfig.catalog_root: table/"
                "database lifecycle events dispatch to the catalog layer"
            )
        return self.cfg.catalog_root

    def _apply_lifecycle_ddl(self, t: str, p: dict) -> None:
        """create/drop/rename_table + create/drop_database via the Catalog.
        Every branch is replay-idempotent (if_not_exists / if_exists / the
        rename already-applied contract) — re-applying after a crash between
        DDL commit and checkpoint write is a no-op."""
        import os

        from ape_dts_spark.lake.catalog import Catalog

        root = self._require_catalog_root(t)
        cat = Catalog(root)
        bound = self._bound_table_name()
        # precheck() enforces the bound-table-vs-catalog invariant up front;
        # this shared-helper call catches engines constructed without one.
        err = misbound_lifecycle_error(t, p, self.cfg.pages_path, root)
        if err:
            raise ValueError(err + " — run precheck()")
        if t == "create_table":
            cols = [tuple(c) for c in p["cols"]]
            cat.create_table(
                p["table"],
                cols,
                bucket_key=p.get("bucket_key"),
                bucket_count=int(p.get("bucket_count", 16)),
                if_not_exists=True,
            )
        elif t == "drop_table":
            cat.drop_table(p["table"], if_exists=True)
            if p["table"] == bound:
                # the replicated table is gone: this change stream ends
                # (reference: DropTable on the task's table ends its lane)
                self.stopped_reason = f"table {bound} dropped at ddl replay"
        elif t == "rename_table":
            cat.rename_table(p["from"], p["to"], if_exists=True)
            if p["from"] == bound:
                # re-point the engine at the renamed root (refresh_meta)
                self.cfg.pages_path = os.path.join(root, p["to"])
                self.pages = LakeTable.load(self.cfg.pages_path)
        elif t == "create_database":
            Catalog.create_database(os.path.dirname(root.rstrip("/")), p["db"])
        elif t == "drop_database":
            base = os.path.dirname(root.rstrip("/"))
            Catalog.drop_database(
                base,
                p["db"],
                if_exists=True,
                cascade=bool(p.get("cascade", False)),
            )
            dropped = os.path.abspath(os.path.join(base, p["db"]))
            pages_abs = os.path.abspath(self.cfg.pages_path.rstrip("/"))
            if pages_abs.startswith(dropped + os.sep):
                # the bound table lived in the dropped database: end the
                # stream cleanly (mirror of drop_table on the bound table) —
                # otherwise the next batch's refresh() dies mid-run with a
                # raw FileNotFoundError and restarts crash-loop the same way
                self.stopped_reason = f"database {p['db']} dropped at ddl replay"

    def _write_lineage(self, batch_id, lo, hi, stats, input_records, t0) -> None:
        """Per-lane lineage (reference per-lane counters, counter_type.rs:
        4-49): one row per affected bucket with that bucket's OWN counts —
        input_rows = LWW-deduped change rows routed to the bucket (rows
        written to its delta files), merged_rows = its upserts, deleted_rows
        = its deletes.  Summing any column over a batch's rows gives the
        batch total exactly once (no duplicated batch-level counts).  The
        raw pre-dedup slice count stays in metrics['record_count'].  An
        empty batch (no bucket written) emits a single row with
        partition_id = -1, so every batch leaves a lineage row."""
        wall = int((time.monotonic() - t0) * 1000)
        pb = stats.per_bucket
        if pb:
            rows = [
                (
                    self.cfg.job_id,
                    batch_id,
                    int(b),
                    lo + 1,
                    hi,
                    c["rows"],
                    c["rows"] - c["deletes"],
                    c["deletes"],
                    stats.new_version,
                    wall,
                )
                for b, c in sorted(pb.items())
            ]
        else:
            rows = [
                (
                    self.cfg.job_id,
                    batch_id,
                    -1,
                    lo + 1,
                    hi,
                    input_records,
                    0,
                    0,
                    stats.new_version,
                    wall,
                )
            ]
        # driver-side pyarrow append: bookkeeping must not cost a Spark job
        # per micro-batch (at 10^10 events the fixed per-batch overhead is
        # what caps events/sec, not the merge itself)
        self.lineage.append_rows([tuple(r) for r in rows])

    def _write_checkpoint(self, batch_id: int, hwm: int) -> None:
        self.checkpoints.append_rows(
            [
                (
                    self.cfg.job_id,
                    batch_id,
                    hwm,
                    datetime.now(timezone.utc),
                    self.pages.version,
                )
            ]
        )

    def heartbeat(self) -> dict:
        """Source-side liveness row (reference mysql_cdc_extractor.rs:425-533:
        the extractor upserts a heartbeat-table row so the binlog advances and
        lag is measurable even when the source is idle).  Here: re-commit the
        current high-watermark as a fresh checkpoint row with a new
        `committed_at`, so a monitor can distinguish "idle stream, engine
        alive" (recent committed_at, unchanged hwm) from "dead pipeline"
        (stale committed_at) and measure lag-when-idle.  Driver-side pyarrow
        append — no Spark job."""
        hwm, batch_id = self.committed_hwm()
        now = datetime.now(timezone.utc)
        self._write_checkpoint(batch_id, hwm)
        self.metrics["heartbeats"] = self.metrics.get("heartbeats", 0) + 1
        return {"hwm": hwm, "batch_id": batch_id, "at": now.isoformat()}

    def _hook(self, stage: str, batch_id: int) -> None:
        if self.cfg.crash_hook is not None:
            self.cfg.crash_hook(stage, batch_id)
