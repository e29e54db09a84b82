"""LakeTable — a minimal lakehouse table format on parquet with atomic commits.

The target design calls for an Iceberg sink (atomic MERGE, bucket(N, url)
partition spec, schema evolution).  No Iceberg runtime jar exists in this
sandbox, so the engine ships its own structurally-equivalent table format —
built from public lakehouse concepts (Iceberg spec: versioned manifests +
atomic pointer swap; column-id based schema evolution) and implemented in
plain Python + Spark parquet IO:

  table_dir/
    _meta/v{N}.json      one immutable manifest per committed snapshot
    data/...parquet      immutable data files, one bucket each

* **Atomic commit / snapshot isolation** — a manifest is staged to a temp
  file then published with ``os.link`` (fails if the version already
  exists -> optimistic concurrency, single winner).  Readers resolve the
  highest committed version; a crash mid-write leaves only unreferenced
  temp/data files, never a torn table.  On S3/HDFS the link step would be
  a catalog conditional-put (documented, same protocol as Iceberg).
* **bucket(N, key) layout** — every data file belongs to exactly one
  bucket ``pmod(xxhash64(key), N)``.  MERGE appends per-bucket delta files
  (merge-on-read), and reads and compaction resolve last-write-wins with
  one shuffle on the bucket column, which bounds shuffle at 10^10-row
  scale (the storage-partitioned-join idea).
* **Schema evolution** — columns carry permanent ids; add/rename/widen
  create a new schema version without rewriting data.  Readers map each
  file's stored names/types to the current schema by id (name-mapping),
  null-padding added columns and casting widened ones.

Semantics mirrored from the reference (ape-dts): idempotent sink commits
(reference mysql_sinker.rs REPLACE idempotence), positions persisted with
the data (reference base_pipeline.rs:365-390 checkpointing), DDL applied
between batches (reference base_pipeline.rs:198-222 refresh_meta).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TYPES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "timestamp": T.TimestampType(),
    "long": T.LongType(),
    "int": T.IntegerType(),
    "short": T.ShortType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    # SQL-vocabulary aliases (struct_meta normalizes to these; accepting both
    # lets a struct-extractor dump round-trip through create-like)
    "bigint": T.LongType(),
    "integer": T.IntegerType(),
    "smallint": T.ShortType(),
    "tinyint": T.ByteType(),
    "varchar": T.StringType(),
    "text": T.StringType(),
}

# widen_column whitelist (reference: MySQL type widening via DDL; Iceberg's
# allowed promotions int->long, float->double plus int->double for parity
# with the fixture's widen events).
_WIDEN_OK = {
    ("int", "long"),
    ("int", "double"),
    ("short", "int"),
    ("short", "long"),
    ("long", "double"),
    ("float", "double"),
}

BUCKET_COL = "_bucket"
# upsert/delete marker persisted in merge-on-read delta files (the analog of
# Iceberg equality-deletes / the reference's cdc_action ORC column,
# sinker/foxlake/foxlake_pusher.rs:384-400)
OP_MARKER_COL = "_op"


def spark_type(name: str) -> T.DataType:
    if name.startswith("decimal"):
        return T._parse_datatype_string(name)
    return _TYPES[name]


@dataclass
class TableSchema:
    """Ordered column list with permanent field ids (Iceberg-style)."""

    fields: list[dict]  # {"id": int, "name": str, "type": str, "nullable": bool}
    next_id: int

    @staticmethod
    def from_cols(cols: list[tuple[str, str]] | list[tuple[str, str, bool]]) -> "TableSchema":
        fields = []
        for i, c in enumerate(cols):
            name, typ = c[0], c[1]
            nullable = c[2] if len(c) > 2 else True
            fields.append({"id": i + 1, "name": name, "type": typ, "nullable": nullable})
        return TableSchema(fields=fields, next_id=len(cols) + 1)

    def to_struct(self) -> T.StructType:
        return T.StructType(
            [T.StructField(f["name"], spark_type(f["type"]), True) for f in self.fields]
        )

    def names(self) -> list[str]:
        return [f["name"] for f in self.fields]

    def to_json(self) -> dict:
        return {"fields": self.fields, "next_id": self.next_id}

    @staticmethod
    def from_json(d: dict) -> "TableSchema":
        return TableSchema(fields=[dict(f) for f in d["fields"]], next_id=d["next_id"])


@dataclass
class _Manifest:
    """Table snapshot metadata.

    `files` is the FULL live file list in memory; on disk it is split into
    immutable **segment files** (`_meta/seg-*.json`, grouped per bucket,
    referenced by `file_segments`) plus a small tail, so a commit
    serializes O(new + churned-bucket entries), not O(total files) — the
    Iceberg manifest-list idea.  At 10^5+ files a flat per-commit JSON
    rewrite is O(table) driver work per micro-batch; segments bound it.
    Loaded entries carry a transient `seg` key naming their segment; a
    segment is reused by the next commit iff ALL its entries are still
    live (count match), otherwise its survivors fall back into the tail.
    """

    version: int
    bucket_key: str | None
    bucket_count: int
    schemas: dict[str, dict]  # schema_version(str) -> TableSchema json
    current_schema: int
    files: list[dict]  # {"path","bucket","schema_version","rows"[,"seg"]}
    properties: dict[str, str] = field(default_factory=dict)
    parent: int | None = None
    file_segments: list[dict] = field(default_factory=list)  # {"path","n"}

    #: per-bucket tail entries above this count get sealed into a segment
    SEAL_PER_BUCKET = 32

    def to_json_split(self, table_path: str) -> str:
        """Serialize, sealing oversized per-bucket tail groups into new
        immutable segment files under `_meta/` (written before the manifest
        pointer — a crash in between leaves only orphan segments)."""
        by_seg: dict[str, list[dict]] = {}
        tail: list[dict] = []
        for f in self.files:
            if f.get("seg"):
                by_seg.setdefault(f["seg"], []).append(f)
            else:
                tail.append(f)
        kept_segments: list[dict] = []
        for seg in self.file_segments:
            entries = by_seg.get(seg["path"], [])
            if len(entries) == seg["n"]:
                kept_segments.append(seg)  # fully live: reuse as-is
            else:
                # partially dead (bucket rewritten): survivors rejoin the tail
                tail.extend({k: v for k, v in e.items() if k != "seg"} for e in entries)
        # seal hot buckets' tails into fresh segments
        by_bucket: dict[int, list[dict]] = {}
        for f in tail:
            by_bucket.setdefault(f["bucket"], []).append(f)
        final_tail: list[dict] = []
        for bucket, entries in sorted(by_bucket.items()):
            if len(entries) > self.SEAL_PER_BUCKET:
                rel = f"_meta/seg-v{self.version}-b{bucket}-{uuid.uuid4().hex[:8]}.json"
                seg_abs = os.path.join(table_path, rel)
                clean = [{k: v for k, v in e.items() if k != "seg"} for e in entries]
                with open(seg_abs, "w") as fh:
                    json.dump(clean, fh)
                    fh.flush()
                    os.fsync(fh.fileno())
                kept_segments.append({"path": rel, "n": len(clean)})
                for e in entries:  # in-memory entries now belong to the segment
                    e["seg"] = rel
            else:
                final_tail.extend(entries)
        self.file_segments = kept_segments
        d = dict(self.__dict__)
        d["files"] = [{k: v for k, v in e.items() if k != "seg"} for e in final_tail]
        return json.dumps(d, indent=1, sort_keys=True)

    @staticmethod
    def from_json(s: str, table_path: str | None = None) -> "_Manifest":
        d = json.loads(s)
        m = _Manifest(**d)
        if m.file_segments and table_path is not None:
            loaded: list[dict] = []
            for seg in m.file_segments:
                with open(os.path.join(table_path, seg["path"])) as fh:
                    for e in json.load(fh):
                        e["seg"] = seg["path"]
                        loaded.append(e)
            m.files = loaded + m.files
        return m


class CommitConflict(RuntimeError):
    pass


class LakeTable:
    """A bucket-partitioned, schema-evolving, atomically-committed parquet table."""

    def __init__(self, path: str, manifest: _Manifest):
        self.path = path
        self.manifest = manifest

    # ---------------------------------------------------------------- create/load

    @staticmethod
    def create(
        path: str,
        cols: list[tuple],
        bucket_key: str | None = None,
        bucket_count: int = 16,
        properties: dict[str, str] | None = None,
    ) -> "LakeTable":
        if LakeTable.exists(path):
            raise FileExistsError(f"table already committed at {path}")
        # A pre-existing path is adopted ONLY when it looks like a resumable
        # half-made layout (a crashed earlier create: no committed manifest,
        # no stray entries).  Silently scaffolding into an existing directory
        # with unrelated content (a typo'd path) would write table data over
        # someone else's files (r4 ADVICE) — fail loudly instead.
        if os.path.isdir(path):
            allowed = {"_meta", "data"}
            stray = set(os.listdir(path)) - allowed
            if stray:
                raise FileExistsError(
                    f"refusing to adopt {path}: existing non-table entries "
                    f"{sorted(stray)[:5]} (not a resumable half-made layout)"
                )
        # exist_ok=True: a crash between these mkdirs and the first manifest
        # publish must be RESUMABLE — with exist_ok=False the retry finds
        # exists() False (no committed v0) yet makedirs raising, bricking the
        # path until manual cleanup.  Single-winner atomicity lives in
        # _publish's os.link (EEXIST => CommitConflict), not in the mkdir.
        os.makedirs(os.path.join(path, "_meta"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        schema = TableSchema.from_cols(cols)
        m = _Manifest(
            version=0,
            bucket_key=bucket_key,
            bucket_count=bucket_count if bucket_key else 1,
            schemas={"0": schema.to_json()},
            current_schema=0,
            files=[],
            properties=dict(properties or {}),
            parent=None,
        )
        t = LakeTable(path, m)
        t._publish(m)
        return t

    @staticmethod
    def load(path: str) -> "LakeTable":
        meta = os.path.join(path, "_meta")
        versions = [
            int(f[1:-5]) for f in os.listdir(meta) if f.startswith("v") and f.endswith(".json")
        ]
        if not versions:
            raise FileNotFoundError(f"no committed version under {meta}")
        v = max(versions)
        with open(os.path.join(meta, f"v{v}.json")) as fh:
            return LakeTable(path, _Manifest.from_json(fh.read(), table_path=path))

    @staticmethod
    def exists(path: str) -> bool:
        meta = os.path.join(path, "_meta")
        return os.path.isdir(meta) and any(f.startswith("v") for f in os.listdir(meta))

    def refresh(self) -> "LakeTable":
        self.manifest = LakeTable.load(self.path).manifest
        return self

    # ---------------------------------------------------------------- schema

    @property
    def schema(self) -> TableSchema:
        return TableSchema.from_json(self.manifest.schemas[str(self.manifest.current_schema)])

    @property
    def version(self) -> int:
        return self.manifest.version

    @property
    def snapshot_id(self) -> int:
        return self.manifest.version

    def bucket_expr(self, df_col=None):
        """bucket(N, key) partition transform: pmod(xxhash64(key), N) — JVM-side."""
        c = df_col if df_col is not None else F.col(self.manifest.bucket_key)
        return F.pmod(F.xxhash64(c), F.lit(self.manifest.bucket_count)).cast("int")

    # ---------------------------------------------------------------- read

    def _read_kind(
        self, spark: SparkSession, kind: str, buckets: list[int] | None
    ) -> DataFrame | None:
        """Read all files of one logical kind mapped to the current schema (by
        column id: rename-safe, null-padded adds, cast widens).  Grouped by
        schema_version so each group is one vectorized parquet scan.  Delta
        (and tombstone) files additionally carry the `_op` marker column."""
        kinds = {"base"} if kind == "base" else {"delta", "tombstone"}
        cur = self.schema
        files = [f for f in self.manifest.files if f.get("kind", "base") in kinds]
        if buckets is not None:
            bset = set(buckets)
            files = [f for f in files if f["bucket"] in bset]
        if not files:
            return None
        by_sv: dict[int, list[str]] = {}
        for f in files:
            by_sv.setdefault(int(f["schema_version"]), []).append(
                os.path.join(self.path, f["path"])
            )
        parts: list[DataFrame] = []
        for sv, paths in sorted(by_sv.items()):
            old = TableSchema.from_json(self.manifest.schemas[str(sv)])
            old_by_id = {f["id"]: f for f in old.fields}
            read_struct = old.to_struct()
            if kind == "delta":
                read_struct = T.StructType(
                    read_struct.fields + [T.StructField(OP_MARKER_COL, T.StringType(), True)]
                )
            raw = spark.read.schema(read_struct).parquet(*paths)
            sel = []
            for f in cur.fields:
                of = old_by_id.get(f["id"])
                if of is None:
                    sel.append(F.lit(None).cast(spark_type(f["type"])).alias(f["name"]))
                else:
                    c = F.col(of["name"])
                    if of["type"] != f["type"]:
                        c = c.cast(spark_type(f["type"]))
                    sel.append(c.alias(f["name"]))
            if kind == "delta":
                sel.append(F.col(OP_MARKER_COL))
            # data sequence number (Iceberg sequence-number analog): every
            # data file name starts "v{commit_version}-" (_stage_write /
            # _stage_write_kinds), so the commit that added a row is a pure
            # column expression on the file name — no manifest join.  LWW
            # ties on the order column resolve to the LATER COMMIT, which is
            # both deterministic and correct: within a bucket a compacted
            # base always has a lower version than any surviving delta, and
            # among deltas the later-applied write wins.
            sel.append(
                F.regexp_extract(F.col("_metadata.file_name"), r"^v(\d+)-", 1)
                .cast("long")
                .alias("_seq")
            )
            parts.append(raw.select(*sel))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def read(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        keep_op_marker: bool = False,
    ) -> DataFrame:
        """Read the current **resolved** snapshot, pruned to `buckets`.

        Merge-on-read: base files union delta files (upsert/delete markers
        from MOR merges), resolved to one surviving row per key.  Resolution
        is **bucket-aligned** (same shape as compact()): the LWW window
        partitions by the table's bucket transform — a function of the key,
        so every key's rows share a bucket — and sorts (key asc, order desc,
        then data sequence number desc: on an equal order value the LATER
        COMMIT wins, which subsumes delta-over-base and makes equal-lsn
        delta-vs-delta ties deterministic — Iceberg's sequence-number rule)
        within it.  One Exchange on the bucket column
        (bounded lanes, reusable by downstream bucket-aligned merges/writes)
        instead of a whole-table hash shuffle keyed on the raw key, which at
        10^10 rows was the single biggest scale cost of resolved reads.
        Tables without deltas skip resolution entirely (plain scan).

        keep_op_marker=True retains the winning delete rows with their `_op`
        column (compaction's tombstone-retention input)."""
        from ape_dts_spark.operators.dedup import lww_dedup_bucket_aligned

        cur = self.schema
        base = self._read_kind(spark, "base", buckets)
        delta = self._read_kind(spark, "delta", buckets)
        if base is None and delta is None:
            out = spark.createDataFrame([], cur.to_struct())
            return out.withColumn(OP_MARKER_COL, F.lit("upsert")) if keep_op_marker else out
        if delta is None:
            base = base.drop("_seq")
            return base.withColumn(OP_MARKER_COL, F.lit("upsert")) if keep_op_marker else base
        order_col = self.manifest.properties.get("merge_order_col", "last_lsn")
        key = self.manifest.bucket_key
        if base is None:
            base = spark.createDataFrame([], cur.to_struct()).withColumn(
                "_seq", F.lit(0).cast("long")
            )
        b = base.withColumn(OP_MARKER_COL, F.lit("upsert"))
        u = b.unionByName(delta).withColumn(BUCKET_COL, self.bucket_expr())
        resolved = lww_dedup_bucket_aligned(
            u, [key], order_col=order_col, bucket_col=BUCKET_COL, tiebreak_cols=["_seq"]
        ).drop("_seq", BUCKET_COL)
        if keep_op_marker:
            return resolved
        return resolved.filter(F.col(OP_MARKER_COL) != "delete").drop(OP_MARKER_COL)

    def input_files(self, buckets: list[int] | None = None) -> list[dict]:
        if buckets is None:
            return list(self.manifest.files)
        bset = set(buckets)
        return [f for f in self.manifest.files if f["bucket"] in bset]

    # ---------------------------------------------------------------- write

    @staticmethod
    def _footer_rows(path: str) -> int:
        """Exact row count from the parquet footer — a driver-side metadata
        read (no Spark job, no data pages).  This is the Iceberg-manifest
        `record_count` analog: at cluster scale the writer tasks report these
        counts in commit metadata; locally the footer is the same source."""
        import pyarrow.parquet as pq

        return pq.read_metadata(path).num_rows

    def _stage_write(
        self,
        df: DataFrame,
        with_bucket_col: bool,
        kind: str = "base",
        pre_clustered: bool = False,
        split_deletes: bool = False,
    ) -> list[dict]:
        """Write df to a staging dir and move data files under data/; returns
        file entries carrying exact per-file `rows` (parquet footer counts).

        pre_clustered=True promises the caller already hash-partitioned df by
        BUCKET_COL (e.g. the bucket-aligned dedup window), so the write needs
        no exchange — each bucket is whole within one task.

        split_deletes=True (delta writes) additionally partitions the staging
        write by a derived `_dl` flag (1 = delete marker) so each bucket's
        upserts and deletes land in separate files and the manifest entries
        carry exact per-bucket (rows, deletes) — the per-lane counters the
        engine's lineage needs, at zero extra passes.  `_op` itself stays a
        data column (the MOR read path needs it); only the derived flag is
        consumed by the directory layout."""
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        if split_deletes and not with_bucket_col:
            raise ValueError("split_deletes requires a bucketed write")
        part_cols = [BUCKET_COL] if with_bucket_col else []
        if split_deletes:
            df = df.withColumn(
                "_dl", F.when(F.col(OP_MARKER_COL) == "delete", F.lit(1)).otherwise(F.lit(0))
            )
            part_cols.append("_dl")
        if with_bucket_col and not pre_clustered:
            # cluster by bucket so each bucket is written by one task -> one
            # file (otherwise every input partition emits a file per bucket:
            # O(partitions x buckets) tiny files).  At real scale raise
            # files_per_bucket via a salt term to honor a target file size.
            df = df.repartition(self.manifest.bucket_count, F.col(BUCKET_COL))
        writer = df.write.mode("overwrite")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(staging)
        entries: list[dict] = []
        nv = self.manifest.version + 1
        try:
            if with_bucket_col:
                for d in sorted(os.listdir(staging)):
                    if not d.startswith(f"{BUCKET_COL}="):
                        continue
                    bucket = int(d.split("=", 1)[1])
                    bdir = os.path.join(staging, d)
                    if split_deletes:
                        for dd in sorted(os.listdir(bdir)):
                            if dd.startswith("_dl="):
                                self._emit_staged(
                                    os.path.join(bdir, dd), bucket, kind, nv,
                                    dd == "_dl=1", entries,
                                )
                    else:
                        self._emit_staged(bdir, bucket, kind, nv, False, entries)
            else:
                self._emit_staged(staging, 0, kind, nv, False, entries)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return entries

    def _emit_staged(
        self,
        src_dir: str,
        bucket: int,
        kind: str,
        nv: int,
        is_delete: bool,
        entries: list[dict],
    ) -> None:
        """The ONE staged-file emitter (move under data/, footer-exact rows,
        manifest entry) shared by _stage_write and _stage_write_kinds — one
        spelling so entry fields can't drift between the write paths."""
        for i, fn in enumerate(sorted(os.listdir(src_dir))):
            if not fn.endswith(".parquet"):
                continue
            rel = f"data/v{nv}-{kind[0]}{bucket}-{i}-{uuid.uuid4().hex[:8]}.parquet"
            dst = os.path.join(self.path, rel)
            shutil.move(os.path.join(src_dir, fn), dst)
            rows = self._footer_rows(dst)
            entries.append(
                {
                    "path": rel,
                    "bucket": bucket,
                    "schema_version": self.manifest.current_schema,
                    "rows": rows,
                    "deletes": rows if is_delete else 0,
                    "kind": kind,
                    "bytes": os.path.getsize(dst),
                }
            )

    def _stage_write_kinds(self, df: DataFrame) -> list[dict]:
        """Compaction write: one pass, partitioned by (`_kind`, bucket).
        df must be pre-clustered by BUCKET_COL and carry a `_kind` column
        ('base' | 'tombstone').  Returns manifest entries for both kinds."""
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        df.write.mode("overwrite").partitionBy("_kind", BUCKET_COL).parquet(staging)
        entries: list[dict] = []
        nv = self.manifest.version + 1
        try:
            for kd in sorted(os.listdir(staging)):
                if not kd.startswith("_kind="):
                    continue
                kind = kd.split("=", 1)[1]
                for d in sorted(os.listdir(os.path.join(staging, kd))):
                    if not d.startswith(f"{BUCKET_COL}="):
                        continue
                    bucket = int(d.split("=", 1)[1])
                    self._emit_staged(
                        os.path.join(staging, kd, d), bucket, kind, nv,
                        kind == "tombstone", entries,
                    )
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return entries

    def _publish(self, m: _Manifest) -> None:
        meta = os.path.join(self.path, "_meta")
        os.makedirs(meta, exist_ok=True)
        tmp = os.path.join(meta, f".tmp-{uuid.uuid4().hex}.json")
        final = os.path.join(meta, f"v{m.version}.json")
        with open(tmp, "w") as fh:
            fh.write(m.to_json_split(self.path))
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, final)  # atomic publish; EEXIST => a concurrent writer won
        except FileExistsError as e:
            raise CommitConflict(f"version {m.version} already committed") from e
        finally:
            os.unlink(tmp)
        self.manifest = m

    def _next_manifest(self, **overrides) -> _Manifest:
        m = self.manifest
        base = dict(
            version=m.version + 1,
            bucket_key=m.bucket_key,
            bucket_count=m.bucket_count,
            schemas={k: dict(v) for k, v in m.schemas.items()},
            current_schema=m.current_schema,
            files=[dict(f) for f in m.files],
            properties=dict(m.properties),
            parent=m.version,
            file_segments=[dict(s) for s in m.file_segments],
        )
        base.update(overrides)
        return _Manifest(**base)

    def append(self, df: DataFrame, properties: dict[str, str] | None = None) -> int:
        """Append rows (no dedup).  df columns must match current schema by name."""
        cur = self.schema
        cols = [F.col(f["name"]).cast(spark_type(f["type"])).alias(f["name"]) for f in cur.fields]
        out = df.select(*cols)
        if self.manifest.bucket_key:
            out = out.withColumn(BUCKET_COL, self.bucket_expr())
            entries = self._stage_write(out, with_bucket_col=True)
        else:
            entries = self._stage_write(out, with_bucket_col=False)
        props = dict(self.manifest.properties)
        props.update(properties or {})
        m = self._next_manifest(files=self.manifest.files + entries, properties=props)
        self._publish(m)
        return m.version

    def append_rows(self, rows: list[tuple], properties: dict[str, str] | None = None) -> int:
        """Driver-side append of a handful of bookkeeping rows (checkpoint /
        lineage) via pyarrow — no Spark job, no shuffle, ~ms instead of a
        full job per micro-batch.  Values must be in schema field order."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        _PA = {
            "string": pa.string(),
            "long": pa.int64(),
            "int": pa.int32(),
            "double": pa.float64(),
            "boolean": pa.bool_(),
            "binary": pa.binary(),
            "timestamp": pa.timestamp("us", tz="UTC"),
        }
        fields = self.schema.fields
        arrays, names = [], []
        for i, f in enumerate(fields):
            names.append(f["name"])
            arrays.append(pa.array([r[i] for r in rows], type=_PA[f["type"]]))
        tbl = pa.Table.from_arrays(arrays, names=names)
        nv = self.manifest.version + 1
        rel = f"data/v{nv}-a0-0-{uuid.uuid4().hex[:8]}.parquet"
        dst = os.path.join(self.path, rel)
        pq.write_table(tbl, dst, compression="snappy")
        entry = {
            "path": rel,
            "bucket": 0,
            "schema_version": self.manifest.current_schema,
            "rows": len(rows),
            "kind": "base",
            "bytes": os.path.getsize(dst),
        }
        props = dict(self.manifest.properties)
        props.update(properties or {})
        m = self._next_manifest(files=self.manifest.files + [entry], properties=props)
        self._publish(m)
        return m.version

    def append_delta(
        self,
        df: DataFrame,
        properties: dict[str, str] | None = None,
        pre_clustered: bool = False,
    ) -> tuple[int, list[int], dict[int, dict[str, int]]]:
        """Merge-on-read fast path: append bucket-partitioned delta files
        carrying upsert/delete markers (`_op`), touching NO existing files.

        O(batch) IO regardless of table size — the scale path for CDC apply;
        readers resolve last-write-wins per key (see read()), and compact()
        folds deltas into base files.  Returns (version, affected buckets,
        per-bucket {"rows", "deletes"} counts) — all derived from the written
        files' footers, no extra Spark job (the reference's per-lane sinked
        counters, counter_type.rs:4-49)."""
        cur = self.schema
        cols = [F.col(f["name"]).cast(spark_type(f["type"])).alias(f["name"]) for f in cur.fields]
        extra = [F.col(OP_MARKER_COL)] + ([F.col(BUCKET_COL)] if BUCKET_COL in df.columns else [])
        out = df.select(*cols, *extra)
        if BUCKET_COL not in df.columns:
            out = out.withColumn(BUCKET_COL, self.bucket_expr())
        entries = self._stage_write(
            out, with_bucket_col=True, kind="delta", pre_clustered=pre_clustered,
            split_deletes=True,
        )
        props = dict(self.manifest.properties)
        props.update(properties or {})
        m = self._next_manifest(files=self.manifest.files + entries, properties=props)
        self._publish(m)
        per_bucket: dict[int, dict[str, int]] = {}
        for e in entries:
            d = per_bucket.setdefault(e["bucket"], {"rows": 0, "deletes": 0})
            d["rows"] += e["rows"]
            d["deletes"] += e.get("deletes", 0)
        return m.version, sorted(per_bucket), per_bucket

    def delta_stats(self) -> dict:
        """Per-kind byte totals + per-bucket delta fraction (compaction input).
        Tombstone files are excluded from delta_fraction so retained delete
        markers never re-trigger compaction by themselves."""
        base_b = sum(f.get("bytes") or 0 for f in self.manifest.files if f.get("kind", "base") == "base")
        delta_b = sum(f.get("bytes") or 0 for f in self.manifest.files if f.get("kind") == "delta")
        per_bucket: dict[int, dict] = {}
        for f in self.manifest.files:
            d = per_bucket.setdefault(f["bucket"], {"base": 0, "delta": 0, "tombstone": 0})
            d[f.get("kind", "base")] += f.get("bytes") or 0
        return {
            "base_bytes": base_b,
            "delta_bytes": delta_b,
            "delta_fraction": delta_b / (base_b + delta_b) if (base_b + delta_b) else 0.0,
            "per_bucket": per_bucket,
        }

    def compact(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        properties: dict[str, str] | None = None,
    ) -> int:
        """Fold delta files into base files (resolved LWW rows), per bucket.

        Targeted: pass `buckets` to compact only the hot ones; default
        compacts every bucket that has deltas.  Atomic single commit.

        Winning delete markers are always kept: they are rewritten into
        tombstone files instead of being dropped, so an out-of-order upsert
        with a lower order value can never resurrect a deleted key.  The
        streaming tail's file source (streaming/stream.py) is not sliced by
        lsn, so such late upserts do arrive there.  Bounded: one tombstone
        per deleted key."""
        if buckets is None:
            buckets = sorted(
                {f["bucket"] for f in self.manifest.files if f.get("kind") == "delta"}
            )
        if not buckets:
            return self.version
        # Bucket-aligned LWW resolution: ONE shuffle (on the bucket column the
        # writes need anyway) instead of window-on-key + repartition-on-bucket,
        # and the resolved frame is persisted so the live and tombstone writes
        # don't each re-read + re-resolve the whole input.
        from ape_dts_spark.operators.dedup import lww_dedup_bucket_aligned

        order_col = self.manifest.properties.get("merge_order_col", "last_lsn")
        key = self.manifest.bucket_key
        cur = self.schema
        base = self._read_kind(spark, "base", buckets)
        delta = self._read_kind(spark, "delta", buckets)
        if base is None:
            base = spark.createDataFrame([], cur.to_struct()).withColumn(
                "_seq", F.lit(0).cast("long")
            )
        b = base.withColumn(OP_MARKER_COL, F.lit("upsert"))
        u = b if delta is None else b.unionByName(delta)
        u = u.withColumn(BUCKET_COL, self.bucket_expr())
        resolved = lww_dedup_bucket_aligned(
            u, [key], order_col=order_col, bucket_col=BUCKET_COL, tiebreak_cols=["_seq"]
        )
        cols = [
            F.col(f["name"]).cast(spark_type(f["type"])).alias(f["name"])
            for f in cur.fields
        ]
        # single staged write for base rows AND tombstones, split by a `_kind`
        # partition dir (one pass over the data — no persist, no re-resolve).
        # Base files carry a vestigial `_op` column; reads use explicit
        # schemas, so extra columns in the file are simply never decoded.
        out = resolved.select(*cols, F.col(OP_MARKER_COL), F.col(BUCKET_COL)).withColumn(
            "_kind",
            F.when(F.col(OP_MARKER_COL) == "delete", F.lit("tombstone")).otherwise(
                F.lit("base")
            ),
        )
        entries = self._stage_write_kinds(out)
        bset = set(buckets)
        kept = [f for f in self.manifest.files if f["bucket"] not in bset]
        props = dict(self.manifest.properties)
        props.update(properties or {})
        m = self._next_manifest(files=kept + entries, properties=props)
        self._publish(m)
        return m.version

    def set_properties(self, properties: dict[str, str]) -> int:
        props = dict(self.manifest.properties)
        props.update(properties)
        m = self._next_manifest(properties=props)
        self._publish(m)
        return m.version

    # ---------------------------------------------------------------- DDL

    def _evolve(self, mutate) -> int:
        """Commit a new schema version (metadata-only; data files untouched)."""
        schema = self.schema
        mutate(schema)
        new_sv = max(int(k) for k in self.manifest.schemas) + 1
        schemas = {k: dict(v) for k, v in self.manifest.schemas.items()}
        schemas[str(new_sv)] = schema.to_json()
        m = self._next_manifest(schemas=schemas, current_schema=new_sv)
        self._publish(m)
        return m.version

    def add_column(self, name: str, typ: str, nullable: bool = True) -> int:
        def mutate(s: TableSchema):
            if name in s.names():
                raise ValueError(f"column {name} already exists")
            if typ not in _TYPES and not typ.startswith("decimal"):
                raise ValueError(f"unknown type {typ}")
            s.fields.append({"id": s.next_id, "name": name, "type": typ, "nullable": nullable})
            s.next_id += 1

        return self._evolve(mutate)

    def rename_column(self, old: str, new: str) -> int:
        def mutate(s: TableSchema):
            if new in s.names():
                raise ValueError(f"column {new} already exists")
            for f in s.fields:
                if f["name"] == old:
                    f["name"] = new
                    return
            raise ValueError(f"no column {old}")

        return self._evolve(mutate)

    def drop_column(self, name: str) -> int:
        """Metadata-only column drop (reference ddl_type.rs DropColumn via
        AlterTable): the field id is retired, data files are untouched, and
        readers simply never select the dropped id again.  Re-adding the same
        name later mints a NEW id, so old values can never resurrect.
        The bucket key cannot be dropped."""
        if name == self.manifest.bucket_key:
            raise ValueError(f"cannot drop bucket key column {name}")

        def mutate(s: TableSchema):
            for i, f in enumerate(s.fields):
                if f["name"] == name:
                    del s.fields[i]
                    return
            raise ValueError(f"no column {name}")

        return self._evolve(mutate)

    def truncate(self) -> int:
        """TRUNCATE TABLE (reference ddl_type.rs TruncateTable): one commit
        with an empty file list; schema, bucket spec and history survive.
        Old data files become unreferenced (time-travel still sees them
        through older manifests).  Idempotent — truncating an empty table
        commits another empty snapshot with the same visible state."""
        m = self._next_manifest(files=[])
        self._publish(m)
        return m.version

    def widen_column(self, name: str, to_type: str) -> int:
        def mutate(s: TableSchema):
            for f in s.fields:
                if f["name"] == name:
                    if f["type"] == to_type:
                        return
                    if (f["type"], to_type) not in _WIDEN_OK:
                        raise ValueError(f"illegal widen {f['type']} -> {to_type}")
                    f["type"] = to_type
                    return
            raise ValueError(f"no column {name}")

        return self._evolve(mutate)

    # ---------------------------------------------------------------- history

    def history(self) -> list[int]:
        meta = os.path.join(self.path, "_meta")
        return sorted(
            int(f[1:-5]) for f in os.listdir(meta) if f.startswith("v") and f.endswith(".json")
        )

    def read_version(self, spark: SparkSession, version: int) -> DataFrame:
        """Time travel: read an older committed snapshot."""
        with open(os.path.join(self.path, "_meta", f"v{version}.json")) as fh:
            return LakeTable(
                self.path, _Manifest.from_json(fh.read(), table_path=self.path)
            ).read(spark)

    def expire_snapshots(self, keep_last: int = 10, dry_run: bool = False) -> dict:
        """Bounded snapshot retention + orphan-file GC (Iceberg
        `expire_snapshots` / `remove_orphan_files` analog).

        Every commit adds a manifest and supersedes data files that stay on
        disk for time travel; at a 10^10-event tail that history grows
        without bound.  This keeps the newest ``keep_last`` manifests,
        deletes the older manifest JSONs FIRST (readers can no longer begin
        resolving an expired version), then deletes data/segment files that
        (a) are referenced by NO kept manifest and (b) carry a version
        prefix ``v{N}-`` at or below the newest expired version — the gate
        that makes GC safe against an in-flight commit, whose freshly-moved
        files always carry a version above every expired one.  A crash
        mid-GC leaves only unreferenced files; the next call removes them.
        Single-writer per table, like every other commit path."""
        meta = os.path.join(self.path, "_meta")
        versions = self.history()
        keep_last = max(1, keep_last)
        expired = versions[:-keep_last]
        report = {
            "kept_versions": versions[-keep_last:],
            "expired_versions": expired,
            "deleted_files": 0,
            "deleted_bytes": 0,
            "dry_run": dry_run,
        }
        if not expired:
            return report
        max_expired = max(expired)
        referenced: set[str] = set()
        seg_referenced: set[str] = set()
        for v in report["kept_versions"]:
            with open(os.path.join(meta, f"v{v}.json")) as fh:
                m = _Manifest.from_json(fh.read(), table_path=self.path)
            referenced.update(f["path"] for f in m.files)
            seg_referenced.update(s["path"] for s in m.file_segments)
        if not dry_run:
            for v in expired:
                os.unlink(os.path.join(meta, f"v{v}.json"))

        def _gc(rel_dir: str, fname_version, refs: set[str]) -> None:
            d = os.path.join(self.path, rel_dir)
            if not os.path.isdir(d):
                return
            for fn in os.listdir(d):
                rel = f"{rel_dir}/{fn}"
                fv = fname_version(fn)
                if fv is None or fv > max_expired or rel in refs:
                    continue
                full = os.path.join(d, fn)
                report["deleted_files"] += 1
                report["deleted_bytes"] += os.path.getsize(full)
                if not dry_run:
                    os.unlink(full)

        def _data_v(fn: str):
            if not (fn.startswith("v") and fn.endswith(".parquet")):
                return None
            try:
                return int(fn[1:].split("-", 1)[0])
            except ValueError:
                return None

        def _seg_v(fn: str):
            if not (fn.startswith("seg-v") and fn.endswith(".json")):
                return None
            try:
                return int(fn[5:].split("-", 1)[0])
            except ValueError:
                return None

        _gc("data", _data_v, referenced)
        _gc("_meta", _seg_v, seg_referenced)
        return report
