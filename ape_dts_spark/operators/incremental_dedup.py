"""Incremental content dedup at ingest time — a bloom-sidecar hash index.

The batch dedup family (``operators/text_dedup.py``) answers "which docs in
THIS corpus duplicate each other".  A CDC-fed corpus needs the incremental
question: "which of the pages that just ARRIVED already exist somewhere in
the 100-TB historical table" — without rescanning the table per batch.
(Reference analog: ape-dts solves arrival-idempotence per KEY via MERGE;
this operator extends it to CONTENT identity across keys, the dedup a
training-data pipeline runs at ingest.)

``ContentIndex`` is a narrow append-only sidecar of content hashes, kept
as a LakeTable (``lake/table.py``) at its own path, with ``n_buckets`` in
the table properties:

* **data**: parquet rows ``(h: 32-hex md5 of the text bytes, b: bucket,
  url)``, bucketed by ``b = h mod n_buckets``; each file is a table entry
  of bucket ``b``.
* **bloom segments**: per append, per bucket, a right-sized bloom segment
  (``BITS_PER_KEY`` bits/key, double hashing from two independent 60-bit
  halves of the md5), stored under the same ``data/`` as an entry of kind
  ``bloom`` that no LakeTable reader selects.  Membership = positive in
  ANY segment of the bucket; ``compact`` folds each bucket's data files and
  segments into one of each.

Appends and compactions write ``data/v{N}-...`` files from per-bucket
``applyInPandas`` tasks and commit them with ``LakeTable.commit_files`` —
the table's one fsynced, ``os.link``-published commit (single winner; a
losing or crashed writer leaves only unreferenced files, never a torn
index) — and ``LakeTable.expire_snapshots`` collects superseded files.

``dedup_batch`` is a two-phase filter, exact by construction:

1. **bloom phase** (cheap, distributed): the batch is grouped by bucket
   and each group is checked against ITS bucket's bloom segments inside an
   Arrow ``applyInPandas`` — pure numpy modular arithmetic, no per-row
   Python.  Misses are definitively fresh (blooms have no false
   negatives); survivors are *candidates*.
2. **verify phase** (exact): candidates are joined against the index
   parquet — but only the data files of the candidate BUCKETS are read
   (the manifest keeps per-bucket file lists), and with a low-FPR bloom
   the candidate set is a whisker above the true-dup set, so a
   mostly-fresh batch touches almost none of the index.

Scale story at 10^10 indexed pages: the index is ~50 bytes/key of parquet
and ~2 bytes/key of bloom.  A batch never reads more of it than the
buckets its own candidates hash into, the bloom check streams one bucket's
segments per task (segments are per-batch-sized, not index-sized), and the
only shuffles are the batch-side hash repartitions — O(batch), never
O(index).  The output contract is exact md5 equality, so the DuckDB oracle
is a plain anti-join (``tests/test_incremental_dedup.py``).
"""

from __future__ import annotations

import os
import uuid
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ape_dts_spark.lake.table import LakeTable

#: bloom sizing: 16 bits/key + 7 probes => ~0.2% false-positive rate.
BITS_PER_KEY = 16
N_PROBES = 7

#: entry kind of a bloom segment: committed with the data files, selected
#: by no LakeTable reader
BLOOM = "bloom"

_COLS = [("h", "string"), ("b", "int"), ("url", "string")]


def content_hash(text_col):
    """32-hex md5 of the column's bytes — the exact-dedup content identity.

    Engine-portable (DuckDB: ``md5(text)``), deterministic across runs and
    parallelism, and wide enough (128 bits) that hash equality IS content
    equality at any realistic corpus size."""
    return F.md5(F.col(text_col).cast("binary"))


def _with_hash_cols(df: DataFrame, text_col: str, n_buckets: int) -> DataFrame:
    """h + bucket + the two independent 60-bit halves double hashing needs.

    All JVM-side (conv/substring codegen) so the pandas bloom check below
    receives ready-made int64s and never parses hex in Python."""
    h = content_hash(text_col)
    h1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 17, 15), 16, 10).cast("long")
    return df.withColumns(
        {
            "h": h,
            "b": F.pmod(h1, F.lit(n_buckets)).cast("int"),
            "h1": h1,
            # odd h2 keeps the double-hash probe sequence full-period even
            # when the (byte-rounded) segment size is a multiple of 2.
            "h2": h2 * F.lit(2) + F.lit(1),
        }
    )


def _segment_bits(n_keys: int) -> int:
    # numpy packbits works in bytes; round up to a whole byte, floor 1 KiB
    # so tiny batches don't make degenerate blooms.
    return max(8 * 1024, ((n_keys * BITS_PER_KEY + 7) // 8) * 8)


def _positions(h1: np.ndarray, h2: np.ndarray, m: int) -> np.ndarray:
    """(len, N_PROBES) probe positions via double hashing, vectorized.

    Reduce mod m BEFORE the multiply: h1,h2 carry up to 61 bits, so
    h1 + 6*h2 would overflow int64 (wrapping is consistent but warns and
    leans on C semantics); (h2 % m) * 6 stays far inside int64 for any
    realistic segment size."""
    i = np.arange(N_PROBES, dtype=np.int64)
    return ((h1 % m)[:, None] + i[None, :] * (h2 % m)[:, None]) % m


def _build_segment(h1: np.ndarray, h2: np.ndarray) -> bytes:
    m = _segment_bits(len(h1))
    bits = np.zeros(m, dtype=np.uint8)
    bits[_positions(h1, h2, m).ravel()] = 1
    return np.packbits(bits).tobytes()


def _check_segment(blob: bytes, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    bits = np.unpackbits(np.frombuffer(blob, dtype=np.uint8))
    pos = _positions(h1, h2, len(bits))
    return bits[pos].all(axis=1)


def _files_by_bucket(table: LakeTable, kind: str = "base") -> dict[int, list[str]]:
    """Absolute paths of the live entries of one kind, per bucket, in
    commit order — the driver-side metadata the index reads prune with."""
    out: dict[int, list[str]] = {}
    for f in table.manifest.files:
        if f.get("kind", "base") == kind:
            out.setdefault(f["bucket"], []).append(os.path.join(table.path, f["path"]))
    return out


def _entry(table: LakeTable, rel: str, bucket: int, kind: str = "base", **counts) -> dict:
    """Table entry for a file an index writer task left under ``data/``."""
    return {
        "path": rel,
        "bucket": bucket,
        "schema_version": table.manifest.current_schema,
        "kind": kind,
        "bytes": os.path.getsize(os.path.join(table.path, rel)),
        **counts,
    }


def _index_stats(table: LakeTable, total: str, count: str) -> dict:
    """An index's stats() from its live data entries: ``total`` sums the
    entries' ``count`` field; ``max_files_per_bucket`` drives compaction."""
    data = [f for f in table.manifest.files if f.get("kind", "base") == "base"]
    per_bucket = Counter(f["bucket"] for f in data)
    return {
        total: sum(f[count] for f in data),
        "version": table.version,
        "buckets_touched": len(per_bucket),
        "max_files_per_bucket": max(per_bucket.values(), default=0),
    }


def _bucket_writer(path: str, v: int):
    """The per-bucket ``applyInPandas`` writer of append and compact: one
    data file and one bloom segment of distinct hashes, both named for
    commit ``v``."""

    def _emit(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(key[0])
        pdf = pdf.drop_duplicates(subset=["h"])
        # a uuid per file: a concurrent writer racing on the same version
        # must not overwrite this writer's files before the commit's
        # os.link decides the single winner
        name = f"data/v{v}-b{b}-{uuid.uuid4().hex[:8]}"
        part, bloom = f"{name}.parquet", f"{name}.bloom"
        pdf[["h", "b", "url"]].to_parquet(os.path.join(path, part), index=False)
        blob = _build_segment(pdf["h1"].to_numpy(np.int64), pdf["h2"].to_numpy(np.int64))
        with open(os.path.join(path, bloom), "wb") as fh:
            fh.write(blob)
        return pd.DataFrame({"b": [b], "n": [len(pdf)], "part": [part], "bloom": [bloom]})

    return _emit


class ContentIndex:
    """Append-only content-hash index with per-bucket bloom segments."""

    def __init__(self, table: LakeTable):
        self.table = table

    # -- lifecycle ---------------------------------------------------------
    @staticmethod
    def create(path: str, n_buckets: int = 64) -> "ContentIndex":
        return ContentIndex(
            LakeTable.create(path, _COLS, properties={"n_buckets": str(n_buckets)})
        )

    @staticmethod
    def load(path: str) -> "ContentIndex":
        return ContentIndex(LakeTable.load(path))

    def _commit(self, written: list, replace: bool = False) -> int:
        """One table commit of the writer tasks' files; ``replace`` swaps
        out every live entry (compaction)."""
        t = self.table
        added = []
        for r in written:
            added.append(_entry(t, r["part"], r["b"], rows=r["n"]))
            added.append(_entry(t, r["bloom"], r["b"], BLOOM, rows=r["n"]))
        nb = int(t.manifest.properties["n_buckets"])
        return t.commit_files(added, replace_buckets=range(nb) if replace else None)

    # -- write path ---------------------------------------------------------
    def append(self, batch: DataFrame, text_col: str = "text", id_col: str = "url") -> int:
        """Index a batch's content hashes; returns new total_keys.

        One batch-sized shuffle (repartition by bucket), one parquet write
        per touched bucket, one bloom segment per touched bucket built
        map-side and collected (segments are 2 bytes/key of THIS batch —
        driver traffic is O(batch), never O(index))."""
        nb = int(self.table.manifest.properties["n_buckets"])
        hashed = (
            _with_hash_cols(batch, text_col, nb)
            .select("h", "b", "h1", "h2", F.col(id_col).cast("string").alias("url"))
            .dropDuplicates(["h"])
        )
        written = (
            hashed.groupBy("b")
            .applyInPandas(
                _bucket_writer(self.table.path, self.table.version + 1),
                schema="b int, n long, part string, bloom string",
            )
            .collect()
        )
        self._commit(written)
        return self.stats()["total_keys"]

    # -- read path ----------------------------------------------------------
    def dedup_batch(
        self,
        spark: SparkSession,
        batch: DataFrame,
        text_col: str = "text",
        id_col: str = "url",
    ) -> tuple[DataFrame, DataFrame]:
        """(fresh, dups): batch rows whose content is absent / present in
        the index.  Exact (md5-equality) output; the bloom only prunes.

        ``dups`` carries the batch columns plus ``h`` so callers can audit
        or route duplicates (e.g. count-only lineage) without recompute.
        Intra-batch duplicates are NOT collapsed here — compose with
        ``text_dedup.exact_dedup`` when the batch itself may self-dup."""
        nb = int(self.table.manifest.properties["n_buckets"])
        blooms = _files_by_bucket(self.table, BLOOM)
        hashed = _with_hash_cols(batch, text_col, nb)
        keep = [c for c in hashed.schema.fieldNames() if c not in ("b", "h1", "h2")]
        if not blooms:
            fresh = hashed.select(*keep)
            return fresh, fresh.limit(0)

        def _bloom_check(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            segs = blooms.get(int(key[0]), [])
            out = pdf[["h", "b"]]
            if not segs:
                return out.iloc[0:0]
            h1 = pdf["h1"].to_numpy(np.int64)
            h2 = pdf["h2"].to_numpy(np.int64)
            hit = np.zeros(len(pdf), dtype=bool)
            for p in segs:
                todo = ~hit
                if not todo.any():
                    break
                with open(p, "rb") as fh:
                    blob = fh.read()
                hit[todo] |= _check_segment(blob, h1[todo], h2[todo])
            return out[hit]

        # bloom phase ships ONLY (h,b,h1,h2) through Arrow — never the
        # page payload.  The candidate frame is deliberately recomputed
        # (bucket-list collect + verify join) rather than persisted: the
        # stage is batch-sized codegen md5 + numpy, and an unpinned cache
        # can't leak across pipeline invocations (ADVICE r4 pattern).
        candidates = (
            hashed.select("h", "b", "h1", "h2")
            .groupBy("b")
            .applyInPandas(_bloom_check, schema="h string, b int")
        )

        # exact verify: read ONLY the candidate buckets' index files — a
        # driver-side metadata decision off the table's per-bucket
        # entries.  With a ~0.2% FPR bloom a mostly-fresh batch confirms
        # against a sliver of the index; the join is hash-on-h both
        # sides, AQE-skew-splittable.
        cand_buckets = sorted(
            r["b"] for r in candidates.select("b").distinct().collect()
        )
        data = _files_by_bucket(self.table)
        files = [p for b in cand_buckets for p in data.get(b, [])]
        if not files:
            fresh = hashed.select(*keep)
            return fresh, fresh.limit(0)
        index_df = spark.read.parquet(*files).select("h")
        confirmed = (
            candidates.join(index_df, "h", "left_semi").select("h").distinct()
        )

        dups = hashed.join(confirmed, "h", "left_semi").select(*keep)
        fresh = hashed.join(confirmed, "h", "left_anti").select(*keep)
        return fresh, dups

    # -- maintenance ----------------------------------------------------------
    def stats(self) -> dict:
        return _index_stats(self.table, "total_keys", "rows")

    def compact(self, spark: SparkSession) -> int:
        """Fold each bucket's N per-append data files into ONE file and its
        bloom segments into one right-sized segment; returns the new
        table version.

        Appends add a data file + bloom segment per touched bucket, so a
        per-batch CDC engine accumulates files linearly with batch count —
        verify-joins then pay file listing/footer overhead and the bloom
        check loops over per-batch segments.  One distributed pass (a task
        per bucket re-reads that bucket's files, dropping duplicate hashes)
        + one table commit that replaces every entry; superseded files
        become unreferenced, never a torn index."""
        files = [p for ps in _files_by_bucket(self.table).values() for p in ps]
        if not files:
            return self.table.version
        rows = spark.read.parquet(*files).select(
            "h",
            "b",
            F.conv(F.substring("h", 1, 15), 16, 10).cast("long").alias("h1"),
            (F.conv(F.substring("h", 17, 15), 16, 10).cast("long") * 2 + 1).alias("h2"),
            "url",
        )
        written = (
            rows.groupBy("b")
            .applyInPandas(
                _bucket_writer(self.table.path, self.table.version + 1),
                schema="b int, n long, part string, bloom string",
            )
            .collect()
        )
        return self._commit(written, replace=True)
