"""Incremental NEAR-duplicate detection at ingest — a MinHash sidecar index.

``ContentIndex`` (incremental_dedup.py) answers "has this EXACT content
been ingested before" (md5 equality).  Web corpora also re-crawl *almost*
identical pages — trailing timestamps, rotated ads, template tweaks — that
defeat byte equality.  ``NearDupIndex`` extends the arrival-time question
to Jaccard similarity: "is an arriving page >= t similar to ANY page
already ingested", without rescanning the corpus and without storing its
text.

Design (the same LSH machinery as the batch path, made persistent):

* **signature**: K minhashes per doc via the fused zero-shuffle path
  (``text_dedup.minhash_signatures_fused`` — identical hash family and
  literals as the batch/board operator, so index and batch agree
  bit-for-bit across runs and engines).
* **index rows**: ``(band, sig, doc_id, mhs array<long>)`` — one row per
  band per doc, parquet, bucketed by ``xxhash64(band, sig) mod n_buckets``
  so every row of one band-signature lives in ONE bucket.  Storing the
  full K-long signature on each band row costs x``bands`` duplication
  (~``bands * K * 8`` bytes/doc) and buys verification without a second
  lookup; at extreme scale split sig storage into its own doc-bucketed
  table and pay one extra join.
* **match**: arriving docs compute their band signatures, PRUNE the index
  read to just the buckets those signatures hash into (driver-side
  metadata decision off the table's per-bucket entries — a
  mostly-novel batch touches a sliver of the index), equi-join on
  ``(band, sig)``, then verify each candidate by the unbiased MinHash
  estimate ``est_jaccard = |matching components| / K`` (pure
  ``zip_with``/``filter`` array codegen — the index never re-reads text).
* **hot-band guard**: a boilerplate band-signature shared by 10^6 indexed
  docs would pair with every arriving doc that carries it.  The read
  slice drops (band, sig) groups over ``max_bucket`` via the
  groupBy+anti-join form (``text_dedup._drop_hot_keys`` — no window, the
  megakey never co-locates; counts are EXACT because bucketing guarantees
  the slice holds every row of each group it holds at all).  Docs whose
  overlap rides only on boilerplate bands fall out — the same documented
  trade as the batch LSH cap, and exact re-crawls are caught by
  ``ContentIndex`` anyway.
* **storage and commit**: a LakeTable (``lake/table.py``) at its own
  path, with ``n_buckets``, ``num_hashes``, ``bands`` and ``k_shingle`` in
  the table properties.  Each per-bucket writer task leaves a
  ``data/v{N}-...`` file and the files are committed with
  ``LakeTable.commit_files`` — the table's one fsynced, ``os.link``-
  published commit (single winner; a torn append leaves unreferenced
  files, never a torn index); ``LakeTable.expire_snapshots`` collects
  superseded files.

Scale story at 10^10 indexed pages: appends shuffle O(batch) band rows
once; matches read O(batch-distinct band signatures) buckets of the
index, never the whole table; every per-row computation is codegen or a
bounded equi-join.  Recall is the LSH recall of the (K, bands) choice —
same r/b trade as the batch operator.

Docs with no non-empty shingle produce no signature (matching the batch
path) — they are never indexed and never match.

Oracle: signatures and banding reuse the board-oracled minhash literals,
so DuckDB mirrors ``match_batch`` end-to-end with plain SQL
(``tests/test_neardup_index.py``).
"""

from __future__ import annotations

import os
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ape_dts_spark.lake.table import LakeTable
from ape_dts_spark.operators.incremental_dedup import _entry, _files_by_bucket, _index_stats
from ape_dts_spark.operators.text_dedup import _drop_hot_keys, minhash_signatures_fused

_COLS = [("band", "int"), ("sig", "string"), ("doc_id", "string"), ("mhs", "array<bigint>")]
_PARAMS = ("n_buckets", "num_hashes", "bands", "k_shingle")


def _band_rows(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k_shingle: int,
    num_hashes: int,
    bands: int,
    n_buckets: int,
) -> DataFrame:
    """(doc_id, band, sig, mhs, b): one row per band per doc with the full
    signature alongside, bucketed by hash(band, sig)."""
    sigs = minhash_signatures_fused(
        docs, id_col=id_col, text_col=text_col, k=k_shingle, num_hashes=num_hashes
    )
    rows_per_band = num_hashes // bands
    mh_cols = [F.col(f"mh{i}") for i in range(num_hashes)]
    band_structs = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_structs.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("|", *cols).alias("sig"))
        )
    return sigs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.array(*mh_cols).alias("mhs"),
        F.explode(F.array(*band_structs)).alias("bb"),
    ).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.sig").alias("sig"),
        "mhs",
        F.pmod(F.xxhash64(F.col("bb.band"), F.col("bb.sig")), F.lit(n_buckets))
        .cast("int")
        .alias("b"),
    )


def _bucket_writer(path: str, v: int):
    """The per-bucket ``applyInPandas`` writer of append and compact: one
    data file of distinct (doc_id, band, sig) rows named for commit ``v``."""

    def _emit(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(key[0])
        pdf = pdf.drop_duplicates(subset=["doc_id", "band", "sig"])
        # a uuid per file: a concurrent writer racing on the same version
        # must not overwrite this writer's file before the commit decides
        part = f"data/v{v}-b{b}-{uuid.uuid4().hex[:8]}.parquet"
        pdf[["band", "sig", "doc_id", "mhs"]].to_parquet(os.path.join(path, part), index=False)
        # n_docs: band rows / bands is exact only globally; count band-0
        # rows instead (every sig'd doc emits exactly one band-0 row)
        return pd.DataFrame({"b": [b], "n0": [int((pdf["band"] == 0).sum())], "part": [part]})

    return _emit


class NearDupIndex:
    """Append-only MinHash band-signature index for ingest-time near-dup."""

    def __init__(self, table: LakeTable):
        self.table = table

    # -- lifecycle ---------------------------------------------------------
    @staticmethod
    def create(
        path: str,
        n_buckets: int = 64,
        num_hashes: int = 16,
        bands: int = 4,
        k_shingle: int = 3,
    ) -> "NearDupIndex":
        if num_hashes % bands != 0:
            raise ValueError("num_hashes must divide evenly into bands")
        params = dict(n_buckets=n_buckets, num_hashes=num_hashes, bands=bands, k_shingle=k_shingle)
        return NearDupIndex(
            LakeTable.create(path, _COLS, properties={k: str(v) for k, v in params.items()})
        )

    @staticmethod
    def load(path: str) -> "NearDupIndex":
        return NearDupIndex(LakeTable.load(path))

    def _params(self) -> dict[str, int]:
        return {k: int(self.table.manifest.properties[k]) for k in _PARAMS}

    def _commit(self, written: list, replace: bool = False) -> int:
        """One table commit of the writer tasks' files; ``replace`` swaps
        out every live entry (compaction)."""
        t = self.table
        added = [_entry(t, r["part"], r["b"], docs=r["n0"]) for r in written]
        nb = self._params()["n_buckets"]
        return t.commit_files(added, replace_buckets=range(nb) if replace else None)

    # -- signatures --------------------------------------------------------
    def band_rows(
        self, batch: DataFrame, text_col: str = "text", id_col: str = "url"
    ) -> DataFrame:
        """The batch's band-signature frame (doc_id, band, sig, mhs, b)
        under this index's pinned parameters.

        The signature projection is the expensive part of both ``append``
        and ``match_batch`` — a caller doing match-then-append on the same
        batch (the CDC engine's shape) should compute this ONCE, eagerly
        materialize it (``localCheckpoint`` — it is narrow: ~200 bytes x
        bands per doc), and pass it to both via their ``rows=`` parameter,
        halving the per-batch signature cost."""
        m = self._params()
        return _band_rows(
            batch, text_col, id_col, m["k_shingle"], m["num_hashes"], m["bands"],
            m["n_buckets"],
        )

    # -- write path --------------------------------------------------------
    def append(
        self,
        batch: DataFrame,
        text_col: str = "text",
        id_col: str = "url",
        rows: DataFrame | None = None,
    ) -> int:
        """Index a batch; returns new total_docs (docs with >=1 shingle).

        One batch-sized shuffle (groupBy bucket), one parquet file per
        touched bucket per append.  Re-appending an id overwrites nothing —
        both generations match future batches identically (same content =>
        same sig); stale generations cost index bytes AND inflate
        ``total_docs`` and the exact per-(band, sig) counts that
        ``match_batch``'s ``max_bucket`` hot cap sees (compact() only
        collapses IDENTICAL (doc_id, band, sig) rows, so a doc re-appended
        with changed content keeps its old band rows forever): enough churn
        on one signature can spuriously trip the cap and silently lose
        recall on legitimately shared signatures.  Rebuild into a fresh
        index when generation churn matters (r5 ADVICE).

        Batches are expected id-unique (the CDC engine's are LWW-deduped);
        a repeated (doc_id, band, sig) row is collapsed inside its bucket
        writer — deliberately NOT a Spark-side dropDuplicates: that
        exchange gets AQE-coalesced to ONE partition on batch-sized inputs,
        and the expensive signature projection above it then runs serially
        (measured 16x: 16s -> 252s on a 10k-doc batch).  Identical rows
        hash to the same bucket, so the pandas-side dedup is exact with
        zero extra shuffle and the signatures keep the caller's (parallel)
        partitioning."""
        if rows is None:
            rows = self.band_rows(batch, text_col, id_col)
        written = (
            rows.groupBy("b")
            .applyInPandas(
                _bucket_writer(self.table.path, self.table.version + 1),
                schema="b int, n0 long, part string",
            )
            .collect()
        )
        self._commit(written)
        return self.stats()["total_docs"]

    # -- read path ---------------------------------------------------------
    def match_batch(
        self,
        spark: SparkSession,
        batch: DataFrame,
        text_col: str = "text",
        id_col: str = "url",
        threshold: float = 0.7,
        max_bucket: int | None = 64,
        rows: DataFrame | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """(fresh, dups): batch rows with no / at least one indexed
        near-duplicate at ``est_jaccard >= threshold``.

        ``dups`` carries the batch columns plus the BEST match's
        ``matched_id`` and ``est_jaccard`` (max estimate, ties to the
        LEXICOGRAPHICALLY smallest matched_id — ids are carried as strings,
        the key domain being urls; numeric ids tie-break as their string
        forms).  A batch doc whose id is already indexed matches itself at
        1.0 — filter ``dups`` on ``matched_id != id`` when re-crawls of the
        SAME key should pass.  NB: the engine's near-dup filter applies
        NO such exemption — a same-key re-INSERT with near-identical text
        (e.g. insert-after-delete; deletes never purge the sidecar)
        self-matches and is dropped, the same content-ingested-once
        contract the ContentIndex documents (EngineConfig
        ``content_index_path`` notes).  Docs with no shingles are always
        fresh."""
        data = _files_by_bucket(self.table)
        if not data:
            return batch, batch.limit(0)
        if rows is None:
            rows = self.band_rows(batch, text_col, id_col)
        rows = rows.select("doc_id", "band", "sig", "mhs", "b")

        # prune the index read to the buckets the batch's band sigs hash
        # into — driver-side metadata decision, O(batch distinct sigs)
        need = sorted(r["b"] for r in rows.select("b").distinct().collect())
        files = [p for b in need for p in data.get(b, [])]
        if not files:
            return batch, batch.limit(0)
        idx = spark.read.parquet(*files).select(
            "band", "sig", F.col("doc_id").alias("matched_id"), F.col("mhs").alias("_imhs")
        )
        if max_bucket is not None:
            # counts over the slice are exact per (band, sig): bucketing
            # puts every row of a band-signature in one bucket, and the
            # slice holds whole buckets
            idx = _drop_hot_keys(idx, ["band", "sig"], max_bucket)

        K = self._params()["num_hashes"]
        est = (
            F.size(F.filter(F.zip_with("mhs", "_imhs", lambda x, y: x == y), lambda v: v))
            / F.lit(float(K))
        ).alias("est_jaccard")
        # score per band-collision row, THEN collapse the pair: the same
        # pair via several bands yields the identical estimate, so the
        # narrow (doc_id, matched_id, double) agg replaces a distinct over
        # rows carrying both K-long signature arrays — the estimate costs
        # K comparisons, the wide shuffle costs 2*K*8 bytes per row
        scored = (
            rows.join(idx, ["band", "sig"])
            .select("doc_id", "matched_id", est)
            .filter(F.col("est_jaccard") >= threshold)
            .groupBy("doc_id", "matched_id")
            .agg(F.max("est_jaccard").alias("est_jaccard"))
        )
        # best match per arriving doc: max estimate, ties resolved to the
        # smallest matched_id — two map-side-combinable aggs, no window
        top = scored.groupBy("doc_id").agg(F.max("est_jaccard").alias("est_jaccard"))
        pick = (
            scored.join(top, ["doc_id", "est_jaccard"])
            .groupBy("doc_id", "est_jaccard")
            .agg(F.min("matched_id").alias("matched_id"))
        )
        keyed = batch.withColumn("_did", F.col(id_col).cast("string"))
        dups = keyed.join(
            pick.withColumnRenamed("doc_id", "_did"), "_did"
        ).drop("_did")
        fresh = keyed.join(pick.select(F.col("doc_id").alias("_did")), "_did", "left_anti").drop(
            "_did"
        )
        return fresh, dups

    # -- maintenance -------------------------------------------------------
    def compact(self, spark: SparkSession) -> int:
        """Fold each bucket's N per-append files into ONE file; returns the
        new table version.

        Every append adds a file per touched bucket, so a per-batch CDC
        engine accumulates files linearly with batch count (10k batches x
        64 buckets = 640k small files) — the per-match read then pays file
        listing/footer overhead instead of data.  Compaction is one
        distributed pass (a task per bucket re-reads that bucket's files,
        collapsing repeated (doc_id, band, sig) generations) and one table
        commit that replaces every entry; superseded files become
        unreferenced, never a torn index (``LakeTable.expire_snapshots``
        deletes them once no kept snapshot names them).  Run when
        stats()['max_files_per_bucket'] makes match latency file-bound —
        tens are fine, thousands are not."""
        files = [p for ps in _files_by_bucket(self.table).values() for p in ps]
        if not files:
            return self.table.version
        rows = spark.read.parquet(*files).withColumn(
            "b",
            F.pmod(F.xxhash64(F.col("band"), F.col("sig")), F.lit(self._params()["n_buckets"]))
            .cast("int"),
        )
        written = (
            rows.groupBy("b")
            .applyInPandas(
                _bucket_writer(self.table.path, self.table.version + 1),
                schema="b int, n0 long, part string",
            )
            .collect()
        )
        return self._commit(written, replace=True)

    def stats(self) -> dict:
        return {**_index_stats(self.table, "total_docs", "docs"), "params": self._params()}
