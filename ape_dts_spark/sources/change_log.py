"""ChangeLog — a driver-side log of the change directory's parquet files.

The lake source's position is a file-level meta list (the reference's
``FoxlakeS3{s3_meta_file}`` position): the follower needs to know, per data
file, its schema and the lsn range it holds.  The log keeps exactly that,
``(path, footer schema, lsn min/max, rows)``, read from each file's parquet
footer once, when a listing first shows the file.  Everything the follower
asks of the source comes from it without a Spark job: the published max lsn,
whether anything is published at all, the read schema, and the files a batch
``(lo, hi]`` has to scan.

Listing follows Spark's file reader: names starting with ``_`` or ``.``
(``_SUCCESS``, ``.crc`` files, ``_temporary/``) and in-flight
``._COPYING_`` files are skipped, and the path may name a single file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ape_dts_spark.lake.table import _WIDEN_OK, spark_type

#: widen pairs as Spark typeName() strings — the promote whitelist IS
#: widen_column's whitelist (a literal copy of it drifted once)
PROMOTE = {(spark_type(a).typeName(), spark_type(b).typeName()) for a, b in _WIDEN_OK}
#: pairs Spark's parquet reader up-casts AT SCAN TIME (probed on this engine:
#: every _WIDEN_OK pair EXCEPT long->double, whose 64-bit mantissa cannot
#: widen losslessly into double's 52)
READER_PROMOTE = PROMOTE - {("long", "double")}


def _widens(a: T.DataType, b: T.DataType, pairs=PROMOTE) -> bool:
    return a == b or (a.typeName(), b.typeName()) in pairs


@dataclass(frozen=True)
class ChangeFile:
    path: str
    schema: T.StructType  # footer schema, every field nullable
    lsn_min: int | None  # None: no non-null lsn (zero rows, or no lsn column)
    lsn_max: int | None
    rows: int


def list_data_files(path: str) -> list[str]:
    """Data files under `path` in sorted order, skipped names as Spark's
    reader skips them; a missing path lists nothing."""
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out.extend(
            os.path.join(root, f)
            for f in files
            if not f.startswith(("_", ".")) and not f.endswith("._COPYING_")
        )
    return sorted(out)


def scan(spark: SparkSession, schema: T.StructType, files: list[ChangeFile]) -> DataFrame:
    """One parquet read of `files`, as a union of reads of at most
    spark.sql.sources.parallelPartitionDiscovery.threshold paths each: Spark
    lists more root paths than that with a Spark job (0.3-0.6 s per read
    at local[4] on a 4-CPU host)."""
    n = int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
    paths = [f.path for f in files]
    parts = [spark.read.schema(schema).parquet(*paths[i : i + n]) for i in range(0, len(paths), n)]
    return reduce(DataFrame.unionByName, parts)


def read_footer(path: str) -> ChangeFile:
    """One footer read: the schema, the row count, and the lsn range from
    row-group statistics.  A file whose non-empty row groups lack lsn
    min/max statistics has its lsn column read instead."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    with pq.ParquetFile(path) as pf:
        arrow = pf.schema_arrow
        md = pf.metadata
        lo = hi = None
        if md.num_rows and "lsn" in arrow.names:
            col = arrow.names.index("lsn")
            stats = [
                md.row_group(i).column(col).statistics
                for i in range(md.num_row_groups)
                if md.row_group(i).num_rows
            ]
            if all(s is not None and s.has_min_max for s in stats):
                lo = min(s.min for s in stats)
                hi = max(s.max for s in stats)
            else:
                mm = pc.min_max(pf.read(columns=["lsn"]).column("lsn")).as_py()
                lo, hi = mm["min"], mm["max"]
    schema = T.StructType([T.StructField(f.name, from_arrow_type(f.type), True) for f in arrow])
    return ChangeFile(path, schema, lo, hi, md.num_rows)


class ChangeLog:
    def __init__(self, path: str):
        self.path = path
        self.files: list[ChangeFile] = []

    def refresh(self) -> "ChangeLog":
        """Re-list the directory; only files not seen before pay a footer
        read.  Files gone from the listing leave the log."""
        seen = {f.path: f for f in self.files}
        self.files = [seen.get(p) or read_footer(p) for p in list_data_files(self.path)]
        return self

    def max_lsn(self) -> int:
        return max((f.lsn_max for f in self.files if f.lsn_max is not None), default=0)

    def columns(self) -> dict[str, set]:
        """column name -> the footer types it has across the files, in
        first-seen order."""
        types: dict[str, set] = {}
        for f in self.files:
            for fld in f.schema.fields:
                types.setdefault(fld.name, set()).add(fld.dataType)
        return types

    def read_schema(
        self, sink: dict[str, T.DataType], added: dict[str, T.DataType]
    ) -> T.StructType:
        """The schema every batch reads with, reconciled over all footers:
        a column takes the sink's type when every footer type equals or
        widens to it (PROMOTE), else the footer type every other footer
        type widens to.  Columns in `added` (announced by add_column DDL)
        that no footer carries yet are appended — only those: arbitrary
        sink columns would project phantom NULLs over real values."""
        fields = []
        types = self.columns()
        for name, cands in types.items():
            t = sink.get(name)
            if t is None or not all(_widens(ft, t) for ft in cands):
                t = next(
                    (c for c in cands if all(_widens(o, c) for o in cands)),
                    next(iter(cands)),
                )
            fields.append(T.StructField(name, t, True))
        for name, t in added.items():
            if name not in types:
                fields.append(T.StructField(name, t, True))
        return T.StructType(fields)

    def overlapping(self, lo: int, hi: int) -> list[ChangeFile]:
        """The files holding an lsn in (lo, hi]."""
        return [
            f for f in self.files if f.lsn_max is not None and f.lsn_max > lo and f.lsn_min <= hi
        ]

    @staticmethod
    def scan_schema(target: T.StructType, files: list[ChangeFile]) -> T.StructType | None:
        """`target` when one parquet scan decodes every file of `files`
        (each footer type equals or reader-promotes to the target type),
        else None."""
        tmap = {f.name: f.dataType for f in target.fields}
        ok = all(
            _widens(fld.dataType, tmap[fld.name], READER_PROMOTE)
            for f in files
            for fld in f.schema.fields
        )
        return target if ok else None

    def read(self, spark: SparkSession, lo: int, hi: int, target: T.StructType) -> DataFrame:
        """The change events with lo < lsn <= hi, scanning only the files
        whose lsn range meets the slice: one scan when `scan_schema` allows
        it, otherwise one scan per footer schema (bounded by the DDL
        count) at the reader-decodable types, cast to `target`, unioned."""
        files = self.overlapping(lo, hi)
        if not files:
            df = spark.createDataFrame([], target)
        elif self.scan_schema(target, files) is not None:
            df = scan(spark, target, files)
        else:
            groups: dict[str, list[ChangeFile]] = {}
            for f in files:
                groups.setdefault(f.schema.simpleString(), []).append(f)
            parts = []
            for group in groups.values():
                gtypes = {fld.name: fld.dataType for fld in group[0].schema.fields}
                # the target type where the reader decodes it, else the
                # footer type, cast after the scan
                read_fields = []
                for fld in target.fields:
                    ft = gtypes.get(fld.name, fld.dataType)
                    ok = _widens(ft, fld.dataType, READER_PROMOTE)
                    read_fields.append(T.StructField(fld.name, fld.dataType if ok else ft, True))
                part = scan(spark, T.StructType(read_fields), group)
                parts.append(
                    part.select([F.col(f.name).cast(f.dataType).alias(f.name) for f in target.fields])
                )
            df = reduce(DataFrame.unionByName, parts)
        return df.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
