"""ape_dts_spark — a from-scratch PySpark-native CDC / incremental-ingest engine.

Reproduces the replication semantics of the reference engine ape-dts
(snapshot seed + LSN-ordered change-stream tail -> last-write-wins keyed
MERGE into a lake table, with schema-evolution DDL barriers, exactly-once
via idempotent merge + checkpointed high-watermark, per-batch lineage) —
re-expressed Spark-first: DataFrame/SQL + bucket-aligned window dedup +
merge-on-read delta append + Arrow pandas UDF extraction.

This is NOT a port of the reference (a Rust tokio dataflow,
/root/reference); see SURVEY.md for the semantic mapping.
"""

__version__ = "0.1.0"

from ape_dts_spark.lake.table import LakeTable
from ape_dts_spark.streaming.driver import CdcEngine, EngineConfig

__all__ = ["LakeTable", "CdcEngine", "EngineConfig", "__version__"]
