"""Stream/key profiling: the measurements that drive salting decisions.

The north-rule job salts the url shuffle to defeat hot-domain skew; this
module computes the evidence — per-key hotness and skew ratios over a
change batch — so an operator (or a human) can pick
`files_per_bucket` from data instead of folklore.  Reference analog: the
monitor's per-table rps counters (dt-common/src/monitor/), which are the
only skew signal ape-dts exposes.

All JVM-side aggregations; the report is O(distinct keys) reduced to
top-k + scalars, so it is safe to run inline on every batch at 10^10
events (it shares the batch's scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_key_report(
    changes: DataFrame, key_col: str = "url", top_k: int = 20
) -> tuple[DataFrame, DataFrame]:
    """-> (top-k hot keys with counts, one-row skew summary).

    Summary columns: n_events, n_keys, mean_per_key, max_per_key,
    skew_ratio (max/mean — >buckets means one key floods a whole
    bucket-task and salting is warranted), top1_frac.
    """
    counts = changes.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col(key_col).asc()).limit(top_k)
    # The ratios are rounded in EXACT integer space (round-half-up on the
    # true rational via `(2*10^p*num + den) div (2*den)`, decimal(38,0) so
    # 10^10-scale products can't overflow), NOT with round() on a double:
    # round(max/avg, 2) lands on representation boundaries (e.g. a true
    # quotient of 1.485 is the double 1.48499999999999987, which DuckDB
    # rounds to 1.49 and Spark to 1.48 — a reproduced cross-engine parity
    # failure).  The SQL oracle mirrors the same integer formula with
    # HUGEINT `//`, so both engines agree bit-for-bit.
    raw = counts.agg(
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_per_key"),
    )
    summary = raw.select(
        F.col("n_events"),
        F.col("n_keys"),
        (
            F.expr("(CAST(200 AS DECIMAL(38,0)) * n_events + n_keys) div (2 * n_keys)")
            / 100.0
        ).alias("mean_per_key"),
        F.col("max_per_key"),
        (
            F.expr(
                "(CAST(200 AS DECIMAL(38,0)) * max_per_key * n_keys + n_events)"
                " div (2 * n_events)"
            )
            / 100.0
        ).alias("skew_ratio"),
        (
            F.expr("(CAST(20000 AS DECIMAL(38,0)) * max_per_key + n_events) div (2 * n_events)")
            / 10000.0
        ).alias("top1_frac"),
    )
    return top, summary


def suggest_salt(summary_row, bucket_count: int, target_rows_per_task: int = 500_000) -> int:
    """Salt factor suggestion from a hot_key_report summary row: enough
    lanes that the hottest key's rows split below the target task size.

    Capped at min(64, bucket_count): salt multiplies lanes *per bucket*, so
    more salt lanes than buckets adds shuffle fan-out without adding sink
    parallelism — past that, raise the table's bucket_count instead (a
    warning says so when the hot key needs more lanes than the cap)."""
    max_per_key = summary_row["max_per_key"] or 0
    need = max(1, -(-int(max_per_key) // target_rows_per_task))
    cap = min(64, max(1, bucket_count))
    if need > cap:
        import warnings

        warnings.warn(
            f"hot key needs {need} lanes but salt is capped at {cap} "
            f"(bucket_count={bucket_count}); raise bucket_count to split further",
            stacklevel=2,
        )
    return min(cap, need)
