"""Change-batch compaction — the Spark expression of the reference's RdbMerger.

The reference folds each ordered DML batch into per-key last-write maps with
delete/insert ordering and serial fallbacks (reference
dt-parallelizer/src/rdb_merger.rs:49-122, merge_parallelizer.rs:53-191).
Under an atomic MERGE sink all of that collapses to: keep the event with the
highest LSN per key ("last write wins"), because MERGE applies deletes,
updates and inserts in one transaction.  The reference's unmerged/collision/
NULL-key escape hatches disappear by construction (64-bit LSN total order, no
hash collisions on the key itself, NULL keys quarantined before merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def lww_dedup(df: DataFrame, key_cols: list[str], order_col: str = "lsn") -> DataFrame:
    """Keep exactly one row per key: the one with the highest `order_col`.

    A plain per-key window: Catalyst rewrites the ``row_number() == 1``
    filter into Partial (pre-shuffle, per map task) + Final
    WindowGroupLimit, so a hot key's burst is reduced to one candidate per
    map task BEFORE the Exchange — a native map-side combine with ONE
    shuffle.  Measured on a 10M-event burst (one url x 5M events) against
    an explicit salted two-phase pre-reduce: 0.86s vs 1.55s, identical
    survivors (`BENCH/lww_group_limit_ab_r4.json`; plan shape pinned by
    test_lww_plain_plan_uses_group_limit).

    The engine uses this for tables not bucketed on the key;
    lww_dedup_bucket_aligned is the path for tables that are.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def lww_dedup_bucket_aligned(
    df: DataFrame,
    key_cols: list[str],
    order_col: str = "lsn",
    bucket_col: str = "_bucket",
    tiebreak_cols: list[str] | None = None,
    key_salt: int = 1,
) -> DataFrame:
    """LWW dedup that shares its shuffle with the sink's bucket layout.

    `df` must already carry `bucket_col` = the target table's bucket
    transform (a function of the key, so all events of a key land in one
    bucket).  One hash shuffle on the bucket column + a sort by
    (key asc, order desc) within each bucket; the first row of every key
    run is the survivor, marked with a single `lag` comparison.

    Because the output's physical partitioning is hashpartitioning(bucket),
    the subsequent bucket-partitioned delta write needs NO further exchange
    — the whole merge prep is ONE shuffle (vs window-on-key + repartition-
    on-bucket = two to three).

    ``key_salt`` raises parallelism beyond bucket_count without changing
    the table layout: the window partitions by (bucket, hash(key) % S), so
    every key's rows still share a lane (dedup stays exact) but each bucket
    splits into S lanes — bucket_count x S concurrent tasks for the dedup /
    downstream UDF / write, and S files per bucket at the sink (the
    files-per-bucket knob: at 10^10 rows you want both a bounded bucket
    count for the layout AND write parallelism ~ executor count).
    """
    order_exprs = (
        [F.col(k).asc() for k in key_cols]
        + [F.col(order_col).desc()]
        + [F.col(c).desc() for c in (tiebreak_cols or [])]
    )
    part_cols = [bucket_col]
    if key_salt > 1:
        df = df.withColumn(
            "_ksalt", F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(key_salt))
        )
        part_cols.append("_ksalt")
    w = Window.partitionBy(*part_cols).orderBy(*order_exprs)
    key_struct = F.struct(*[F.col(k) for k in key_cols])
    prev = F.lag(key_struct).over(w)
    out = (
        df.withColumn("_is_first", prev.isNull() | (prev != key_struct))
        .filter(F.col("_is_first"))
        .drop("_is_first")
    )
    return out.drop("_ksalt") if key_salt > 1 else out


def split_updates(
    df: DataFrame, op_col: str = "op", phase_col: str = "phase"
) -> DataFrame:
    """Update -> Delete(before) + Insert(after) for append-only change-log sinks.

    Mirrors reference row_data.rs:71-82 (split_update_row_data); the MERGE path
    never needs this — it exists for change-feed outputs (Kafka-style sinks).
    Expects `before_*` columns for the before-image where available.

    Adds `phase_col` (0 = delete-of-before, 1 = insert-of-after; unsplit rows
    get 1): both halves of a split update carry the SAME lsn, so an
    lsn-ordered consumer (or a dedup keyed on (key, lsn)) has no way to order
    them without it — replaying insert-then-delete would tombstone a live
    row.  Downstream order key is (lsn, phase).

    Single-pass explode — a filter+union shape re-scans the source three
    times, which at 10^10 events triples the dominant read cost.
    """
    before_cols = [c for c in df.columns if c.startswith("before_")]
    restore = {
        bc[len("before_") :]: F.col(bc)
        for bc in before_cols
        if bc[len("before_") :] in df.columns
    }
    restore[op_col] = F.lit("delete")

    def mk(overrides: dict, phase: int) -> F.Column:
        return F.struct(
            *[overrides.get(c, F.col(c)).alias(c) for c in df.columns],
            F.lit(phase).cast("int").alias(phase_col),
        )

    events = F.when(
        F.col(op_col) == "update",
        F.array(mk(restore, 0), mk({op_col: F.lit("insert")}, 1)),
    ).otherwise(F.array(mk({}, 1)))
    return df.select(F.explode(events).alias("_e")).select("_e.*")


def split_key_change_updates(
    df: DataFrame, key_col: str = "url", before_key_col: str = "before_url", op_col: str = "op"
) -> DataFrame:
    """An update whose key changed becomes delete(old key) + insert(new key).

    The reference treats a PK/UK-changing update as unbatchable and falls back
    to serial apply (rdb_merger.rs:124-134, partition_parallelizer.rs:32-82).
    With an atomic MERGE we can instead split it into two independent keyed
    events (same lsn, different keys) that flow through the normal LWW+MERGE
    path — the sequential replay oracle applies the same rule.
    """
    if before_key_col not in df.columns:
        return df
    is_key_change = (
        (F.col(op_col) == "update")
        & F.col(before_key_col).isNotNull()
        & (F.col(before_key_col) != F.col(key_col))
    )

    # Single-pass explode (a filter+union-of-3 shape re-scans the source
    # three times; at 100 TB the batch scan is the dominant read cost).
    def mk(overrides: dict) -> F.Column:
        return F.struct(*[overrides.get(c, F.col(c)).alias(c) for c in df.columns])

    events = F.when(
        is_key_change,
        F.array(
            mk({key_col: F.col(before_key_col), op_col: F.lit("delete")}),
            mk({op_col: F.lit("insert")}),
        ),
    ).otherwise(F.array(mk({})))
    return df.select(F.explode(events).alias("_e")).select("_e.*")


def reverse_ops(df: DataFrame, op_col: str = "op", key_col: str = "url") -> DataFrame:
    """Insert<->Delete swap for reverse/undo streams (reference row_data.rs:54-69).

    Two fidelity levels, keyed on whether the stream carries full before
    images (`before_exists` + `before_X` payload columns, the reference
    RowData shape, generator full_before_images mode):

    * **full**: exact undo.  Reversed updates restore the ENTIRE prior
      payload (before values, nulls included) and swap images; an update
      whose row did not exist before (`before_exists` false — the REPLACE
      upsert-on-missing) reverses to a DELETE; reversed deletes become
      inserts carrying the deleted row's payload.  Replaying the reversed
      stream restores the pre-change table state exactly (tested e2e).
    * **key-only** (no `before_exists`): the round-2 behavior — op swap plus
      swapping each non-null `before_X` with `X` (a reversed key-changing
      update points back at the old key); payload values can't be restored.

    All swaps evaluate against the ORIGINAL row (one simultaneous
    withColumns), never against already-swapped columns."""
    orig = F.col(op_col)
    pairs = [
        (c[len("before_") :], c)
        for c in df.columns
        if c.startswith("before_") and c[len("before_") :] in df.columns
    ]
    if "before_exists" not in df.columns:
        cols = {
            op_col: F.when(orig == "insert", F.lit("delete"))
            .when(orig == "delete", F.lit("insert"))
            .otherwise(orig)
        }
        for cur, bc in pairs:
            swap_when = (orig == "update") & F.col(bc).isNotNull()
            cols[cur] = F.when(swap_when, F.col(bc)).otherwise(F.col(cur))
            cols[bc] = F.when(swap_when, F.col(cur)).otherwise(F.col(bc))
        return df.withColumns(cols)

    existed = F.col("before_exists")
    # REPLACE semantics make op and prior existence orthogonal, and the undo
    # depends on BOTH (row_data.rs:54-69 generalized to upsert sinks):
    #   insert & !existed -> delete        (undo a creation)
    #   insert &  existed -> update        (undo a REPLACE overwrite)
    #   delete &  existed -> insert        (restore the deleted row)
    #   delete & !existed -> delete        (no-op undo of a no-op delete —
    #                                       an insert here would mint phantoms)
    #   update &  existed -> update        (restore prior payload; key swap
    #                                       for key-changing updates)
    #   update & !existed -> delete        (undo a REPLACE creation; keeps
    #                                       the NEW key — there is no old row
    #                                       to point back at, so no key swap)
    cols = {
        op_col: F.when((orig == "insert") & ~existed, F.lit("delete"))
        .when((orig == "insert") & existed, F.lit("update"))
        .when((orig == "delete") & existed, F.lit("insert"))
        .when((orig == "delete") & ~existed, F.lit("delete"))
        .when((orig == "update") & ~existed, F.lit("delete"))
        .otherwise(orig)
    }
    for cur, bc in pairs:
        if cur == key_col:
            # the KEY column never takes the generic payload-restore below: a
            # non-key-change event's before_<key> is NULL, and writing that
            # NULL into the key would corrupt every reversed delete/update.
            # Keys swap only for genuine key-changing updates.
            swap_when = (orig == "update") & F.col(bc).isNotNull() & existed
            cols[cur] = F.when(swap_when, F.col(bc)).otherwise(F.col(cur))
            cols[bc] = F.when(swap_when, F.col(cur)).otherwise(F.col(bc))
            continue
        # every undo of an event whose row existed restores the full prior
        # payload (nulls included); rows that become (no-op) deletes don't
        # care what the payload says
        cols[cur] = F.when(existed, F.col(bc)).otherwise(F.col(cur))
        cols[bc] = F.when(existed, F.col(cur)).otherwise(F.col(bc))
    return df.withColumns(cols)


def quarantine_null_keys(df: DataFrame, key_cols: list[str]) -> tuple[DataFrame, DataFrame]:
    """NULL in a key column disables safe merging in the reference
    (row_data.rs:186-196 NULL->0 hash rule, rdb_merger.rs:68-72 serial demotion).
    We quarantine such rows instead of merging them (url is NOT NULL by contract)."""
    cond = None
    for k in key_cols:
        c = F.col(k).isNull()
        cond = c if cond is None else (cond | c)
    return df.filter(~cond), df.filter(cond)
