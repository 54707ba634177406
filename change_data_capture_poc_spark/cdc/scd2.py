"""SCD2 derivation — the reference's core analytical transform.

Two variants, matching the reference's two formulations:

1. ``scd2_recompute`` — full recompute from the complete event log
   (primary path, ``duckdb/analytics/transform_scd2.py:19-61``): per-key
   window over lsn gives each version's validity interval; the newest
   version stays open until the 9999-01-01 sentinel.

2. ``scd2_merge_batch`` — incremental upsert of one batch into an
   existing history (``duckdb/analytics/init_duckdb.sh:39-68``):
   anti-join inserts new current versions, semi-join expires superseded
   ones. Spark has no in-place UPDATE, so the merge is expressed as a
   recomputed union (changed-current-rows ∪ untouched rows ∪ inserts) —
   at scale this becomes a Delta/Iceberg MERGE with the same join
   structure; the joins here are exactly the MERGE's matching phase.

   Production backend note: on a cluster with delta-spark/Iceberg this
   function maps 1:1 onto ``MERGE INTO history USING batch`` (WHEN
   MATCHED AND changed THEN UPDATE SET valid_to/is_current, WHEN NOT
   MATCHED THEN INSERT). This container ships neither lakehouse
   runtime (``import delta`` fails), so the transactional backend is
   an environment-gated deployment concern: the parquet
   dynamic-partition-overwrite path in ``streaming/scd2_stream.py`` is
   the tested equivalent here, converging to the same table
   (tests/test_streaming.py::test_incremental_scd2_converges_to_batch).

Scale design: the only shuffle in the recompute is the window's
``partitionBy(id)`` exchange — unavoidable and key-parallel (one key's
chain never crosses executors). No driver-side state; per-key history is
unbounded in time but the recompute is a single sort-based window, and
the incremental path keeps state in the table, not in memory
(SURVEY.md §7 "streaming state at scale").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Primary path leaves open rows at 9999-01-01 00:00:00
# (transform_scd2.py:58); the shell/merge variant uses
# 9999-12-31 23:59:59 (init_duckdb.sh:45). Two sentinels, two variants —
# implemented per-variant (SURVEY.md §7 fidelity traps).
SCD2_SENTINEL = "9999-01-01 00:00:00"
MERGE_SENTINEL = "9999-12-31 23:59:59"


# Attributes an SCD2 version carries when the caller names none: the
# product table's row image (initdb/01_init_schema.sql:8-13).
DEFAULT_ATTRS = ("name", "description", "price")


def scd2_recompute(cdc_events: DataFrame,
                   attr_fields: list[str] | None = None) -> DataFrame:
    """Full-log SCD2 recompute (transform_scd2.py:41-60).

    Input: the flat cdc_events relation from ``decode_envelope``
    (id, before_row_value, after_row_value, operation_type,
    log_seq_num, source_timestamp).

    Output: one row per version with
    ``row_valid_start_timestamp`` / ``row_valid_expiration_timestamp``.
    Delete tombstones are preserved: a delete's after-image is NULL, so
    its version row carries NULL attributes and stays open — required
    for parity (SURVEY.md T3).
    """
    attrs = [
        F.col("after_row_value").getField(f).alias(f)
        for f in attr_fields or DEFAULT_ATTRS
    ]
    return scd2_chain(cdc_events, attrs)


def scd2_chain(rows: DataFrame, attrs: list[Column],
               *extra: Column) -> DataFrame:
    """The per-key version chain behind every SCD2 build: one window
    over ``partitionBy(id).orderBy(log_seq_num)`` numbers each key's
    versions and closes each at the next version's
    ``source_timestamp``; the newest stays open until the sentinel.

    ``rows`` holds one row per event (id, operation_type, log_seq_num,
    source_timestamp, plus whatever ``attrs`` and ``extra`` read);
    ``attrs`` are the version's attribute columns and ``extra`` is
    appended after the SCD2 columns. Rebuilding a key from its event
    set is exact for any delivery order, so the incremental stream
    (streaming/scd2_stream.py) feeds it a key's stored versions plus
    its new events and needs no late-event path.
    """
    w = Window.partitionBy("id").orderBy("log_seq_num")

    ranked = (
        rows.where(F.col("id").isNotNull())
        .withColumn("version_number", F.row_number().over(w))
        .withColumn("next_change_timestamp",
                    F.lead("source_timestamp").over(w))
    )
    return ranked.select(
        F.col("id"),
        *attrs,
        F.col("operation_type"),
        F.col("version_number"),
        F.col("source_timestamp").alias("row_valid_start_timestamp"),
        F.coalesce(
            F.col("next_change_timestamp"),
            F.lit(SCD2_SENTINEL).cast("timestamp"),
        ).alias("row_valid_expiration_timestamp"),
        *extra,
    )


def scd2_merge_batch(history: DataFrame, batch: DataFrame,
                     batch_ts_col: str = "source_timestamp") -> DataFrame:
    """One incremental SCD2 merge step (init_duckdb.sh:39-68).

    ``history`` schema: product_id int, name string, price double,
    valid_from timestamp, valid_to timestamp, is_current boolean
    (init_duckdb.sh:28-35, key typed int per the generator).

    ``batch``: incoming current images (id, name, price, ts).

    Join structure (the MERGE's matching phase):
    - J2 (insert):  NOT EXISTS current row with same key and identical
      attributes  → left_anti join, new rows appended as current.
    - J3 (expire):  current rows whose key is in the batch AND whose
      attributes changed → valid_to set to the batch timestamp,
      is_current false.

    Deliberate deviation from ``init_duckdb.sh:48-53``: the reference's
    insert guard is inverted (it checks NOT EXISTS a current row with
    *differing* attributes, which re-inserts unchanged keys and never
    re-inserts changed ones — a bug in the reference's simplified demo
    SQL). This implementation uses standard SCD2 semantics: insert only
    when no identical current row exists, expire only rows whose
    attributes actually changed. Attribute comparison is null-safe
    (IS DISTINCT FROM): a NULL attribute equals NULL and differs from
    any value, so NULL-carrying rows converge instead of being
    re-inserted every batch. Matches the scd2_merge_changed_versions
    oracle's eqNullSafe rule.

    Returns the new history (union of expired, untouched, inserted).
    On Delta/Iceberg this whole function is one MERGE statement; the
    join structure (and therefore the shuffle plan) is identical.

    The batch is first reduced to the *latest* image per key (max
    timestamp, deterministic attribute tiebreak). MERGE requires a
    unique-key source (Delta raises on multiple matches); without the
    reduction, a micro-batch carrying two consecutive updates for one
    key would expire the superseded row twice and insert two
    is_current=true rows, breaking the one-current-row-per-key
    invariant. Intermediate images within one batch collapse into the
    final one — the full per-version chain is ``scd2_recompute``'s job.
    """
    b = (
        batch.select(
            F.col("id").alias("b_id"),
            F.col("name").alias("b_name"),
            F.col("price").alias("b_price"),
            F.col(batch_ts_col).alias("b_ts"),
        )
        .groupBy("b_id")
        .agg(F.max(F.struct("b_ts", "b_name", "b_price")).alias("m"))
        .select("b_id", F.col("m.b_name").alias("b_name"),
                F.col("m.b_price").alias("b_price"),
                F.col("m.b_ts").alias("b_ts"))
    )

    cur = history.where(F.col("is_current"))
    old = history.where(~F.col("is_current"))

    changed_pred = (F.col("product_id") == F.col("b_id")) & (
        ~F.col("name").eqNullSafe(F.col("b_name"))
        | ~F.col("price").eqNullSafe(F.col("b_price"))
    )

    # J3: expire current rows superseded by a changed incoming image.
    superseded = (
        cur.join(b, changed_pred, "inner")
        .select(
            "product_id", "name", "price", "valid_from",
            F.col("b_ts").alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
    )
    untouched_cur = cur.join(b, changed_pred, "left_anti")

    # J2: insert a new current version unless an identical current row
    # already exists (NOT EXISTS, init_duckdb.sh:48-53).
    same_pred = (
        (F.col("b_id") == F.col("product_id"))
        & F.col("b_name").eqNullSafe(F.col("name"))
        & F.col("b_price").eqNullSafe(F.col("price"))
    )
    inserts = (
        b.join(cur, same_pred, "left_anti")
        .select(
            F.col("b_id").alias("product_id"),
            F.col("b_name").alias("name"),
            F.col("b_price").alias("price"),
            F.col("b_ts").alias("valid_from"),
            F.lit(MERGE_SENTINEL).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )

    return old.unionByName(untouched_cur).unionByName(superseded).unionByName(inserts)
