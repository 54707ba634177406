"""Net-effect compaction of a change log (Debezium "event flattening").

All operations for a key collapse to the single change the log is
equivalent to: create+...+delete disappears, create+updates becomes one
create with the final values, updates+delete becomes one delete.

The per-key state is five mergeable scalars (first op, last op, last
value, last lsn, op count), so one operator serves both forms: the
batch query aggregates the whole log with map-side min_by/max_by
partials, and the streaming drain keeps the same aggregate as
streaming state, updated per micro-batch. ``net_effect_changes`` then
reads the net change off that state in either case.

Over the ``events`` table, ``user_id`` is the key, ``event_id`` the
lsn, ``event_type`` the operation and ``value`` the payload.
``NET_EFFECT_SQL`` is the same compaction in DuckDB SQL over that
table, the reference's own engine; both registered forms are checked
against it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NET_EFFECT_SQL = """
    WITH ops AS (
        SELECT user_id, event_id, value,
               CASE event_type WHEN 'signup' THEN 'c'
                               WHEN 'error'  THEN 'd'
                               ELSE 'u' END AS op
        FROM events WHERE user_id IS NOT NULL
    ),
    agg AS (
        SELECT user_id,
               arg_min(op, event_id)    AS first_op,
               arg_max(op, event_id)    AS last_op,
               arg_max(value, event_id) AS last_value,
               max(event_id)            AS last_event_id,
               count(*)                 AS n_ops
        FROM ops GROUP BY user_id
    )
    SELECT user_id,
           CASE WHEN last_op = 'd' THEN 'd'
                WHEN first_op = 'c' THEN 'c'
                ELSE 'u' END AS net_op,
           CASE WHEN last_op = 'd' THEN NULL
                ELSE ROUND(last_value + 1e-9, 6) END AS net_value,
           last_event_id,
           CAST(n_ops AS BIGINT) AS n_ops
    FROM agg
    WHERE NOT (first_op = 'c' AND last_op = 'd')
    """


def event_ops(events: DataFrame) -> DataFrame:
    """``events`` as change ops: (user_id, event_id, value, op), with
    signup → c, error → d and everything else → u; keyless rows drop."""
    return events.where(F.col("user_id").isNotNull()).select(
        "user_id",
        "event_id",
        "value",
        F.when(F.col("event_type") == "signup", F.lit("c"))
        .when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("u"))
        .alias("op"),
    )


def net_effect_state(ops: DataFrame) -> DataFrame:
    """Per-key state over (user_id, event_id, value, op) rows."""
    return ops.groupBy("user_id").agg(
        F.min_by("op", "event_id").alias("first_op"),
        F.max_by("op", "event_id").alias("last_op"),
        F.max_by("value", "event_id").alias("last_value"),
        F.max("event_id").alias("last_event_id"),
        F.count(F.lit(1)).alias("n_ops"),
    )


def net_effect_changes(state: DataFrame) -> DataFrame:
    """The one net change per key; keys created and deleted drop."""
    return state.where(
        ~((F.col("first_op") == "c") & (F.col("last_op") == "d"))
    ).select(
        "user_id",
        F.when(F.col("last_op") == "d", F.lit("d"))
        .when(F.col("first_op") == "c", F.lit("c"))
        .otherwise(F.lit("u"))
        .alias("net_op"),
        F.when(F.col("last_op") == "d", F.lit(None).cast("double"))
        .otherwise(F.round(F.col("last_value") + F.lit(1e-9), 6))
        .alias("net_value"),
        "last_event_id",
        "n_ops",
    )
