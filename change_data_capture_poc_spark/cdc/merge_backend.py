"""Pluggable MERGE backend — the seam between SCD2 merge *semantics*
and the storage engine that applies them (SURVEY.md D2).

The reference applies updates in place (``init_duckdb.sh:56-68``:
``UPDATE dim_products SET valid_to=..., is_current=false``). Spark has
no in-place UPDATE on parquet, so the engine computes the post-merge
rows and the *backend* makes them durable. The contract:

    apply(spark, path, rows, partition_col)

replaces every ``partition_col`` partition that appears in ``rows``
with exactly those rows, leaving all other partitions untouched, and

    read(spark, path, schema)

returns the table as the backend's readers see it. ``schema`` is the
table's known schema: a parquet read takes it instead of inferring one
from a file footer in a Spark job; a Delta read takes it from the
transaction log, which also hides the files ``replaceWhere`` removed.

Replace-partitions is idempotent by construction — re-applying the
same rows yields a byte-identical table — which is what makes the
foreachBatch stream safely replayable after a checkpoint restart
(tests/test_merge_backend.py pins idempotence + delete-tombstone
preservation).

Backends:

- ``ParquetOverwriteBackend`` (default): dynamic partition overwrite —
  copy-on-write at bucket granularity, zero extra dependencies; what
  this sandbox can actually execute.
- ``DeltaReplaceWhereBackend``: the same contract on a Delta table via
  ``replaceWhere`` (a transactional copy-on-write commit; readers never
  see a half-applied batch and concurrent writers conflict-detect).
  Environment-gated: this container ships no delta-spark
  (``import delta`` fails), so constructing it raises with a
  deployment note unless the runtime provides Delta. On Iceberg the
  equivalent is ``overwritePartitions()``; with row-level engines the
  contract can also be met by MERGE INTO keyed on
  (partition_col, id, version_number) plus a delete of vanished rows —
  merge-on-read, better for small-delta batches at 100 TB (see
  SCALING.md).

Selection: ``get_merge_backend()`` reads ``SPARK_GRAFT_MERGE_BACKEND``
(``parquet`` default, ``delta`` opt-in) so deployments flip backends
without touching pipeline code.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from change_data_capture_poc_spark.functions.caching import persist_once


class ParquetOverwriteBackend:
    """Dynamic-partition-overwrite on plain parquet (default).

    The overwrite mode is scoped to this one write via the
    DataFrameWriter option — setting it session-wide would silently
    change overwrite semantics for every other write in the session.
    """

    name = "parquet"

    def apply(
        self,
        spark: SparkSession,
        path: str,
        rows: DataFrame,
        partition_col: str = "bucket",
    ) -> None:
        rows.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(partition_col).parquet(path)

    def read(
        self,
        spark: SparkSession,
        path: str,
        schema: T.StructType | None = None,
    ) -> DataFrame:
        """The table's files under ``schema`` (partition columns
        last); with no schema, Spark infers one from a file footer."""
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(path)


class DeltaReplaceWhereBackend:
    """Transactional replace-partitions on a Delta table.

    ``replaceWhere`` commits the partition swap atomically in the Delta
    log; crashed writers leave no partial state and a concurrent writer
    on the same partitions fails the commit instead of corrupting the
    table. Requires delta-spark on the classpath — absent here, so the
    constructor raises (env-gated deployment tier, like the live
    Kafka/JDBC sources).
    """

    name = "delta"

    def __init__(self) -> None:
        try:
            import delta  # noqa: F401
        except ImportError as e:  # pragma: no cover - env-gated
            raise ImportError(
                "delta-spark is not installed in this environment; the "
                "Delta merge backend is a deployment-tier option. Run "
                "with SPARK_GRAFT_MERGE_BACKEND=parquet (default) here, "
                "or add delta-spark + the Delta catalog configs on a "
                "cluster."
            ) from e

    def apply(
        self,
        spark: SparkSession,
        path: str,
        rows: DataFrame,
        partition_col: str = "bucket",
    ) -> None:  # pragma: no cover - env-gated
        # Persist before the double pass: the distinct partition list
        # and the write would otherwise each recompute the (possibly
        # expensive) merge plan.
        rows = rows.transform(persist_once)
        try:
            parts = [
                r[0]
                for r in rows.select(partition_col).distinct().collect()
            ]
            pred = replace_where_predicate(partition_col, parts)
            if pred is None:
                return  # no partitions to replace — a no-op, matching
                # the parquet backend (dynamic overwrite of nothing).
            (
                rows.write.format("delta")
                .mode("overwrite")
                .option("replaceWhere", pred)
                .partitionBy(partition_col)
                .save(path)
            )
        finally:
            rows.unpersist()

    def read(
        self,
        spark: SparkSession,
        path: str,
        schema: T.StructType | None = None,
    ) -> DataFrame:
        """The table's current snapshot. Delta takes the schema from its
        own log and refuses a user-specified one, so ``schema`` is
        unused; reading the directory as parquet would also return the
        files a ``replaceWhere`` commit logically removed."""
        return spark.read.format("delta").load(path)


def replace_where_predicate(partition_col: str, parts: list) -> str | None:
    """The ``replaceWhere`` predicate covering exactly ``parts`` —
    the transactional half of the replace-partitions contract, kept
    as a pure function so the Delta branch's partition-scoping logic
    is pinned by tests even where delta-spark itself cannot run
    (this container). Returns None for an empty batch (no-op)."""
    if not parts:
        return None
    preds = []
    non_null = [p for p in parts if p is not None]
    if non_null:
        in_list = ", ".join(_sql_literal(p) for p in non_null)
        preds.append(f"{partition_col} IN ({in_list})")
    if len(non_null) < len(parts):  # a NULL partition value
        preds.append(f"{partition_col} IS NULL")
    return " OR ".join(preds)


def _sql_literal(v) -> str:
    """SQL literal for a partition value: single-quote strings with
    '' escaping (repr() would double-quote strings containing an
    apostrophe, which ANSI SQL parses as an identifier); numbers and
    booleans pass through."""
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


_BACKENDS = {
    "parquet": ParquetOverwriteBackend,
    "delta": DeltaReplaceWhereBackend,
}


def get_merge_backend(name: str | None = None):
    """Resolve the merge backend: explicit arg, else
    ``$SPARK_GRAFT_MERGE_BACKEND``, else parquet."""
    key = (
        name
        or os.environ.get("SPARK_GRAFT_MERGE_BACKEND", "parquet")
    ).lower()
    if key not in _BACKENDS:
        raise KeyError(
            f"unknown merge backend {key!r}; known: {sorted(_BACKENDS)}"
        )
    return _BACKENDS[key]()
