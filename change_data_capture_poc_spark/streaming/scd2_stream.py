"""Incremental streaming SCD2 — a ``foreachBatch`` merge that converges
to the batch recompute (SURVEY.md §5 item 4, §2.8 T6).

The reference has two formulations: full recompute over the whole log
(transform_scd2.py, exact for any lateness) and an incremental upsert
(init_duckdb.sh). This module keeps the exactness of the first at the
cost of a bucket rewrite, not a log scan. Per micro-batch:

  1. write the batch's decoded events to its own log partition,
     ``log_path/batch_id=N`` — the only pass over the batch source —
     and observe, in the same job, which buckets
     (``bucket = pmod(hash(id), n)``) its keys fall in;
  2. read that partition back and the touched buckets of the SCD2
     table, both under known schemas;
  3. rebuild each touched bucket with ``cdc/scd2.scd2_chain``, the
     per-key chain window of ``scd2_recompute``, over the bucket's
     stored versions plus the batch's events, and replace just those
     buckets through the merge backend.

Lineage: every stored version keeps the ``log_seq_num`` and the
``batch_id`` of the event that made it (``result()`` drops both). A
stored version is therefore its event again, and a bucket rebuilt from
its versions plus new events equals the full recompute over the same
events: late, duplicate and delete-then-re-insert events need no
fallback path.

Replay: ``foreachBatch`` is at-least-once — offsets commit after this
function returns, so a crash re-runs the whole batch. A batch whose log
partition exists before its write is a replay: the write replaces the
partition, and the rebuild leaves out stored versions carrying its
``batch_id``, so a replay after the log write, or after the table
write, converges to the same table.

Cost model: a micro-batch of E events touching B of n buckets reads its
own log partition (E rows) and B/n of the table, shuffles both once by
key, and rewrites B buckets — independent of how much log has landed.
Three Spark jobs: the log write, the chain's shuffle and the bucket
write. Outside a replay the plan holds no per-batch literal, so its
generated code is compiled once per stream. Small batches spread over
every bucket rewrite more rows per event than large ones;
``n_buckets`` trades that write amplification against file count (at
100 TB use thousands of buckets + AQE).

Why not ``applyInPandasWithState``: per-key SCD2 state is unbounded
(every key lives forever — SURVEY.md §7 "streaming state at scale");
keeping state in the table keeps executor memory flat at 100 TB. With
Delta/Iceberg, step 3's replace becomes a MERGE with the same join
structure. ``reconcile()`` still rebuilds every bucket from the log.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from change_data_capture_poc_spark.cdc.envelope import decode_envelope
from change_data_capture_poc_spark.cdc.merge_backend import (
    ParquetOverwriteBackend,
    get_merge_backend,
)
from change_data_capture_poc_spark.cdc.scd2 import DEFAULT_ATTRS, scd2_chain

# Stored with every version, dropped by ``result()``: the version's own
# event position and the micro-batch that delivered it.
LINEAGE = ("log_seq_num", "batch_id")
# The log is plain parquet whichever backend holds the table.
_PARQUET = ParquetOverwriteBackend()


class IncrementalScd2:
    """State lives in two tables, not in memory.

    - The log, parquet under ``log_path/batch_id=N``: the decoded
      events of each micro-batch, the source of truth ``reconcile()``
      rebuilds from.
    - The SCD2 table under ``scd2_path/bucket=B``: ``scd2_recompute``'s
      columns plus the ``LINEAGE`` columns. Its writes and reads go
      through the pluggable merge backend (cdc/merge_backend.py):
      parquet dynamic overwrite by default, Delta's transactional
      replaceWhere when $SPARK_GRAFT_MERGE_BACKEND selects it.

    The table's schema is fixed by the first batch this instance sees
    (the stream's envelope schema decides it), so later reads skip
    schema inference.
    """

    def __init__(
        self,
        spark: SparkSession,
        log_path: str,
        scd2_path: str,
        attr_fields: list[str] | None = None,
        n_buckets: int = 16,
        merge_backend=None,
    ) -> None:
        self.spark = spark
        self.log_path = log_path
        self.scd2_path = scd2_path
        self.attr_fields = list(attr_fields or DEFAULT_ATTRS)
        self.n_buckets = n_buckets
        self.backend = merge_backend or get_merge_backend()
        self.schema = None

    def _bucket(self) -> Column:
        return F.pmod(F.hash("id"), F.lit(self.n_buckets))

    def _versions(self, events: DataFrame) -> DataFrame:
        """Decoded log events as chain input, one row per event."""
        after = F.col("after_row_value")
        return events.select(
            "id",
            *[after.getField(f).alias(f) for f in self.attr_fields],
            "operation_type",
            "log_seq_num",
            "source_timestamp",
            F.col("batch_id").cast("long").alias("batch_id"),
            self._bucket().alias("bucket"),
        )

    def _build(self, versions: DataFrame) -> DataFrame:
        """Rebuild the buckets ``versions`` holds."""
        return scd2_chain(
            versions,
            [F.col(f) for f in self.attr_fields],
            *[F.col(c) for c in (*LINEAGE, "bucket")],
        )

    def _read_table(self) -> DataFrame:
        # A backend written to the older apply-only contract stores
        # plain parquet, as the log does.
        read = getattr(self.backend, "read", _PARQUET.read)
        return read(self.spark, self.scd2_path, self.schema)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        events = decode_envelope(batch_df)
        part = f"{self.log_path}/batch_id={batch_id}"
        # Table rows carry this batch_id only if its log partition was
        # written before: then this run is a replay.
        replay = _exists(self.spark, part)
        # The log write is the one pass over the batch source; it also
        # observes which buckets the batch touches, without a job. Its
        # string literal is referenced by the generated code, not
        # inlined, so the write compiles once per stream; the partition
        # directory reads back as an integer either way.
        seen = Observation()
        _PARQUET.apply(
            self.spark,
            self.log_path,
            events.withColumn("batch_id", F.lit(str(batch_id))).observe(
                seen, F.collect_set(self._bucket()).alias("buckets")
            ),
            "batch_id",
        )
        touched = seen.get["buckets"]
        if not touched:
            return  # an empty batch: nothing to merge
        # Both reads are of known files under a known schema: no
        # listing or schema-inference job, and no growing log scan.
        # ``batch_id`` comes from the partition path, so the plan holds
        # no per-batch literal and its generated code is reused.
        landed = (
            self.spark.read.schema(events.schema)
            .option("basePath", self.log_path)
            .parquet(part)
        )
        new = self._versions(landed)
        if self.schema is None:
            self.schema = self._build(new).schema
        try:
            table = self._read_table()
        except AnalysisException:  # no table before the first write
            rebuilt = new
        else:
            stored = table.where(F.col("bucket").isin(touched))
            if replay:  # rebuild from the events it carries again
                stored = stored.where(F.col("batch_id") != batch_id)
            rebuilt = stored.select(
                "id",
                *self.attr_fields,
                "operation_type",
                "log_seq_num",
                F.col("row_valid_start_timestamp").alias("source_timestamp"),
                "batch_id",
                "bucket",
            ).union(new)
        self.backend.apply(
            self.spark, self.scd2_path, self._build(rebuilt), "bucket"
        )

    def result(self) -> DataFrame:
        """The SCD2 table in ``scd2_recompute``'s columns and order."""
        return self._read_table().drop("bucket", *LINEAGE)

    def reconcile(self) -> None:
        """Repair path: rebuild EVERY bucket from the landed log.

        A stream stopped between the log write and the SCD2 write
        leaves the table lagging the log by one micro-batch; the log is
        the source of truth (exactly the reference's recompute-from-log
        stance, transform_scd2.py:20), so a full rebuild restores the
        invariant. Run after unclean shutdown or on a maintenance
        cadence; cost is one pass over the log, same as the batch
        path."""
        log = self.spark.read.parquet(self.log_path)
        self.backend.apply(
            self.spark, self.scd2_path, self._build(self._versions(log)),
            "bucket",
        )


def _exists(spark: SparkSession, path: str) -> bool:
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def run_incremental_scd2(
    spark: SparkSession,
    stream: DataFrame,
    log_path: str,
    scd2_path: str,
    checkpoint: str,
    attr_fields: list[str] | None = None,
    n_buckets: int = 16,
) -> tuple[StreamingQuery, IncrementalScd2]:
    """Wire an envelope stream into the incremental SCD2 materializer."""
    inc = IncrementalScd2(spark, log_path, scd2_path, attr_fields, n_buckets)
    q = (
        stream.writeStream.foreachBatch(inc.process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return q, inc
