"""Merge-backend seam (cdc/merge_backend.py) — the contract every
backend must meet so the SCD2 stream stays exactly-once replayable:
replace exactly the partitions present in the applied rows, leave the
rest untouched, and be idempotent under re-apply. Tombstone rows
(delete after-images with NULL attributes — SURVEY.md T3,
init_duckdb.sh:56-68 parity) must survive both."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from change_data_capture_poc_spark.cdc.merge_backend import (
    DeltaReplaceWhereBackend,
    ParquetOverwriteBackend,
    get_merge_backend,
    replace_where_predicate,
)


def _read(spark, path):
    return {
        tuple(r)
        for r in spark.read.parquet(path)
        .select("bucket", "id", "val")
        .collect()
    }


def test_parquet_backend_replaces_only_touched_partitions(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    be = ParquetOverwriteBackend()
    base = spark.createDataFrame(
        [(0, 1, "a"), (0, 2, "b"), (1, 3, "c"), (2, 4, "d")],
        "bucket int, id int, val string",
    )
    be.apply(spark, path, base, "bucket")
    assert _read(spark, path) == {
        (0, 1, "a"), (0, 2, "b"), (1, 3, "c"), (2, 4, "d")
    }

    # Replace bucket 0 only; buckets 1 and 2 must be untouched.
    repl = spark.createDataFrame(
        [(0, 1, "a2")], "bucket int, id int, val string"
    )
    be.apply(spark, path, repl, "bucket")
    after = _read(spark, path)
    assert after == {(0, 1, "a2"), (1, 3, "c"), (2, 4, "d")}

    # Idempotence: re-applying the same rows changes nothing.
    be.apply(spark, path, repl, "bucket")
    assert _read(spark, path) == after


def test_backend_preserves_delete_tombstones(spark, tmp_path):
    """A delete's version row carries NULL attributes and stays open;
    the storage layer must round-trip it bit-for-bit through apply and
    re-apply (idempotent replay after a checkpoint restart)."""
    path = str(tmp_path / "scd2")
    be = get_merge_backend()  # env default = parquet in this sandbox
    rows = spark.createDataFrame(
        [
            (0, 10, "widget", "u", False),
            (0, 10, None, "d", True),  # tombstone: NULL attrs, open
        ],
        "bucket int, id int, name string, operation_type string, "
        "is_open boolean",
    )
    be.apply(spark, path, rows, "bucket")
    be.apply(spark, path, rows, "bucket")  # replay
    got = spark.read.parquet(path)
    tomb = got.where(F.col("operation_type") == "d").collect()
    assert len(tomb) == 1
    assert tomb[0].name is None and tomb[0].is_open
    assert got.count() == 2


def test_backend_selection_and_env_gate(monkeypatch):
    assert isinstance(get_merge_backend(), ParquetOverwriteBackend)
    assert isinstance(get_merge_backend("parquet"), ParquetOverwriteBackend)
    monkeypatch.setenv("SPARK_GRAFT_MERGE_BACKEND", "parquet")
    assert get_merge_backend().name == "parquet"
    with pytest.raises(KeyError):
        get_merge_backend("iceberg-typo")
    # delta-spark is absent in this container: the Delta backend is an
    # env-gated deployment tier and must fail loudly, not silently —
    # and the raise must tell the operator both the cause and the
    # tested fallback (contract: selection covered BOTH ways).
    with pytest.raises(ImportError, match="delta-spark is not installed"):
        DeltaReplaceWhereBackend()
    with pytest.raises(
        ImportError, match="SPARK_GRAFT_MERGE_BACKEND=parquet"
    ):
        DeltaReplaceWhereBackend()
    # Env-var selection of the delta tier hits the same gate: the
    # selection logic resolves 'delta' (not KeyError), then the
    # constructor raises because the runtime lacks the dependency.
    monkeypatch.setenv("SPARK_GRAFT_MERGE_BACKEND", "delta")
    with pytest.raises(ImportError, match="delta-spark"):
        get_merge_backend()


def test_replace_where_predicate_contract():
    """The Delta branch's partition-scoping predicate, pinned as a
    pure function (delta-spark can't run here, but the replaceWhere
    string it would commit is testable logic, not I/O)."""
    assert replace_where_predicate("bucket", []) is None
    assert replace_where_predicate("bucket", [3]) == "bucket IN (3)"
    assert (
        replace_where_predicate("bucket", [1, 2])
        == "bucket IN (1, 2)"
    )
    # Strings single-quote with '' escaping (ANSI), never repr().
    assert (
        replace_where_predicate("day", ["2024-01-01", "o'brien"])
        == "day IN ('2024-01-01', 'o''brien')"
    )
    # A NULL partition value needs IS NULL — IN () never matches NULL.
    assert (
        replace_where_predicate("bucket", [7, None])
        == "bucket IN (7) OR bucket IS NULL"
    )
    assert replace_where_predicate("bucket", [None]) == "bucket IS NULL"
    # Booleans render as SQL literals, not Python's True/False.
    assert (
        replace_where_predicate("flag", [True, False])
        == "flag IN (true, false)"
    )


def test_incremental_scd2_uses_backend(spark, tmp_path):
    """The stream materializer routes every durable SCD2 write through
    the seam — swap in a recording backend, push a micro-batch through
    process_batch, and require the write to have come via apply()."""
    from change_data_capture_poc_spark.cdc.generator import CdcGenerator
    from change_data_capture_poc_spark.streaming.scd2_stream import (
        IncrementalScd2,
    )

    calls = []

    class Recording(ParquetOverwriteBackend):
        def apply(self, spark_, path, rows, partition_col="bucket"):
            calls.append(path)
            super().apply(spark_, path, rows, partition_col)

    scd2_path = str(tmp_path / "scd2")
    inc = IncrementalScd2(
        spark,
        str(tmp_path / "log"),
        scd2_path,
        n_buckets=4,
        merge_backend=Recording(),
    )
    assert isinstance(inc.backend, Recording)

    batch = CdcGenerator(seed=3).products_df(spark, num_records=40)
    inc.process_batch(batch, batch_id=0)
    assert calls == [scd2_path]
    assert inc.result().count() > 0

    inc.reconcile()
    assert calls == [scd2_path, scd2_path]


def test_sql_literal_quoting():
    from change_data_capture_poc_spark.cdc.merge_backend import (
        _sql_literal,
    )

    assert _sql_literal(7) == "7"
    assert _sql_literal("abc") == "'abc'"
    assert _sql_literal("it's") == "'it''s'"
    assert _sql_literal(True) == "true"


def test_delta_backend_write_path_contract(spark, monkeypatch, tmp_path):
    """Exercise DeltaReplaceWhereBackend.apply itself (not just backend
    selection): a fake `delta` module opens the env gate and a recording
    DataFrameWriter double captures the write calls — the predicate must
    cover exactly the batch's distinct partitions and the writer chain
    must be format=delta / mode=overwrite / partitionBy(bucket) /
    save(path). This is the strongest pin available in a container that
    ships no delta-spark runtime."""
    import sys
    import types

    from pyspark.sql.readwriter import DataFrameWriter

    monkeypatch.setitem(sys.modules, "delta", types.ModuleType("delta"))

    calls = {"options": {}}

    def rec_format(self, fmt):
        calls["format"] = fmt
        return self

    def rec_mode(self, m):
        calls["mode"] = m
        return self

    def rec_option(self, k, v):
        calls["options"][k] = v
        return self

    def rec_partition_by(self, *cols):
        calls["partitionBy"] = cols
        return self

    def rec_save(self, path=None):
        calls["save"] = path

    monkeypatch.setattr(DataFrameWriter, "format", rec_format)
    monkeypatch.setattr(DataFrameWriter, "mode", rec_mode)
    monkeypatch.setattr(DataFrameWriter, "option", rec_option)
    monkeypatch.setattr(DataFrameWriter, "partitionBy", rec_partition_by)
    monkeypatch.setattr(DataFrameWriter, "save", rec_save)

    backend = DeltaReplaceWhereBackend()
    rows = spark.createDataFrame(
        [(0, 1, "a"), (2, 2, "b"), (2, 3, "c")], "bucket int, id int, val string"
    )
    target = str(tmp_path / "delta_table")
    backend.apply(spark, target, rows, partition_col="bucket")

    assert calls["format"] == "delta"
    assert calls["mode"] == "overwrite"
    assert calls["partitionBy"] == ("bucket",)
    assert calls["save"] == target
    # Predicate covers exactly the touched partitions {0, 2}.
    assert calls["options"]["replaceWhere"] == "bucket IN (0, 2)"
    # The persist taken inside apply must be released on exit.
    assert not rows.is_cached

    # Empty batch: contract says no-op — nothing written at all.
    calls.clear()
    calls["options"] = {}
    backend.apply(
        spark, target, rows.where(F.lit(False)), partition_col="bucket"
    )
    assert "save" not in calls


def test_incremental_scd2_reads_through_backend(spark, tmp_path):
    """The merge's table read and result() both go through the
    backend's read, under the table's fixed schema, and result() keeps
    exactly scd2_recompute's columns in order."""
    from change_data_capture_poc_spark.cdc.envelope import decode_envelope
    from change_data_capture_poc_spark.cdc.generator import CdcGenerator
    from change_data_capture_poc_spark.cdc.scd2 import scd2_recompute
    from change_data_capture_poc_spark.streaming.scd2_stream import (
        IncrementalScd2,
    )

    reads = []

    class Recording(ParquetOverwriteBackend):
        def read(self, spark_, path, schema=None):
            reads.append((path, schema))
            return super().read(spark_, path, schema)

    scd2_path = str(tmp_path / "scd2")
    inc = IncrementalScd2(spark, str(tmp_path / "log"), scd2_path,
                          n_buckets=4, merge_backend=Recording())
    batch = CdcGenerator(seed=3).products_df(spark, num_records=40)
    inc.process_batch(batch, batch_id=0)  # the table does not exist yet
    inc.process_batch(batch, batch_id=0)  # a replay reads it
    out = inc.result()

    assert inc.schema is not None
    assert reads == [(scd2_path, inc.schema)] * 3
    assert out.columns == scd2_recompute(decode_envelope(batch)).columns


def test_delta_backend_read_path_contract(spark, monkeypatch, tmp_path):
    """DeltaReplaceWhereBackend.read loads the table with the Delta
    reader, whose log decides which files are live (a bare parquet read
    would also return the files replaceWhere removed), and passes no
    user schema, which Delta refuses."""
    import sys
    import types

    from pyspark.sql.readwriter import DataFrameReader

    monkeypatch.setitem(sys.modules, "delta", types.ModuleType("delta"))
    table = spark.createDataFrame([(0, 1)], "bucket int, id int")
    calls = {}

    def recorder(name, result):
        def rec(self, *args, **kwargs):
            calls[name] = args
            return self if result is None else result
        return rec

    monkeypatch.setattr(DataFrameReader, "format", recorder("format", None))
    monkeypatch.setattr(DataFrameReader, "schema", recorder("schema", None))
    monkeypatch.setattr(DataFrameReader, "load", recorder("load", table))
    monkeypatch.setattr(DataFrameReader, "parquet",
                        recorder("parquet", table))

    target = str(tmp_path / "delta_table")
    got = DeltaReplaceWhereBackend().read(spark, target, table.schema)

    assert got is table
    assert calls == {"format": ("delta",), "load": (target,)}
