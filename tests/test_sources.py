"""Event-log IO round-trip tests (SURVEY.md §2.1 S3-S6).

The reference's landing path: envelope rows → gzipped JSON under
year=/month=/day= → read back → decode. The round-trip must preserve
every event and the partition layout must match the S3 sink's
DailyPartitioner (connectors/s3-sink.json:20-21)."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from change_data_capture_poc_spark.cdc.envelope import (
    PRODUCT_FIELDS,
    decode_envelope,
)
from change_data_capture_poc_spark.cdc.generator import CdcGenerator
from change_data_capture_poc_spark.sources.readers import (
    read_envelope_log,
    read_envelope_log_direct,
    read_json_inferred,
    read_ndjson_raw,
)
from change_data_capture_poc_spark.sources.writers import (
    compact_to_parquet,
    write_partitioned_json,
)


def test_partitioned_json_roundtrip(spark, tmp_path):
    gen = CdcGenerator(seed=11)
    df = gen.products_df(spark, num_records=100)
    n = df.count()
    path = str(tmp_path / "log")
    write_partitioned_json(df, path, mode="overwrite")

    # Hive layout: year=YYYY/month=MM/day=dd, gzipped files.
    parts = glob.glob(os.path.join(path, "year=*", "month=*", "day=*"))
    assert parts, "expected Hive date partition dirs"
    gz = glob.glob(os.path.join(parts[0], "*.json.gz"))
    assert gz, "expected gzipped json files"

    back = read_envelope_log(spark, path + "/*/*/*/*.json.gz", PRODUCT_FIELDS)
    assert back.count() == n
    direct = read_envelope_log_direct(spark, path, PRODUCT_FIELDS)
    assert direct.count() == n

    # Decoded relations agree regardless of read path.
    a = {tuple(r) for r in decode_envelope(back).collect()}
    b = {tuple(r) for r in decode_envelope(direct).collect()}
    assert a == b

    # Inference path (read_json_auto analogue) sees the same row count.
    assert read_json_inferred(spark, path).count() == n
    # Raw-string fidelity path (read_ndjson_objects analogue).
    assert read_ndjson_raw(spark, path + "/*/*/*/*.json.gz").count() == n


def test_compact_to_parquet(spark, tmp_path):
    gen = CdcGenerator(seed=11)
    df = gen.products_df(spark, num_records=50)
    n = df.count()  # inserts plus the generator's random updates/deletes
    out = str(tmp_path / "compact")
    compact_to_parquet(df, out)
    back = spark.read.parquet(out)
    assert back.count() == n
    assert {tuple(r) for r in decode_envelope(back).collect()} == {
        tuple(r) for r in decode_envelope(df).collect()
    }


def test_materialize_and_view(spark, sf_dir, tmp_path):
    from change_data_capture_poc_spark.sources.writers import (
        create_view,
        materialize_table,
    )

    df = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = str(tmp_path / "mat")
    materialize_table(df, out)  # CREATE OR REPLACE TABLE ... AS semantics
    back = spark.read.parquet(out)
    assert back.count() == df.count()

    create_view(back, "nation_view")  # CREATE VIEW over a scan (S8)
    assert spark.sql("SELECT COUNT(*) AS n FROM nation_view").first().n == df.count()
    spark.catalog.dropTempView("nation_view")

    # Overwrite is a full replace (the reference re-runs CREATE OR
    # REPLACE on every transform pass, transform_scd2.py:20).
    materialize_table(df.limit(3), out)
    assert spark.read.parquet(out).count() == 3


def test_csv_roundtrip_typed(spark, sf_dir, tmp_path):
    from change_data_capture_poc_spark.sources.readers import read_csv_typed
    from change_data_capture_poc_spark.sources.writers import write_csv

    src = spark.read.parquet(f"{sf_dir}/customer.parquet")
    p = str(tmp_path / "csv")
    write_csv(src, p)
    back = read_csv_typed(
        spark, p,
        schema="c_custkey bigint, c_name string, c_nationkey int, "
               "c_acctbal double, c_mktsegment string",
    )
    assert back.count() == src.count()
    assert [f.name for f in back.schema.fields] == src.columns
    a = {r.c_custkey: r.c_acctbal for r in src.collect()}
    b = {r.c_custkey: r.c_acctbal for r in back.collect()}
    assert a == b


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from change_data_capture_poc_spark.sources.readers import read_orc
    from change_data_capture_poc_spark.sources.writers import write_orc

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    p = str(tmp_path / "orc")
    write_orc(src, p)
    back = read_orc(spark, p)
    assert back.count() == src.count()
    filtered = back.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_totalprice"
    )
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_orderstatus" in plan
    exact = src.where(F.col("o_orderstatus") == "F").count()
    assert filtered.count() == exact


def test_sorted_layout_enables_file_pruning(spark, sf_dir, tmp_path):
    """write_sorted_layout must produce files whose ts ranges are
    disjoint (parquet footer min/max), which is exactly what lets a
    range predicate skip files at scan time."""
    import glob as _glob

    import pyarrow.parquet as pq

    from change_data_capture_poc_spark.sources.writers import (
        write_sorted_layout,
    )

    from change_data_capture_poc_spark.sources.tables import load_table

    src = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "value"
    )
    p = str(tmp_path / "sorted")
    write_sorted_layout(src, p, range_col="event_id", n_files=4)

    ranges = []
    for fp in sorted(_glob.glob(f"{p}/part-*.parquet")):
        md = pq.ParquetFile(fp).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)  # event_id
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 2
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo  # disjoint file ranges -> file-level pruning

    back = spark.read.parquet(p)
    assert back.count() == src.count()


def test_envelope_log_tolerant_quarantines_corrupt_lines(spark, tmp_path):
    from pyspark.sql import functions as F

    from change_data_capture_poc_spark.cdc.envelope import PRODUCT_FIELDS
    from change_data_capture_poc_spark.cdc.generator import CdcGenerator
    from change_data_capture_poc_spark.sources.readers import (
        read_envelope_log_tolerant,
    )

    gen = CdcGenerator(seed=9)
    good = gen.products_df(spark, num_records=20).toJSON().collect()
    src = str(tmp_path / "mixed")
    os.makedirs(src)
    with open(os.path.join(src, "log.json"), "w") as f:
        f.write("\n".join(good[:10]))
        f.write("\n{truncated json...\n")            # malformed
        f.write("not json at all\n")                  # malformed
        f.write("\n".join(good[10:]))

    # Spark disallows queries touching ONLY the corrupt-record column
    # on an uncached raw scan — cache the parsed frame first (the
    # pattern the reader's docstring prescribes).
    df = read_envelope_log_tolerant(spark, src, PRODUCT_FIELDS).cache()
    bad = df.where(F.col("_corrupt_record").isNotNull())
    ok = df.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    assert bad.count() == 2
    assert ok.count() == len(good)
    # Quarantined rows keep the raw text for replay.
    raws = {r._corrupt_record for r in bad.collect()}
    assert "not json at all" in raws


def test_gzip_tiny_file_ingest_at_reference_fidelity(spark, tmp_path):
    """The reference's S3 sink flushes every 3 records (connectors/
    s3-sink.json:24 flush.size=3), landing thousands of ~KB .json.gz
    files under year=/month=/day=. Reproduce that exact pathology with
    3-line gzip files, run the full ingest chain (read_ndjson_raw →
    parse_envelope_json → decode_envelope → scd2_recompute), assert it
    equals the parquet-path result, and pin that compaction collapses
    the file count."""
    import gzip

    from pyspark.sql import functions as F

    from change_data_capture_poc_spark.cdc.scd2 import scd2_recompute
    from change_data_capture_poc_spark.sources.writers import (
        with_date_partitions,
    )

    gen = CdcGenerator(seed=13)
    df = gen.products_df(spark, num_records=60)
    rows = (
        with_date_partitions(df)
        .select(F.to_json(F.struct("payload")).alias("j"),
                "year", "month", "day")
        .collect()
    )
    # Bucket lines by date partition, then flush every 3 records into
    # its own gzip file — the DailyPartitioner + flush.size=3 layout.
    by_part: dict[tuple, list[str]] = {}
    for r in rows:
        by_part.setdefault((r.year, r.month, r.day), []).append(r.j)
    log = tmp_path / "log"
    n_files = 0
    for (y, m, d), lines in by_part.items():
        pdir = log / f"year={y}" / f"month={m}" / f"day={d}"
        pdir.mkdir(parents=True)
        for i in range(0, len(lines), 3):
            with gzip.open(pdir / f"part-{i:05d}.json.gz", "wt") as f:
                f.write("\n".join(lines[i:i + 3]) + "\n")
            n_files += 1
    assert n_files >= len(rows) // 3  # the tiny-file pathology is real

    parsed = read_envelope_log(
        spark, str(log) + "/*/*/*/*.json.gz", PRODUCT_FIELDS
    )
    assert parsed.count() == len(rows)
    got = {tuple(r) for r in scd2_recompute(decode_envelope(parsed)).collect()}

    pq_path = str(tmp_path / "pq")
    compact_to_parquet(df, pq_path)
    want = {
        tuple(r)
        for r in scd2_recompute(
            decode_envelope(spark.read.parquet(pq_path))
        ).collect()
    }
    assert got == want

    # Compaction step: the gz shards collapse to a handful of parquet
    # files (input is tiny, so one), killing the per-file open/footer
    # overhead before any repeated analytics pass.
    import glob as _glob

    compacted = str(tmp_path / "compacted")
    compact_to_parquet(parsed, compacted)
    n_parquet = len(_glob.glob(f"{compacted}/*.parquet"))
    assert 0 < n_parquet < n_files
    assert spark.read.parquet(compacted).count() == len(rows)


def test_kafka_value_parse_contract(spark):
    """Broker-less pin of the Kafka branch (S2): a hand-built frame
    with the Kafka source's exact column contract (binary key/value +
    topic/partition/offset/timestamp) must decode byte-identically to
    the file-source twin over the same JSON lines."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from change_data_capture_poc_spark.streaming.ingest import (
        parse_kafka_envelope,
    )

    gen = CdcGenerator(seed=17)
    lines = (
        gen.products_df(spark, num_records=40)
        .select(F.to_json(F.struct("payload")).alias("j"))
        .collect()
    )
    kafka_schema = T.StructType([
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ])
    records = spark.createDataFrame(
        [
            (
                b'{"payload":{"id":%d}}' % i,
                r.j.encode("utf-8"),
                "cdc.commerce.products",
                i % 3,
                i,
                None,
                0,
            )
            for i, r in enumerate(lines)
        ],
        kafka_schema,
    )
    via_kafka = {
        tuple(r)
        for r in decode_envelope(
            parse_kafka_envelope(records, PRODUCT_FIELDS)
        ).collect()
    }

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "log.json"), "w") as f:
            f.write("\n".join(r.j for r in lines))
        via_file = {
            tuple(r)
            for r in decode_envelope(
                read_envelope_log(spark, d, PRODUCT_FIELDS)
            ).collect()
        }
    assert via_kafka == via_file
    assert len(via_kafka) == len(lines)


def test_publish_table_catalog_roundtrip(spark, sf_dir):
    """The BI/serving read path: publish a result to the session
    catalog, read it back with plain SQL (what a JDBC client would
    issue), replace it, drop it."""
    from pyspark.sql import functions as F

    from change_data_capture_poc_spark.sources.serving import (
        publish_table,
        start_thrift_server,
    )

    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    publish_table(src, "nation_published")
    try:
        back = spark.sql(
            "SELECT COUNT(*) AS n, SUM(n_nationkey) AS s FROM nation_published"
        ).first()
        assert back.n == src.count()
        assert back.s == src.agg(F.sum("n_nationkey")).first()[0]
        # Republish is a full replace (CREATE OR REPLACE semantics).
        publish_table(src.limit(3), "nation_published")
        assert spark.table("nation_published").count() == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS nation_published")
    # Thrift-server gate: the availability probe must answer cleanly,
    # and when the class is absent start_thrift_server must raise the
    # documented error (not a deep py4j failure). Starting a real
    # server (port bind + service threads) is out of scope for tests.
    from change_data_capture_poc_spark.sources.serving import (
        thrift_server_available,
    )

    avail = thrift_server_available(spark)
    assert isinstance(avail, bool)
    if not avail:
        import pytest as _pytest

        with _pytest.raises(NotImplementedError):
            start_thrift_server(spark)


def test_compact_small_files(spark, tmp_path):
    """Many tiny files in, byte-identical rows out, file count sized
    from input bytes (>=1 even for tiny inputs)."""
    from pyspark.sql import functions as F

    from change_data_capture_poc_spark.sources.writers import (
        compact_small_files,
    )

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    df = spark.range(0, 10000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(src)  # the small-files pathology
    import glob

    assert len(glob.glob(f"{src}/*.parquet")) == 64
    n = compact_small_files(spark, src, dst)
    assert n == 1  # tiny input -> one right-sized file
    assert len(glob.glob(f"{dst}/*.parquet")) == 1
    back = spark.read.parquet(dst)
    assert back.count() == 10000
    assert back.agg(F.sum("v")).collect()[0][0] == df.agg(
        F.sum("v")
    ).collect()[0][0]


def test_jdbc_snapshot_option_wiring(spark, monkeypatch):
    """Database-less contract pin of read_jdbc_snapshot (S1's
    snapshot.mode=initial phase): intercept DataFrameReader so the
    REAL code path records its format and options, and assert the
    partitioned-range read is wired exactly — partitionColumn +
    numPartitions + bounds — plus property passthrough. Without a
    partition column the read must stay a single cursor (no stray
    partition options). The live load() needs a database; the option
    dict IS the contract this gate rides on (round-12 verdict item 6).
    """
    from pyspark.sql.readwriter import DataFrameReader

    from change_data_capture_poc_spark.sources.readers import (
        read_jdbc_snapshot,
    )

    calls = {"options": {}}

    def fake_format(self, fmt):
        calls["format"] = fmt
        return self

    def fake_option(self, k, v):
        calls["options"][k] = v
        return self

    sentinel = spark.range(1)
    monkeypatch.setattr(DataFrameReader, "format", fake_format)
    monkeypatch.setattr(DataFrameReader, "option", fake_option)
    monkeypatch.setattr(
        DataFrameReader, "load", lambda self, path=None: sentinel
    )

    out = read_jdbc_snapshot(
        spark,
        "jdbc:postgresql://db:5432/commerce",
        "public.products",
        partition_column="id",
        num_partitions=16,
        properties={"user": "cdc", "fetchsize": "10000"},
    )
    assert out is sentinel
    assert calls["format"] == "jdbc"
    assert calls["options"] == {
        "url": "jdbc:postgresql://db:5432/commerce",
        "dbtable": "public.products",
        "partitionColumn": "id",
        "numPartitions": 16,
        "lowerBound": 0,
        "upperBound": 1 << 31,
        "user": "cdc",
        "fetchsize": "10000",
    }

    calls["options"].clear()
    read_jdbc_snapshot(
        spark, "jdbc:postgresql://db:5432/commerce", "public.users"
    )
    assert calls["options"] == {
        "url": "jdbc:postgresql://db:5432/commerce",
        "dbtable": "public.users",
    }

    calls["options"].clear()
    read_jdbc_snapshot(
        spark,
        "jdbc:postgresql://db:5432/commerce",
        "public.products",
        partition_column="id",
        lower_bound=100,
        upper_bound=5000,
    )
    assert calls["options"]["lowerBound"] == 100
    assert calls["options"]["upperBound"] == 5000
    assert calls["options"]["numPartitions"] == 32


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_stream_twin_matches_load_table(spark, tmp_path, unit):
    """Both physical ``events.ts`` encodings: TIMESTAMP(NANOS), read as
    raw nanos and truncated to µs, and plain µs TIMESTAMP. The stream
    source and ``load_table`` give the same schema and rows, and the
    scoped ``nanosAsLong`` flag is back to its prior value after each."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from change_data_capture_poc_spark.sources.tables import (
        load_table,
        stream_dir,
        stream_table,
    )

    ts_ns = [1_704_067_200_123_456_789, 1_704_198_600_000_001_000]
    per_unit = {"ns": 1, "us": 1000}[unit]
    sf = tmp_path / f"sf_{unit}"
    sf.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(
                    [t // per_unit for t in ts_ns], pa.timestamp(unit)
                ),
                "user_id": pa.array([10, None], pa.int64()),
                "event_type": ["signup", "error"],
                "value": pa.array([1.5, None], pa.float64()),
                "props": ['{"a": 1}', None],
            }
        ),
        sf / "events.parquet",
    )
    flag = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(flag, None)

    batch = load_table(spark, str(sf), "events")
    assert spark.conf.get(flag, None) == prior
    stream = stream_table(spark, str(sf), "events")
    assert spark.conf.get(flag, None) == prior
    assert stream.isStreaming
    assert stream.schema == batch.schema
    assert dict(batch.dtypes)["ts"] == "timestamp"

    name = f"events_stream_twin_{unit}"
    try:
        q = (
            stream.writeStream.format("memory").queryName(name)
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)
        q.stop()
    finally:
        shutil.rmtree(stream_dir(str(sf), "events"), ignore_errors=True)
    assert spark.conf.get(flag, None) == prior

    def rows(df):
        return sorted(
            map(tuple, df.withColumn("ts", F.unix_micros("ts")).collect())
        )

    want = [
        (1, ts_ns[0] // 1000, 10, "signup", 1.5, '{"a": 1}'),
        (2, ts_ns[1] // 1000, None, "error", None, None),
    ]
    assert rows(batch) == want
    assert rows(spark.table(name)) == want
