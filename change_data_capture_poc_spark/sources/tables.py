"""Driver-testdata table catalog (TESTDATA.md).

The TPC-H-ish star schema plus ``events`` (CDC-style JSON props),
``documents`` (text pipeline) and ``embeddings`` (similarity search).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Width of ``embeddings.embedding`` (TESTDATA.md). Queries that unroll
# a vector into per-dimension columns (centroid averages) size from it.
EMBEDDING_DIM = 64

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst pushes filters/projections into it.

    ``events.ts`` has shipped in two physical encodings across data
    generations: TIMESTAMP(NANOS) (which Spark's parquet reader
    rejects — read as raw nanos via ``nanosAsLong`` and truncated to
    microseconds, exactly DuckDB's ns→µs behavior) and plain µs
    TIMESTAMP (readable directly). Branch on the observed read schema
    so both generations work and oracle comparisons stay bit-identical.
    """
    return _conform(name, _read(spark, sf_dir, name))


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming twin of ``load_table``: the same table, rows, schema and
    ``events.ts`` conversion, as a file stream over the table's file."""
    return stream_table_from(spark, sf_dir, name, stream_dir(sf_dir, name))


def stream_table_from(
    spark: SparkSession, sf_dir: str, name: str, directory: str
) -> DataFrame:
    """``stream_table`` over ``directory``, a watched directory holding
    the table's file plus any extra files in the same physical schema.

    A file stream needs an explicit schema; it is the schema of
    ``load_table``'s own read (a schema-only read, no scan), so the
    stream decodes exactly what the batch path decodes. The stream
    itself needs no ``nanosAsLong``: the explicit schema already reads
    a TIMESTAMP(NANOS) ``ts`` as bigint.
    """
    schema = _read(spark, sf_dir, name).schema
    return _conform(name, spark.readStream.schema(schema).parquet(directory))


def stream_dir(sf_dir: str, name: str) -> str:
    """The directory a table's stream watches.

    The file stream source only accepts directories; each testdata
    table is a single parquet file, so it is exposed through a
    per-(SF, table) symlink directory under /tmp — zero copy, and
    exactly how a production stream watches a landing directory. A
    dangling symlink left by a deleted sf_dir is replaced.
    """
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    d = f"/tmp/spark_graft_stream_{name}_{key}"
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{name}.parquet")
    if os.path.lexists(link) and not os.path.exists(link):
        os.remove(link)
    if not os.path.lexists(link):
        os.symlink(os.path.join(sf_dir, f"{name}.parquet"), link)
    return d


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name != "events":
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # Scope the legacy flag to this one read: set, resolve the
    # relation (which captures the conf), then restore the prior
    # value so unrelated later parquet reads keep the normal loud
    # TIMESTAMP(NANOS) rejection. Verified on a synthetic nanos
    # file: collect() after the restore still reads nanos-as-long,
    # so the restore cannot break this DataFrame's execution. An unset
    # flag (get -> None) is unset again, not pinned to its default.
    prior = spark.conf.get(_NANOS_AS_LONG, None)
    spark.conf.set(_NANOS_AS_LONG, "true")
    try:
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    finally:
        if prior is None:
            spark.conf.unset(_NANOS_AS_LONG)
        else:
            spark.conf.set(_NANOS_AS_LONG, prior)


def _conform(name: str, df: DataFrame) -> DataFrame:
    if name != "events":
        return df
    if dict(df.dtypes).get("ts") == "bigint":  # nanos generation
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:  # µs generation reads as TIMESTAMP_NTZ; session tz is
        # pinned UTC, so the LTZ cast is value-identical and keeps
        # every downstream query seeing one ts type.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (reference: CREATE VIEW over
    parquet_scan, duckdb/scd2_example.sql:10-14)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
