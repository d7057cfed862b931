"""Source connectors (A1/A2/C1): parquet, JSON events, CSV, whole-text
objects, binary objects — batch and streaming forms.

The reference's sources are (a) the S3 notification JSON stream and
(b) s3.get_object bytes (s3vectors-app/pythonvectordbceph.py:128-155).
Spark-first: file-based DataSource scans with pushdown; identical code
targets s3a:// URIs on a cluster (Hadoop S3A committer handles RGW).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io import read_parquet


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    return read_parquet(spark, path)


def read_json_events(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Batch read of notification-event JSON (one event per line)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)  # explicit schema: no inference scan
    return reader.json(path)


def stream_json_events(spark: SparkSession, path: str, schema) -> DataFrame:
    """Streaming file-arrival source over the same JSON layout.
    Schema is mandatory for streaming reads (no inference)."""
    return spark.readStream.schema(schema).json(path)


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = True) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_text_objects(spark: SparkSession, path: str, whole: bool = True) -> DataFrame:
    """UTF-8 text objects (the reference's TEXT branch, decode at
    pythonvectordbceph.py:160). wholetext=one row per object (passed
    as the reader kwarg — the DataFrameReader option spelling is
    silently ignored by the text source)."""
    return spark.read.text(path, wholetext=whole)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning properties as parquet
    (vectorized reader, predicate pushdown on by default)."""
    return spark.read.orc(path)


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Opaque object bytes (the reference's IMAGE branch / get_object
    at pythonvectordbceph.py:155): path, modificationTime, length,
    content columns."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
