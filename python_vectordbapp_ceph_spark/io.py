"""Parquet reads: the package's one read primitive and the loaders for
the synthetic test tables.

``read_parquet`` is how every package read of parquet happens. A
``spark.read.parquet`` without a schema runs one Spark job to read a
footer; the primitive avoids it wherever the schema is already known,
picking the schema in this order:

1. the schema the table's writer recorded, passed as ``schema=`` (a
   merge commit's ``schema`` field, the IVF ``_meta`` sidecar's
   ``assigned_schema``, a typed sidecar such as the recall curve);
2. the session memo: the schema inferred by an earlier read, keyed on
   the applicationId, the paths, the reader options and the parquet
   confs that change what inference returns (``_MEMO_CONFS``), and
   valid only while the file listing (names, sizes, mtimes) is the one
   it was inferred from;
3. otherwise inference, as ``spark.read.parquet`` does it, whose result
   is stored in the memo.

The memo check reuses the listing Spark makes for the read itself (the
analyzed plan's file index), so a hit costs no second listing — on
S3A every listing is a paid request; only a stale entry costs two, the
pinned read's and the inferring read's. A memo entry from another
application, another conf value or a rewritten table is never reused:
a rewrite changes the listing, and the next read infers again. Reads
of more than ``_MEMO_MAX_FILES`` files always infer.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table in
each scale-factor directory (sf0.001, sf0.01, sf0.1; ``DEFAULT_SF_DIR``).
Schemas are never hard-coded:
the testdata has shipped ``events.ts`` both as nanos-as-long and as
``TIMESTAMP_NTZ``, and ``load_table`` handles both.

Everything is a plain columnar parquet scan so Catalyst's predicate
pushdown + column pruning apply for free; at 100 TB the same loader
points at a partitioned directory tree and nothing else changes.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Columns written as parquet TIMESTAMP(NANOS): Spark 4 refuses them by
# default (PARQUET_TYPE_ILLEGAL). We read them as raw nanos longs
# (legacy.parquet.nanosAsLong) and rebuild micro-precision timestamps —
# integer `div 1000` (no double round-trip, exact beyond 2^53) which is
# bit-identical to what DuckDB's reader produces for the oracle.
NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


_PYFILES_SHIPPED: set[str] = set()

# Session confs that change what parquet schema inference returns for
# the same files; each is part of the memo key.
_MEMO_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
_MEMO_MAX_ENTRIES = 512
# Checking a listing costs a few driver round trips per file (local[2]:
# 0.5 ms for 1 file, 41 ms for 256, where one inference job took 37-41
# ms); above this many files the read infers as it did before the memo.
_MEMO_MAX_FILES = 64
_SCHEMA_MEMO: OrderedDict = OrderedDict()
_MEMO_LOCK = threading.Lock()


def _listing(df: DataFrame):
    """Hash of the (path, size, mtime) triples the read's file index
    listed: the listing Spark already made for ``df``, not a second
    one. None when the plan is not a plain file scan or lists more than
    ``_MEMO_MAX_FILES`` files."""
    try:
        files = df._jdf.queryExecution().analyzed().relation().location().allFiles()  # noqa: SLF001
        if files.size() > _MEMO_MAX_FILES:
            return None
        it = files.iterator()
    except Exception:
        return None
    out = []
    while it.hasNext():
        st = it.next()
        out.append(
            (st.getPath().toString(), st.getLen(), st.getModificationTime())
        )
    return hash(tuple(sorted(out)))


def _nullable(t: dict) -> dict:
    if isinstance(t, dict):
        t = dict(t)
        if t.get("type") == "struct":
            t["fields"] = [
                dict(f, nullable=True, type=_nullable(f["type"]))
                for f in t["fields"]
            ]
        elif t.get("type") == "array":
            t["containsNull"] = True
            t["elementType"] = _nullable(t["elementType"])
        elif t.get("type") == "map":
            t["valueContainsNull"] = True
            t["keyType"] = _nullable(t["keyType"])
            t["valueType"] = _nullable(t["valueType"])
    return t


def read_back_schema(schema: StructType, drop=()) -> StructType:
    """The schema a parquet read infers for files written from a frame
    of ``schema``: the partition columns ``drop`` left out, and every
    field, array element and map value nullable (as the reader makes
    them). What a writer records for its readers to pass back."""
    kept = StructType([f for f in schema.fields if f.name not in drop])
    return StructType.fromJson(_nullable(kept.jsonValue()))


def _memo_key(spark: SparkSession, paths: tuple, options: dict) -> tuple:
    return (
        spark.sparkContext.applicationId,
        paths,
        tuple(sorted(options.items())),
        tuple(spark.conf.get(c, None) for c in _MEMO_CONFS),
    )


def read_parquet(
    spark: SparkSession,
    paths,
    schema: StructType | None = None,
    **options: str,
) -> DataFrame:
    """``spark.read.options(**options).parquet(*paths)`` without the
    schema-inference job where the schema is known (module docstring):
    ``schema`` as recorded by the writer, else the session memo, else
    inference. The result is the reader's DataFrame, unchanged."""
    paths = (paths,) if isinstance(paths, str) else tuple(paths)

    def read(schema=None):
        # a fresh reader per read: DataFrameReader.schema() sets the
        # schema on the reader itself
        reader = spark.read.options(**options)
        return (reader.schema(schema) if schema else reader).parquet(*paths)

    if schema is not None:
        return read(schema)
    key = _memo_key(spark, paths, options)
    with _MEMO_LOCK:
        hit = _SCHEMA_MEMO.get(key)
    if hit is not None:
        df = read(hit[1])
        if _listing(df) == hit[0]:
            with _MEMO_LOCK:
                _SCHEMA_MEMO.move_to_end(key)
            return df
    df = read()
    listing = _listing(df)
    with _MEMO_LOCK:
        if listing is None:
            _SCHEMA_MEMO.pop(key, None)
        else:
            _SCHEMA_MEMO[key] = (listing, df.schema)
            _SCHEMA_MEMO.move_to_end(key)
            while len(_SCHEMA_MEMO) > _MEMO_MAX_ENTRIES:
                _SCHEMA_MEMO.popitem(last=False)
    return df


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship this package to Python UDF workers via addPyFile.

    Workers deserialize module-referenced pandas UDFs (fingerprint,
    embedders, PQ encode) by importing their module — which fails with
    ModuleNotFoundError when the driving process runs from another CWD
    (workers inherit neither the driver's sys.path mutations nor env
    changes made after the JVM launched). A one-time zip + addPyFile
    puts the package on every worker's sys.path regardless of CWD —
    and is exactly what a spark-submit deployment of this repo would
    do with --py-files."""
    sc = spark.sparkContext
    # keyed on applicationId, NOT id(sc): CPython reuses object
    # addresses, so a new context allocated where a collected one
    # lived would silently skip shipping
    key = sc.applicationId
    if key in _PYFILES_SHIPPED:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"pvcs_pkg_{os.getpid()}_{key}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if not f.endswith(".py"):
                        continue
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    try:
        sc.addPyFile(zpath)
    except Exception as exc:
        # e.g. a session that forbids addFile — CWD path still works,
        # but a real shipping failure would otherwise surface much
        # later as a worker ModuleNotFoundError, so say so now
        import logging

        logging.getLogger(__name__).warning(
            "addPyFile(%s) failed (%s); workers must already have the "
            "package on sys.path", zpath, exc,
        )
    _PYFILES_SHIPPED.add(key)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one table. Filters/projections placed on the
    result reach the parquet reader (PushedFilters / ReadSchema). The
    read goes through ``read_parquet``, so a repeated load of unchanged
    files starts no Spark job."""
    # Runtime-settable SQL conf, so this works even under the driver's
    # own SparkSession (which we don't get to build). UTC session tz so
    # a TIMESTAMP_NTZ wall-clock reinterprets to the identical instant
    # DuckDB's naive reader produces.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _ensure_workers_can_import(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for c in NANOS_TS_COLS.get(name, ()):
        dt = dict(df.dtypes).get(c)
        if dt == "bigint":
            # FLOOR division, not `div` (truncates toward zero): DuckDB's
            # nanos reader floors, so pre-epoch timestamps must floor here
            # too or the engines disagree by 1µs on negative ts.
            df = df.withColumn(
                c,
                F.expr(
                    f"timestamp_micros(if({c} >= 0, {c} div 1000,"
                    f" -((999 - {c}) div 1000)))"
                ),
            )
        elif dt == "timestamp_ntz":
            # Newer testdata writes plain TIMESTAMP(MICROS) (naive), which
            # Spark reads as TIMESTAMP_NTZ. Our whole query surface (and
            # unix_micros/window arithmetic) is written against TIMESTAMP;
            # under the UTC session tz set above this cast is an exact
            # epoch reinterpretation, matching the oracle engine.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
