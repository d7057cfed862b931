"""SparkSession builder with scale-oriented defaults.

Defaults chosen for correctness + 100 TB design intent:
  - AQE on (runtime partition coalescing, skew-join splitting);
  - Arrow on (every pandas_udf / applyInPandas crosses via Arrow batches);
  - Python workers forked from this package's daemon (``_pydaemon``),
    which skips PySpark's per-task zip-archive re-read;
  - session timezone UTC so parquet timestamps hash identically to the
    DuckDB oracle (naive timestamps);
  - shuffle partitions sized for the local harness but overridable —
    on a real cluster this is set to ~2-3× total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "python-vectordbapp-ceph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    for the test harness; on a cluster the caller passes none and lets
    spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing targets, env-parameterized for measurement and
        # for cluster overrides; the r15 interleaved A/B (defaults vs
        # minPartitionSize=8m vs parallelismFirst=false, 2 reps each —
        # OPTIMIZATION_r15.md) found no variant outside the host-noise
        # band, so the values STAY at Spark's defaults: with
        # parallelismFirst=true the coalesce target is already
        # max(totalShuffleBytes/defaultParallelism, minPartitionSize),
        # which collapses kilobyte shuffles to a couple of tasks while
        # leaving compute-dense mid-size shuffles (shingle self-joins,
        # where bytes underestimate work) their parallelism. At 100 TB
        # totalBytes/parallelism dominates the max() and these floors
        # are inert.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"),
        )
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_BYTES",
                           str(1 * 1024 * 1024)),
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES",
                           str(64 * 1024 * 1024)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter pushdown: selective join keys prune the
        # probe-side scan before the shuffle (big win on 100 TB facts)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark's daemon without the per-task zip-archive re-read
        # (_pydaemon.py): a Python task then costs what a JVM task does
        .config("spark.python.daemon.module", f"{__package__}._pydaemon")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 128 MiB input splits: at 100 TB this yields ~800k tasks, the
        # right granularity for a 1000-executor cluster.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # the driver's events table is TIMESTAMP(NANOS) parquet, which
        # Spark 4 rejects by default; read as long, convert in io.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ceph_s3a_conf(
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style: bool = True,
    ssl: bool = False,
) -> dict[str, str]:
    """Hadoop S3A configuration for a Ceph RGW endpoint — the Spark
    analogue of the reference's boto3 client setup
    (milvus-app/pythonvectordbceph_milvus.py:57-68: endpoint from
    BUCKET_HOST/BUCKET_PORT, static AWS_* creds, use_ssl=False).

    Pass the result as ``extra_conf`` to :func:`get_spark` (or set the
    keys on an existing session's hadoopConfiguration). Tables then
    address RGW buckets directly: a collection's bucket ``my-docs``
    maps to ``s3a://my-docs/<table>`` and every reader/writer in this
    package works unchanged — all IO goes through the Hadoop
    FileSystem API, which resolves the scheme per path (see
    operators/merge.py overwrite_touched_buckets).

    RGW specifics encoded here:
      - path-style access (RGW installs rarely have wildcard DNS for
        virtual-hosted buckets);
      - SimpleAWSCredentialsProvider for static keys (no instance
        metadata service on-prem);
      - SSL off by default to mirror the reference's use_ssl=False —
        flip ``ssl=True`` for a TLS-terminated RGW.

    Falls back to the reference's own env vars (BUCKET_HOST,
    BUCKET_PORT, AWS_ACCESS_KEY_ID, AWS_SECRET_ACCESS_KEY) when args
    are omitted, so a pod configured for the reference app runs this
    engine without new wiring.
    """
    if endpoint is None:
        host = os.environ.get("BUCKET_HOST")
        port = os.environ.get("BUCKET_PORT")
        if host and port:
            scheme = "https" if ssl else "http"
            endpoint = f"{scheme}://{host}:{port}"
    access_key = access_key or os.environ.get("AWS_ACCESS_KEY_ID")
    secret_key = secret_key or os.environ.get("AWS_SECRET_ACCESS_KEY")

    conf: dict[str, str] = {
        "spark.hadoop.fs.s3a.path.style.access": str(path_style).lower(),
        "spark.hadoop.fs.s3a.connection.ssl.enabled": str(ssl).lower(),
        "spark.hadoop.fs.s3a.aws.credentials.provider": (
            "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
        ),
        # RGW implements S3 multipart: leave uploads on, but commit via
        # the magic committer (no rename penalty on object stores)
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
    }
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
    if access_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
    if secret_key:
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
    return conf
