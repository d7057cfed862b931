"""ceph_s3a_conf: the reference's boto3 client config
(milvus-app/pythonvectordbceph_milvus.py:57-68) mapped to fs.s3a.*.
No live RGW in this container — assert the key mapping, the env-var
fallback, and that the keys land on a session's hadoopConfiguration.
Also get_spark's Python worker daemon: set, and in effect in workers.
"""

from python_vectordbapp_ceph_spark.session import ceph_s3a_conf


def test_explicit_args_map_to_s3a_keys():
    conf = ceph_s3a_conf(
        endpoint="http://rgw.local:8000", access_key="AK", secret_key="SK"
    )
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "http://rgw.local:8000"
    assert conf["spark.hadoop.fs.s3a.access.key"] == "AK"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "SK"
    # RGW specifics: path-style on, SSL mirrors use_ssl=False default
    assert conf["spark.hadoop.fs.s3a.path.style.access"] == "true"
    assert conf["spark.hadoop.fs.s3a.connection.ssl.enabled"] == "false"
    assert conf["spark.hadoop.fs.s3a.aws.credentials.provider"].endswith(
        "SimpleAWSCredentialsProvider"
    )


def test_env_fallback_matches_reference_pod_wiring(monkeypatch):
    """BUCKET_HOST/BUCKET_PORT/AWS_* are the reference deployment's env
    surface (sample-deployment-text.yaml) — honored when args omitted."""
    monkeypatch.setenv("BUCKET_HOST", "rgw.ceph.svc")
    monkeypatch.setenv("BUCKET_PORT", "80")
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "ENVAK")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "ENVSK")
    conf = ceph_s3a_conf()
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "http://rgw.ceph.svc:80"
    assert conf["spark.hadoop.fs.s3a.access.key"] == "ENVAK"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "ENVSK"


def test_ssl_flag_flips_scheme_and_conf(monkeypatch):
    monkeypatch.setenv("BUCKET_HOST", "rgw.tls")
    monkeypatch.setenv("BUCKET_PORT", "443")
    conf = ceph_s3a_conf(ssl=True)
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "https://rgw.tls:443"
    assert conf["spark.hadoop.fs.s3a.connection.ssl.enabled"] == "true"


def test_keys_land_on_session_hadoop_conf(spark):
    """The spark.hadoop.* prefix is how SparkSession builder forwards to
    hadoopConfiguration; setting the stripped keys directly must be
    visible to the FileSystem API the readers/writers use."""
    conf = ceph_s3a_conf(
        endpoint="http://rgw.test:7480", access_key="A", secret_key="B"
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    for k, v in conf.items():
        assert k.startswith("spark.hadoop.")
        hconf.set(k[len("spark.hadoop."):], v)
    assert hconf.get("fs.s3a.endpoint") == "http://rgw.test:7480"
    assert hconf.get("fs.s3a.path.style.access") == "true"


# --- the Python worker daemon ----------------------------------------------------


def test_get_spark_sets_the_package_daemon(spark):
    from python_vectordbapp_ceph_spark import _pydaemon

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == _pydaemon.__name__


def test_workers_skip_the_per_task_zip_reread(spark):
    """Inside a UDF worker, zipimporter.invalidate_caches is the daemon's
    no-op. The daemon runs as ``python -m``, so its functions live in
    ``__main__``; stock PySpark leaves zipimport's own method there."""
    import pandas as pd
    from pyspark.sql import functions as F

    from python_vectordbapp_ceph_spark import _pydaemon

    @F.pandas_udf("string")
    def invalidate_caches_name(x: pd.Series) -> pd.Series:
        import zipimport

        f = zipimport.zipimporter.invalidate_caches
        return pd.Series([f"{f.__module__}.{f.__qualname__}"] * len(x))

    got = {r[0] for r in spark.range(0, 8, 1, 4).select(
        invalidate_caches_name("id")).collect()}
    assert got == {
        f"__main__.{_pydaemon._keep_archive_directory.__qualname__}"
    }
