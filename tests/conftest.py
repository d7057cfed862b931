import sys
import uuid
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from python_vectordbapp_ceph_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@contextmanager
def twophase_distributed(spark):
    """Pin the AT-SCALE two-phase plan shape regardless of the test
    fixture's size: disables the round-15 single-task gate so plan-pin
    tests keep guarding the distributed formulation (the gated path has
    its own equivalence pins in test_twophase.py)."""
    from python_vectordbapp_ceph_spark.operators.twophase import (
        _SMALL_PLAN_CONF,
    )

    spark.conf.set(_SMALL_PLAN_CONF, "0")
    try:
        yield
    finally:
        spark.conf.unset(_SMALL_PLAN_CONF)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def rows_set(df, ndigits: int | None = None):
    """Order-insensitive row set for comparisons."""
    out = set()
    for r in df.collect():
        vals = []
        for v in r:
            if ndigits is not None and isinstance(v, float):
                v = round(v, ndigits)
            vals.append(tuple(v) if isinstance(v, list) else v)
        out.add(tuple(vals))
    return out


def jobs_of(spark, fn):
    """Run ``fn`` in a job group of its own: (its result, the number of
    Spark jobs it ran). Waits for the listener bus, so every job the
    call started is in the status store before it is counted."""
    sc = spark.sparkContext
    group = f"jobs_of-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
