from __future__ import annotations

import contextlib

import pytest

from tripleforge.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tripleforge-tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "8", "spark.ui.enabled": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def no_auto_broadcast(spark):
    """A context manager under which the planner broadcasts no join side
    by its size (``spark.sql.autoBroadcastJoinThreshold=-1``), so plain
    joins are shuffled; the setting is restored after it."""

    @contextlib.contextmanager
    def shuffled():
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return shuffled
