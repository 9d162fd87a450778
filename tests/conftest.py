import contextlib
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from orc_rust_spark.session import get_spark

    s = get_spark("orc_rust_spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def local_zone():
    """A context manager that runs its body with the Python process's
    local time zone set to a POSIX TZ string, then restores it."""

    @contextlib.contextmanager
    def run_in(zone: str):
        old = os.environ.get("TZ")
        os.environ["TZ"] = zone
        time.tzset()
        try:
            yield
        finally:
            if old is None:
                del os.environ["TZ"]
            else:
                os.environ["TZ"] = old
            time.tzset()

    return run_in
