from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kwwhat_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("KWH_TEST_SF_DIR", "/root/testdata/sf0.001")


def await_stream(q, timeout: int) -> None:
    """Wait for availableNow stream `q` to finish; on timeout stop it and
    fail the test instead of letting it read a partial sink."""
    if not q.awaitTermination(timeout):
        q.stop()
        pytest.fail(
            f"availableNow stream {q.name or q.id} still running after {timeout}s; "
            "refusing to read a partially-populated memory sink"
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kwh-spark-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def one_charger_fleet(tmp_path_factory):
    """Seed directory of a one-charger, 14-day OCPP fleet generated by
    perfbench.fleet (seed 7)."""
    from perfbench import fleet

    out = str(tmp_path_factory.mktemp("one_charger_fleet"))
    fleet.write_fleet(out, fleet.generate(7, 1))
    return out
