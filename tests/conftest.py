import os

import pytest

from gdal_spark.session import get_spark

# override to re-run the oracle gate at another scale factor, e.g.
# SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 (the driver's gate scale)
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="gdal-spark-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# per-test driver memory: the pytest process's resident set (VmRSS)
# before and after each test, setup and teardown included; the terminal
# summary lists the ten largest increases (Linux only: read from /proc)
_RSS_STEPS: list[tuple[int, int, str]] = []


def _rss_kb() -> int | None:
    try:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_protocol(item, nextitem):
    before = _rss_kb()
    yield
    after = _rss_kb()
    if before is not None and after is not None:
        _RSS_STEPS.append((after - before, after, item.nodeid))


def pytest_terminal_summary(terminalreporter):
    if not _RSS_STEPS:
        return
    terminalreporter.section("driver RSS: ten largest per-test increases")
    for grew, after, nodeid in sorted(_RSS_STEPS, reverse=True)[:10]:
        terminalreporter.write_line(
            f"{grew / 1024:+9.1f} MB -> {after / 1024:8.1f} MB  {nodeid}"
        )
    peak = max(after for _, after, _ in _RSS_STEPS)
    terminalreporter.write_line(f"highest RSS after a test: {peak / 1024:.1f} MB")
