import os

import pytest

import fsst_spark  # noqa: F401  (malloc tuning before JVM fork)


def _driver_mem() -> str:
    """A quarter of the host's RAM, capped at 8g: the session and every
    CLI subprocess a test starts each pre-touch a driver heap of this
    size, so a fixed 8g each can exceed a small host."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh
                  if line.startswith("MemTotal:"))
    return f"{min(kb // 4 // 1024, 8192)}m"


# set before the session starts so CLI subprocess tests inherit it
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _driver_mem())


def pytest_collection_modifyitems(items):
    """Cheapest set-up first: tests that start no Spark session, then
    Spark tests that build their data inline, then tests on shared
    module-built stores. The tier-1 run is wall-clock capped, and on a
    small host the full Spark suite outlasts the cap — the cap should
    cut the slowest integration tests, not the unit tests. Stable, so
    file order holds within each group."""
    def cost(item) -> tuple[bool, bool]:
        uses_spark = "spark" in item.fixturenames
        module_built = any(name != "spark" and name in vars(item.module)
                           for name in item.fixturenames)
        return uses_spark, uses_spark and module_built

    items.sort(key=cost)


@pytest.fixture(scope="session")
def spark():
    from fsst_spark.jobs.session import get_spark

    s = get_spark("local[4]", app_name="fsst_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()
