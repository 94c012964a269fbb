import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from x227f_spark.session import get_spark  # noqa: E402


def _driver_memory() -> str | None:
    """Half the machine's RAM (2-24 GB) for the test session's driver heap.
    ``get_spark``'s 24g default is larger than small hosts' RAM, and a heap
    that never has to collect grows until the kernel OOM killer takes the
    JVM mid-suite."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return None  # not Linux: keep get_spark's default
    return f"{min(24, max(2, kb // (2 << 20)))}g"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
                  app_name="x227f_tests", driver_memory=_driver_memory())
    yield s


@pytest.fixture(scope="session")
def corpus():
    from x227f_spark.sources.corpus import generate

    return generate()


@pytest.fixture(scope="session")
def corpus_dir(corpus, tmp_path_factory):
    from x227f_spark.sources.corpus import write_parquet

    d = tmp_path_factory.mktemp("corpus")
    write_parquet(corpus, str(d))
    return str(d)
