import pytest

from neuroner_spark import io
from neuroner_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("neuroner_spark_tests", cores=4, shuffle_partitions=4)
    yield s


SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture
def no_leaked_pins(spark):
    """Opt-in: fail if an RDD that was not persisted before the test is
    still in ``getPersistentRDDs()`` after it.  Compares id sets, not
    sizes — the ContextCleaner may drop older ids mid-test."""
    jsc = spark.sparkContext._jsc

    def pinned() -> set:
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    before = pinned()
    yield
    leaked = pinned() - before
    assert not leaked, f"RDDs left pinned: {sorted(leaked)}"


@pytest.fixture
def force_distributed(request, monkeypatch):
    """Route every small-input probe (``io.collect_small``) to the
    operators' distributed paths by setting ``io.DRIVER_ROWS_LIMIT`` to
    0.  Parametrize it indirectly with ``[False, True]`` to run a test
    on both paths; ``request.getfixturevalue`` switches it on mid-test."""
    if getattr(request, "param", True):
        monkeypatch.setattr(io, "DRIVER_ROWS_LIMIT", 0)
