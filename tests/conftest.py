import pytest

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
