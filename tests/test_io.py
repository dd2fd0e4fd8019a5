"""io.py: the pin/release/pin_scope helper and local_df."""

import logging

import pandas as pd
import pytest

from neuroner_spark.io import local_df, pin, pin_scope, release


def _pinned(spark) -> set:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


@pytest.mark.parametrize("how", ["persist", "local_checkpoint"])
def test_release_frees_the_pin(spark, how):
    before = _pinned(spark)
    df = pin(spark.range(50).selectExpr("id * 2 AS x"), how)
    assert df.count() == 50
    assert len(_pinned(spark) - before) == 1
    release(df)
    assert _pinned(spark) - before == set()


def test_pin_scope_releases_on_exit_and_nests(spark, no_leaked_pins):
    before = _pinned(spark)
    with pin_scope():
        outer = pin(spark.range(10), "local_checkpoint")
        with pin_scope():
            inner = pin(spark.range(20), "persist")
            assert inner.count() == 20
            assert len(_pinned(spark) - before) == 2
        assert len(_pinned(spark) - before) == 1  # inner scope freed its pin
        assert outer.count() == 10
        release(outer)  # an explicit release inside a scope is not repeated
        assert _pinned(spark) - before == set()
    with pytest.raises(RuntimeError):
        with pin_scope():
            pin(spark.range(5), "local_checkpoint")
            raise RuntimeError("stage failed")


def test_pin_rejects_unknown_mode(spark):
    with pytest.raises(ValueError):
        pin(spark.range(1), "disk_only")


def test_local_df_generator_reaches_fallback(spark, monkeypatch, caplog):
    """A generator is read once: when the Arrow path rejects the frame,
    the pickled-row fallback still sees every row, and says so."""
    ddl = "id long, tags map<string,long>"
    rows = [(i, {"k": i}) for i in range(5)]
    got = local_df(spark, (r for r in rows), ddl)
    assert sorted((r["id"], r["tags"]) for r in got.collect()) == rows

    real = type(spark).createDataFrame

    def arrow_rejects(self, data, *args, **kwargs):
        if isinstance(data, pd.DataFrame):
            raise TypeError("unsupported type for Arrow conversion")
        return real(self, data, *args, **kwargs)

    monkeypatch.setattr(type(spark), "createDataFrame", arrow_rejects)
    with caplog.at_level(logging.WARNING, logger="neuroner_spark.io"):
        got = local_df(spark, (r for r in rows), ddl)
    assert sorted((r["id"], r["tags"]) for r in got.collect()) == rows
    assert any("falling back" in rec.getMessage() for rec in caplog.records)


def test_local_df_null_bearing_long_round_trips_exactly(spark):
    big = 2**60 + 1  # not representable as float64
    got = local_df(spark, [(None,), (big,)], "v long").collect()
    assert [r["v"] for r in got] == [None, big]
