"""The session factory's machine-derived defaults and the runtime confs
tune_session sets."""

from __future__ import annotations

import pytest

from kalytical_spark import session


def _machine(monkeypatch, phys_mb: int) -> None:
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_mb * 2**20 // page}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)


def test_default_driver_memory_is_half_of_physical(monkeypatch):
    """Half the physical memory, so a 16 GB machine is not overcommitted by
    one session and a second session still fits beside it."""
    _machine(monkeypatch, 16 * 1024)
    assert session.default_driver_memory() == "8192m"
    _machine(monkeypatch, 3000)
    assert session.default_driver_memory() == "1500m"


def test_default_driver_memory_is_capped(monkeypatch):
    _machine(monkeypatch, 256 * 1024)
    assert session.default_driver_memory() == f"{session.DRIVER_MEM_CAP_MB}m"


def test_tune_session_raises_when_a_conf_is_refused(spark, monkeypatch):
    """A conf the session refuses raises, naming its key, instead of
    leaving the session silently untuned."""
    from pyspark.sql.conf import RuntimeConfig

    set_conf = RuntimeConfig.set

    def refuse_partitions(self, key, value):
        if key == "spark.sql.shuffle.partitions":
            raise RuntimeError(f"cannot modify {key}")
        set_conf(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", refuse_partitions)
    with pytest.raises(RuntimeError, match="spark.sql.shuffle.partitions"):
        session.tune_session(spark)


def test_tune_session_raises_without_a_core_count(spark, monkeypatch):
    """A session whose parallelism cannot be read raises instead of
    falling back to a core count that is not its own."""
    from pyspark import SparkContext

    def unreadable(self):
        raise RuntimeError("no parallelism")

    monkeypatch.setattr(SparkContext, "defaultParallelism", property(unreadable))
    with pytest.raises(RuntimeError, match="no parallelism"):
        session.tune_session(spark)
