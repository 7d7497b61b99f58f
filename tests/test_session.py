"""The session factory's machine-derived defaults."""

from __future__ import annotations

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
