"""Session defaults that depend on the host."""

from __future__ import annotations

import os

from spectraplex_spark import session


def test_default_heap_fits_the_host(monkeypatch):
    """The default heap ceiling is half the host's memory, clamped to
    [1g, 48g], so the single local-mode JVM can never outgrow the host."""
    page = 4096

    def host_with(gib):
        pages = gib * 1024**3 // page
        monkeypatch.setattr(
            os, "sysconf", lambda name: page if name == "SC_PAGE_SIZE" else pages
        )
        return session._default_driver_mem()

    assert host_with(15) == "7g"
    assert host_with(1) == "1g"
    assert host_with(512) == "48g"
