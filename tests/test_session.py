"""Session defaults that need no JVM."""

from __future__ import annotations

import pytest

from kwwhat_spark import session

GIB = 2**30


@pytest.mark.parametrize(
    "phys_bytes, want",
    [(16 * GIB, "8192m"), (15 * GIB + 512 * 2**20, "7936m"), (48 * GIB, "24g"), (128 * GIB, "24g")],
)
def test_driver_memory_is_capped_at_half_the_machine(monkeypatch, phys_bytes, want):
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_bytes // page}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    assert session._default_driver_memory() == want
