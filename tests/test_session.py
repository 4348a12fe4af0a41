"""cqs_spark.session: the driver heap default fits the host."""

from __future__ import annotations

import os

import pytest

from cqs_spark import session


@pytest.mark.parametrize(
    "ram_gb, heap", [(15, f"{15 * 1024 * 3 // 4}m"), (64, "49152m"), (512, "49152m")]
)
def test_default_driver_mem_is_three_quarters_of_ram_at_most_48g(
    monkeypatch, ram_gb, heap
):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gb * (1 << 30) // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    assert session.default_driver_mem() == heap
