"""Session defaults sized from the host."""

import os

import pytest

from rustac_spark.session import default_driver_memory


@pytest.mark.parametrize("phys_gib, want", [
    (15.7, "7g"), (64, "16g"), (1, "1g"), (0.5, "1g")])
def test_default_driver_memory_is_half_the_host_capped(monkeypatch,
                                                       phys_gib, want):
    pages = {"SC_PAGE_SIZE": 4096,
             "SC_PHYS_PAGES": int(phys_gib * 2**30) // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    assert default_driver_memory() == want
