"""Driver heap default: 16g, capped at half of physical memory."""

import pytest

from libpostal_spark.session import _default_driver_mem


@pytest.mark.parametrize(
    "mem_kib,want",
    [
        (64 * (1 << 20), "16g"),      # ≥ 32 GiB keeps the 16g default
        (32 * (1 << 20), "16g"),
        (16479424, "7g"),             # a 15.7 GiB machine
        (3 * (1 << 20), "1g"),
        (1 << 20, "1g"),              # never below 1g
    ],
)
def test_default_driver_mem_is_half_of_physical(tmp_path, mem_kib, want):
    f = tmp_path / "meminfo"
    f.write_text(f"MemTotal:       {mem_kib} kB\nMemFree:  1 kB\n")
    assert _default_driver_mem(str(f)) == want


def test_default_driver_mem_falls_back_to_16g(tmp_path):
    assert _default_driver_mem(str(tmp_path / "missing")) == "16g"
    f = tmp_path / "meminfo"
    f.write_text("MemTotal: lots\n")
    assert _default_driver_mem(str(f)) == "16g"
