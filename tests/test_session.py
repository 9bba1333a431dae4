"""Driver-heap sizing from the machine's memory (`session.get_spark`)."""

from __future__ import annotations

from pulsar_sync_java_spark.session import default_driver_memory


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def _cgroup(tmp_path, value: str) -> str:
    p = tmp_path / "memory.max"
    p.write_text(value + "\n")
    return str(p)


def test_physical_memory_bounds_the_heap(tmp_path):
    # 16 GiB of RAM, no cgroup limit file: 40% of 16 GiB
    got = default_driver_memory(_meminfo(tmp_path, 16 << 20), str(tmp_path / "absent"))
    assert got == f"{int((16 << 30) * 0.4) >> 20}m" == "6553m"


def test_cgroup_limit_below_physical_memory_wins(tmp_path):
    got = default_driver_memory(
        _meminfo(tmp_path, 16 << 20), _cgroup(tmp_path, str(4 << 30))
    )
    assert got == "1638m"


def test_unlimited_cgroup_falls_back_to_physical_memory(tmp_path):
    got = default_driver_memory(_meminfo(tmp_path, 8 << 20), _cgroup(tmp_path, "max"))
    assert got == "3276m"


def test_nothing_readable_gives_a_fixed_default(tmp_path):
    assert default_driver_memory(str(tmp_path / "a"), str(tmp_path / "b")) == "4g"
