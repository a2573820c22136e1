"""The driver heap default: min(16g, 0.6 x the host's memory limit)."""

from public_transit_data_platform_sql_nosql_spark.session import (
    driver_memory_default,
)

GIB = 1024 ** 3


def _meminfo(total_kb: int) -> str:
    return (f"MemTotal:       {total_kb} kB\n"
            f"MemFree:        {total_kb // 2} kB\n"
            f"MemAvailable:   {total_kb // 2} kB\n")


def test_memtotal_limits_heap_without_cgroup():
    # a 15 GiB host: 0.6 x 15 GiB = 9216 MiB, below the 16g cap
    assert driver_memory_default(_meminfo(15 * 1024 * 1024), None) \
        == "9216m"
    # "max" is cgroup v2 for "no limit": MemTotal still decides
    assert driver_memory_default(_meminfo(15 * 1024 * 1024), "max\n") \
        == "9216m"


def test_cgroup_limit_below_memtotal_wins():
    assert driver_memory_default(_meminfo(64 * 1024 * 1024),
                                 f"{4 * GIB}\n") == "2457m"


def test_cgroup_limit_cannot_exceed_memtotal():
    assert driver_memory_default(_meminfo(8 * 1024 * 1024),
                                 f"{64 * GIB}\n") == "4915m"


def test_large_host_keeps_16g_cap():
    assert driver_memory_default(_meminfo(256 * 1024 * 1024), "max") \
        == "16384m"
    assert driver_memory_default(_meminfo(256 * 1024 * 1024),
                                 f"{128 * GIB}") == "16384m"


def test_unreadable_limits_fall_back_to_cap():
    assert driver_memory_default("", None) == "16384m"
