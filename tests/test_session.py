"""Session sizing: the default driver heap stays within the RAM the
host has available, however many cores ask for more."""

from searchengine_spark.session import driver_heap_gib


def _meminfo_gib(key: str) -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError(f"no {key}")


def test_driver_heap_capped_by_available_host_ram():
    assert 1 <= driver_heap_gib(10**6) <= 0.4 * _meminfo_gib("MemTotal")
    assert driver_heap_gib(1) == 1
