"""Session configuration sized from the host."""

from open_ftth_relational_projector_spark.session import default_driver_memory


def test_default_driver_memory_fits_host():
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    value = default_driver_memory()
    assert value.endswith("m")
    assert 0 < int(value[:-1]) * 1024 <= total_kb
