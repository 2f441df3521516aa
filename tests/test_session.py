"""Session construction: the default driver heap is sized to the host."""

from big_data_analysis_spark.session import _driver_memory

GIB_KB = 1024 * 1024


def test_driver_memory_is_half_the_host_capped_at_16g():
    assert _driver_memory(int(15.7 * GIB_KB)) == "7g"
    assert _driver_memory(64 * GIB_KB) == "16g"
    assert _driver_memory(32 * GIB_KB) == "16g"
    assert _driver_memory(31 * GIB_KB) == "15g"
    assert _driver_memory(GIB_KB) == "1g"
    assert _driver_memory(512 * 1024) == "1g"


def test_driver_memory_unknown_host_keeps_16g():
    assert _driver_memory(None) == "16g"
    assert _driver_memory(0) == "16g"
