"""The session factory's host-sized defaults (pure functions, no Spark)."""

from web_template_forensics_spark.session import default_driver_memory

GIB = 1 << 30


def test_default_driver_memory_is_half_the_host_in_whole_gib():
    assert default_driver_memory(16 * GIB) == "8g"
    assert default_driver_memory(15_700_000_000) == "7g"  # 7.3 GiB -> 7g
    assert default_driver_memory(5 * GIB) == "2g"


def test_default_driver_memory_clamps_to_1g_and_48g():
    assert default_driver_memory(GIB) == "1g"
    assert default_driver_memory(512 * 1024 * 1024) == "1g"
    assert default_driver_memory(96 * GIB) == "48g"
    assert default_driver_memory(1024 * GIB) == "48g"


def test_default_driver_memory_unknown_host_keeps_48g():
    assert default_driver_memory(None) == "48g"
    assert default_driver_memory(0) == "48g"
