"""Session defaults that depend on the host (pure Python, no Spark)."""

from rlr_spark.session import _driver_memory

GIB = 2**30


def test_driver_memory_is_half_of_ram_capped_at_16g():
    assert _driver_memory(15 * GIB) == "7680m"  # 15 GB host: half
    assert _driver_memory(32 * GIB) == "16384m"  # exactly the cap
    assert _driver_memory(256 * GIB) == "16384m"  # big host: 16g
    assert _driver_memory(3 * GIB + 1) == "1536m"  # rounds down to whole MiB
