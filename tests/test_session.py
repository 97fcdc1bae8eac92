"""Session defaults that depend on the host (pure Python, no Spark)."""

import pytest

from rlr_spark.session import _driver_memory, byte_size

GIB = 2**30


def test_driver_memory_is_half_of_ram_capped_at_16g():
    assert _driver_memory(15 * GIB) == "7680m"  # 15 GB host: half
    assert _driver_memory(32 * GIB) == "16384m"  # exactly the cap
    assert _driver_memory(256 * GIB) == "16384m"  # big host: 16g
    assert _driver_memory(3 * GIB + 1) == "1536m"  # rounds down to whole MiB


def test_byte_size_reads_spark_size_settings():
    """The broadcast threshold as get_spark sets it (bytes), in Spark's
    unit forms, and disabled (-1)."""
    assert byte_size(str(64 * 2**20)) == 64 * 2**20
    assert byte_size("10MB") == byte_size("10m") == 10 * 2**20
    assert byte_size(" 2G ") == 2 * GIB
    assert byte_size("512k") == byte_size("512kb") == 512 * 2**10
    assert byte_size("7b") == byte_size("7") == 7
    assert byte_size("-1") == -1
    with pytest.raises(ValueError):
        byte_size("ten")
