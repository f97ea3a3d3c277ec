"""Driver heap sizing: the default launches on a host smaller than 48g."""

from ch_pdf_parse_spark.session import default_driver_memory

GiB = 1024 ** 3


def test_default_driver_memory_is_capped_by_ram():
    assert default_driver_memory(125 * GiB) == "49152m"  # the 48g cap
    assert default_driver_memory(96 * GiB) == "49152m"
    assert default_driver_memory(15 * GiB) == "7680m"  # half of RAM
    assert default_driver_memory(GiB) == "512m"
    assert default_driver_memory(0) == "49152m"  # RAM unknown
    mb = int(default_driver_memory()[:-1])
    assert 0 < mb <= 48 * 1024
