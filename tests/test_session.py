"""The session factory's default driver heap fits the host it runs on."""

from pygridmap_spark.session import _driver_memory

GiB = 1 << 30


def test_driver_memory_is_a_share_of_the_host():
    assert _driver_memory(16 * GiB) == "6553m"
    # the cgroup limit wins when lower, and only then
    assert _driver_memory(64 * GiB, 8 * GiB) == "3276m"
    assert _driver_memory(16 * GiB, (1 << 63) - 4096) == "6553m"


def test_driver_memory_is_capped_and_floored():
    assert _driver_memory(512 * GiB) == "24576m"
    assert _driver_memory(1 * GiB) == "1024m"
