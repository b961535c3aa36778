"""Session defaults that need no Spark to check."""

from __future__ import annotations

from chainalytic_framework_spark.session import default_driver_memory


def test_driver_memory_is_at_most_half_the_machine():
    gib = 2**30
    assert default_driver_memory(16 * gib) == "8192m"
    assert default_driver_memory(15 * gib + 123_456) == "7680m"
    assert default_driver_memory(64 * gib) == "24576m"  # capped at 24g
    assert default_driver_memory(None) == "24576m"  # memory unknown
