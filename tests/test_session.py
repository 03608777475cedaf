"""Memory defaults derived from the machine (pure function, no Spark)."""

from __future__ import annotations

from bitcoinpagerank_spark.session import memory_defaults

GiB = 1 << 30


def test_heap_is_half_of_ram_capped_at_16g():
    assert memory_defaults(int(15.7 * GiB), None)[0] == "7g"
    assert memory_defaults(64 * GiB, None)[0] == "16g"
    assert memory_defaults(512 * GiB, None)[0] == "16g"
    assert memory_defaults(1 * GiB, None)[0] == "1g"


def test_unknown_ram_keeps_the_16g_cap_and_plain_disk():
    assert memory_defaults(None, 100 * GiB) == ("16g", False)


def test_shm_only_when_ram_has_room_beyond_the_heap():
    # 15.7 GB box with 15.7 GB free tmpfs: 8.7 GiB beyond a 7g heap is
    # not room for 8 GiB of shuffle files plus everything else
    assert memory_defaults(int(15.7 * GiB), int(15.7 * GiB)) == ("7g", False)
    assert memory_defaults(32 * GiB, 16 * GiB) == ("16g", True)
    assert memory_defaults(64 * GiB, 32 * GiB) == ("16g", True)
    # plenty of RAM but the tmpfs itself is nearly full or absent
    assert memory_defaults(64 * GiB, 4 * GiB) == ("16g", False)
    assert memory_defaults(64 * GiB, None) == ("16g", False)
