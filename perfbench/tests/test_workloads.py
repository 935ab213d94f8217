"""The analytics round: seeded reads, writes at fixed places."""

import random

import workloads as W


def test_round_keeps_writes_in_place_and_seeds_the_reads():
    reads = [f"r{i}" for i in range(20)]
    a = W.round_order(reads, "U", "W", random.Random(1))
    b = W.round_order(reads, "U", "W", random.Random(2))
    places = lambda o: [(i, x) for i, x in enumerate(o) if x in ("U", "W")]  # noqa: E731
    assert places(a) == places(b) == [(0, "U"), (1, "W"), (12, "U"), (23, "U")]
    assert sorted(x for x in a if x.startswith("r")) == sorted(reads)
    assert [x for x in a if x.startswith("r")] != [x for x in b if x.startswith("r")]
