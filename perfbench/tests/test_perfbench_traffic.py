"""The serve workload's query streams."""

import numpy as np

from workloads import query_stream


def test_every_second_query_repeats_an_earlier_one():
    for seed in range(20):
        qs = query_stream(500, 40, np.random.default_rng(seed), 1.1)
        for j, q in enumerate(qs):
            if j % 2:
                assert q in qs[:j]
            else:
                assert q not in qs[:j]


def test_stream_is_deterministic_and_skews_repeats_to_early_queries():
    a = query_stream(500, 400, np.random.default_rng(3), 1.1)
    assert a == query_stream(500, 400, np.random.default_rng(3), 1.1)
    first = a[0]
    assert sum(q == first for q in a[1::2]) > 0.1 * len(a[1::2])


def test_stream_starts_over_after_the_pool():
    qs = query_stream(3, 12, np.random.default_rng(0), 1.1)
    assert sorted(qs[0:6:2]) == [0, 1, 2]
    assert qs[6:12:2] == qs[0:6:2]

