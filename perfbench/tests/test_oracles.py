"""Checks on the plain-Python oracles the textpipe workload compares
the pipeline against.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

from workloads import cc_rounds, component_drops, hash_draw  # noqa: E402


def path(lo, n):
    return [(lo + i, lo + i + 1) for i in range(n - 1)]


def test_component_drops_keeps_the_minimum_of_each_component():
    edges = path(10, 4) + [(3, 1), (1, 2)] + [(7, 8)]
    assert component_drops(edges) == {11, 12, 13, 2, 3, 8}


def test_component_drops_on_no_edges():
    assert component_drops([]) == set()


def test_cc_rounds_grows_with_log_of_the_chain_length():
    assert [cc_rounds(path(0, n)) for n in (2, 4, 8, 16)] == [1, 2, 3, 4]


def test_cc_rounds_is_set_by_the_longest_chain():
    assert cc_rounds(path(0, 8) + path(100, 3)) == cc_rounds(path(0, 8))


def test_hash_draw_is_a_uniform_fraction():
    draws = [hash_draw(i, "perfbench") for i in range(2000)]
    assert all(0.0 <= d < 1.0 for d in draws)
    assert 0.85 < sum(d < 0.9 for d in draws) / len(draws) < 0.95
    assert hash_draw(7, "perfbench") != hash_draw(7, "")
