"""The open loops' schedule, and freshness from each block's commit."""

import pytest

from perfbench.schedule import block_freshness, next_slot


def test_next_slot_is_the_next_grid_point():
    assert next_slot(10.0, 5.0, 10.0) == 15.0
    assert next_slot(10.0, 5.0, 14.9) == 15.0
    assert next_slot(10.0, 5.0, 15.0) == 20.0


def test_an_overrun_is_followed_at_once():
    # an operation that started at 15 and ran until 21.5 made the next one,
    # due at 20, late: it starts at once
    assert next_slot(10.0, 5.0, 15.0) == 20.0 < 21.5
    # one that started late, at 21.5, is followed at the slot after that
    assert next_slot(10.0, 5.0, 21.5) == 25.0


def test_blocks_of_one_operation_share_its_commit():
    created = lambda b: b * 0.5  # noqa: E731  block b is created at b/2 s
    fresh, missing = block_freshness([(0, 4), (4, 6)], [3.0, 4.5], created, range(0, 6))
    assert missing == []
    assert fresh == pytest.approx([3.0, 2.5, 2.0, 1.5, 2.5, 2.0])


def test_a_block_no_operation_carried_is_missing():
    fresh, missing = block_freshness([(0, 2), (3, 5)], [1.0, 3.0], lambda b: 0.0, range(0, 5))
    assert missing == [2]
    assert len(fresh) == 4
