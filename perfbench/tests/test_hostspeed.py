"""The host speed factor and the steal share."""

import pytest

from perfbench import hostspeed


def test_factor_scales_to_the_reference_speed():
    ref = hostspeed.REF_S
    assert hostspeed.factor([ref] * 3) == pytest.approx(1.0)
    # a host running at half speed doubles the probe time: times halve
    assert hostspeed.factor([2 * ref, 2 * ref, 9 * ref]) == pytest.approx(0.5)


def test_probe_takes_a_positive_time():
    assert hostspeed.probe() > 0


def test_steal_share_of_tick_deltas():
    assert hostspeed.steal_share((1000, 10), (1400, 30)) == pytest.approx(0.05)
    assert hostspeed.steal_share((5, 1), (5, 1)) == 0.0
    total, stolen = hostspeed.host_ticks()
    assert 0 <= stolen <= total
