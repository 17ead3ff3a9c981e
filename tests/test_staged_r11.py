"""Oracle parity for the operators defined in ``operators/staged_r11.py``,
one parametrized drive through ``tests.test_parity.assert_oracle_parity``.
Cross-op identities for these operators live in
tests/test_staged_cross_assert.py."""

from __future__ import annotations

import pytest

from tests.test_parity import REGISTRY, assert_oracle_parity, module_keys

KEYS = module_keys("staged_r11")


@pytest.mark.parametrize("name", KEYS)
def test_staged_r11_parity(spark, duck_small, name):
    assert_oracle_parity(spark, duck_small, name)


def test_wave_g_activated():
    """Every operator defined in staged_r11 is registered (50), and
    every one carries an oracle."""
    assert len(KEYS) == 50
    assert all(REGISTRY[k].oracle_sql for k in KEYS)
