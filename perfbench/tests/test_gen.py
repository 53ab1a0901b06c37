import numpy as np

from gen import kinds_in_order

QUOTAS = {"read": 40, "write": 10, "rare": 3}


def test_order_keeps_the_quotas_on_every_seed():
    for seed in range(20):
        kinds = kinds_in_order(np.random.default_rng(seed), QUOTAS)
        assert {k: kinds.count(k) for k in QUOTAS} == QUOTAS


def test_each_kind_is_spread_over_the_run():
    # the j-th of a kind's n statements sits in the j-th n-th of the run,
    # so no stretch of the run is short of a kind whatever the seed
    n, slack = sum(QUOTAS.values()), len(QUOTAS)
    for seed in range(20):
        kinds = kinds_in_order(np.random.default_rng(seed), QUOTAS)
        for k, q in QUOTAS.items():
            pos = [i for i, x in enumerate(kinds) if x == k]
            for j, p in enumerate(pos):
                assert j * n / q - slack <= p <= (j + 1) * n / q + slack


def test_order_depends_on_the_seed_only():
    a = kinds_in_order(np.random.default_rng(3), QUOTAS)
    assert a == kinds_in_order(np.random.default_rng(3), QUOTAS)
    assert a != kinds_in_order(np.random.default_rng(4), QUOTAS)
