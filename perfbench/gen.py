"""Seeded statement-mix helpers shared by the workloads."""

from __future__ import annotations

import numpy as np


def rng_for(seed: int, workload: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, workload))])


def kinds_in_order(rng: np.random.Generator, quotas: dict[str, int]
                   ) -> list[str]:
    """Exactly ``quotas[k]`` statements of each kind in a seeded order
    that spreads each kind evenly over the run: the j-th of a kind's n
    statements falls at a random point of the j-th n-th of the run. The
    mix is identical on every seed and every stretch of the run holds
    about the same mix, so a drift in speed over the run (JIT, caches)
    weighs on every kind alike whatever the seed."""
    keyed = [((j + rng.random()) / n, k)
             for k, n in quotas.items() for j in range(n)]
    return [k for _, k in sorted(keyed)]


def zipf_index(rng: np.random.Generator, n: int, s: float = 1.1) -> int:
    """Index in [0, n) with P(i) proportional to 1 / (i + 1) ** s."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return int(rng.choice(n, p=w / w.sum()))
