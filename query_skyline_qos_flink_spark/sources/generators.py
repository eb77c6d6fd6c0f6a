"""Seeded synthetic point-set generators — Spark-native rebuild of the
reference's producers (``/root/reference/python/unified_producer.py:50-123``,
``kafka_producer.py:44-88``).

Three distributions over an integer domain [0, domain], all dims minimized:

* ``uniform``         — iid integer uniform per dim (average-case skylines).
* ``correlated``      — shared base + small noise (rho=0.9): diagonal
  clustering, tiny skylines, duplicate-heavy at the corner.
* ``anti_correlated`` — random direction scaled onto the anti-diagonal
  hyperplane (sum ~= d*mid) with a d-dependent thickness epsilon
  (2D .0005 / 3D .05 / 4D .9): the skyline worst case (BASELINE.md).

Everything is a deterministic column expression over ``spark.range(n)``
(seeded ``F.rand``), so generation distributes and scales linearly — no
driver-side loops, no Python RNG.  Output schema matches FIXTURES.md §2:
``id bigint, values array<double>`` (plus exploded ``v0..v{d-1}`` doubles
via :func:`exploded`, the fast path for column-expression partitioners).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

EPSILON = {2: 0.0005, 3: 0.05, 4: 0.9}


def _eps(d: int) -> float:
    return EPSILON.get(d, d * 0.005 * 100)


def _clamp_int(c, lo: float, hi: float):
    # reference clamps then truncates toward zero via int(); values are
    # positive so floor == trunc
    return F.greatest(F.lit(lo), F.least(F.lit(hi), F.floor(c).cast("double")))


def points(
    spark: SparkSession,
    n: int,
    d: int,
    distribution: str = "uniform",
    domain: float = 10000.0,
    seed: int = 42,
) -> DataFrame:
    """DataFrame ``(id bigint, v0..v{d-1} double)`` of ``n`` seeded points."""
    df = spark.range(n).withColumnRenamed("id", "id")
    lo, hi = 0.0, float(domain)
    rng = hi - lo

    if distribution == "uniform":
        cols = [
            _clamp_int(F.rand(seed + i) * F.lit(rng + 1) + F.lit(lo), lo, hi).alias(f"v{i}")
            for i in range(d)
        ]
    elif distribution == "correlated":
        rho = 0.9
        base = F.rand(seed) * F.lit(rng) + F.lit(lo)
        cols = []
        for i in range(d):
            noise = (F.rand(seed + 1000 + i) * 2.0 - 1.0) * F.lit((1 - rho) * rng)
            cols.append(_clamp_int(base + noise, lo, hi).alias(f"v{i}"))
    elif distribution == "anti_correlated":
        eps = _eps(d)
        mean = (lo + hi) / 2.0 * d
        slack = eps * rng * d
        target = F.rand(seed + 7) * F.lit(2 * slack) + F.lit(mean - slack)
        raw = [F.rand(seed + 100 + i) for i in range(d)]
        total = raw[0]
        for r in raw[1:]:
            total = total + r
        scale = F.when(total != 0, target / total).otherwise(F.lit(1.0))
        cols = [_clamp_int(r * scale, lo, hi).alias(f"v{i}") for i, r in enumerate(raw)]
    else:
        raise ValueError(f"unknown distribution {distribution!r}")

    return df.select("id", *cols)
