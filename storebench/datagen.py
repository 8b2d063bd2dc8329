"""Seeded key-dense time series: the Spark generator and its closed form.

The store has two dimensions and one long value:

- ``time``, chunked at 4096;
- ``sensor``, chunked at 64;
- ``value = (time*31 + sensor*17 + seed) % 1_000_000 + 1_000_000*wave``.

A slab is every key of a ``[t0, t0+nt) x [s0, s0+ns)`` rectangle, written
at wave 0. Upsert wave ``w`` rewrites exactly the keys of a slab where
``(time*7 + sensor*13 + seed + w) % 10 == 0``, with the wave-``w`` value.
Everything a check needs (row counts, value sums, point values) is
computed here in plain Python, independent of the store.
"""

from __future__ import annotations

from dataclasses import dataclass, field

TIME_CHUNK = 4096
SENSOR_CHUNK = 64
WAVE_STRIDE = 1_000_000
#: on-disk size of one user row: two long dims and one long value
USER_ROW_BYTES = 24


def value(t: int, s: int, seed: int, wave: int = 0) -> int:
    return (t * 31 + s * 17 + seed) % 1_000_000 + WAVE_STRIDE * wave


def rewritten(t: int, s: int, seed: int, wave: int) -> bool:
    """True when upsert wave ``wave`` rewrites key ``(t, s)``."""
    return (t * 7 + s * 13 + seed + wave) % 10 == 0


def schema():
    from matdb_spark.schema import Dimension, Schema, Value

    return Schema(
        dimensions=[Dimension("time", TIME_CHUNK), Dimension("sensor", SENSOR_CHUNK)],
        values=[Value("value")],
    )


def slab_df(spark, t0: int, nt: int, s0: int, ns: int, seed: int, wave: int = 0):
    """Every key of the slab, with its wave-``wave`` value."""
    from pyspark.sql import functions as F

    keys = spark.range(nt * ns).select(
        (F.lit(t0) + F.col("id") % nt).alias("time"),
        (F.lit(s0) + F.expr(f"id div {nt}")).alias("sensor"),
    )
    return keys.withColumn(
        "value",
        (F.col("time") * 31 + F.col("sensor") * 17 + seed) % 1_000_000
        + WAVE_STRIDE * wave,
    )


def wave_df(spark, t0: int, nt: int, s0: int, ns: int, seed: int, wave: int):
    """The keys of the slab that upsert wave ``wave`` rewrites."""
    from pyspark.sql import functions as F

    pred = (F.col("time") * 7 + F.col("sensor") * 13 + seed + wave) % 10 == 0
    return slab_df(spark, t0, nt, s0, ns, seed, wave).filter(pred)


@dataclass
class Slab:
    t0: int
    nt: int
    s0: int
    ns: int
    waves: list[int] = field(default_factory=list)

    def contains(self, t: int, s: int) -> bool:
        return self.t0 <= t < self.t0 + self.nt and self.s0 <= s < self.s0 + self.ns


class Model:
    """Expected store contents: disjoint slabs plus the waves applied
    to each. Later waves win, as later commits do in the store."""

    def __init__(self, seed: int):
        self.seed = seed
        self.slabs: list[Slab] = []

    def add_slab(self, t0: int, nt: int, s0: int, ns: int) -> Slab:
        slab = Slab(t0, nt, s0, ns)
        self.slabs.append(slab)
        return slab

    def rows(self) -> int:
        return sum(sl.nt * sl.ns for sl in self.slabs)

    def _slab_value(self, slab: Slab, t: int, s: int) -> int:
        wave = 0
        for w in slab.waves:
            if rewritten(t, s, self.seed, w):
                wave = w
        return value(t, s, self.seed, wave)

    def value(self, t: int, s: int) -> int | None:
        for slab in self.slabs:
            if slab.contains(t, s):
                return self._slab_value(slab, t, s)
        return None

    def range_summary(self, t_lo: int, t_hi: int, s_lo: int, s_hi: int) -> tuple[int, int]:
        """(row count, value sum) over the inclusive key rectangle."""
        n = total = 0
        for slab in self.slabs:
            for t in range(max(t_lo, slab.t0), min(t_hi, slab.t0 + slab.nt - 1) + 1):
                for s in range(max(s_lo, slab.s0), min(s_hi, slab.s0 + slab.ns - 1) + 1):
                    n += 1
                    total += self._slab_value(slab, t, s)
        return n, total

    def summary(self) -> tuple[int, int]:
        """(row count, value sum) over the whole store."""
        n = total = 0
        for sl in self.slabs:
            sn, st = self.range_summary(sl.t0, sl.t0 + sl.nt - 1, sl.s0, sl.s0 + sl.ns - 1)
            n, total = n + sn, total + st
        return n, total
