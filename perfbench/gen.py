"""Seeded input generator for the benchmark.

Builds mtslake's series IR

    (url STRING, lang STRING, ts_us LONG, n_chars LONG, value DOUBLE,
     text_sha1 STRING)

directly from ``spark.range`` with Spark built-ins. The shape of an
input (urls, days, points per url per day, hot-set size and density,
gap rate) is fixed by a ``Shape``; the seed changes only which values
fill it: url identity, lang, jitter, gaps, which urls are hot, the
signal's noise, the text digests, and (for appends) the late slice.
mtslake receives only the resulting DataFrames.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

US_PER_S = 1_000_000
US_PER_DAY = 86_400 * US_PER_S
# 2024-01-01T00:00:00Z: day-aligned, so chunk_id == day index + offset
T0_US = 1_704_067_200 * US_PER_S
LANGS = ("en", "de", "fr", "zh", "es")


@dataclass(frozen=True)
class Shape:
    n_urls: int
    days: int
    per_day: int = 96  # base grid: one point per 15 minutes
    n_hot: int = 0
    hot_factor: int = 20
    n_domains: int = 16
    gap_mod: int = 12  # one grid point in gap_mod is dropped (~8%)


def _h(seed: int, salt: int, *cols) -> F.Column:
    return F.xxhash64(F.lit(seed), F.lit(salt), *cols)


def urls(spark: SparkSession, shape: Shape, seed: int) -> DataFrame:
    """One row per url: url_id, url, lang, per-day density, family."""
    off = (seed * 7919) % max(shape.n_urls, 1)
    uid = F.col("id")
    hot = F.pmod(uid + F.lit(off), F.lit(shape.n_urls)) < F.lit(shape.n_hot)
    domain = F.pmod(_h(seed, 1, uid), F.lit(shape.n_domains))
    return spark.range(shape.n_urls).select(
        uid.alias("url_id"),
        F.concat(
            F.lit("https://d"), domain.cast("string"),
            F.lit(".example.com/p/"), F.hex(_h(seed, 2, uid)),
        ).alias("url"),
        F.element_at(
            F.array(*[F.lit(x) for x in LANGS]),
            (F.pmod(_h(seed, 3, uid), F.lit(len(LANGS))) + 1).cast("int"),
        ).alias("lang"),
        F.when(hot, F.lit(shape.per_day * shape.hot_factor))
        .otherwise(F.lit(shape.per_day)).alias("n_per_day"),
        F.pmod(_h(seed, 4, uid), F.lit(4)).alias("fam"),
    )


def series(spark: SparkSession, shape: Shape, seed: int,
           day_lo: int = 0, day_hi: int | None = None) -> DataFrame:
    """Points of days [day_lo, day_hi) of the input (all days if
    ``day_hi`` is None). Points are a pure function of (seed, url, day,
    slot), so any day range regenerates identically."""
    day_hi = shape.days if day_hi is None else day_hi
    u = urls(spark, shape, seed)
    p = u.withColumn(
        "day", F.explode(F.sequence(F.lit(day_lo), F.lit(day_hi - 1)))
    ).withColumn(
        "slot", F.explode(F.sequence(F.lit(0), F.col("n_per_day") - 1))
    )
    step_s = F.lit(86_400) / F.col("n_per_day")  # integral for our shapes
    # non-negative jitter below 2/3 of a step: points stay in grid
    # order and inside their own day (so inside their own chunk)
    jmax = (step_s / 3).cast("long")
    k = F.col("day") * F.col("n_per_day") + F.col("slot")
    jitter = F.pmod(_h(seed, 5, F.col("url_id"), k), 2 * jmax + 1)
    ts_us = (
        F.lit(T0_US)
        + (F.col("day") * 86_400 + (F.col("slot") * step_s).cast("long")
           + jitter) * F.lit(US_PER_S)
    )
    keep = (F.pmod(_h(seed, 6, F.col("url_id"), k), F.lit(shape.gap_mod))
            != 0) | (k == 0)
    t = ts_us.cast("double") / F.lit(1e6)
    noise = (F.pmod(_h(seed, 7, F.col("url_id"), k), F.lit(1_000_000))
             .cast("double") / F.lit(1e6) - F.lit(0.5))
    fam = F.col("fam")
    value = (
        F.when(fam == 0, F.lit(0.0))
        .when(fam == 1, noise * F.lit(0.5))
        .when(fam == 2, F.sin(t / F.lit(3600.0)) + noise * F.lit(0.25))
        .otherwise(F.sin(t / F.lit(86400.0)))
    )
    n_chars = F.lit(200) + F.pmod(_h(seed, 8, F.col("url_id"), k),
                                  F.lit(1000))
    sha = F.sha1(F.concat_ws(":", F.lit(str(seed)), F.col("url"),
                             k.cast("string")))
    return p.filter(keep).select(
        "url", "lang",
        ts_us.alias("ts_us"),
        n_chars.cast("long").alias("n_chars"),
        value.alias("value"),
        sha.alias("text_sha1"),
    )


def late_mask(seed: int, late_mod: int = 20) -> F.Column:
    """Seeded ~1/late_mod slice of a day's points that arrives a day
    late (over a series frame: keyed on url and ts)."""
    return F.pmod(_h(seed, 9, F.col("url"), F.col("ts_us")),
                  F.lit(late_mod)) == 0


def day_bounds(day: int) -> tuple[int, int]:
    """[t0, t1] in μs of input day ``day``, inclusive on both ends
    (read_range's bounds are inclusive)."""
    t0 = T0_US + day * US_PER_DAY
    return t0, t0 + US_PER_DAY - 1


def chunk_id_of_day(day: int) -> int:
    return (T0_US + day * US_PER_DAY) // US_PER_DAY
