"""Skew handling: probe + salt-and-repartition (north rule: "partitioning /
shuffle / skew handled explicitly").

Scene footprints are zipf-skewed (one scene can own 100x the tiles of the
median — FIXTURES.md skew knob). Hash-partitioning on scene_id alone would
pin the giant scene on one task; salting spreads it:

    salt = pmod(xxhash64(image_id), S)   # deterministic, key-derived
    df.repartition(scene_id, salt)

S is sized from a cheap metadata-only probe (bytes column never read). The
band pair (pipeline.pair_bands) is no join: it hash-partitions on the full
tile key into defaultParallelism partitions, which spreads a giant scene's
tiles without a salt, and AQE's skew-join splitting (session.py) never sees
it. Salting is for exchanges keyed on scene_id alone, where a zipf scene
pins one task; it also fixes *kernel-stage* skew, which AQE's join
mitigation does not touch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def skew_profile(df: DataFrame, key: str = "scene_id") -> dict:
    """Metadata-only probe: per-key row counts -> skew stats."""
    counts = df.groupBy(key).count()
    stats = counts.agg(
        F.max("count").alias("max"),
        F.expr("percentile_approx(count, 0.5)").alias("median"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("count").alias("rows"),
    ).collect()[0]
    med = max(int(stats["median"] or 1), 1)
    return {
        "n_keys": int(stats["n_keys"]),
        "rows": int(stats["rows"]),
        "max": int(stats["max"]),
        "median": med,
        "skew_ratio": int(stats["max"]) / med,
    }


def choose_salt(profile: dict, target_rows_per_part: int = 256) -> int:
    """Salt modulus so the biggest key splits to ~target_rows_per_part rows."""
    return max(1, min(1024, -(-profile["max"] // target_rows_per_part)))


def salted_repartition(
    df: DataFrame,
    key: str = "scene_id",
    salt_from: str = "image_id",
    salt_mod: int | None = None,
    target_rows_per_part: int = 256,
) -> DataFrame:
    """Deterministic salt column + repartition on (key, salt)."""
    if salt_mod is None:
        salt_mod = choose_salt(skew_profile(df, key), target_rows_per_part)
    out = df.withColumn("salt", F.pmod(F.xxhash64(salt_from), F.lit(salt_mod)).cast("int"))
    return out.repartition(F.col(key), F.col("salt"))
