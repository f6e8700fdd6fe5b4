"""Skew handling: salted two-phase aggregation and salted joins.

The corpus has engineered mega-entities (venue S0 / institution I0 on
~20% of pages — FIXTURES.md §1), the analog of real-world hot keys.
AQE's skew-join splitting covers sort-merge joins; these operators
cover the aggregation side and give an explicit, AQE-independent path
(north star names salting explicitly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _salt_expr(df: DataFrame, key_cols: list[str],
               salt_cols: list[str] | None, num_salts: int) -> Column:
    """Deterministic salt (resume runs reproduce identical partials).

    Hashes only ``salt_cols`` — callers name a small high-cardinality
    column set; hashing every column would drag wide payload columns
    (html, text, embeddings) through the hash for no distribution
    benefit. Default: the non-key columns, which preserves behavior for
    narrow frames but still skips the grouping keys (constant within a
    group, so they add no spread).
    """
    if salt_cols is None:
        salt_cols = [c for c in df.columns if c not in key_cols] or key_cols
    return F.pmod(F.hash(*[F.col(c) for c in salt_cols]), F.lit(num_salts))


def salted_count(df: DataFrame, key_cols: list[str], num_salts: int = 16,
                 salt_cols: list[str] | None = None) -> DataFrame:
    """Two-phase count: phase 1 groups on (key, salt) — hot keys fan
    out over ``num_salts`` reducers — phase 2 merges partials."""
    salt = _salt_expr(df, key_cols, salt_cols, num_salts)
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(F.count("*").alias("_partial"))
    )
    return phase1.groupBy(*key_cols).agg(F.sum("_partial").alias("cnt"))


def salted_join(big: DataFrame, small: DataFrame, key: str,
                num_salts: int = 8,
                salt_cols: list[str] | None = None) -> DataFrame:
    """Skew-safe equi-join: salt the big side, explode the small side
    across all salts, join on (key, salt). Use when a handful of keys
    dominate and the small side replicates cheaply."""
    big_s = big.withColumn("_salt", _salt_expr(big, [key], salt_cols,
                                               num_salts))
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    )
    return big_s.join(small_s, [key, "_salt"]).drop("_salt")
