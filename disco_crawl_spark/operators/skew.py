"""Explicit hot-key salting (north_star: 'explicit salting/repartition to
tame hot-host skew at 10^10-URL-frontier scale').

The reference's hot-host problem is the govCMS SaaS cluster — ~60 sites
behind one politeness group (govcms/README.md:15-17). The engine serializes
those at the *scheduling* level (group lock), but at the *data* level a hot
host still concentrates its URLs in one hash partition. ``salt_repartition``
splits a hot key across ``salt_n`` partitions deterministically;
aggregations over the salted layout then need one extra partial-merge
step, which Spark's partial aggregation already provides.

AQE's skew-join splitting handles the join case adaptively; explicit
salting is for aggregations/windows over a skewed key and for engines
where the skew is known ahead of time (a crawl knows its hot hosts from
the previous round's metrics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salt_col(key, salt_n: int):
    """Deterministic per-row salt derived from the whole row's natural
    spread (xxhash64 of the key + a disambiguator column when given)."""
    return F.pmod(F.xxhash64(key), F.lit(salt_n)).cast("int")


def salt_repartition(df: DataFrame, hot_key: str, spread_col: str,
                     salt_n: int = 16,
                     hot_keys: "list | None" = None) -> DataFrame:
    """Repartition by (hot_key, salt) where salt spreads rows of hot keys
    across ``salt_n`` partitions. If ``hot_keys`` is given, only those keys
    are salted (cold keys keep salt 0 so their groups stay whole)."""
    salt = salt_col(F.col(spread_col), salt_n)
    if hot_keys is not None:
        salt = F.when(F.col(hot_key).isin(hot_keys), salt).otherwise(F.lit(0))
    out = df.withColumn("__salt", salt)
    return out.repartition(F.col(hot_key), F.col("__salt"))
