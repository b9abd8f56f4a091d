"""Physical-plan inspection helpers: the ".explain and iterate" loop as
assertable checks. Tests use these to pin that filters reach the parquet
scan, small dimensions broadcast, and hot paths stay inside whole-stage
codegen — the plan properties that decide 100 TB behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the scan node(s)."""
    s = explain_str(df)
    return "\n".join(line.strip() for line in s.splitlines()
                     if "PushedFilters" in line)


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    return fragment in pushed_filters(df)


def scan_schema(df: DataFrame) -> str:
    """ReadSchema of scan nodes — verifies column pruning (a scan reading
    all columns for a 2-column projection is wrong)."""
    s = explain_str(df)
    return "\n".join(line.strip() for line in s.splitlines()
                     if "ReadSchema" in line)


def partition_filters(df: DataFrame) -> str:
    """The PartitionFilters section of the scan node(s) — verifies partition
    pruning (a probed-bucket ANN query must not scan other buckets)."""
    s = explain_str(df)
    return "\n".join(line.strip() for line in s.splitlines()
                     if "PartitionFilters" in line)


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df, "simple")


def shuffle_count(df: DataFrame) -> int:
    """Number of exchange (shuffle) operators in the physical plan."""
    s = explain_str(df, "simple")
    return sum(1 for line in s.splitlines()
               if "Exchange hashpartitioning" in line
               or "Exchange rangepartitioning" in line)
