"""Set operators (SURVEY §2.8).

None exist in the reference; the engine exposes Spark's native surface and
uses ``unionByName`` for the idiomatic rewrite of the reference's
split-impute-recombine (R_groupe4.R:115-123).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def union_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.unionByName(b).distinct()


def intersect(a: DataFrame, b: DataFrame, keep_dups: bool = False) -> DataFrame:
    return a.intersectAll(b) if keep_dups else a.intersect(b)


def except_(a: DataFrame, b: DataFrame, keep_dups: bool = False) -> DataFrame:
    return a.exceptAll(b) if keep_dups else a.subtract(b)
