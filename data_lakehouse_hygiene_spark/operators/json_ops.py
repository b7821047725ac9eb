"""Nested-JSON flattening P6 (SURVEY.md §2.2).

Reference: triple-nested BMKG payload flattened by Python loops
(``/root/reference/elt/clean_bmkg.py:59-71``) and dotted-path projection of
the AQICN dict (``elt/clean_aqicn.py:64-70``).

Spark-first: ``from_json`` with a declared schema + ``explode`` per nesting
level + dotted-path ``select`` — all Catalyst expressions; JSON parsing is
JVM-side (Jackson), vectorizable, and the declared schema prunes unused
branches of the payload at parse time (``spark.sql.json.enablePartialResults``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def parse_json_col(df: DataFrame, col: str, schema: StructType | str, out: str) -> Column | DataFrame:
    """Parse a JSON string column against a declared schema (malformed → NULL
    struct, matching the coerce-to-NULL cleaning contract)."""
    return df.withColumn(out, F.from_json(F.col(col), schema))


def explode_levels(df: DataFrame, *levels: str) -> DataFrame:
    """BMKG-style N-level array flattening: one ``explode`` per level.

    ``explode`` is a generator expression (no shuffle) — rows fan out within
    their partition, so a 100 TB nested scan flattens with zero exchanges.
    """
    out = df
    for lv in levels:
        out = out.withColumn(lv.split(".")[-1] + "_x", F.explode(F.col(lv)))
    return out


def nest_and_flatten(df: DataFrame, key1: str, key2: str, *fields: str) -> DataFrame:
    """Round-trip the BMKG triple-nested shape (``clean_bmkg.py:59-69``):
    build ``key1 -> [ (key2, [ (fields…) ]) ]`` with collect_list, then
    flatten back with one ``explode`` per level + dotted-path select.

    ``explode`` is a generator (no shuffle); only the two collect_list
    groupings exchange data. The flattened multiset equals the input —
    which is exactly what makes it oracle-checkable.
    """
    inner = df.groupBy(key1, key2).agg(
        F.collect_list(F.struct(*fields)).alias("readings")
    )
    outer = inner.groupBy(key1).agg(
        F.collect_list(F.struct(key2, "readings")).alias("days")
    )
    return (
        outer.select(key1, F.explode("days").alias("d"))
        .select(key1, f"d.{key2}", F.explode("d.readings").alias("r"))
        .select(key1, key2, *[f"r.{f}" for f in fields])
    )

