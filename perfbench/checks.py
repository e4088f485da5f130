"""Output checks: order-insensitive table digests and the pinned values.

A digest is the row count plus the sum of a 64-bit hash of every row.
Floating-point columns are rounded to 6 decimals before hashing, so a
change that only reorders a floating-point sum keeps the digest; map
columns are hashed as their key-sorted entries, and ``file_path`` as
its file name, so the digest does not depend on the checkout's location.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected", "etl_batch.json")


def digest(df: DataFrame) -> list:
    """[rows, digest] of a DataFrame, independent of row and column order."""
    row = _digest_frame(df).first()
    return [int(row["n"]), str(row["d"])]


def digest_tables(spark, paths: dict[str, str]) -> dict[str, list]:
    """digest() of several parquet tables, computed in one Spark job."""
    from functools import reduce

    frames = [_digest_frame(spark.read.parquet(p)).select(F.lit(name).alias("t"), "n", "d") for name, p in paths.items()]
    rows = reduce(DataFrame.unionByName, frames).collect()
    return {r["t"]: [int(r["n"]), str(r["d"])] for r in rows}


def _digest_frame(df: DataFrame) -> DataFrame:
    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{f.name}`")
        if f.name == "file_path":  # lineage: keep the node log's name, not where the corpus was written
            c = F.regexp_extract(c, r"[^/]*$", 0)
        elif isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c, 6)
        elif isinstance(f.dataType, T.MapType):  # maps are not hashable; entries sorted by key are
            c = F.array_sort(F.map_entries(c))
        cols.append(c)
    return df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("h"), F.lit(0)).cast("decimal(38,0)").alias("d")
    )


def load_pins(spec: dict) -> dict[str, dict]:
    """Pinned per-seed table digests for this corpus spec ({} if none)."""
    if not os.path.exists(PINNED):
        return {}
    with open(PINNED) as fh:
        doc = json.load(fh)
    return doc["seeds"] if doc.get("spec") == spec else {}
