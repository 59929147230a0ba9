"""Round-12 focused pins: the exactness arguments behind this round's
aggregation rewrites, exercised on synthetic frames that include the
NULL cases the parquet fixtures never produce.

* fd_profile's rewrite of per-key count(DISTINCT dep) as a min/max
  pair (ndep > 1  <=>  min != max over non-null values) was evaluated
  (and reverted: it planned as SortAggregate and ran slower); the pin
  keeps the exactness argument, checking the two forms agree on every
  null pattern, including all-NULL keys.
* mv_advisor replaced SELECT-DISTINCT-then-count with
  countDistinct(struct(keys)); the pin checks struct-distinct counts
  null key values exactly like DataFrame.distinct().
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_fd_minmax_violation_equals_countdistinct(spark):
    rows = [
        # (cand, k, v_long, v_str)
        (0, 1, 10, None),   # k=1: two distinct longs -> violating
        (0, 1, 11, None),
        (0, 2, 10, None),   # k=2: one value twice -> holds
        (0, 2, 10, None),
        (0, 3, None, None),  # k=3: all-NULL dep -> ndep=0 -> holds
        (0, 4, 10, None),   # k=4: value + NULL -> ndep=1 -> holds
        (0, 4, None, None),
        (1, 1, None, "x"),  # string candidate, violating
        (1, 1, None, "y"),
        (1, 2, None, "x"),  # holds
    ]
    df = spark.createDataFrame(
        rows, "cand int, k int, v_long long, v_str string"
    )
    got = (
        df.groupBy("cand", "k")
        .agg(
            F.min("v_long").alias("min_l"),
            F.max("v_long").alias("max_l"),
            F.min("v_str").alias("min_s"),
            F.max("v_str").alias("max_s"),
        )
        .select(
            "cand",
            "k",
            F.when(
                (F.col("min_l") != F.col("max_l"))
                | (F.col("min_s") != F.col("max_s")),
                1,
            )
            .otherwise(0)
            .alias("v"),
        )
    )
    dep = F.when(
        F.col("v_long").isNotNull() | F.col("v_str").isNotNull(),
        F.struct("v_long", "v_str"),
    )
    ref = (
        df.groupBy("cand", "k")
        .agg(F.countDistinct(dep).alias("ndep"))
        .select(
            "cand",
            "k",
            F.when(F.col("ndep") > 1, 1).otherwise(0).alias("v"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ref.collect())
    )
    # and the expected verdicts, spelled out
    verdicts = {(r[0], r[1]): r[2] for r in got.collect()}
    assert verdicts == {
        (0, 1): 1, (0, 2): 0, (0, 3): 0, (0, 4): 0,
        (1, 1): 1, (1, 2): 0,
    }


def test_countdistinct_struct_matches_distinct_count(spark):
    rows = [
        ("a", 1), ("a", 1), ("a", None), ("a", None),
        (None, 1), (None, None), ("b", 2),
    ]
    df = spark.createDataFrame(rows, "x string, y int")
    ref = df.select("x", "y").distinct().count()  # 5 (nulls are groups)
    got = df.agg(
        F.countDistinct(F.struct("x", "y")).alias("n")
    ).collect()[0]["n"]
    assert got == ref == 5


def test_frequent_pairs_key_packing_roundtrip(spark):
    """a<<32|b is bijective for sorted-basket pairs (a<b, keys<2^32)."""
    pairs = [(0, 1), (1, 2), (19_999, 4_294_967_295), (7, 7 + 1)]
    df = spark.createDataFrame(pairs, "a long, b long")
    packed = df.select(
        F.shiftleft("a", 32).bitwiseOR(F.col("b")).alias("pk")
    )
    back = packed.select(
        F.shiftright("pk", 32).alias("a"),
        F.col("pk").bitwiseAND(F.lit(0xFFFFFFFF)).alias("b"),
    )
    assert sorted(map(tuple, back.collect())) == sorted(pairs)


if __name__ == "__main__":  # pragma: no cover
    pytest.main([__file__, "-q"])
