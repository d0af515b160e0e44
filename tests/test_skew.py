"""Skew helpers (operators/skew.py) against their plain plans."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_hot_key_salted_join_matches_plain(spark, monkeypatch):
    """hot_key_salted_join == plain inner join, with and without a
    genuinely hot key, and with HOT_MIN=0 (every key salted)."""
    from pangenomesasgraphdatabases_spark.operators import skew
    from pangenomesasgraphdatabases_spark.operators.skew import (
        hot_key_salted_join,
    )

    # pairs: doc1=7 is hot (300 pairs), others have a handful.
    pairs = [(7, 1000 + i) for i in range(300)]
    pairs += [(d, 2000 + i) for d in range(3) for i in range(4)]
    left = spark.createDataFrame(pairs, ["doc1", "doc2"])
    items = [(d, f"sh{d}_{j}") for d in [7, 0, 1, 2, 9] for j in range(5)]
    right = spark.createDataFrame(items, ["doc1", "shingle"])

    plain = {tuple(r) for r in left.join(right, "doc1").collect()}
    monkeypatch.setattr(skew, "SALT_N", 4)
    for hot_min in (0, 50, 10**9):
        monkeypatch.setattr(skew, "HOT_MIN", hot_min)
        got = {
            tuple(r)
            for r in hot_key_salted_join(left, right, "doc1", "doc2").collect()
        }
        assert got == plain, f"hot_min={hot_min}"
    spark.catalog.clearCache()


def test_capped_pair_rows_hot_list_fallback(spark, monkeypatch):
    """VERDICT r15 #3: a posting list longer than the cap must take the
    chunked expansion (bounded in-row pair batches) and still produce
    the identical pair multiset — planted hot element (60 ids > cap=16,
    4 chunks incl. a ragged tail) beside normal lists and a singleton,
    compared against the exact combination set."""
    from itertools import combinations

    from pangenomesasgraphdatabases_spark.operators import skew
    from pangenomesasgraphdatabases_spark.operators.skew import (
        capped_pair_rows,
    )

    monkeypatch.setattr(skew, "PAIR_EXPANSION_CAP", 16)
    rows = (
        # hot element: 60 distinct ids -> ceil(60/16) = 4 chunks
        [("hot", i) for i in range(60)]
        # cold elements: small lists, incl. a singleton (no pairs)
        + [("c1", i) for i in (3, 7, 11)]
        + [("c2", i) for i in (5, 9)]
        + [("c3", 42)]
    )
    sets = spark.createDataFrame(rows, ["pk", "ok"])
    posts = sets.groupBy("pk").agg(
        F.sort_array(F.collect_list("ok")).alias("oks")
    )
    got = sorted(
        (r.lo, r.hi)
        for r in capped_pair_rows(posts, "oks").collect()
    )
    want = sorted(
        list(combinations(range(60), 2))
        + list(combinations((3, 7, 11), 2))
        + list(combinations((5, 9), 2))
    )
    assert got == want
    # plan evidence: single lineage — chunking adds generates, never a
    # join or a second aggregation of the posting frame
    plan = capped_pair_rows(posts, "oks")._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Generate") == 3  # chunk, chunk-pair, pair batch
    for node in (
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastHashJoin",
        "CartesianProduct",
    ):
        assert node not in plan
    spark.catalog.clearCache()


def test_capped_pair_rows_empty_and_exact_boundary(spark, monkeypatch):
    """Cap-boundary lists (size == cap) stay single-chunk; an all-null
    group collects an empty array and yields no pairs (the
    greatest(n_chunks, 1) guard, not a sequence(0,-1) error)."""
    from itertools import combinations

    from pangenomesasgraphdatabases_spark.operators import skew
    from pangenomesasgraphdatabases_spark.operators.skew import (
        capped_pair_rows,
    )

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("pk", StringType()),
            StructField("ok", IntegerType(), nullable=True),
        ]
    )
    monkeypatch.setattr(skew, "PAIR_EXPANSION_CAP", 8)
    rows = [("b", i) for i in range(8)] + [("nulls", None)]
    sets = spark.createDataFrame(rows, schema)
    posts = sets.groupBy("pk").agg(
        F.sort_array(F.collect_list("ok")).alias("oks")
    )
    got = sorted(
        (r.lo, r.hi)
        for r in capped_pair_rows(posts, "oks").collect()
    )
    assert got == sorted(combinations(range(8), 2))
    spark.catalog.clearCache()
