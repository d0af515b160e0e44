"""Skew-mitigation helpers (SURVEY.md section 4 scale rules).

AQE's skew-join handling covers most cases at runtime; these helpers
are for the two shapes AQE doesn't fix:

- `capped_pair_rows`: i<j pair expansion of a per-row id list with the
  quadratic hot-list memory hazard capped by chunking.
- `hot_key_salted_join`: an equi-join that salts only the keys hot on
  the left side, replicating just their right-side rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# In-row pair expansion builds its pair batch as ONE flatten() value
# before the explode streams it out, so the chunk width caps that
# value's memory: 1024 -> at most ~1M structs (~32 MB) per batch, the
# largest single allocation the expansion may make, regardless of how
# hot the list is.
PAIR_EXPANSION_CAP = 1024
# hot_key_salted_join: left rows that make a key hot, and the salt
# width its right rows are replicated over.
HOT_MIN = 16_384
SALT_N = 16


def capped_pair_rows(posts: DataFrame, list_col: str) -> DataFrame:
    """(lo, hi) rows — one per i<j position pair of each row's SORTED
    DISTINCT id array — with the quadratic hot-list memory hazard
    capped (VERDICT r15 #3, guide §2.5).

    The uncapped r15 array surgery built the whole |L|(|L|-1)/2 struct
    array as one flatten() value, so a hot posting list risked executor
    OOM (the pre-r15 self-join streamed the same pairs through a join
    iterator: slow task, never OOM).  Here the sorted array is cut into
    ceil(L/PAIR_EXPANSION_CAP) chunks and the chunk-pair index space is exploded FIRST:

      gen1  posexplode(chunks)                 -> (ci, a) carrying chunks
      gen2  posexplode(slice(chunks, ci+1, ..))-> (k, b); k=0 means b==a
      gen3  explode(pair batch)                -> (lo, hi)

    where the pair batch is the i<j intra-chunk surgery when k=0 and
    the full a x b cross product otherwise (sorted disjoint ranges:
    every a value < every b value).  Each flatten is <=
    PAIR_EXPANSION_CAP^2 structs and the carried columns stay linear in L, so per-row memory is
    bounded; a hot key still streams its pairs in one task — the
    pre-r15 hazard class — but can no longer OOM.  Lists that fit one
    chunk (every list on skew-free data) take gen1/gen2 as single-row
    pass-throughs and the pair batch is EXACTLY the r15 expression: one
    lineage, no joins, no cache, no second execution of ``posts``.
    Output multiset is identical to the uncapped expansion by
    construction (each unordered pair lands in exactly one chunk cell;
    ids are distinct and the array sorted, so i<j == lo < hi)."""
    cap = PAIR_EXPANSION_CAP
    size = F.size(list_col)
    # greatest(…, 1): an all-null group collects an EMPTY array, and
    # sequence(0, -1) would raise rather than return [].
    n_chunks = F.greatest(F.ceil(size / F.lit(cap)).cast("int"), F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.slice(list_col, k * cap + 1, cap),
    )
    g1 = posts.select(
        F.col(list_col).alias("_l"),  # only for the chunks expr below
        F.posexplode(chunks).alias("_ci", "_a"),
    )
    # Re-derive the remaining chunks from _l (carrying the full chunk
    # array through gen1 would be a second linear copy per chunk row).
    n1 = F.greatest(F.ceil(F.size("_l") / F.lit(cap)).cast("int"), F.lit(1))
    rest = F.transform(
        F.sequence(F.col("_ci"), n1 - 1),
        lambda k: F.slice("_l", k * cap + 1, cap),
    )
    g2 = g1.select("_a", F.posexplode(rest).alias("_k", "_b"))
    intra = F.flatten(
        F.transform(
            "_a",
            lambda x, i: F.transform(
                F.slice("_a", i + 2, F.size("_a") - i - 1),
                lambda y: F.struct(x.alias("lo"), y.alias("hi")),
            ),
        )
    )
    cross = F.flatten(
        F.transform(
            "_a",
            lambda x: F.transform(
                "_b", lambda y: F.struct(x.alias("lo"), y.alias("hi"))
            ),
        )
    )
    batch = F.when(F.col("_k") == 0, intra).otherwise(cross)
    return g2.select(F.explode(batch).alias("p")).select(
        F.col("p.lo").alias("lo"), F.col("p.hi").alias("hi")
    )


def hot_key_salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    spread_col: str,
) -> DataFrame:
    """Inner equi-join ``left ⋈ right`` on ``key``, differential-salted
    against hot keys on the LEFT side (VERDICT r9 #6).

    The shape this protects: a pair/verification frame joined to a
    per-key item frame — e.g. LSH candidate pairs (doc1, doc2) joined
    to (doc1, shingle) — where one template-like key can hold the bulk
    of the pairs.  A plain hash/SMJ join lands every row of a hot key
    in one task; salting EVERYTHING multiplies the right side's
    shuffle volume by ``SALT_N`` even when no skew exists.  So: keys
    with more than ``HOT_MIN`` left rows (detected with one cheap agg
    of the left frame) are joined through a deterministic salt derived
    from ``spread_col`` (row-stable, no rand()), with ONLY the hot
    keys' right rows replicated ``SALT_N`` ways; all other keys join
    untouched.  On a skew-free input the hot frame is empty and both
    branches degenerate to the plain join plus one empty-broadcast
    probe.  Output rows are exactly the plain join's.

    ``left`` is cached (the plan reads it three times: hot detection,
    hot branch, cold branch); caller-side clearCache reclaims it, the
    same lifecycle policy as queries/text_q."""
    left = left.cache()
    hot = (
        left.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > HOT_MIN)
        .select(key)
    )
    cold = left.join(F.broadcast(hot), key, "left_anti").join(right, key)
    left_hot = left.join(F.broadcast(hot), key).withColumn(
        "_salt", F.pmod(F.xxhash64(spread_col), F.lit(SALT_N)).cast("int")
    )
    right_hot = right.join(F.broadcast(hot), key).withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_N - 1)))
    )
    hot_joined = left_hot.join(right_hot, [key, "_salt"]).drop("_salt")
    return cold.unionByName(hot_joined)
