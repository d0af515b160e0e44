"""Exact-duplicate collapse for pair-finding queries (VERDICT r9 #1).

All-pairs similarity queries (MinHash-LSH bands, SimHash blocks,
embedding-LSH buckets) are bucket-join shaped: candidates shuffle on
content-derived bucket keys, never the pair space.  Exact duplicates
are the one input pattern that defeats the shape: a cluster of g
identical documents puts g identical signatures into EVERY one of its
buckets, so the bucket self-join materializes O(g^2) candidate rows
per band before any filter can act.  At crawl scale — where
10^4..10^6-member exact-dup clusters are routine (boilerplate pages,
mirrored files) — that is quadratic JOIN work spent discovering pairs
the pipeline already knows are identical without reading a single
signature.

The guard: collapse each exact-content group to its min-id
representative BEFORE signatures, run the whole candidate + verify
pipeline over representatives only, then restore the full all-pairs
contract by expansion —

* cross pairs (members of two different groups) inherit their rep
  pair's payload verbatim: every similarity function these queries
  compute (shingle Jaccard, SimHash Hamming, embedding cosine)
  depends only on content, which is constant within an exact group;
* within-group pairs (two members of one group) get the
  identical-content payload (Jaccard 1, Hamming 0, self-cosine)
  directly, computed once per group from the representative.

Join work becomes duplicate-blind; the expansion is a fan-out of the
small verified-pair frame — rows are paid for only at emission, never
as shuffle-join intermediates.  The output is bit-identical to the
uncollapsed plan (the driver oracles pin this).

``within_group_pairs`` spreads giant groups: a group of g members
would otherwise emit its g^2/2 output pairs under ONE join key (one
task).  Groups above ``AUTO_BIG_MIN`` members are expanded through a
block-pair decomposition instead — members hash into ``BLOCKS``
buckets, pairs are generated per (block, block') combination keyed on
(_rep, block'), so the group's output spreads over ``BLOCKS`` tasks —
while small groups (the overwhelming majority) keep the plain
single-key join.  A dedup pipeline that only needs doc -> canonical
should still read the member frame itself rather than materializing a
million-dup cluster's pairs (cf. queries/pipeline_q.
doc_curation_verdicts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def collapse_exact(
    df: DataFrame, id_col: str, key: Column
) -> tuple[DataFrame, DataFrame]:
    """Group rows of ``df`` by the exact-content ``key`` expression.

    Returns ``(reps_df, members)``:

    * ``reps_df`` — the rows of ``df`` (original schema) whose id is
      the group minimum, one per distinct content;
    * ``members`` — ``(_id, _rep)``, every row's id mapped to its
      group representative (singletons map to themselves).

    Both frames hash-shuffle on the content key once; ``reps_df``
    rides the same exchange (the groupBy and the join-back share the
    key), so the collapse costs one narrow shuffle of (key, id) pairs
    regardless of content width.

    NULL-key contract: rows whose ``key`` evaluates to NULL are
    DROPPED from both frames — groupBy keeps a NULL-key group, but
    the equi-joins on ``_k`` never match it.  Every current caller
    keys on a sha2/content expression where a NULL key means the row
    can produce no signatures (and thus no pairs) anyway, so the drop
    is the wanted semantics; a caller whose NULL-key rows DO carry
    output must coalesce the key to a sentinel before calling
    (pinned by tests/test_rep_collapse.py).
    """
    keyed = df.withColumn("_k", key)
    reps = keyed.groupBy("_k").agg(F.min(id_col).alias("_rep"))
    members = (
        keyed.select("_k", id_col)
        .join(reps, "_k")
        .select(F.col(id_col).alias("_id"), "_rep")
    )
    reps_df = keyed.join(
        reps.select("_k", F.col("_rep").alias(id_col)), ["_k", id_col]
    ).drop("_k")
    return reps_df, members


# Probe ceiling for collapse_exact_adaptive: below this input size the
# dup-stats aggregation is a sub-second job and may steer the plan; at
# crawl scale the probe would itself be a corpus-wide exchange, and
# crawls carry dup clusters anyway — always collapse, no probe.
DUP_PROBE_MAX_ROWS = 20_000_000

# within_group_pairs auto-gate: estimated bytes/row of the (id, rep)
# members frame once Spark row overhead is counted (two longs plus
# UnsafeRow/broadcast bookkeeping — deliberately conservative so the
# block path engages BEFORE broadcast is truly lost).
MEMBER_ROW_BYTES = 48
# Block-path group-size cutoff once the auto-gate trips: a 4096-member
# group emits ~8.4M pairs — about one comfortable task's worth — so
# anything larger is spread over the block decomposition.
AUTO_BIG_MIN = 4096
# Buckets a big group's members hash into on the block path.
BLOCKS = 16


def collapse_exact_adaptive(
    df: DataFrame,
    id_col: str,
    key: Column,
    input_rows: int | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """``collapse_exact`` with a dup-lightness bypass (VERDICT r10
    #2).  Returns ``(reps_df, members)``; ``members is None`` means
    the probe proved the corpus dup-light and ``reps_df`` IS ``df`` —
    the caller should skip collapse expansion entirely and run its
    uncollapsed plan, whose output is bit-identical (the collapse is
    a pure performance rewrite; the driver oracles pin equality on
    both branches).

    Decision procedure (all evidence cheap at the scale it applies):

    * ``input_rows`` (parquet-footer count via operators/sizing — no
      Spark job) absent or above ``DUP_PROBE_MAX_ROWS``: collapse
      unconditionally, exactly like ``collapse_exact``.  No probe.
    * otherwise run ONE bounded stats job — the same groupBy the
      collapse itself needs, cached — and bypass iff the dup excess
      ``n - distinct`` is at most max(8, 1% of rows) AND the largest
      group has <= 32 members.  Under that gate the uncollapsed
      bucket join pays at most ~2 * 32 * 1% = well under 5% extra
      band rows, while the collapsed plan's fixed overhead (content
      hash exchange + expansion joins) costs more than it saves.
    * when collapsing, the probe's aggregation is REUSED as the
      ``reps`` frame (it is cached), so a collapse decision wastes
      none of the probe's work.

    The probe is the one place in the engine where building a query's
    DataFrame may run a Spark job; tests/test_plans.py's zero-jobs
    assertion carries exactly that documented allowlist, and the
    footer gate bounds the probe's cost by construction.
    """
    if input_rows is None or input_rows > DUP_PROBE_MAX_ROWS:
        return collapse_exact(df, id_col, key)
    keyed = df.withColumn("_k", key)
    grp = (
        keyed.groupBy("_k")
        .agg(F.min(id_col).alias("_rep"), F.count(F.lit(1)).alias("_n"))
        .cache()
    )
    st = grp.agg(
        F.sum("_n").alias("n"),
        F.count(F.lit(1)).alias("u"),
        F.max("_n").alias("gmax"),
    ).collect()[0]
    n = int(st["n"] or 0)
    u = int(st["u"] or 0)
    gmax = int(st["gmax"] or 0)
    if n - u <= max(8, n // 100) and gmax <= 32:
        grp.unpersist()
        return df, None
    reps = grp.select("_k", "_rep")
    members = (
        keyed.select("_k", id_col)
        .join(reps, "_k")
        .select(F.col(id_col).alias("_id"), "_rep")
    )
    reps_df = keyed.join(
        reps.select("_k", F.col("_rep").alias(id_col)), ["_k", id_col]
    ).drop("_k")
    return reps_df, members


def expand_cross_pairs(
    rep_pairs: DataFrame, members: DataFrame, c1: str, c2: str
) -> DataFrame:
    """Expand rep-level pairs ``(c1, c2, *payload)`` (both ids
    representatives, c1 < c2) to every member pair across the two
    groups, payload carried through.  Member ids are re-ordered with
    least/greatest — group membership does not respect id order."""
    payload = [c for c in rep_pairs.columns if c not in (c1, c2)]
    m1 = members.select(F.col("_rep").alias(c1), F.col("_id").alias("_m1"))
    m2 = members.select(F.col("_rep").alias(c2), F.col("_id").alias("_m2"))
    return (
        rep_pairs.join(m1, c1)
        .join(m2, c2)
        .select(
            F.least("_m1", "_m2").alias(c1),
            F.greatest("_m1", "_m2").alias(c2),
            *payload,
        )
    )


def within_group_pairs(
    members: DataFrame,
    c1: str,
    c2: str,
    members_rows: int | None = None,
) -> DataFrame:
    """All ordered member pairs (c1 < c2) inside each exact group,
    with the ``_rep`` key kept so callers can join per-group payload
    (e.g. the representative's shingle count).  Singleton groups emit
    nothing.

    Default path: one self-equi-join on ``_rep``.  As long as the
    member frame broadcasts (it is (id, rep) pairs — tiny relative to
    the corpus), the join is a BroadcastHashJoin and a giant group's
    g^2/2 output is generated IN PARALLEL across the stream side's
    partitions — there is no hot-key bottleneck to fix, and a
    measured r10 A/B showed the block path below costing 4-5x on a
    10^4-member planted cluster at test scale (extra explode + union
    + a 16-key join vs 32-way broadcast-parallel generation).

    The block-pair decomposition is the guard for the regime where
    the member frame has outgrown broadcast and the self-join degrades
    to a sort-merge join whose giant group lands on ONE task: groups
    above ``AUTO_BIG_MIN`` members hash into ``BLOCKS`` buckets; the
    left side explodes over the bucket range [own_bucket, BLOCKS), the
    right side keys on (_rep, bucket), and the equi-join emits every
    unordered pair exactly once — cross-bucket pairs from the lower
    bucket's row, same-bucket pairs via the id-order filter — spread
    over ``BLOCKS`` join-key values instead of one.

    ``members_rows`` (an upper bound on the member frame's row count,
    typically the parquet-footer count from operators/sizing — no
    Spark job) gates the block path (VERDICT r10 #1): it engages when
    the estimated members size ``members_rows * MEMBER_ROW_BYTES``
    exceeds the session's autoBroadcastJoinThreshold, exactly when
    the regime flips.  No estimate keeps the plain path (measured
    4-5x cheaper while broadcast holds)."""
    from pangenomesasgraphdatabases_spark.operators.sizing import (
        broadcast_threshold_bytes,
    )

    if members_rows is None or (
        members_rows * MEMBER_ROW_BYTES <= broadcast_threshold_bytes(members.sparkSession)
    ):
        a = members.select("_rep", F.col("_id").alias(c1))
        b = members.select("_rep", F.col("_id").alias(c2))
        return a.join(b, "_rep").filter(F.col(c1) < F.col(c2))
    members = members.cache()
    big = (
        members.groupBy("_rep")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > AUTO_BIG_MIN)
        .select("_rep")
    )
    small_m = members.join(F.broadcast(big), "_rep", "left_anti")
    a = small_m.select("_rep", F.col("_id").alias(c1))
    b = small_m.select("_rep", F.col("_id").alias(c2))
    small_pairs = a.join(b, "_rep").filter(F.col(c1) < F.col(c2))

    big_m = members.join(F.broadcast(big), "_rep").withColumn(
        "_b", F.pmod(F.xxhash64("_id"), F.lit(BLOCKS)).cast("int")
    )
    left = big_m.withColumn(
        "_b2", F.explode(F.sequence(F.col("_b"), F.lit(BLOCKS - 1)))
    )
    right = big_m.select(
        "_rep", F.col("_b").alias("_b2"), F.col("_id").alias("_rid")
    )
    same_block = F.col("_b") == F.col("_b2")
    big_pairs = (
        left.join(right, ["_rep", "_b2"])
        .filter(
            (~same_block) | (F.col("_id") < F.col("_rid"))
        )
        .select(
            "_rep",
            F.least("_id", "_rid").alias(c1),
            F.greatest("_id", "_rid").alias(c2),
        )
    )
    return small_pairs.unionByName(big_pairs)
