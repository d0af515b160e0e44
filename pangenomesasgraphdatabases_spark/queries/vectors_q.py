"""Similarity search over the `embeddings` table (engine extension).

Brute-force cosine top-k is the exactness baseline; the LSH-bucketed
variant (random-hyperplane signs via md5 bit votes — engine-portable)
is the 100 TB path: candidates shuffle on bucket id instead of the
full cross product.  Dot products stay JVM-side via zip_with +
aggregate in DOUBLE (no Python UDF).

Cache lifecycle: the IVF queries cache the k-means centroid frame
because the returned plan consumes it twice (inverted-list assignment
and the output join / query probing); unpersisting before return would
defeat that.  Callers own the cache: collect the result, then
`spark.catalog.clearCache()` (bench.py does this between queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pangenomesasgraphdatabases_spark.data import table
from pangenomesasgraphdatabases_spark.queries.registry import register


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


@register(
    "emb_norms",
    oracle="""
    SELECT vec_id, label,
           CAST(len(embedding) AS INTEGER) AS dim,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
    FROM embeddings
    """,
    tags=("ext-vector",),
)
def emb_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm + dimensionality (extension)."""
    e = table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(_norm(F.col("embedding")), 4).alias("l2_norm"),
    )


@register(
    "emb_label_stats",
    oracle="""
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(CAST(round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1000000)
               AS BIGINT)) AS BIGINT) // count(*) AS avg_norm_micro,
           CAST(sum(CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000)
               AS BIGINT)) AS BIGINT) // count(*) AS avg_dim0_micro
    FROM embeddings
    GROUP BY label
    """,
    tags=("ext-vector", "A1"),
)
def emb_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label aggregates over vector-derived scalars (extension).
    Averages are exact fixed-point micros (integer sum div count):
    avg(double) accumulates in engine- and partition-order, which can
    flip the rounded decimal (the r1 z-score / sliding-avg lesson)."""
    e = table(spark, sf_dir, "embeddings")
    norm_micro = F.round(_norm(F.col("embedding")) * 1000000).cast("bigint")
    dim0_micro = F.round(
        F.element_at("embedding", 1).cast("double") * 1000000
    ).cast("bigint")
    acc = e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(norm_micro).alias("_sn"),
        F.sum(dim0_micro).alias("_sd"),
    )
    return acc.select(
        "label",
        "n_vectors",
        F.expr("_sn div n_vectors").alias("avg_norm_micro"),
        F.expr("_sd div n_vectors").alias("avg_dim0_micro"),
    )


@register(
    "ann_bruteforce_topk",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, embedding FROM embeddings),
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               sum(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
                   AS dot,
               sqrt(sum(CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))
                   AS qn,
               sqrt(sum(CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
                   AS cn
        FROM q, c, generate_series(1, 64) t(i)
        WHERE q.vec_id <> c.vec_id
        GROUP BY q.vec_id, c.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               round(dot / (qn * cn), 6) AS cosine,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY round(dot / (qn * cn), 6) DESC, neighbor_id ASC)
                   AS rank
        FROM dots
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """,
    tags=("ext-vector", "ann"),
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for query vectors (vec_id < 5):
    the ANN correctness baseline (extension).  Deterministic tie-break
    on (rounded cosine desc, neighbor_id)."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"))
    # Query side is tiny -> broadcast; candidates stream through.
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    cos = _dot(F.col("q_emb"), F.col("c_emb")) / (
        _norm(F.col("q_emb")) * _norm(F.col("c_emb"))
    )
    scored = pairs.select(
        "query_id", "neighbor_id", F.round(cos, 6).alias("cosine")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 10)
    )


@register(
    "ann_lsh_buckets",
    oracle="""
    WITH sig AS (
        SELECT vec_id, label,
               (CASE WHEN CAST(embedding[1] AS DOUBLE)
                          - CAST(embedding[33] AS DOUBLE) > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN CAST(embedding[2] AS DOUBLE)
                          - CAST(embedding[34] AS DOUBLE) > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN CAST(embedding[3] AS DOUBLE)
                          - CAST(embedding[35] AS DOUBLE) > 0 THEN 1 ELSE 0 END)
               AS bucket
        FROM embeddings
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(count(DISTINCT label) AS BIGINT) AS n_labels
    FROM sig GROUP BY bucket
    """,
    tags=("ext-vector", "ann", "lsh"),
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketing (3-bit signature from fixed coordinate
    -difference hyperplanes): the scale path for ANN — neighbor search
    shuffles per bucket, not across the full corpus (extension)."""
    e = table(spark, sf_dir, "embeddings")

    def side(i: int, j: int, weight: int):
        diff = F.element_at("embedding", i).cast("double") - F.element_at(
            "embedding", j
        ).cast("double")
        return F.when(diff > 0, F.lit(weight)).otherwise(F.lit(0))

    bucket = side(1, 33, 4) + side(2, 34, 2) + side(3, 35, 1)
    return (
        e.select(bucket.alias("bucket"), "label")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("label").alias("n_labels"),
        )
    )


# --- multi-table hyperplane LSH (the ANN / near-dup scale path) -------------
#
# 8 hash tables x 3 coordinate-difference hyperplanes (plane k: sign of
# embedding[k] - embedding[k+32]).  Engine-portable: the same plane
# spec generates both the Spark plan and the DuckDB oracle SQL.
# Measured on the sf0.01 corpus (500 random vectors, the WORST case
# for LSH — no cluster structure): top-10 query recall 0.96 avg / 0.90
# min vs brute force; pair recall 0.90 at cosine >= 0.35.  Candidates
# shuffle on (table, bucket) — never the O(n^2) cross product.
_LSH_TABLES: list[list[tuple[int, int]]] = [
    [(k + 1, k + 33) for k in range(3 * tbl, 3 * tbl + 3)] for tbl in range(8)
]


def _bucket_sql(planes: list[tuple[int, int]]) -> str:
    terms = [
        f"(CASE WHEN CAST(embedding[{i}] AS DOUBLE)"
        f" - CAST(embedding[{j}] AS DOUBLE) > 0 THEN {1 << (len(planes) - 1 - b)}"
        f" ELSE 0 END)"
        for b, (i, j) in enumerate(planes)
    ]
    return " + ".join(terms)


_SIG_SQL = "\n        UNION ALL\n".join(
    f"        SELECT vec_id, {tbl} AS tbl, {_bucket_sql(planes)} AS bucket"
    f" FROM embeddings"
    for tbl, planes in enumerate(_LSH_TABLES)
)


def _sig_frame(e: DataFrame) -> DataFrame:
    """(vec_id, tbl, bucket) rows — one per vector per hash table."""
    parts = []
    for tbl, planes in enumerate(_LSH_TABLES):
        bucket = None
        for b, (i, j) in enumerate(planes):
            diff = F.element_at("embedding", i).cast("double") - F.element_at(
                "embedding", j
            ).cast("double")
            term = F.when(diff > 0, F.lit(1 << (len(planes) - 1 - b))).otherwise(0)
            bucket = term if bucket is None else bucket + term
        parts.append(
            e.select("vec_id", F.lit(tbl).alias("tbl"), bucket.alias("bucket"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH sig AS (
{_SIG_SQL}
    ),
    qsig AS (SELECT vec_id AS query_id, tbl, bucket FROM sig WHERE vec_id < 5),
    cand AS (
        SELECT DISTINCT q.query_id, s.vec_id AS neighbor_id
        FROM qsig q JOIN sig s ON q.tbl = s.tbl AND q.bucket = s.bucket
        WHERE s.vec_id <> q.query_id
    ),
    dots AS (
        SELECT c.query_id, c.neighbor_id,
               sum(CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE))
                   AS dot,
               sqrt(sum(CAST(qe.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE)))
                   AS qn,
               sqrt(sum(CAST(ce.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE)))
                   AS cn
        FROM cand c
        JOIN embeddings qe ON qe.vec_id = c.query_id
        JOIN embeddings ce ON ce.vec_id = c.neighbor_id, generate_series(1, 64) t(i)
        GROUP BY c.query_id, c.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               round(dot / (qn * cn), 6) AS cosine,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY round(dot / (qn * cn), 6) DESC, neighbor_id ASC)
                   AS rank
        FROM dots
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """,
    tags=("ext-vector", "ann", "lsh"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 through the LSH scale path: multi-table hyperplane
    buckets generate candidates (equi-join on (table, bucket)), exact
    cosine scores only the candidates, a per-query window takes the
    top-k.  Same query set / tie-break as ann_bruteforce_topk, so
    recall is directly measurable (pytest asserts >= 0.8; measured
    0.96 avg on the random sf0.01 corpus)."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sig = _sig_frame(e)
    qsig = sig.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "tbl", "bucket"
    )
    cand = (
        qsig.join(sig, ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    qe = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    ce = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    scored = (
        cand.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("q_emb"), F.col("c_emb"))
                / (_norm(F.col("q_emb")) * _norm(F.col("c_emb"))),
                6,
            ).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= 10
    )


@register(
    "emb_cosine_near_dup",
    oracle=f"""
    WITH sig AS (
{_SIG_SQL}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec1, b.vec_id AS vec2
        FROM sig a JOIN sig b
          ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    d AS (
        SELECT c.vec1, c.vec2,
               sum(CAST(ae.embedding[i] AS DOUBLE) * CAST(be.embedding[i] AS DOUBLE))
                 / (sqrt(sum(CAST(ae.embedding[i] AS DOUBLE) * CAST(ae.embedding[i] AS DOUBLE)))
                  * sqrt(sum(CAST(be.embedding[i] AS DOUBLE) * CAST(be.embedding[i] AS DOUBLE))))
                 AS cosine
        FROM cand c
        JOIN embeddings ae ON ae.vec_id = c.vec1
        JOIN embeddings be ON be.vec_id = c.vec2, generate_series(1, 64) t(i)
        GROUP BY c.vec1, c.vec2
    )
    SELECT vec1, vec2, round(cosine, 4) AS cosine
    FROM d WHERE cosine >= 0.35
    """,
    tags=("ext-vector", "dedup", "near-dup", "lsh"),
)
def emb_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs through LSH candidate
    generation: pairs sharing any (table, bucket) are scored exactly,
    threshold cosine >= 0.35.  The r1 version was an ungated O(n^2)
    theta-join (VERDICT perf-weak #1); this plan shuffles on bucket ids
    only — pair recall 0.90 at the threshold on the random sf0.01
    corpus (higher on genuinely duplicated data: a true near-dup pair
    agrees on almost every hyperplane).  The exact all-pairs baseline
    remains available as emb_cosine_near_dup_exact (size-gated).

    Quadratic-output caveat (measured r10, SCALE.md): at threshold
    0.35 on a RANDOM corpus the CONTRACT itself is quadratic — random
    64-d cosines sit ~N(0, 1/64), so P(cos >= 0.35) ~ 2.6e-3 and the
    true output is ~0.0026 * n^2 / 2 rows; no candidate scheme beats
    its own output size, and 8 tables x 3 hyperplanes prune random
    pairs only ~2x at this weak threshold (raising bits to prune more
    collapses recall at theta ~ 70 degrees: p = 1 - theta/pi = 0.61
    per plane).  On real near-dup corpora (tight clusters, few random
    pairs near the threshold) output is linear and the bucket join
    prunes; for corpus-scale sweeps at a weak threshold use the gated
    exact variant on a sample or raise the threshold.

    Hot-bucket guard (VERDICT r9 #1): bit-identical embeddings
    collapse to their min-id representative before hashing
    (operators/rep_collapse; the group key is the raw float array —
    exact equality, no hash-collision risk) — identical vectors share
    every (table, bucket), so a g-member dup cluster otherwise costs
    O(g^2) bucket-join rows per table.  Expansion restores the
    all-pairs contract: cross pairs inherit the rep pair's cosine
    (content-determined), within-group pairs get the representative's
    self-cosine computed through the SAME dot/norm expression and
    threshold as the pair path — ~1.0 for any non-zero vector; a NULL
    embedding's NULL self-cosine is filtered and a zero vector's NaN
    passes the threshold (NaN sorts greatest in BOTH engines), each
    exactly matching what the uncollapsed plan emits.

    Dup-light bypass (VERDICT r10 #2, same contract as
    doc_lsh_near_dup_pairs): the footer-gated stats probe skips the
    collapse/expand machinery when the corpus is dup-light; the
    within expansion auto-gates its block path via ``members_rows``."""
    from pangenomesasgraphdatabases_spark.operators.rep_collapse import (
        collapse_exact_adaptive,
        expand_cross_pairs,
        within_group_pairs,
    )
    from pangenomesasgraphdatabases_spark.operators.sizing import (
        parquet_rows,
    )

    e0 = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_vecs = parquet_rows(sf_dir, "embeddings")
    e, members = collapse_exact_adaptive(
        e0, "vec_id", F.col("embedding"), input_rows=n_vecs
    )
    sig = _sig_frame(e)
    a = sig.select(F.col("vec_id").alias("vec1"), "tbl", "bucket")
    b = sig.select(F.col("vec_id").alias("vec2"), "tbl", "bucket")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("vec1") < F.col("vec2"))
        .select("vec1", "vec2")
        .distinct()
    )
    ae = e.select(F.col("vec_id").alias("vec1"), F.col("embedding").alias("e1"))
    be = e.select(F.col("vec_id").alias("vec2"), F.col("embedding").alias("e2"))
    cos = _dot(F.col("e1"), F.col("e2")) / (_norm(F.col("e1")) * _norm(F.col("e2")))
    rep_pairs = (
        cand.join(ae, "vec1")
        .join(be, "vec2")
        .select("vec1", "vec2", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.35)
        .select("vec1", "vec2", F.round("cosine", 4).alias("cosine"))
    )
    if members is None:  # dup-light bypass: vectors ARE the reps
        return rep_pairs
    self_cos = _dot(F.col("embedding"), F.col("embedding")) / (
        _norm(F.col("embedding")) * _norm(F.col("embedding"))
    )
    rep_self = (
        e.select(F.col("vec_id").alias("_rep"), self_cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.35)
        .select("_rep", F.round("cosine", 4).alias("cosine"))
    )
    cross = expand_cross_pairs(rep_pairs, members, "vec1", "vec2")
    # Members restricted to groups whose rep CLEARS the threshold
    # filter before pair generation (r10 review): a NULL-embedding dup
    # group emits nothing (NULL self-cosine fails the filter in both
    # engines), so its g^2/2 pairs must never be generated only to be
    # dropped by the payload join.  (A zero-vector group's NaN
    # self-cosine PASSES >= 0.35 in both Spark and DuckDB — NaN sorts
    # greatest — so those pairs are genuinely emitted, identically.)
    within = within_group_pairs(
        members.join(rep_self.select("_rep"), "_rep"),
        "vec1",
        "vec2",
        members_rows=n_vecs,
    ).join(rep_self, "_rep").select("vec1", "vec2", "cosine")
    return cross.unionByName(within)


# emb_cosine_near_dup_exact's corpus gate: a pair space of ~2e8.
EXACT_MAX_VECTORS = 20_000


def emb_cosine_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs near-dup baseline — O(n^2) by construction, so
    gated: refuses corpora of more than EXACT_MAX_VECTORS vectors.  Use
    the LSH-bucketed emb_cosine_near_dup at scale."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = e.count()
    if n > EXACT_MAX_VECTORS:
        raise ValueError(
            f"exact all-pairs gated to n<={EXACT_MAX_VECTORS} vectors (got {n}); "
            "use emb_cosine_near_dup (LSH-bucketed) instead"
        )
    a = e.select(F.col("vec_id").alias("vec1"), F.col("embedding").alias("e1"))
    b = e.select(F.col("vec_id").alias("vec2"), F.col("embedding").alias("e2"))
    pairs = a.join(b, F.col("vec1") < F.col("vec2"))
    cos = _dot(F.col("e1"), F.col("e2")) / (_norm(F.col("e1")) * _norm(F.col("e2")))
    return (
        pairs.select("vec1", "vec2", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.35)
        .select("vec1", "vec2", F.round("cosine", 4).alias("cosine"))
    )


# --- IVF: k-means coarse quantizer + probe-limited search -------------------
#
# The second ANN scale path next to hyperplane LSH: Lloyd's k-means
# (K=8 centroids, 2 unrolled iterations, deterministic init = the K
# lowest vec_ids) partitions the corpus into inverted lists; a query
# probes only its _KM_NPROBE nearest centroids' lists.  At 100 TB the
# assign step is a broadcast join against K centroids (narrow, no
# shuffle of the corpus) and the search shuffles per-list, not
# all-pairs.  Engine parity: centroid recomputation sums integer-scaled
# coordinates (round(x * 1e6) as BIGINT) — exact and order-independent
# in both engines — then divides once in double; distances round to
# 6dp before the argmin so accumulation-order ULPs cannot flip an
# assignment (same discipline as the r1 z-score fix).
_KM_K = 8
_KM_ITERS = 2
_KM_NPROBE = 2
_KM_SCALE = 1_000_000
_KM_DIM = 64

_KM_BASE_SQL = f"""
    ev AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    sv AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT)) AS s
        FROM embeddings
    ),
    c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
        FROM (SELECT vec_id, v FROM ev ORDER BY vec_id LIMIT {_KM_K}) init
    )"""


def _km_assign_sql(n: int, cent: str) -> str:
    """d{n}/a{n} CTEs: squared-L2 argmin assignment against `cent`."""
    return f"""
    d{n} AS (
        SELECT ev.vec_id, c.cid,
               sum((ev.v[i] - c.cvec[i]) * (ev.v[i] - c.cvec[i])) AS dist
        FROM ev, {cent} c, generate_series(1, {_KM_DIM}) t(i)
        GROUP BY ev.vec_id, c.cid
    ),
    a{n} AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY round(dist, 6) ASC, cid ASC) AS rn
            FROM d{n}
        ) r WHERE rn = 1
    )"""


def _km_update_sql(n: int, prev_cent: str) -> str:
    """m{n}/cn{n}/c{n} CTEs: exact-integer centroid recomputation from
    a{n}, empty clusters keep their previous centroid."""
    return f"""
    m{n} AS (
        SELECT a.cid, i AS dim, sum(sv.s[i]) AS ssum, count(*) AS n
        FROM a{n} a JOIN sv ON a.vec_id = sv.vec_id,
             generate_series(1, {_KM_DIM}) t(i)
        GROUP BY a.cid, i
    ),
    cn{n} AS (
        SELECT cid,
               list(CAST(ssum AS DOUBLE) / (n * {_KM_SCALE}.0) ORDER BY dim)
                   AS cvec
        FROM m{n} GROUP BY cid
    ),
    c{n} AS (
        SELECT p.cid, coalesce(u.cvec, p.cvec) AS cvec
        FROM {prev_cent} p LEFT JOIN cn{n} u ON p.cid = u.cid
    )"""


_KM_CHAIN_SQL = _KM_BASE_SQL + "".join(
    "," + _km_assign_sql(i, f"c{i - 1}") + "," + _km_update_sql(i, f"c{i - 1}")
    for i in range(1, _KM_ITERS + 1)
)


def _km_sq_dist(v, c):
    return F.aggregate(
        F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _km_ev(e: DataFrame) -> DataFrame:
    return e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


def _km_pack(cent: DataFrame) -> DataFrame:
    """One-row frame packing the K-row centroid dim into cid-sorted
    parallel arrays (_cids, _cvecs) — the broadcast side of the map-side
    argmin (r15, guide §2.4: the former crossJoin+Window shape shuffled
    and sorted N×K scored rows to pick each vector's minimum; the K-row
    dim never justifies an exchange on the N-row vector frame)."""
    packed = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cvec"))).alias("_cc")
    )
    return packed.select(
        F.transform("_cc", lambda c: c["cid"]).alias("_cids"),
        F.transform("_cc", lambda c: c["cvec"]).alias("_cvecs"),
    )


def _km_dists(vcol) -> F.Column:
    """array<double> of rounded squared distances against the packed
    `_cvecs` column, cid order — the identical per-pair expression
    (round(_km_sq_dist, 6)) the Window shape scored, evaluated in-row."""
    return F.transform(
        F.col("_cvecs"), lambda c: F.round(_km_sq_dist(vcol, c), 6)
    )


# The argmin over a materialized `_d` distance array: array_position
# finds the FIRST occurrence of the minimum, and `_cids`/`_d` are in
# ascending-cid order, so ties resolve to the lowest cid — bit-identical
# selection to the former Window orderBy(dist asc, cid asc) rn=1.
# `_d` is deliberately materialized by its own projection (withColumn)
# so the transform fold evaluates once per row; array_min/array_position
# are plain array scans.
# PRECONDITION (ADVICE r15): embeddings must be NaN-free — an all-NaN
# distance row makes array_min return NaN, array_position return 0,
# and element_at(_cids, 0) raise.  The embedding fixtures are finite
# by construction (TESTDATA.md) and the pre-r15 window shape would
# have emitted an arbitrary row for such input anyway; a production
# ingest should drop/repair NaN vectors upstream.
_KM_BEST_CID = "element_at(_cids, cast(array_position(_d, array_min(_d)) as int))"
_KM_BEST_DIST = "array_min(_d)"


def _km_assign(ev: DataFrame, cent: DataFrame, carry: tuple = ()) -> DataFrame:
    """(vec_id, cid, *carry): nearest centroid by squared L2, ties to
    lower cid — computed map-side against the broadcast packed dim
    (zero exchange; the pre-r15 shape paid a full N×K window shuffle).
    `carry` names extra ev columns to keep, so consumers that used to
    join the assignment back to the vector frame can ride one pass."""
    return (
        ev.crossJoin(F.broadcast(_km_pack(cent)))
        .withColumn("_d", _km_dists(F.col("v")))
        .select("vec_id", F.expr(_KM_BEST_CID).alias("cid"), *carry)
    )


def _km_probe(ev: DataFrame, cent: DataFrame, nprobe: int,
              rank_col: str | None = None) -> DataFrame:
    """(query_id, cid[, rank]) of the `nprobe` nearest centroids per
    query — map-side sort+slice of the packed dim (the former shape
    shuffled |queries|×K rows through a window to rank K per query).
    array_sort on (dist, cid) structs is exactly the
    orderBy(dist asc, cid asc) lexicographic order."""
    top = F.expr(
        "slice(array_sort(zip_with(_d, _cids,"
        f" (d, c) -> named_struct('d', d, 'c', c))), 1, {nprobe})"
    )
    out = (
        ev.crossJoin(F.broadcast(_km_pack(cent)))
        .withColumn("_d", _km_dists(F.col("v")))
        .select(
            F.col("vec_id").alias("query_id"),
            F.posexplode(top).alias("_p", "_c"),
        )
    )
    cols = [F.col("query_id"), F.col("_c")["c"].alias("cid")]
    if rank_col is not None:
        cols.append((F.col("_p") + 1).alias(rank_col))
    return out.select(*cols)


def _km_centroids(e: DataFrame) -> DataFrame:
    """(cid, cvec) after _KM_ITERS Lloyd rounds — one Catalyst DAG, no
    driver-side actions (iteration count is fixed, not convergence-
    checked, so the whole build stays lazily composable).

    r15 shape: each round is ONE pass over a vector frame that carries
    both the double view (assignment) and the exact-integer view
    (means) — the assignment is a map-side fold against the broadcast
    packed centroids and the mean update's only exchange is the partial
    hash-agg of (cid, pos) cells (K×dim groups).  The pre-r15 round
    paid an N×K window shuffle for the argmin plus an N×N sort-merge
    join to re-attach `s`."""
    ev = _km_ev(e)
    evs = e.select(
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * _KM_SCALE).cast("long"),
        ).alias("s"),
    )
    cent = (
        ev.orderBy("vec_id")
        .limit(_KM_K)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cid"),
            F.col("v").alias("cvec"),
        )
    )
    for _ in range(_KM_ITERS):
        assigned = (
            evs.crossJoin(F.broadcast(_km_pack(cent)))
            .withColumn("_d", _km_dists(F.col("v")))
            .select(F.expr(_KM_BEST_CID).alias("cid"), "s")
        )
        means = (
            assigned.select("cid", F.posexplode("s"))
            .groupBy("cid", "pos")
            .agg(
                (
                    F.sum("col").cast("double")
                    / (F.count(F.lit(1)).cast("double") * _KM_SCALE)
                ).alias("mean")
            )
        )
        newc = means.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mean"))),
                lambda st: st["mean"],
            ).alias("cvec")
        )
        cent = (
            cent.select("cid", F.col("cvec").alias("old"))
            .join(newc, "cid", "left")
            .select("cid", F.coalesce("cvec", "old").alias("cvec"))
        )
    return cent


@register(
    "emb_kmeans_ivf",
    oracle=f"""
    WITH {_KM_CHAIN_SQL},{_km_assign_sql(_KM_ITERS + 1, f"c{_KM_ITERS}")}
    SELECT c.cid AS centroid_id,
           m.n_members,
           array_to_string(list_transform(c.cvec,
               x -> CAST(CAST(round(x * 10000) AS BIGINT) AS VARCHAR)), ';')
               AS centroid_q
    FROM c{_KM_ITERS} c
    JOIN (SELECT cid, CAST(count(*) AS BIGINT) AS n_members
          FROM a{_KM_ITERS + 1} GROUP BY cid) m
      ON c.cid = m.cid
    """,
    tags=("ext-vector", "ann", "ivf"),
)
def emb_kmeans_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantizer (extension): k-means centroids + inverted-
    list sizes.  Centroids are rendered as ';'-joined coordinates
    scaled to 1e-4 integers, so the driver hash-compares them without
    float-formatting drift."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # 8 rows, expensive lineage (2 Lloyd rounds) — cache so the counts
    # assign and the output join evaluate the iteration DAG once.
    cent = _km_centroids(e).cache()
    counts = (
        _km_assign(_km_ev(e), cent)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    cq = F.array_join(
        F.transform("cvec", lambda x: F.round(x * 10000).cast("long").cast("string")),
        ";",
    )
    return cent.join(counts, "cid").select(
        F.col("cid").alias("centroid_id"), "n_members", cq.alias("centroid_q")
    )


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_KM_CHAIN_SQL},{_km_assign_sql(_KM_ITERS + 1, f"c{_KM_ITERS}")},
    probe AS (
        SELECT vec_id AS query_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY round(dist, 6) ASC, cid ASC) AS rn
            FROM (
                SELECT ev.vec_id, c.cid,
                       sum((ev.v[i] - c.cvec[i]) * (ev.v[i] - c.cvec[i])) AS dist
                FROM ev, c{_KM_ITERS} c, generate_series(1, {_KM_DIM}) t(i)
                WHERE ev.vec_id < 5
                GROUP BY ev.vec_id, c.cid
            ) d
        ) r WHERE rn <= {_KM_NPROBE}
    ),
    cand AS (
        SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
        FROM probe p JOIN a{_KM_ITERS + 1} a ON p.cid = a.cid
        WHERE a.vec_id <> p.query_id
    ),
    dots AS (
        SELECT c.query_id, c.neighbor_id,
               sum(CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE))
                   AS dot,
               sqrt(sum(CAST(qe.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE)))
                   AS qn,
               sqrt(sum(CAST(ce.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE)))
                   AS cn
        FROM cand c
        JOIN embeddings qe ON qe.vec_id = c.query_id
        JOIN embeddings ce ON ce.vec_id = c.neighbor_id, generate_series(1, 64) t(i)
        GROUP BY c.query_id, c.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               round(dot / (qn * cn), 6) AS cosine,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY round(dot / (qn * cn), 6) DESC, neighbor_id ASC)
                   AS rank
        FROM dots
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """,
    tags=("ext-vector", "ann", "ivf"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 through the IVF path: queries probe their
    _KM_NPROBE nearest centroids and scan only those inverted lists;
    exact cosine + per-query window rank the candidates.  Same query
    set / tie-break as ann_bruteforce_topk so recall is directly
    measurable (pytest)."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ev = _km_ev(e)
    # Cached for the same reason as in emb_kmeans_ivf: inverted-list
    # assignment AND query probing both consume the centroid frame.
    cent = _km_centroids(e).cache()
    lists = _km_assign(ev, cent)

    # Map-side probe against the packed centroid dim (r15; the former
    # crossJoin+window ranked K rows per query through an exchange).
    probe = _km_probe(ev.filter(F.col("vec_id") < 5), cent, _KM_NPROBE)
    cand = (
        probe.join(lists, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    qe = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    ce = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    scored = (
        cand.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("q_emb"), F.col("c_emb"))
                / (_norm(F.col("q_emb")) * _norm(F.col("c_emb"))),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= 10
    )


# ---------------------------------------------------------------------------
# Product quantization — the storage half of IVF-PQ, the canonical
# billion-scale ANN index: each vector becomes _PQ_M sub-codes of
# log2(_PQ_K) bits (here 8 x 4 bits = 4 bytes per 64-dim vector, a
# 64x reduction over float32).  Each subspace trains its own tiny
# k-means codebook (same init/iteration discipline as the IVF coarse
# quantizer); search is asymmetric distance computation (ADC): the
# raw query builds an _PQ_M x _PQ_K distance table against the
# codebooks and every database vector's distance is a table lookup
# sum — no decode, no full-vector math per candidate.

_PQ_M = 8
_PQ_SUBDIM = 8
_PQ_K = 16


def _pq_dist_sql(vexpr: str, lo: int, cent: str) -> str:
    """Deterministic list-fold squared-L2 between an 8-dim slice of
    ``vexpr`` (offset lo) and ``cent``.cvec — list_sum folds in list
    order, matching Spark's F.aggregate left fold bit-for-bit."""
    return (
        f"list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}), "
        f"i -> ({vexpr}[{lo} + i] - {cent}.cvec[i])"
        f" * ({vexpr}[{lo} + i] - {cent}.cvec[i])))"
    )


def _pq_sub_sql(s: int) -> str:
    """CTE chain for subspace s: init codebook from the {_PQ_K} lowest
    vec_ids, one exact-integer Lloyd update, final assignment a2_{s}."""
    lo = s * _PQ_SUBDIM
    return f"""
    c0_{s} AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
               list_slice(v, {lo + 1}, {lo + _PQ_SUBDIM}) AS cvec
        FROM (SELECT vec_id, v FROM ev ORDER BY vec_id LIMIT {_PQ_K}) init
    ),
    d1_{s} AS (
        SELECT ev.vec_id, c.cid, {_pq_dist_sql("ev.v", lo, "c")} AS dist
        FROM ev, c0_{s} c
    ),
    a1_{s} AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY round(dist, 6) ASC, cid ASC) AS rn
            FROM d1_{s}
        ) r WHERE rn = 1
    ),
    m1_{s} AS (
        SELECT a.cid, i AS dim, sum(sv.s[{lo} + i]) AS ssum, count(*) AS n
        FROM a1_{s} a JOIN sv ON a.vec_id = sv.vec_id,
             generate_series(1, {_PQ_SUBDIM}) t(i)
        GROUP BY a.cid, i
    ),
    cn1_{s} AS (
        SELECT cid,
               list(CAST(ssum AS DOUBLE) / (n * {_KM_SCALE}.0) ORDER BY dim)
                   AS cvec
        FROM m1_{s} GROUP BY cid
    ),
    c1_{s} AS (
        SELECT p.cid, coalesce(u.cvec, p.cvec) AS cvec
        FROM c0_{s} p LEFT JOIN cn1_{s} u ON p.cid = u.cid
    ),
    d2_{s} AS (
        SELECT ev.vec_id, c.cid, {_pq_dist_sql("ev.v", lo, "c")} AS dist
        FROM ev, c1_{s} c
    ),
    a2_{s} AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY round(dist, 6) ASC, cid ASC) AS rn
            FROM d2_{s}
        ) r WHERE rn = 1
    )"""


_PQ_BASE_SQL = f"""
    ev AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    sv AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT)) AS s
        FROM embeddings
    )""" + "," + ",".join(_pq_sub_sql(s) for s in range(_PQ_M))

_PQ_CODES_TAIL_SQL = (
    "codes AS ("
    + " UNION ALL ".join(
        f"SELECT vec_id, {s} AS sub, cid FROM a2_{s}" for s in range(_PQ_M)
    )
    + ")"
)


def _pq_sliced(e: DataFrame) -> DataFrame:
    """(vec_id, sub, v, s): all 8 subspace slices in ONE keyed frame
    (double and exact-int views) — one lineage for the whole PQ
    pipeline instead of 8 parallel DAG branches (the branched form was
    scale-independent ~10s of pure plan/codegen overhead)."""
    base = e.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("sub"),
        "embedding",
    )
    sl = F.slice("embedding", F.col("sub") * _PQ_SUBDIM + 1, _PQ_SUBDIM)
    return base.select(
        "vec_id",
        "sub",
        F.transform(sl, lambda x: x.cast("double")).alias("v"),
        F.transform(
            sl, lambda x: F.round(x.cast("double") * _KM_SCALE).cast("long")
        ).alias("s"),
    )


def _pq_pack(cent: DataFrame) -> DataFrame:
    """(sub, _cids, _cvecs): per-subspace cid-sorted packed codebook —
    the 8-row broadcast side of the map-side PQ argmin (r15; see
    _km_pack)."""
    packed = cent.groupBy("sub").agg(
        F.array_sort(F.collect_list(F.struct("cid", "cvec"))).alias("_cc")
    )
    return packed.select(
        "sub",
        F.transform("_cc", lambda c: c["cid"]).alias("_cids"),
        F.transform("_cc", lambda c: c["cvec"]).alias("_cvecs"),
    )


def _pq_assign(sl: DataFrame, cent: DataFrame, carry: tuple = ()) -> DataFrame:
    """(vec_id, sub, cid, *carry): per-subspace argmin against the
    packed codebook frame — same round(dist,6)/cid tie-break as
    _km_assign, computed map-side after a broadcast join on `sub`
    (the pre-r15 shape shuffled N×8×16 scored rows through a window)."""
    return (
        sl.join(F.broadcast(_pq_pack(cent)), "sub")
        .withColumn("_d", _km_dists(F.col("v")))
        .select("vec_id", "sub", F.expr(_KM_BEST_CID).alias("cid"), *carry)
    )


# Footer-gated persist of the sliced frame (r16, VERDICT r15 #6): the
# PQ chain reads `sl` four times (init join, Lloyd assign, final codes,
# query distance table), each re-running the N×8 explode+transform.
# Persist only while the corpus provably fits comfortably (N rows from
# the parquet footer — jobless); at 100 TB the N×8 slice frame must
# NOT be pinned to executor memory, recompute is the scale-safe
# default.  _SL_PERSIST_OVERRIDE exists for alternating A/B harnesses.
_SL_PERSIST_MAX_ROWS = 10_000_000
_SL_PERSIST_OVERRIDE: bool | None = None


def _should_persist_sl(sf_dir: str | None) -> bool:
    if _SL_PERSIST_OVERRIDE is not None:
        return _SL_PERSIST_OVERRIDE
    if sf_dir is None:
        return False
    from pangenomesasgraphdatabases_spark.operators.sizing import (
        parquet_rows,
    )

    n = parquet_rows(sf_dir, "embeddings")
    return n is not None and n <= _SL_PERSIST_MAX_ROWS


def _pq_codebooks(
    e: DataFrame, sf_dir: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """(sliced frame, trained codebooks (sub, cid, cvec)): init = the
    _PQ_K lowest vec_ids' slices per subspace (deterministic, the IVF
    init discipline), one Lloyd round with exact-integer means —
    identical arithmetic to the per-subspace form, one DAG."""
    sl = _pq_sliced(e)
    if _should_persist_sl(sf_dir):
        sl = sl.cache()
    ids16 = (
        e.select("vec_id")
        .orderBy("vec_id")
        .limit(_PQ_K)
        .select(
            "vec_id",
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cid"),
        )
    )
    c0 = sl.join(F.broadcast(ids16), "vec_id").select(
        "sub", "cid", F.col("v").alias("cvec")
    )
    # carry=("s",): the exact-integer view rides the map-side assignment,
    # replacing the former N×8-row sort-merge join back to `sl` (r15).
    a1 = _pq_assign(sl, c0, carry=("s",))
    means = (
        a1.select("sub", "cid", F.posexplode("s"))
        .groupBy("sub", "cid", "pos")
        .agg(
            (
                F.sum("col").cast("double")
                / (F.count(F.lit(1)).cast("double") * _KM_SCALE)
            ).alias("mean")
        )
    )
    newc = means.groupBy("sub", "cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean"))),
            lambda st: st["mean"],
        ).alias("cvec")
    )
    c1 = (
        c0.select("sub", "cid", F.col("cvec").alias("old"))
        .join(newc, ["sub", "cid"], "left")
        .select("sub", "cid", F.coalesce("cvec", "old").alias("cvec"))
    )
    return sl, c1


@register(
    "emb_pq_codes",
    oracle=f"""
    WITH {_PQ_BASE_SQL},
    {_PQ_CODES_TAIL_SQL}
    SELECT vec_id,
           array_to_string(list(CAST(cid AS VARCHAR) ORDER BY sub), ';')
               AS pq_code
    FROM codes GROUP BY vec_id
    """,
    tags=("ext-vector", "ann", "pq", "quantize"),
)
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (extension): every vector becomes
    8 sub-codes of 4 bits — 4 bytes instead of 256, the storage layer
    of an IVF-PQ index at 100 TB.  Each subspace's codebook is a
    16-centroid k-means (deterministic lowest-vec_id init + one
    exact-integer Lloyd round, the IVF discipline), and the code is
    the argmin assignment with the usual round(dist,6)/cid tie-break.

    Scale shape: codebooks are 16x8 doubles per subspace (KB-sized at
    any corpus scale) broadcast into map-side assignments; the
    training aggregations shuffle only (sub, cid, dim) cells; all 8
    subspaces ride one keyed lineage (not 8 DAG branches).  The
    driver hash pins all 8 codebooks end-to-end through the codes."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sl, cb = _pq_codebooks(e, sf_dir)
    codes = _pq_assign(sl, cb)
    return codes.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "cid"))),
                lambda st: st["cid"].cast("string"),
            ),
            ";",
        ).alias("pq_code")
    )


_PQ_ADC_SUM = "0.0 + " + " + ".join(f"p{s}" for s in range(_PQ_M))


@register(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH {_PQ_BASE_SQL},
    {",".join(
        f'''qd_{s} AS (
        SELECT q.vec_id AS query_id, c.cid,
               {_pq_dist_sql("q.v", s * _PQ_SUBDIM, "c")} AS pd
        FROM ev q, c1_{s} c WHERE q.vec_id < 5
    )''' for s in range(_PQ_M)
    )},
    ps AS ({" UNION ALL ".join(
        f"SELECT qd.query_id, a.vec_id, {s} AS sub, qd.pd"
        f" FROM a2_{s} a JOIN qd_{s} qd ON a.cid = qd.cid"
        for s in range(_PQ_M)
    )}),
    adc AS (
        SELECT query_id, vec_id AS neighbor_id, {_PQ_ADC_SUM} AS adc
        FROM (
            SELECT query_id, vec_id,
                   {", ".join(
                       f"max(CASE WHEN sub = {s} THEN pd END) AS p{s}"
                       for s in range(_PQ_M)
                   )}
            FROM ps GROUP BY query_id, vec_id
        ) piv
        WHERE vec_id <> query_id
    )
    SELECT query_id, neighbor_id, round(adc, 6) AS adc_dist,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT query_id, neighbor_id, adc,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY round(adc, 6) ASC, neighbor_id ASC) AS rank
        FROM adc
    ) r WHERE rank <= 10
    """,
    tags=("ext-vector", "ann", "pq", "adc"),
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-10 (extension): the search half of
    IVF-PQ.  Each raw query computes an 8x16 distance table against
    the codebooks (128 doubles per query — KB-sized, broadcast), and
    every database vector's approximate distance is the fixed-order
    sum of 8 table lookups keyed by its sub-codes: per-candidate cost
    is 8 lookups instead of 64 multiply-adds, and the candidate scan
    never touches the raw vectors — the property that makes
    billion-scale search memory-feasible.  Same query set and
    tie-break discipline as ann_bruteforce_topk, so recall is
    directly measurable (pytest)."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sl, cb = _pq_codebooks(e, sf_dir)
    cb = cb.cache()  # consumed by codes assignment AND query tables
    codes = _pq_assign(sl, cb)
    dtab = (
        sl.filter(F.col("vec_id") < 5)
        .join(F.broadcast(cb), "sub")
        .select(
            F.col("vec_id").alias("query_id"),
            "sub",
            "cid",
            _km_sq_dist(F.col("v"), F.col("cvec")).alias("pd"),
        )
    )
    ps = codes.join(F.broadcast(dtab), ["sub", "cid"]).select(
        "query_id", "vec_id", "sub", "pd"
    )
    piv = (
        ps.groupBy("query_id", "vec_id")
        .agg(
            *[
                F.max(F.when(F.col("sub") == s, F.col("pd"))).alias(f"p{s}")
                for s in range(_PQ_M)
            ]
        )
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    adc = F.lit(0.0)
    for s in range(_PQ_M):
        adc = adc + F.col(f"p{s}")
    scored = piv.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(adc, 6).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= 10
    )


@register(
    "ann_ivfpq_topk",
    oracle=f"""
    WITH {_KM_CHAIN_SQL},{_km_assign_sql(_KM_ITERS + 1, f"c{_KM_ITERS}")},
    {",".join(_pq_sub_sql(s) for s in range(_PQ_M))},
    probe AS (
        SELECT vec_id AS query_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY round(dist, 6) ASC, cid ASC) AS rn
            FROM (
                SELECT ev.vec_id, c.cid,
                       sum((ev.v[i] - c.cvec[i]) * (ev.v[i] - c.cvec[i])) AS dist
                FROM ev, c{_KM_ITERS} c, generate_series(1, {_KM_DIM}) t(i)
                WHERE ev.vec_id < 5
                GROUP BY ev.vec_id, c.cid
            ) d
        ) r WHERE rn <= {_KM_NPROBE}
    ),
    cand AS (
        SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
        FROM probe p JOIN a{_KM_ITERS + 1} a ON p.cid = a.cid
        WHERE a.vec_id <> p.query_id
    ),
    {",".join(
        f'''qd_{s} AS (
        SELECT q.vec_id AS query_id, c.cid,
               {_pq_dist_sql("q.v", s * _PQ_SUBDIM, "c")} AS pd
        FROM ev q, c1_{s} c WHERE q.vec_id < 5
    )''' for s in range(_PQ_M)
    )},
    ps AS ({" UNION ALL ".join(
        f"SELECT cd.query_id, cd.neighbor_id, {s} AS sub, qd.pd"
        f" FROM cand cd"
        f" JOIN a2_{s} a ON a.vec_id = cd.neighbor_id"
        f" JOIN qd_{s} qd ON qd.cid = a.cid AND qd.query_id = cd.query_id"
        for s in range(_PQ_M)
    )}),
    adc AS (
        SELECT query_id, neighbor_id, {_PQ_ADC_SUM} AS adc
        FROM (
            SELECT query_id, neighbor_id,
                   {", ".join(
                       f"max(CASE WHEN sub = {s} THEN pd END) AS p{s}"
                       for s in range(_PQ_M)
                   )}
            FROM ps GROUP BY query_id, neighbor_id
        ) piv
    )
    SELECT query_id, neighbor_id, round(adc, 6) AS adc_dist,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT query_id, neighbor_id, adc,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY round(adc, 6) ASC, neighbor_id ASC) AS rank
        FROM adc
    ) r WHERE rank <= 10
    """,
    tags=("ext-vector", "ann", "ivf", "pq"),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed (extension): the full billion-scale index
    shape.  Queries probe their _KM_NPROBE nearest coarse centroids,
    candidates come ONLY from those inverted lists, and scoring is PQ
    asymmetric distance (8 codebook-table lookups per candidate) —
    per query the work is nprobe inverted lists x 8 lookups, never a
    full scan and never raw candidate vectors.  The coarse quantizer,
    codebooks, codes, probe, and ADC ranking are all the
    independently-hashed components composed unchanged."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ev = _km_ev(e)
    cent = _km_centroids(e).cache()
    lists = _km_assign(ev, cent)
    # Map-side probe against the packed centroid dim (r15; the former
    # crossJoin+window ranked K rows per query through an exchange).
    probe = _km_probe(ev.filter(F.col("vec_id") < 5), cent, _KM_NPROBE)
    cand = (
        probe.join(lists, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )

    sl, cb = _pq_codebooks(e, sf_dir)
    cb = cb.cache()
    codes = _pq_assign(sl, cb).select(
        F.col("vec_id").alias("neighbor_id"), "sub", "cid"
    )
    dtab = (
        sl.filter(F.col("vec_id") < 5)
        .join(F.broadcast(cb), "sub")
        .select(
            F.col("vec_id").alias("query_id"),
            "sub",
            "cid",
            _km_sq_dist(F.col("v"), F.col("cvec")).alias("pd"),
        )
    )
    ps = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(dtab), ["query_id", "sub", "cid"])
        .select("query_id", "neighbor_id", "sub", "pd")
    )
    piv = ps.groupBy("query_id", "neighbor_id").agg(
        *[
            F.max(F.when(F.col("sub") == s, F.col("pd"))).alias(f"p{s}")
            for s in range(_PQ_M)
        ]
    )
    adc = F.lit(0.0)
    for s in range(_PQ_M):
        adc = adc + F.col(f"p{s}")
    scored = piv.select(
        "query_id", "neighbor_id", F.round(adc, 6).alias("adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= 10
    )


@register(
    "emb_quantize_int8",
    oracle="""
    WITH ev AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    rng AS (
        SELECT vec_id, v,
               list_aggregate(v, 'min') AS mn,
               (list_aggregate(v, 'max') - list_aggregate(v, 'min')) / 255.0
                   AS scale
        FROM ev
    ),
    q AS (
        SELECT vec_id, v, mn, scale,
               list_transform(v,
                   x -> CAST(round((x - mn) / scale) AS BIGINT)) AS qv
        FROM rng
    )
    SELECT vec_id,
           round(mn, 4) AS qmin,
           round(scale, 6) AS qscale,
           array_to_string(qv, ';') AS qvec,
           round(list_sum(list_transform(list_zip(v, qv),
                 p -> abs(p[1] - (mn + p[2] * scale)))) / 64.0, 6) AS mae
    FROM q
    """,
    tags=("ext-vector", "quantize"),
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization (extension): 4x storage
    reduction for a 100 TB embedding corpus — min/scale header plus
    one byte per dimension — with the reconstruction error (MAE)
    reported per vector.  All JVM-side array ops; the quantized codes
    are integers, so the driver hash-compare is float-format-free.
    Assumes non-constant vectors (scale > 0), which L2-normalized
    embeddings satisfy."""
    e = table(spark, sf_dir, "embeddings")
    ev = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    rng = ev.select(
        "vec_id",
        "v",
        F.array_min("v").alias("mn"),
        ((F.array_max("v") - F.array_min("v")) / 255.0).alias("scale"),
    )
    q = rng.select(
        "vec_id",
        "v",
        "mn",
        "scale",
        F.transform(
            "v", lambda x: F.round((x - F.col("mn")) / F.col("scale")).cast("long")
        ).alias("qv"),
    )
    mae = (
        F.aggregate(
            F.zip_with(
                "v",
                "qv",
                lambda x, qi: F.abs(x - (F.col("mn") + qi * F.col("scale"))),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / 64.0
    )
    return q.select(
        "vec_id",
        F.round("mn", 4).alias("qmin"),
        F.round("scale", 6).alias("qscale"),
        F.array_join(F.transform("qv", lambda x: x.cast("string")), ";").alias(
            "qvec"
        ),
        F.round(mae, 6).alias("mae"),
    )


@register(
    "approx_distinct_extension",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(CASE WHEN abs(approx_count_distinct(l_partkey)
                             - count(DISTINCT l_partkey))
                     <= 0.15 * count(DISTINCT l_partkey)
                THEN 1 ELSE 0 END AS INTEGER) AS approx_within_15pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("ext-olap", "approx"),
)
def approx_distinct_extension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per group — approximate
    aggregate extension (SURVEY.md section 2.4 note).  Raw sketch
    estimates are engine-specific and can never hash-match, so the
    oracle-checked output is the exact count plus a deterministic
    tolerance verdict: both engines' HLL estimates must land within
    15% of exact (3x Spark's default 5% rsd) — the estimate itself
    still runs, its accuracy is what is asserted."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey") - F.countDistinct("l_partkey")
            )
            <= 0.15 * F.countDistinct("l_partkey")
        )
        .cast("int")
        .alias("approx_within_15pct"),
    )


# Random ±1 projection matrix (16 x 64), fixed at module import from a
# seeded PRNG so both the Spark expression and the DuckDB oracle embed
# the SAME literal matrix — no in-engine randomness, no RNG parity
# questions.  Sign projections satisfy Johnson-Lindenstrauss (Achlioptas
# 2003): pairwise distances are preserved within epsilon in the 16-d
# sketch, which is the cheap first stage of dim-reduced ANN / clustering
# at 100 TB (4x less shuffle bytes than the raw 64-d vectors).
import random as _rp_random

_RP_OUT = 16
_RP_IN = 64
_rp_rng = _rp_random.Random(20260813)
_RP_SIGNS = [
    [_rp_rng.choice((1, -1)) for _ in range(_RP_IN)] for _ in range(_RP_OUT)
]


def _rp_sql_terms(j: int) -> str:
    # left-associated +/- chain: identical accumulation order to the
    # Spark fold below (a + (-1)*x is bitwise a - x in IEEE).
    parts = []
    for i, s in enumerate(_RP_SIGNS[j]):
        op = "+" if s > 0 else "-"
        parts.append(f"{op} CAST(embedding[{i + 1}] AS DOUBLE)")
    chain = " ".join(parts)
    # "+ x - y ..." -> "x - y ..." (a leading "- x" stays as unary minus)
    return chain[2:] if _RP_SIGNS[j][0] > 0 else chain


_RP_ORACLE = (
    "SELECT vec_id, array_to_string(["
    + ", ".join(
        "CAST(CAST(floor((" + _rp_sql_terms(j) + ") * 10000 + 0.5) "
        "AS BIGINT) AS VARCHAR)"
        for j in range(_RP_OUT)
    )
    + "], ';') AS proj_q FROM embeddings"
)


@register("emb_rp_project", oracle=_RP_ORACLE, tags=("ext-vector", "dim-reduction"))
def emb_rp_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random sign projection 64-d -> 16-d (extension): y_j = sum_i
    sign(j,i) * x_i against the fixed seeded ±1 matrix.  Pure map-side
    narrow transform — zero shuffle at any scale; components are
    rendered as ';'-joined 1e-4 fixed-point integers (floor(x+0.5) is
    exact on both engines, unlike decimal-string vs binary round)."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    comps = []
    for j in range(_RP_OUT):
        signs = F.array(*[F.lit(float(s)) for s in _RP_SIGNS[j]])
        y = F.aggregate(
            F.zip_with("embedding", signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        comps.append(
            F.floor(y * 10000 + F.lit(0.5)).cast("bigint").cast("string")
        )
    return e.select("vec_id", F.concat_ws(";", *comps).alias("proj_q"))


@register(
    "ann_rrf_fusion",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, embedding FROM embeddings),
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               sum(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
                   AS dot,
               sum(CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))
                   AS qn2,
               sum(CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
                   AS cn2,
               sum(CASE WHEN i <= 32 THEN CAST(q.embedding[i] AS DOUBLE)
                        * CAST(c.embedding[i] AS DOUBLE) ELSE 0 END) AS dot_t,
               sum(CASE WHEN i <= 32 THEN CAST(q.embedding[i] AS DOUBLE)
                        * CAST(q.embedding[i] AS DOUBLE) ELSE 0 END) AS qn2_t,
               sum(CASE WHEN i <= 32 THEN CAST(c.embedding[i] AS DOUBLE)
                        * CAST(c.embedding[i] AS DOUBLE) ELSE 0 END) AS cn2_t
        FROM q, c, generate_series(1, 64) t(i)
        WHERE q.vec_id <> c.vec_id
        GROUP BY q.vec_id, c.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY round(dot / (sqrt(qn2) * sqrt(cn2)), 6) DESC,
                            neighbor_id ASC) AS rank_full,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY round(dot_t / (sqrt(qn2_t) * sqrt(cn2_t)), 6) DESC,
                            neighbor_id ASC) AS rank_trunc
        FROM dots
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               CAST(rank_full AS BIGINT) AS rank_full,
               CAST(rank_trunc AS BIGINT) AS rank_trunc,
               CAST(CASE WHEN rank_full <= 20
                         THEN 1000000000 // (60 + rank_full) ELSE 0 END
                  + CASE WHEN rank_trunc <= 20
                         THEN 1000000000 // (60 + rank_trunc) ELSE 0 END
                    AS BIGINT) AS rrf_fx
        FROM ranked
    )
    SELECT query_id, neighbor_id, rank_full, rank_trunc, rrf_fx,
           CAST(fused_rank AS BIGINT) AS fused_rank
    FROM (
        SELECT s.*, row_number() OVER (PARTITION BY query_id
                   ORDER BY rrf_fx DESC, neighbor_id ASC) AS fused_rank
        FROM scored s
    ) WHERE fused_rank <= 10
    """,
    tags=("ext-vector", "ann", "fusion"),
)
def ann_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankers (extension —
    the hybrid-search merge step: in production, BM25 x embedding;
    here full 64-dim cosine x truncated 32-dim cosine, the
    matryoshka-style cheap ranker, which genuinely disagrees with the
    full ranking): each ranker contributes 1e9 div (60 + rank) for
    its top-20 — classic RRF k=60, lifted to EXACT integer fixed
    point so the fused score is an order-independent integer sum, no
    float rank arithmetic.  Fused top-10 per query with both source
    ranks exposed.  (A cosine-vs-euclidean pairing would be
    degenerate: the corpus embeddings are unit-norm, making those
    orders identical.)

    Scale shape: one broadcast of the tiny query set, one candidate
    pass computing both scores from the SAME pair scan (the truncated
    accumulators reuse the first 32 products), four row_number
    windows all partitioned on query_id — one shuffle total.  At
    scale each ranker would be its own probe-limited index query
    (IVF-PQ here, an inverted text index there) emitting
    (query, candidate, rank) — the fusion itself stays this exact
    integer algebra."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    qt = F.slice(F.col("q_emb"), 1, 32)
    ct = F.slice(F.col("c_emb"), 1, 32)
    cos_full = _dot(F.col("q_emb"), F.col("c_emb")) / (
        F.sqrt(_dot(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(_dot(F.col("c_emb"), F.col("c_emb")))
    )
    cos_trunc = _dot(qt, ct) / (F.sqrt(_dot(qt, qt)) * F.sqrt(_dot(ct, ct)))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cos_full, 6).alias("cos_full"),
        F.round(cos_trunc, 6).alias("cos_trunc"),
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.desc("cos_full"), F.asc("neighbor_id")
    )
    w_trunc = Window.partitionBy("query_id").orderBy(
        F.desc("cos_trunc"), F.asc("neighbor_id")
    )
    ranked = scored.select(
        "query_id",
        "neighbor_id",
        F.row_number().over(w_full).cast("bigint").alias("rank_full"),
        F.row_number().over(w_trunc).cast("bigint").alias("rank_trunc"),
    )
    rrf = ranked.withColumn(
        "rrf_fx",
        (
            F.expr(
                "CASE WHEN rank_full <= 20 THEN 1000000000 div (60 + rank_full)"
                " ELSE 0 END"
            )
            + F.expr(
                "CASE WHEN rank_trunc <= 20 THEN 1000000000 div (60 + rank_trunc)"
                " ELSE 0 END"
            )
        ).cast("bigint"),
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_fx"), F.asc("neighbor_id")
    )
    return (
        rrf.withColumn("fused_rank", F.row_number().over(w_f).cast("bigint"))
        .filter(F.col("fused_rank") <= 10)
        .select(
            "query_id",
            "neighbor_id",
            "rank_full",
            "rank_trunc",
            "rrf_fx",
            "fused_rank",
        )
    )


@register(
    "ann_truncation_recall",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, embedding FROM embeddings),
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               sum(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
                   AS dot,
               sum(CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))
                   AS qn2,
               sum(CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
                   AS cn2,
               sum(CASE WHEN i <= 32 THEN CAST(q.embedding[i] AS DOUBLE)
                        * CAST(c.embedding[i] AS DOUBLE) ELSE 0 END) AS dot_t,
               sum(CASE WHEN i <= 32 THEN CAST(q.embedding[i] AS DOUBLE)
                        * CAST(q.embedding[i] AS DOUBLE) ELSE 0 END) AS qn2_t,
               sum(CASE WHEN i <= 32 THEN CAST(c.embedding[i] AS DOUBLE)
                        * CAST(c.embedding[i] AS DOUBLE) ELSE 0 END) AS cn2_t
        FROM q, c, generate_series(1, 64) t(i)
        WHERE q.vec_id <> c.vec_id
        GROUP BY q.vec_id, c.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY round(dot / (sqrt(qn2) * sqrt(cn2)), 6) DESC,
                            neighbor_id ASC) AS rank_full,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY round(dot_t / (sqrt(qn2_t) * sqrt(cn2_t)), 6) DESC,
                            neighbor_id ASC) AS rank_trunc
        FROM dots
    )
    SELECT query_id,
           CAST(count(*) FILTER (WHERE rank_full <= 10 AND rank_trunc <= 10)
                AS BIGINT) AS n_overlap_at_10,
           CAST(count(*) FILTER (WHERE rank_full <= 10 AND rank_trunc <= 50)
                AS BIGINT) AS n_recall_at_50,
           CAST(min(CASE WHEN rank_full = 1 THEN rank_trunc END) AS BIGINT)
               AS trunc_rank_of_top1
    FROM ranked
    GROUP BY query_id
    """,
    tags=("ext-vector", "ann", "evaluation"),
)
def ann_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the truncated (matryoshka)
    ranker against the full ranking (extension — the recall@k eval
    every ANN deployment runs before trading precision for speed):
    per query, the top-10 overlap, recall@50 (how many of the true
    top-10 the cheap ranker keeps within its top-50 — the reranking
    window question), and where the true best neighbour lands in the
    truncated order.  Pure integer counts over the two rankings; the
    rankings share one pair scan.

    Scale shape: identical to ann_rrf_fusion — broadcast queries, one
    candidate pass, windows partitioned by query_id.  In production
    the same frame evaluates IVF/PQ/int8 variants: swap the second
    ranking, keep the metric algebra."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    qt = F.slice(F.col("q_emb"), 1, 32)
    ct = F.slice(F.col("c_emb"), 1, 32)
    cos_full = _dot(F.col("q_emb"), F.col("c_emb")) / (
        F.sqrt(_dot(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(_dot(F.col("c_emb"), F.col("c_emb")))
    )
    cos_trunc = _dot(qt, ct) / (F.sqrt(_dot(qt, qt)) * F.sqrt(_dot(ct, ct)))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cos_full, 6).alias("cos_full"),
        F.round(cos_trunc, 6).alias("cos_trunc"),
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.desc("cos_full"), F.asc("neighbor_id")
    )
    w_trunc = Window.partitionBy("query_id").orderBy(
        F.desc("cos_trunc"), F.asc("neighbor_id")
    )
    ranked = scored.select(
        "query_id",
        "neighbor_id",
        F.row_number().over(w_full).alias("rank_full"),
        F.row_number().over(w_trunc).alias("rank_trunc"),
    )
    return ranked.groupBy("query_id").agg(
        F.count(F.when((F.col("rank_full") <= 10) & (F.col("rank_trunc") <= 10), 1))
        .cast("bigint")
        .alias("n_overlap_at_10"),
        F.count(F.when((F.col("rank_full") <= 10) & (F.col("rank_trunc") <= 50), 1))
        .cast("bigint")
        .alias("n_recall_at_50"),
        F.min(F.when(F.col("rank_full") == 1, F.col("rank_trunc")))
        .cast("bigint")
        .alias("trunc_rank_of_top1"),
    )


@register(
    "ann_mips_topk",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, embedding FROM embeddings),
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               sum(CAST(q.embedding[i] AS DOUBLE)
                   * CAST(c.embedding[i] AS DOUBLE)) AS dot
        FROM q, c, generate_series(1, 64) t(i)
        WHERE q.vec_id <> c.vec_id
        GROUP BY q.vec_id, c.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, round(dot, 6) AS inner_product,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY round(dot, 6) DESC, neighbor_id ASC) AS rank
        FROM dots
    )
    SELECT query_id, neighbor_id, inner_product, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """,
    tags=("ext-vector", "ann", "mips"),
)
def ann_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact maximum-inner-product search (MIPS) top-10 — the
    retrieval semantics of dual-encoder recommenders, where vectors
    are NOT normalized and cosine gives a different answer (a long
    vector can win on inner product while losing on angle).  Same
    broadcast-query scan shape as ann_bruteforce_topk; the dot is a
    left-to-right fold in array order on both engines, so the rounded
    score ties out bit-for-bit.

    The scale path is the classic norm-augmentation reduction
    (Bachrach 2014): append sqrt(M^2 - |x|^2) to candidates and 0 to
    queries (M = max norm) and MIPS order becomes cosine order, so
    every cosine index here (LSH / IVF / IVF-PQ) serves MIPS
    unchanged — tests/test_analytics_batch6c.py proves the order
    equivalence on this corpus."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(_dot(F.col("q_emb"), F.col("c_emb")), 6).alias("inner_product"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("inner_product"), F.asc("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= 10)


@register(
    "emb_knn_label_vote",
    oracle="""
    WITH q AS (SELECT vec_id, embedding, label FROM embeddings
               WHERE vec_id < 20),
    c AS (SELECT vec_id, embedding, label FROM embeddings),
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               min(q.label) AS true_label, min(c.label) AS n_label,
               sum(CAST(q.embedding[i] AS DOUBLE)
                   * CAST(c.embedding[i] AS DOUBLE)) AS dot,
               sqrt(sum(CAST(q.embedding[i] AS DOUBLE)
                   * CAST(q.embedding[i] AS DOUBLE))) AS qn,
               sqrt(sum(CAST(c.embedding[i] AS DOUBLE)
                   * CAST(c.embedding[i] AS DOUBLE))) AS cn
        FROM q, c, generate_series(1, 64) t(i)
        WHERE q.vec_id <> c.vec_id
        GROUP BY q.vec_id, c.vec_id
    ),
    ranked AS (
        SELECT query_id, true_label, n_label,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY round(dot / (qn * cn), 6) DESC, neighbor_id ASC)
                   AS rank
        FROM dots
    ),
    votes AS (
        SELECT query_id, true_label, n_label AS pred_label,
               CAST(count(*) AS BIGINT) AS votes
        FROM ranked WHERE rank <= 5
        GROUP BY 1, 2, 3
    ),
    best AS (
        SELECT query_id, true_label, pred_label, votes,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY votes DESC, pred_label ASC) AS vr
        FROM votes
    )
    SELECT query_id, CAST(true_label AS INTEGER) AS true_label,
           CAST(pred_label AS INTEGER) AS pred_label, votes,
           pred_label = true_label AS correct
    FROM best WHERE vr = 1
    """,
    tags=("ext-vector", "knn", "eval"),
)
def emb_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote label prediction (extension — the evaluation
    harness that turns the ANN index into a classifier, the standard
    embedding-quality probe): for each held-out query vector
    (vec_id < 20), take its 5 exact-cosine nearest neighbors among the
    rest and predict by majority label, tie-breaking (votes desc,
    label asc) so every engine resolves splits identically; `correct`
    compares against the query's own label.  Cosine ranked on the
    round-6-decimals tie-broken ordering shared with
    ann_bruteforce_topk.

    Scale shape: the query side is a broadcast literal-scale frame;
    candidates stream map-side through the scored cross join exactly
    as the brute-force yardstick (at deployment the neighbor set comes
    from the IVF-PQ index instead — same vote finalization).  The vote
    rollup and argmax run on k rows per query."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("true_label"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("n_label"),
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    cos = _dot(F.col("q_emb"), F.col("c_emb")) / (
        _norm(F.col("q_emb")) * _norm(F.col("c_emb"))
    )
    scored = pairs.select(
        "query_id", "true_label", "neighbor_id", "n_label",
        F.round(cos, 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    knn = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 5
    )
    votes = knn.groupBy("query_id", "true_label", F.col("n_label").alias("pred_label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("votes")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("pred_label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            "true_label",
            "pred_label",
            "votes",
            (F.col("pred_label") == F.col("true_label")).alias("correct"),
        )
    )


_RECALL_PROBES = (1, 2, 4, 8)


_RECALL_ORACLE_SQL = (
    f"""
    WITH {_KM_CHAIN_SQL},{_km_assign_sql(_KM_ITERS + 1, f"c{_KM_ITERS}")},
    probe_all AS (
        SELECT vec_id AS query_id, cid, rn FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY round(dist, 6) ASC, cid ASC) AS rn
            FROM (
                SELECT ev.vec_id, c.cid,
                       sum((ev.v[i] - c.cvec[i]) * (ev.v[i] - c.cvec[i]))
                           AS dist
                FROM ev, c{_KM_ITERS} c, generate_series(1, {_KM_DIM}) t(i)
                WHERE ev.vec_id < 5
                GROUP BY ev.vec_id, c.cid
            ) d
        ) r WHERE rn <= {max(_RECALL_PROBES)}
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               CAST(min(p.rn) AS BIGINT) AS min_probe
        FROM probe_all p JOIN a{_KM_ITERS + 1} a ON p.cid = a.cid
        WHERE a.vec_id <> p.query_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT c.query_id, c.neighbor_id, c.min_probe,
               round(sum(CAST(qe.embedding[i] AS DOUBLE)
                         * CAST(ce.embedding[i] AS DOUBLE))
                     / (sqrt(sum(CAST(qe.embedding[i] AS DOUBLE)
                                 * CAST(qe.embedding[i] AS DOUBLE)))
                        * sqrt(sum(CAST(ce.embedding[i] AS DOUBLE)
                                   * CAST(ce.embedding[i] AS DOUBLE)))), 6)
                   AS cosine
        FROM cand c
        JOIN embeddings qe ON qe.vec_id = c.query_id
        JOIN embeddings ce ON ce.vec_id = c.neighbor_id,
             generate_series(1, 64) t(i)
        GROUP BY c.query_id, c.neighbor_id, c.min_probe
    ),
    np AS (SELECT unnest([{", ".join(str(n) for n in _RECALL_PROBES)}])
               AS nprobe),
    ivf10 AS (
        SELECT nprobe, query_id, neighbor_id FROM (
            SELECT n.nprobe, s.query_id, s.neighbor_id,
                   row_number() OVER (PARTITION BY n.nprobe, s.query_id
                       ORDER BY s.cosine DESC, s.neighbor_id ASC) AS rk
            FROM scored s JOIN np n ON s.min_probe <= n.nprobe
        ) WHERE rk <= 10
    ),
    truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY round(sum(CAST(q.embedding[i] AS DOUBLE)
                                 * CAST(c.embedding[i] AS DOUBLE))
                             / (sqrt(sum(CAST(q.embedding[i] AS DOUBLE)
                                         * CAST(q.embedding[i] AS DOUBLE)))
                                * sqrt(sum(CAST(c.embedding[i] AS DOUBLE)
                                           * CAST(c.embedding[i] AS DOUBLE)))), 6)
                           DESC, c.vec_id ASC) AS rk
            FROM (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id < 5) q,
                 embeddings c, generate_series(1, 64) t(i)
            WHERE q.vec_id <> c.vec_id
            GROUP BY q.vec_id, c.vec_id
        ) WHERE rk <= 10
    )
    SELECT n.nprobe, t.query_id,
           CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL
                    THEN 1 ELSE 0 END) * 10 AS BIGINT) AS recall_pct
    FROM np n
    CROSS JOIN truth t
    LEFT JOIN ivf10 i
      ON i.nprobe = n.nprobe AND i.query_id = t.query_id
     AND i.neighbor_id = t.neighbor_id
    GROUP BY 1, 2
    """
)


@register(
    "ann_ivf_recall_curve",
    oracle=_RECALL_ORACLE_SQL,
    tags=("ext-vector", "ann", "ivf", "eval"),
)
def ann_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall@10 as a function of nprobe (extension — THE tuning
    curve of every IVF deployment: how many inverted lists must a
    query scan before recall is acceptable): one centroid ranking and
    ONE candidate scoring pass shared across all nprobe values (each
    candidate carries the minimum probe depth that reaches it, so the
    per-nprobe candidate set is a filter, not a re-scan), compared
    against the brute-force truth top-10 from the same rounded
    tie-broken ordering as ann_bruteforce_topk.

    Scale shape: scoring — the only heavy stage — happens once over
    the union candidate set (nprobe=max); per-nprobe ranking windows
    run on <= candidates x |probes| rows per query.  The truth pass
    is the deliberate brute-force yardstick over the 5 broadcast
    queries, exactly as ann_bruteforce_topk."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ev = _km_ev(e)
    cent = _km_centroids(e).cache()
    lists = _km_assign(ev, cent)
    max_probe = max(_RECALL_PROBES)

    # Map-side probe ranking (r15): each query row slices its own
    # sorted (dist, cid) array — no |queries|×K window exchange.
    probe_all = _km_probe(
        ev.filter(F.col("vec_id") < 5), cent, max_probe, rank_col="rn"
    )
    cand = (
        probe_all.join(lists, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.min("rn").cast("bigint").alias("min_probe"))
    )
    qe = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    ce = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    scored = (
        cand.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "min_probe",
            F.round(
                _dot(F.col("q_emb"), F.col("c_emb"))
                / (_norm(F.col("q_emb")) * _norm(F.col("c_emb"))),
                6,
            ).alias("cosine"),
        )
    )
    np_df = spark.createDataFrame(
        [(n,) for n in _RECALL_PROBES], "nprobe int"
    )
    wr = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    ivf10 = (
        scored.join(
            F.broadcast(np_df), F.col("min_probe") <= F.col("nprobe")
        )
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 10)
        .select("nprobe", "query_id", "neighbor_id")
    )

    pairs = F.broadcast(
        e.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        )
    ).crossJoin(ce).filter(F.col("query_id") != F.col("neighbor_id"))
    tcos = _dot(F.col("q_emb"), F.col("c_emb")) / (
        _norm(F.col("q_emb")) * _norm(F.col("c_emb"))
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    truth = (
        pairs.select(
            "query_id", "neighbor_id", F.round(tcos, 6).alias("cosine")
        )
        .withColumn("rk", F.row_number().over(wt))
        .filter(F.col("rk") <= 10)
        .select("query_id", "neighbor_id")
    )

    ivf_marked = ivf10.select(
        F.col("nprobe").alias("i_nprobe"),
        F.col("query_id").alias("i_query"),
        F.col("neighbor_id").alias("i_neighbor"),
    )
    base = F.broadcast(np_df).crossJoin(truth)
    joined = base.join(
        ivf_marked,
        (F.col("nprobe") == F.col("i_nprobe"))
        & (F.col("query_id") == F.col("i_query"))
        & (F.col("neighbor_id") == F.col("i_neighbor")),
        "left",
    )
    return joined.groupBy("nprobe", "query_id").agg(
        F.sum(F.when(F.col("i_neighbor").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_hits"),
        (
            F.sum(F.when(F.col("i_neighbor").isNotNull(), 1).otherwise(0)) * 10
        )
        .cast("bigint")
        .alias("recall_pct"),
    )


_PURITY_ORACLE_SQL = (
    f"""
    WITH {_KM_CHAIN_SQL},{_km_assign_sql(_KM_ITERS + 1, f"c{_KM_ITERS}")},
    lab AS (
        SELECT a.cid, e.label, CAST(count(*) AS BIGINT) AS n
        FROM a{_KM_ITERS + 1} a JOIN embeddings e ON a.vec_id = e.vec_id
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT cid, CAST(sum(n) AS BIGINT) AS n_members FROM lab GROUP BY cid
    ),
    best AS (
        SELECT cid, label, n,
               row_number() OVER (PARTITION BY cid
                   ORDER BY n DESC, label ASC) AS rk
        FROM lab
    )
    SELECT b.cid AS cluster_id,
           t.n_members,
           CAST(b.label AS INTEGER) AS majority_label,
           b.n AS n_majority,
           CAST(b.n * 1000000 // t.n_members AS BIGINT) AS purity_ppm
    FROM best b JOIN tot t ON b.cid = t.cid
    WHERE b.rk = 1
    """
)


@register(
    "emb_cluster_purity",
    oracle=_PURITY_ORACLE_SQL,
    tags=("ext-vector", "kmeans", "eval"),
)
def emb_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-label purity of the k-means coarse quantizer (extension
    — the standard unsupervised-quality probe when labels exist: does
    the embedding space cluster along the label structure?): every
    vector assigned to its nearest trained centroid (the exact IVF
    assignment lineage), per-cluster majority label with the
    deterministic (count desc, label asc) tie-break, purity in exact
    ppm.

    Scale shape: the assignment is the IVF build's own map-side
    broadcast-centroid pass; the contingency rollup is bounded by
    k x |labels| and the argmax window runs on that bounded frame."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    # carry=("label",): the label rides the map-side assignment instead
    # of joining the N-row label frame back to the assignment (r15).
    evl = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        "label",
    )
    cent = _km_centroids(e.select("vec_id", "embedding")).cache()
    lab = (
        _km_assign(evl, cent, carry=("label",))
        .groupBy("cid", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = lab.groupBy("cid").agg(F.sum("n").cast("bigint").alias("n_members"))
    wb = Window.partitionBy("cid").orderBy(F.desc("n"), F.asc("label"))
    return (
        lab.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") == 1)
        .join(tot, "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_majority"),
            F.expr("n * 1000000L div n_members")
            .cast("bigint")
            .alias("purity_ppm"),
        )
    )


@register(
    "emb_twonn_intrinsic_dim",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
    c AS (SELECT vec_id, embedding FROM embeddings),
    dists AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(sum((CAST(q.embedding[i] AS DOUBLE)
                          - CAST(c.embedding[i] AS DOUBLE))
                         * (CAST(q.embedding[i] AS DOUBLE)
                            - CAST(c.embedding[i] AS DOUBLE))), 6) AS dsq
        FROM q, c, generate_series(1, 64) t(i)
        WHERE q.vec_id <> c.vec_id
        GROUP BY q.vec_id, c.vec_id
    ),
    ranked AS (
        SELECT query_id, dsq,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY dsq ASC, neighbor_id ASC) AS rn
        FROM dists
    ),
    pair AS (
        SELECT query_id,
               min(CASE WHEN rn = 1 THEN dsq END) AS d1sq,
               min(CASE WHEN rn = 2 THEN dsq END) AS d2sq
        FROM ranked WHERE rn <= 2
        GROUP BY query_id
    ),
    mu AS (
        SELECT query_id,
               CAST(round(ln(d2sq / d1sq) * 5000) AS BIGINT) AS ln_mu_e4
        FROM pair WHERE d1sq > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(ln_mu_e4) AS BIGINT) AS sum_ln_mu_e4,
           CAST(count(*) * 10000000000 // sum(ln_mu_e4) AS BIGINT)
               AS intrinsic_dim_micro
    FROM mu
    """,
    tags=("ext-vector", "intrinsic-dimension", "diagnostics"),
)
def emb_twonn_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate of the embedding space
    (extension — the Facco et al. diagnostic every embedding pipeline
    should run before choosing an index: data on a d-dimensional
    manifold gives mu = r2/r1 with E[ln mu] = 1/d, so
    d ~= n / sum(ln mu)): for 50 probe vectors, the two nearest
    neighbours by squared euclidean (rounded to 6 decimals before
    ranking — the cosine-family determinism rule), ln(mu) quantized
    per probe (x5000 = the half that converts squared distances), and
    the estimate as exact integer division.  Duplicate-vector probes
    (r1 = 0) are excluded, as in the original estimator.

    Scale shape: the probe side broadcasts and candidates stream
    map-side (the brute-force-yardstick pattern); per-probe windows
    rank candidate rows.  At deployment the two NNs come from the
    IVF-PQ index — same finalization."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    diff = F.zip_with(
        "q_emb", "c_emb", lambda a, b: (a.cast("double") - b.cast("double"))
    )
    dsq = F.aggregate(
        F.zip_with(diff, diff, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = pairs.select(
        "query_id", "neighbor_id", F.round(dsq, 6).alias("dsq")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("dsq"), F.asc("neighbor_id")
    )
    pair = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("query_id")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("dsq"))).alias("d1sq"),
            F.min(F.when(F.col("rn") == 2, F.col("dsq"))).alias("d2sq"),
        )
        .filter(F.col("d1sq") > 0)
    )
    mu = pair.select(
        F.round(F.log(F.col("d2sq") / F.col("d1sq")) * 5000)
        .cast("bigint")
        .alias("ln_mu_e4")
    )
    return mu.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum("ln_mu_e4").cast("bigint").alias("sum_ln_mu_e4"),
    ).select(
        "n_queries",
        "sum_ln_mu_e4",
        F.expr("n_queries * 10000000000L div sum_ln_mu_e4")
        .cast("bigint")
        .alias("intrinsic_dim_micro"),
    )


_BALANCE_ORACLE_SQL = (
    f"""
    WITH {_KM_CHAIN_SQL},{_km_assign_sql(_KM_ITERS + 1, f"c{_KM_ITERS}")},
    sizes AS (
        SELECT cid, CAST(count(*) AS BIGINT) AS n_members
        FROM a{_KM_ITERS + 1} GROUP BY cid
    ),
    tot AS (SELECT CAST(sum(n_members) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS k
            FROM sizes)
    SELECT s.cid AS cell_id, s.n_members,
           CAST(s.n_members * t.k * 1000000 // t.n AS BIGINT)
               AS load_ppm_of_even,
           s.n_members * t.k * 2 > t.n * 3 AS hot_cell
    FROM sizes s CROSS JOIN tot t
    """
)


@register(
    "emb_ivf_list_balance",
    oracle=_BALANCE_ORACLE_SQL,
    tags=("ext-vector", "ivf", "index-health"),
)
def emb_ivf_list_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list balance report (extension — the index-health
    check an ANN deployment runs after every build: a hot cell serves
    a disproportionate share of probes and sets the latency tail):
    per-cell member counts from the k-means assignment lineage, each
    cell's load relative to the even split n/k in exact ppm, and a
    `hot_cell` flag at 1.5x even load expressed as the integer
    cross-multiplication n_members * k * 2 > n * 3.

    Scale shape: the assignment is the IVF build's own broadcast-
    centroid pass; the report is one k-row rollup plus a scalar cross
    join.  A skewed report is what triggers re-training with more
    centroids or balanced k-means."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ev = _km_ev(e)
    cent = _km_centroids(e).cache()
    sizes = (
        _km_assign(ev, cent)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    )
    tot = sizes.agg(
        F.sum("n_members").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    return sizes.crossJoin(F.broadcast(tot)).select(
        F.col("cid").alias("cell_id"),
        "n_members",
        F.expr("n_members * k * 1000000L div n")
        .cast("bigint")
        .alias("load_ppm_of_even"),
        (F.col("n_members") * F.col("k") * 2 > F.col("n") * 3).alias(
            "hot_cell"
        ),
    )


_PQ_DISTORT_ORACLE_SQL = (
    f"""
    WITH {_PQ_BASE_SQL},
    mind AS (
        {" UNION ALL ".join(
            f'''SELECT vec_id, {s} AS sub,
               CAST(round(dist * 1000000) AS BIGINT) AS dist_micro
            FROM (
                SELECT vec_id, round(dist, 6) AS dist,
                       row_number() OVER (PARTITION BY vec_id
                           ORDER BY round(dist, 6) ASC, cid ASC) AS rn
                FROM d2_{s}
            ) r WHERE rn = 1''' for s in range(_PQ_M)
        )}
    )
    SELECT sub,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(dist_micro) AS BIGINT) // count(*)
               AS mean_sq_dist_micro,
           CAST(max(dist_micro) AS BIGINT) AS max_sq_dist_micro
    FROM mind GROUP BY sub
    """
)


@register(
    "emb_pq_distortion_report",
    oracle=_PQ_DISTORT_ORACLE_SQL,
    tags=("ext-vector", "pq", "index-health"),
)
def emb_pq_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization distortion report (extension — the
    codebook-quality twin of emb_ivf_list_balance: how much squared
    error does each subspace's 16-codeword codebook introduce?):
    per-subspace assignment distances (the same rounded tie-broken
    argmin the code assignment uses), quantized to exact micro units
    per vector, reduced to mean and worst-case distortion per
    subspace.  A subspace whose mean distortion dwarfs the others is
    where recall is leaking — retrain with more codewords or rotate
    the space.

    Scale shape: one broadcast-codebook scoring pass over the keyed
    subspace frame (the PQ build's own plan), per-(vector, subspace)
    windows, then an 8-row rollup with exact integer sums."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sl, cb = _pq_codebooks(e, sf_dir)
    cb = cb.cache()
    # Map-side per-(vector, subspace) argmin (r15): the minimum distance
    # is array_min of the materialized distance array — the identical
    # rounded fold the former N×8×16 window shape ranked through an
    # exchange.
    mind = (
        sl.join(F.broadcast(_pq_pack(cb)), "sub")
        .withColumn("_d", _km_dists(F.col("v")))
        .select(
            "sub",
            F.round(F.expr(_KM_BEST_DIST) * 1000000)
            .cast("bigint")
            .alias("dist_micro"),
        )
    )
    return mind.groupBy("sub").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.expr("sum(dist_micro) div count(1)")
        .cast("bigint")
        .alias("mean_sq_dist_micro"),
        F.max("dist_micro").cast("bigint").alias("max_sq_dist_micro"),
    )


_NDR_SAMPLE_PCT = 20  # deterministic md5 sample: ~20% of vectors


@register(
    "emb_near_dup_rate_sampled",
    oracle=f"""
    WITH s AS (
        SELECT vec_id, embedding
        FROM embeddings
        WHERE CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7))
                   AS BIGINT) % 100 < {_NDR_SAMPLE_PCT}
    ),
    d AS (
        SELECT a.vec_id AS vec1, b.vec_id AS vec2,
               sum(CAST(a.embedding[i] AS DOUBLE)
                   * CAST(b.embedding[i] AS DOUBLE))
                 / (sqrt(sum(CAST(a.embedding[i] AS DOUBLE)
                             * CAST(a.embedding[i] AS DOUBLE)))
                  * sqrt(sum(CAST(b.embedding[i] AS DOUBLE)
                             * CAST(b.embedding[i] AS DOUBLE)))) AS cosine
        FROM s a JOIN s b ON a.vec_id < b.vec_id,
             generate_series(1, 64) t(i)
        GROUP BY a.vec_id, b.vec_id
    ),
    agg AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_sampled,
               CAST(count(*) FILTER (WHERE cosine >= 0.35) AS BIGINT)
                   AS n_near_dup
        FROM d
    )
    SELECT n_sampled,
           CAST(n_sampled * (n_sampled - 1) // 2 AS BIGINT) AS n_pairs,
           n_near_dup,
           CAST(CASE WHEN n_sampled < 2 THEN 0
                ELSE n_near_dup * 1000000
                     // (n_sampled * (n_sampled - 1) // 2) END AS BIGINT)
               AS near_dup_ppm
    FROM agg
    """,
    tags=("ext-vector", "dedup", "sampling", "estimator"),
)
def emb_near_dup_rate_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled EXACT near-duplicate-rate estimator (extension — the
    corpus-scale answer at weak cosine thresholds that SCALE.md r10
    adjudicates: at threshold 0.35 the full pair sweep is quadratic in
    its own OUTPUT, so production estimates the dup rate on a sample
    and sweeps exactly only where the estimate demands it).  A
    deterministic md5-keyed ~{pct}% sample (engine-portable, the
    doc_importance_resample discipline — no rand()) is scored
    ALL-PAIRS with the exact cosine, and the one-row report carries
    (n_sampled, n_pairs, n_near_dup, near_dup_ppm) in exact integer
    ppm.  Pair cost is n_s^2/2 by construction: the sample RATE is the
    knob that bounds it (at 100 TB you fix n_s ~ 1e4 via the rate, not
    the corpus).

    Scale shape: the sample is broadcast-sized by design, so the
    non-equi self-join is one broadcast-nested-loop over a tiny frame;
    the 64-dim dot products stay JVM-side (F.aggregate HOFs)."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    key = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 7), 16, 10)
        .cast("long")
        % 100
    )
    s = e.filter(key < _NDR_SAMPLE_PCT)
    a = s.select(F.col("vec_id").alias("vec1"), F.col("embedding").alias("e1"))
    b = s.select(F.col("vec_id").alias("vec2"), F.col("embedding").alias("e2"))
    cos = _dot(F.col("e1"), F.col("e2")) / (_norm(F.col("e1")) * _norm(F.col("e2")))
    nd = (
        a.join(b, F.col("vec1") < F.col("vec2"))
        .select(cos.alias("cosine"))
        .agg(
            F.count(F.when(F.col("cosine") >= 0.35, 1))
            .cast("bigint")
            .alias("n_near_dup")
        )
    )
    n = s.agg(F.count(F.lit(1)).cast("bigint").alias("n_sampled"))
    return (
        n.crossJoin(nd)
        .withColumn(
            "n_pairs",
            F.expr("CAST(n_sampled * (n_sampled - 1) div 2 AS BIGINT)"),
        )
        .withColumn(
            # n_pairs can be 0 on a tiny corpus (sample of 0/1
            # vectors); report 0 ppm instead of a division error
            # (r10 review) — mirrored in the oracle.
            "near_dup_ppm",
            F.expr(
                "CAST(CASE WHEN n_pairs = 0 THEN 0 "
                "ELSE n_near_dup * 1000000 div n_pairs END AS BIGINT)"
            ),
        )
        .select("n_sampled", "n_pairs", "n_near_dup", "near_dup_ppm")
    )


emb_near_dup_rate_sampled.__doc__ = emb_near_dup_rate_sampled.__doc__.replace(
    "{pct}", str(_NDR_SAMPLE_PCT)
)


# Greedy k-center coreset selection (Gonzalez 1985 farthest-point
# traversal — the classic data-selection / diversity-sampling
# operator: pick K points so every point is near some pick).  Like
# doc_bpe_learn, each round's argmax stays IN-PLAN as a 1-row
# broadcast frame (jobless construction): round r computes every
# point's distance to the selected set (min over r broadcast rows)
# and picks the farthest (ties: lowest vec_id), seeded at the lowest
# vec_id.
_KC_K = 8
# Upper bound for the parameterized helper: the construction pins
# k one-row cached frames (plus the shared ev cache) for the session,
# so k is capped to keep that lifetime trivially bounded (VERDICT r11
# #7 — "leaky as a pattern if K ever parameterizes").
_KC_K_MAX = 64


def kcenter_select(ev: DataFrame, k: int) -> tuple[DataFrame, list]:
    """Parameterized Gonzalez farthest-point selection over an
    (vec_id, v) frame: returns (selection frame with columns
    (step, vec_id, dist_prev), cached_handles).

    Cache lifetime contract: construction is lazy and jobless, so NO
    round frame is superseded before the consumer materializes the
    result — every cached 1-row frame is referenced by both later
    rounds and the final union, and unpersisting early would replay
    the chained lineage combinatorially.  Total pinned footprint is
    k one-row frames (O(k * dim) bytes).  A caller sweeping k (or
    done with the result) releases them via the returned handles:
    ``for h in handles: h.unpersist()``.  The registered query leaves
    them session-lived at k = 8, documented and bounded."""
    if not 1 <= k <= _KC_K_MAX:
        raise ValueError(
            f"kcenter_select: k={k} outside [1, {_KC_K_MAX}] — the "
            "construction pins k cached 1-row frames for the session"
        )
    sel = (
        ev.orderBy("vec_id")
        .limit(1)
        .select(
            F.lit(0).alias("step"),
            "vec_id",
            "v",
            F.lit(0.0).alias("dist_prev"),
        )
        .cache()
    )
    handles = [sel]
    all_sel = sel.select("vec_id", "v")
    rounds = [sel]
    for r in range(1, k):
        scored = ev.crossJoin(
            F.broadcast(all_sel.select(F.col("v").alias("sv")))
        ).select(
            "vec_id", _km_sq_dist(F.col("v"), F.col("sv")).alias("d")
        )
        dmin = scored.groupBy("vec_id").agg(F.min("d").alias("dist"))
        pick = (
            dmin.orderBy(F.desc(F.round("dist", 6)), F.asc("vec_id"))
            .limit(1)
            .select("vec_id", F.round("dist", 6).alias("dist_prev"))
        )
        sel_r = (
            pick.join(ev, "vec_id")
            .select(F.lit(r).alias("step"), "vec_id", "v", "dist_prev")
            .cache()
        )
        handles.append(sel_r)
        rounds.append(sel_r)
        all_sel = all_sel.unionByName(sel_r.select("vec_id", "v"))
    out = None
    for fr in rounds:
        part = fr.select("step", "vec_id", "dist_prev")
        out = part if out is None else out.unionByName(part)
    return out, handles


def _kc_round_sql(r: int) -> str:
    return f"""
    kd{r} AS MATERIALIZED (
        SELECT vec_id, min(d) AS dist FROM (
            SELECT ev.vec_id, s.vec_id AS sid,
                   sum((ev.v[i] - s.v[i]) * (ev.v[i] - s.v[i])) AS d
            FROM ev, kall{r - 1} s, generate_series(1, {_KM_DIM}) t(i)
            GROUP BY ev.vec_id, s.vec_id
        ) GROUP BY vec_id
    ),
    ksel{r} AS MATERIALIZED (
        SELECT {r} AS step, ev.vec_id, ev.v, round(m.dist, 6) AS dist_prev
        FROM ev JOIN (
            SELECT vec_id, dist FROM kd{r}
            ORDER BY round(dist, 6) DESC, vec_id ASC LIMIT 1
        ) m USING (vec_id)
    ),
    kall{r} AS MATERIALIZED (
        SELECT step, vec_id, v FROM kall{r - 1}
        UNION ALL SELECT step, vec_id, v FROM ksel{r}
    )"""


@register(
    "emb_kcenter_coreset",
    oracle="""
    WITH ev AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
            AS v
        FROM embeddings
    ),
    ksel0 AS MATERIALIZED (
        SELECT 0 AS step, vec_id, v, 0.0 AS dist_prev
        FROM (SELECT vec_id, v FROM ev ORDER BY vec_id LIMIT 1)
    ),
    kall0 AS MATERIALIZED (
        SELECT step, vec_id, v FROM ksel0
    ),"""
    + ",".join(_kc_round_sql(r) for r in range(1, _KC_K))
    + f"""
    SELECT step, vec_id, dist_prev FROM (
    {" UNION ALL ".join(
        f"SELECT step, vec_id, dist_prev FROM ksel{r}"
        for r in range(_KC_K)
    )}
    ) ORDER BY step
    """,
    tags=("ext-vector", "coreset", "sampling"),
)
def emb_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (extension — Gonzalez farthest-point
    selection, the diversity-sampling half of data selection next to
    doc_importance_resample's distribution-matching half): {K} rounds,
    each = min-distance-to-selected (a broadcast of <= {K} rows) and a
    global argmax (round(dist,6) DESC, vec_id ASC — the k-means
    argmin tie idiom reversed).  The selected set grows as a chain of
    1-row in-plan frames; no collect anywhere, construction is
    jobless.  dist_prev is each pick's distance to the set before it —
    the classic coreset radius curve (monotone nonincreasing).

    Scale shape: round r is one broadcast crossJoin (<= {K} rows) +
    one map-side min + a TakeOrdered(1) — K rounds = K linear passes,
    never a pairwise stage; this is exactly how GPU coreset pipelines
    shard the same algorithm.

    Cache lifetime: {K} one-row frames + the shared ev cache stay
    pinned for the session (bounded, documented in kcenter_select —
    sweep callers use the parameterized helper and its unpersist
    handles)."""
    e = table(spark, sf_dir, "embeddings")
    ev = _km_ev(e).cache()
    out, _handles = kcenter_select(ev, _KC_K)
    return out


emb_kcenter_coreset.__doc__ = emb_kcenter_coreset.__doc__.replace(
    "{K}", str(_KC_K)
)
