"""End-to-end corpus-curation pipeline + layout/cohort operators (r3).

Engine extensions for the LLM-training-data story (SURVEY.md section
7.2 step 7): the composed curation pipeline (exact dedup -> near-dup
connected components -> quality gate, one verdict per document),
deterministic importance resampling for data mixing, REAL streaming
ingest dedup (dropDuplicatesWithinWatermark), retention cohorts over
events, and a Z-order layout key for data-skipping file layout.

All numeric comparisons are engine-neutral (integer math, md5-derived
uniform hashes, exact binary fractions) so DuckDB oracles hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pangenomesasgraphdatabases_spark.data import table
from pangenomesasgraphdatabases_spark.queries.registry import register
from pangenomesasgraphdatabases_spark.queries.text_q import (
    _NGRAM_DF_CAP,
    _NGRAM_J_MIN,
    _shingles_sql_for,
    ngram_near_dup_pairs,
)

# Quality gate thresholds (Gopher-style structural filters).
_Q_MIN_TOKENS = 20
_Q_MAX_MEAN_WORD_LEN = 12.0


@register(
    "doc_curation_verdicts",
    oracle=f"""
    WITH RECURSIVE exact AS (
        SELECT doc_id, md5(text) AS h FROM documents
    ), canon AS (
        SELECT h, min(doc_id) AS exact_canon FROM exact GROUP BY h
    ), de AS (
        SELECT e.doc_id, c.exact_canon
        FROM exact e JOIN canon c ON e.h = c.h
    ), survivors AS (
        SELECT d.doc_id, d.text
        FROM documents d JOIN de ON d.doc_id = de.doc_id
        WHERE d.doc_id = de.exact_canon
    ),
    {_shingles_sql_for('ssh', 'survivors')},
    dfreq AS (
        SELECT shingle, count(*) AS df FROM ssh GROUP BY shingle
    ),
    sizes AS (
        SELECT s.doc_id, count(*) AS sz
        FROM ssh s JOIN dfreq d ON s.shingle = d.shingle
        WHERE d.df <= {_NGRAM_DF_CAP}
        GROUP BY s.doc_id
    ),
    inv AS (
        SELECT s.doc_id, s.shingle
        FROM ssh s JOIN dfreq d ON s.shingle = d.shingle
        WHERE d.df BETWEEN 2 AND {_NGRAM_DF_CAP}
    ),
    inter AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
        FROM inv a JOIN inv b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
        SELECT i.doc1, i.doc2
        FROM inter i
        JOIN sizes z1 ON i.doc1 = z1.doc_id
        JOIN sizes z2 ON i.doc2 = z2.doc_id
        WHERE CAST(i.n_common AS DOUBLE) / (z1.sz + z2.sz - i.n_common)
              >= {_NGRAM_J_MIN}
    ),
    edges AS (
        SELECT doc1 AS s, doc2 AS d FROM pairs
        UNION ALL SELECT doc2, doc1 FROM pairs
    ),
    reach(node, root) AS (
        SELECT s, s FROM edges
        UNION
        SELECT e.d, r.root FROM reach r JOIN edges e ON e.s = r.node
    ),
    nd AS (
        SELECT node AS doc_id, min(root) AS nd_canon FROM reach GROUP BY node
    ),
    qual AS (
        SELECT doc_id,
               len(string_split(trim(text), ' ')) AS n_toks,
               length(replace(trim(text), ' ', '')) AS n_alpha
        FROM documents
    )
    SELECT d.doc_id,
           CASE WHEN de.exact_canon <> d.doc_id THEN 'dropped_exact'
                WHEN nd.nd_canon IS NOT NULL AND nd.nd_canon <> d.doc_id
                     THEN 'dropped_neardup'
                WHEN q.n_toks < {_Q_MIN_TOKENS}
                     OR q.n_alpha * 1.0 / q.n_toks > {_Q_MAX_MEAN_WORD_LEN}
                     THEN 'dropped_quality'
                ELSE 'kept' END AS verdict,
           CAST(CASE WHEN de.exact_canon <> d.doc_id THEN de.exact_canon
                     WHEN nd.nd_canon IS NOT NULL THEN nd.nd_canon
                     ELSE d.doc_id END AS BIGINT) AS canonical_id
    FROM documents d
    JOIN de ON d.doc_id = de.doc_id
    LEFT JOIN nd ON d.doc_id = nd.doc_id
    JOIN qual q ON d.doc_id = q.doc_id
    """,
    tags=("ext-text", "pipeline", "dedup", "quality"),
)
def doc_curation_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline, one verdict per document
    (extension): exact dedup (hash-groupBy, min-id canonical) ->
    near-dup grouping among exact survivors (word-3-gram Jaccard pairs
    -> distributed connected components) -> structural quality gate
    (min tokens, max mean word length).  Verdict precedence follows
    pipeline order; canonical_id is the document this content resolves
    to (its exact canonical, its near-dup group minimum, or itself).

    Scale shape: every stage shuffles on content-derived keys (hash,
    shingle, component label) — never all-pairs; the near-dup stage
    runs only on exact survivors, which at crawl scale is the big
    win (exact dups are the bulk of raw crawl duplication)."""
    from pangenomesasgraphdatabases_spark.operators.components import (
        connected_components,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = d.select("doc_id", "text", F.md5("text").alias("h"))
    canon = exact.groupBy("h").agg(F.min("doc_id").alias("exact_canon"))
    de = exact.join(canon, "h").select("doc_id", "text", "exact_canon")
    de = de.cache()  # consumed by survivors + final verdict join

    survivors = de.filter(F.col("doc_id") == F.col("exact_canon")).select(
        "doc_id", "text"
    )
    nd = connected_components(ngram_near_dup_pairs(survivors)).select(
        F.col("node").alias("doc_id"), F.col("component").alias("nd_canon")
    )

    toks = F.split(F.trim("text"), " ")
    n_toks = F.size(toks)
    n_alpha = F.length(F.regexp_replace(F.trim("text"), " ", ""))
    verdict = (
        F.when(F.col("exact_canon") != F.col("doc_id"), "dropped_exact")
        .when(
            F.col("nd_canon").isNotNull() & (F.col("nd_canon") != F.col("doc_id")),
            "dropped_neardup",
        )
        .when(
            (F.col("n_toks") < _Q_MIN_TOKENS)
            | (F.col("n_alpha") * F.lit(1.0) / F.col("n_toks") > _Q_MAX_MEAN_WORD_LEN),
            "dropped_quality",
        )
        .otherwise("kept")
    )
    canonical = (
        F.when(F.col("exact_canon") != F.col("doc_id"), F.col("exact_canon"))
        .when(F.col("nd_canon").isNotNull(), F.col("nd_canon"))
        .otherwise(F.col("doc_id"))
        .cast("bigint")
    )
    return (
        de.withColumn("n_toks", n_toks)
        .withColumn("n_alpha", n_alpha)
        .join(nd, "doc_id", "left")
        .select("doc_id", verdict.alias("verdict"), canonical.alias("canonical_id"))
    )


@register(
    "doc_importance_resample",
    oracle="""
    WITH u AS (
        SELECT doc_id, n_chars,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
                    AS BIGINT) / 268435456.0 AS unif,
               CASE WHEN n_chars >= 400 THEN 1.0
                    WHEN n_chars >= 200 THEN 0.5
                    ELSE 0.25 END AS p
        FROM documents
    )
    SELECT doc_id, p, 1.0 / p AS weight
    FROM u WHERE unif < p
    """,
    tags=("ext-text", "sampling"),
)
def doc_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance resampling for data mixing (extension):
    each document keeps with probability p(quality tier) using an
    md5-derived uniform hash of its id — reproducible across engines,
    runs, and cluster sizes, unlike rand() — and carries weight 1/p so
    downstream token counts stay unbiased (Horvitz-Thompson).  Tiers
    here key on length; in production p comes from a quality model.
    p ∈ {1, 0.5, 0.25} are exact binary fractions, so p and 1/p are
    bit-identical in both engines."""
    d = table(spark, sf_dir, "documents")
    unif = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10).cast(
        "long"
    ) / F.lit(268435456.0)  # 2^28
    p = (
        F.when(F.col("n_chars") >= 400, 1.0)
        .when(F.col("n_chars") >= 200, 0.5)
        .otherwise(0.25)
    )
    return (
        d.withColumn("p", p)
        .withColumn("unif", unif)
        .filter(F.col("unif") < F.col("p"))
        .select("doc_id", "p", (F.lit(1.0) / F.col("p")).alias("weight"))
    )


@register(
    "stream_dedup_counts",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT (user_id, value)) AS BIGINT) AS n_unique
    FROM events
    GROUP BY event_type
    """,
    tags=("ext-stream", "streaming", "dedup"),
)
def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming ingest dedup: dropDuplicatesWithinWatermark on a
    content fingerprint (streaming/events.dedup_stream) keeps per-key
    state only until the watermark passes — bounded state at any
    ingest rate, unlike dropDuplicates' unbounded map.  With
    AvailableNow the file is one micro-batch, so the surviving rows are
    exactly one per distinct fingerprint and a batch COUNT(DISTINCT)
    oracles the per-type counts."""
    from pangenomesasgraphdatabases_spark.streaming.events import (
        dedup_stream,
        events_stream,
        run_available_now,
    )

    deduped = run_available_now(
        dedup_stream(events_stream(spark, sf_dir)), spark, output_mode="append"
    )
    return deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique"))


@register(
    "events_retention_cohorts",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
        FROM events
    ), cohort AS (
        SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id
    )
    SELECT c.cohort_day,
           d.day - c.cohort_day AS offset_days,
           CAST(count(*) AS BIGINT) AS n_users
    FROM days d JOIN cohort c ON d.user_id = c.user_id
    GROUP BY 1, 2
    """,
    tags=("ext-stream", "cohort"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix (extension): users grouped by first-
    activity day, counted at each day offset they return — the classic
    product-analytics triangle.  Day ordinals come from ts_ns integer
    division, so the result is independent of session timezone.  Scale
    shape: one distinct + two aggregations, all shuffling on user_id /
    (cohort, offset) — no self-join of the event log."""
    e = table(spark, sf_dir, "events")
    days = e.select(
        "user_id",
        F.expr("ts_ns div 1000000000").alias("_sec"),
    ).select(
        "user_id", F.floor(F.col("_sec") / F.lit(86400)).cast("bigint").alias("day")
    ).distinct()
    cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(cohort, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("offset_days"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def _zvalue_sql(x: str, y: str) -> str:
    """Engine-neutral SQL for the Morton/Z-order interleave of two
    non-negative 16-bit ints (x bit i -> z bit 2i, y bit i -> z bit 2i+1),
    using only floor / % / * so Spark SQL and DuckDB evaluate the same
    expression."""
    terms = []
    for i in range(16):
        terms.append(
            f"CAST(floor(({x}) / {1 << i}) AS BIGINT) % 2 * {1 << (2 * i)}"
        )
        terms.append(
            f"CAST(floor(({y}) / {1 << i}) AS BIGINT) % 2 * {1 << (2 * i + 1)}"
        )
    return " + ".join(terms)


# 64 target files: top 6 bits of the 32-bit z-value.
_Z_FILES = 64
_Z_SHIFT = (1 << 32) // _Z_FILES


@register(
    "lineitem_zorder_layout",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           {_zvalue_sql('l_partkey % 65536', 'l_suppkey % 65536')} AS zval,
           CAST(floor(({_zvalue_sql('l_partkey % 65536', 'l_suppkey % 65536')})
                / {_Z_SHIFT}) AS BIGINT) AS zfile
    FROM lineitem
    """,
    tags=("ext-layout", "zorder"),
)
def lineitem_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key (extension): Morton-interleaves
    (l_partkey, l_suppkey) so range-partitioning by zval clusters rows
    that are close in BOTH dimensions into the same file — parquet
    min/max stats then skip files for predicates on either column (the
    Delta/Iceberg OPTIMIZE ZORDER story on plain parquet).  zfile is
    the 64-way file assignment; an actual write would range-partition
    by zval (repartitionByRange) so each file holds one zfile."""
    li = table(spark, sf_dir, "lineitem")
    z = F.expr(_zvalue_sql("l_partkey % 65536", "l_suppkey % 65536"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        z.alias("zval"),
        F.floor(z / F.lit(_Z_SHIFT)).cast("bigint").alias("zfile"),
    )


# Mixture temperature alpha = 0.5 — chosen as exactly sqrt() because
# IEEE-754 requires sqrt to be correctly rounded, so both engines
# compute the identical double for any integer count (a general
# pow(n, alpha) is NOT guaranteed identical across libm builds).
_MIX_BOOST = 8


@register(
    "doc_domain_mixture",
    oracle=f"""
    WITH src AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_source
        FROM documents GROUP BY source
    ),
    caps AS (
        SELECT source, n_source,
               CAST(floor(sqrt(CAST(n_source AS DOUBLE)) * {_MIX_BOOST})
                   AS BIGINT) AS cap
        FROM src
    ),
    ranked AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    )
    SELECT r.doc_id, r.source, c.n_source, c.cap,
           CAST(r.rk AS BIGINT) AS mix_rank,
           r.rk <= c.cap AS selected
    FROM ranked r JOIN caps c ON r.source = c.source
    """,
    tags=("ext-pipeline", "mixture", "sampling"),
)
def doc_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixture sampling (extension): cap
    each source at floor(sqrt(n_source) * boost) documents — the
    alpha=0.5 temperature reweighting that upsamples small domains
    relative to their raw share (the multilingual/data-mixture
    standard), selected deterministically by md5 rank so reruns and
    engines agree.

    Scale shape: one count per source (tiny), one window rank per
    source partition.  At 100 TB the per-source sort is the cost —
    production swaps the exact rank for an md5-threshold acceptance
    test (keep iff md5(doc_id) < cap/n_source of hash space, no sort)
    at the price of a binomial-sized cap error; the exact-rank form
    here is the auditable spec of that contract.  Skewed source sizes
    are the watch item: the dominant source's partition carries the
    bulk of the sort."""
    d = table(spark, sf_dir, "documents")
    caps = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_source"))
        .select(
            "source",
            "n_source",
            F.floor(F.sqrt(F.col("n_source").cast("double")) * _MIX_BOOST)
            .cast("long")
            .alias("cap"),
        )
    )
    ranked = d.select(
        "doc_id",
        "source",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("rk"),
    )
    return ranked.join(F.broadcast(caps), "source").select(
        "doc_id",
        "source",
        "n_source",
        "cap",
        F.col("rk").cast("long").alias("mix_rank"),
        (F.col("rk") <= F.col("cap")).alias("selected"),
    )


# Systematic (stride) weighted sampling: the deterministic counterpart
# of weighted reservoir sampling.  Target ~128 picks.
_SYS_K = 128


@register(
    "doc_weighted_systematic_sample",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS wt,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, wt,
               CAST(sum(wt) OVER (ORDER BY h, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_w
        FROM w
    ),
    tot AS (
        SELECT greatest(CAST(sum(wt) AS BIGINT) // {_SYS_K}, 1) AS step FROM w
    )
    SELECT c.doc_id, c.source, c.wt, c.cum_w,
           CAST(c.cum_w // t.step - (c.cum_w - c.wt) // t.step AS BIGINT)
               AS n_picks,
           c.cum_w // t.step > (c.cum_w - c.wt) // t.step AS selected
    FROM cum c CROSS JOIN tot t
    """,
    tags=("ext-pipeline", "sampling", "weighted"),
)
def doc_weighted_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional systematic sampling (extension — the
    deterministic, engine-exact counterpart of weighted reservoir /
    A-ES sampling, whose u^(1/w) keys are a cross-engine float
    hazard): documents are laid on a line in md5-shuffled order, each
    occupying a span equal to its weight (n_chars); a stride boundary
    every total_weight/128 units picks the document it lands in, so
    inclusion probability is proportional to weight, heavy documents
    can be picked multiple times (`n_picks` is the multiplicity — the
    importance-sampling repeat count), and the draw is a pure function
    of the data.

    Scale shape: the cumulative weight runs through
    operators/prefix.global_cumsum (range partition on the md5 order
    key + broadcast offsets — no single-partition window); the stride
    is ONE scalar broadcast.  This is how you draw a
    weight-proportional validation slice from a 100 TB corpus in one
    pass without per-row RNG or a global sort bottleneck."""
    from pangenomesasgraphdatabases_spark.operators.prefix import global_cumsum

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("wt"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    cum = global_cumsum(d, ["h", "doc_id"], "wt", "cum_w").drop("h")
    step = d.agg(
        F.greatest(F.expr(f"sum(wt) div {_SYS_K}"), F.lit(1)).alias("step")
    )
    return cum.crossJoin(F.broadcast(step)).select(
        "doc_id",
        "source",
        "wt",
        F.col("cum_w").cast("bigint").alias("cum_w"),
        F.expr("cum_w div step - (cum_w - wt) div step")
        .cast("bigint")
        .alias("n_picks"),
        F.expr("cum_w div step > (cum_w - wt) div step").alias("selected"),
    )


_H_BITS = 8
_H_FILES = 64
_H_SHIFT = (1 << (2 * _H_BITS)) // _H_FILES


def _hilbert_oracle() -> str:
    from pangenomesasgraphdatabases_spark.operators.hilbert import (
        hilbert_index_oracle_sql,
    )

    n = 1 << _H_BITS
    base = (
        "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,"
        f" CAST(l_partkey % {n} AS BIGINT) AS hx,"
        f" CAST(l_suppkey % {n} AS BIGINT) AS hy"
        " FROM lineitem"
    )
    inner = hilbert_index_oracle_sql(
        base, "l_orderkey, l_linenumber, l_partkey, l_suppkey", _H_BITS
    )
    return (
        "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, hval,"
        f" CAST(hval // {_H_SHIFT} AS BIGINT) AS hfile FROM ({inner})"
    )


@register(
    "lineitem_hilbert_layout",
    oracle=_hilbert_oracle(),
    tags=("ext-layout", "hilbert"),
)
def lineitem_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout key (extension — the locality upgrade of
    `lineitem_zorder_layout`): maps (l_partkey, l_suppkey) mod 256
    onto the 256x256 Hilbert curve, so range-partitioning by hval
    gives every file ONE contiguous curve segment = one compact blob
    of the 2-D key space.  Unlike the Morton Z, consecutive Hilbert
    indexes are always grid neighbours, so per-file min/max bounding
    boxes are strictly tighter on the same data — better parquet
    file pruning for predicates on either key.  The index is the
    classic quadrant recursion unrolled to 8 arithmetic steps
    (div/mod/CASE, whole-stage codegen, no UDF), one expression
    generator shared with the DuckDB oracle; `hfile` is the 64-way
    file assignment an actual write would get by range-partitioning
    on hval.

    Scale shape: map-only (zero shuffles) for the key computation;
    the layout write is the one repartitionByRange any clustering
    rewrite needs."""
    from pangenomesasgraphdatabases_spark.operators.hilbert import (
        with_hilbert_index,
    )

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    return with_hilbert_index(
        li, "l_partkey", "l_suppkey", _H_BITS, "hval"
    ).selectExpr(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        "hval",
        f"CAST(hval div {_H_SHIFT} AS BIGINT) AS hfile",
    )


@register(
    "orders_join_view_ivm",
    oracle="""
    SELECT o.o_custkey AS custkey,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
    """,
    tags=("ext-pipeline", "ivm", "incremental"),
)
def orders_join_view_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view proven against the full
    recompute (extension — the join-view counterpart of
    `events_incremental_rollup`'s aggregate IVM): the revenue-per-
    customer view over lineitem JOIN orders is maintained by the
    classic delta-join algebra

        d(A JOIN B) = dA JOIN B_old  UNION  A_old JOIN dB
                      UNION  dA JOIN dB

    with both tables split into base + delta by independent moduli
    (so all three delta terms are non-empty on real data), each term
    aggregated in PARTIAL form, and the four partials merged by
    summation.  The oracle is the one-shot full join — the driver
    hash verifies the delta algebra itself, not a pytest toy.

    Scale shape: at refresh time a real deployment scans ONLY the
    deltas and the (indexed/bucketed) other side — never base JOIN
    base, which is here just staging for the proof.  All four terms
    shuffle on the join key; partials merge on custkey (the view
    key); integer-cent partial sums make the merge order-independent.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li_base = li.filter(F.col("l_orderkey") % 10 != 0)
    li_delta = li.filter(F.col("l_orderkey") % 10 == 0)
    o_base = od.filter(F.col("o_orderkey") % 7 != 0)
    o_delta = od.filter(F.col("o_orderkey") % 7 == 0)

    def part(l, o):
        return (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum("cents").alias("revenue_cents"),
            )
        )

    merged = (
        part(li_base, o_base)
        .unionByName(part(li_delta, o_base))
        .unionByName(part(li_base, o_delta))
        .unionByName(part(li_delta, o_delta))
        .groupBy("o_custkey")
        .agg(
            F.sum("n_items").cast("bigint").alias("n_items"),
            F.sum("revenue_cents").cast("bigint").alias("revenue_cents"),
        )
    )
    return merged.select(
        F.col("o_custkey").alias("custkey"), "n_items", "revenue_cents"
    )


@register(
    "data_quality_checks",
    oracle="""
    SELECT 'fk_orders_custkey' AS check_name,
           (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_total,
           (SELECT CAST(count(*) AS BIGINT) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
               AS n_violations
    UNION ALL
    SELECT 'unique_lineitem_line',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(coalesce(sum(cnt - 1), 0) AS BIGINT) FROM (
                SELECT count(*) AS cnt FROM lineitem
                GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1))
    UNION ALL
    SELECT 'range_l_quantity',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
            WHERE l_quantity < 1 OR l_quantity > 50)
    UNION ALL
    SELECT 'nonnull_o_orderpriority',
           (SELECT CAST(count(*) AS BIGINT) FROM orders),
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_orderpriority IS NULL)
    UNION ALL
    SELECT 'shipdate_in_window',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
            WHERE l_shipdate < TIMESTAMP '1992-01-01'
               OR l_shipdate >= TIMESTAMP '2003-01-01')
    """,
    tags=("ext-pipeline", "data-quality"),
)
def data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality check suite (extension — the
    deequ/dbt-test shape every ingestion pipeline runs before
    publishing a table): referential integrity (orders.custkey into
    customer via a real anti-join), key uniqueness (surplus rows per
    duplicated (orderkey, linenumber)), numeric range, non-null, and
    date-window checks, each emitted as one (check, total,
    violations) row so the verdict table itself is tiny and
    hash-checkable.

    Scale shape: each check is one aggregation pass (the FK check a
    broadcast anti-join against the dimension); all five checks are
    independent branches of one lazy DAG over shared scans — at
    100 TB you run them in the same job as the ingest write, not as
    five separate table scans."""
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer").select("c_custkey")

    def check(name, total_df, viol_df):
        total = total_df.agg(F.count(F.lit(1)).alias("n_total"))
        viol = viol_df.agg(
            F.coalesce(F.sum("v"), F.lit(0)).cast("bigint").alias("n_violations")
        )
        return (
            total.crossJoin(viol)
            .select(
                F.lit(name).alias("check_name"), "n_total", "n_violations"
            )
        )

    fk = check(
        "fk_orders_custkey",
        od,
        od.join(F.broadcast(cu), od.o_custkey == cu.c_custkey, "left_anti")
        .select(F.lit(1).alias("v")),
    )
    dup = check(
        "unique_lineitem_line",
        li,
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select((F.col("cnt") - 1).alias("v")),
    )
    rng = check(
        "range_l_quantity",
        li,
        li.filter((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50))
        .select(F.lit(1).alias("v")),
    )
    nn = check(
        "nonnull_o_orderpriority",
        od,
        od.filter(F.col("o_orderpriority").isNull()).select(F.lit(1).alias("v")),
    )
    dt = check(
        "shipdate_in_window",
        li,
        li.filter(
            (F.col("l_shipdate") < F.lit("1992-01-01").cast("timestamp"))
            | (F.col("l_shipdate") >= F.lit("2003-01-01").cast("timestamp"))
        ).select(F.lit(1).alias("v")),
    )
    return fk.unionByName(dup).unionByName(rng).unionByName(nn).unionByName(dt)


@register(
    "user_forget_cascade",
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
               AS bucket_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS sum_value_micro
    FROM events
    WHERE user_id % 97 <> 0
    GROUP BY 1, 2
    """,
    tags=("ext-pipeline", "gdpr", "retraction"),
)
def user_forget_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade by RETRACTION algebra (extension
    — the deletion counterpart of `events_incremental_rollup`'s
    additive IVM): users with user_id % 97 == 0 request erasure.
    Instead of rescanning the event log, the maintained hourly rollup
    subtracts the tombstoned users' partial rollup:

        rollup(remaining) = rollup(all) - rollup(tombstoned)

    computed here as a merge of the full rollup with the NEGATED
    tombstone partials, dropping groups whose count reaches zero.
    The oracle recomputes the rollup over the remaining events
    directly — the driver hash verifies the retraction algebra on
    real data.

    Scale shape: the erase scans ONLY the tombstoned users' events
    (a semi-join against the tombstone list — at 100 TB a bucketed /
    partition-pruned read), never the full log; counts and integer
    micro sums are abelian-group aggregates, so subtraction is exact
    and order-independent.  avg-style ratios are derived after the
    merge, never maintained."""
    e = table(spark, sf_dir, "events")
    bucket = F.unix_timestamp(F.date_trunc("hour", "ts")).alias("bucket_start")
    vm = F.round(F.col("value") * 1_000_000).cast("bigint")

    def rollup(df, sign):
        return df.groupBy(bucket, "event_type").agg(
            (F.count(F.lit(1)) * sign).alias("n_events"),
            (F.sum(vm) * sign).alias("sum_value_micro"),
        )

    full = rollup(e, F.lit(1))
    tomb = rollup(e.filter(F.col("user_id") % 97 == 0), F.lit(-1))
    return (
        full.unionByName(tomb)
        .groupBy("bucket_start", "event_type")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("sum_value_micro").cast("bigint").alias("sum_value_micro"),
        )
        .filter(F.col("n_events") > 0)
    )


@register(
    "orders_merge_into",
    oracle="""
    WITH changes AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 17 = 0 THEN 'D'
                    WHEN o_orderkey % 13 = 0 THEN 'U' END AS op,
               CAST(round(o_totalprice * 110) AS BIGINT) AS new_price_cents
        FROM orders
        WHERE o_orderkey % 17 = 0 OR o_orderkey % 13 = 0
        UNION ALL
        SELECT o_orderkey + 100000000, 'I',
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM orders WHERE o_orderkey % 19 = 0
    )
    SELECT t.o_orderkey,
           coalesce(t.o_custkey, -1) AS o_custkey,
           t.price_cents,
           t.src
    FROM (
        SELECT o.o_orderkey, o.o_custkey,
               CASE WHEN c.op = 'U' THEN c.new_price_cents
                    ELSE CAST(round(o.o_totalprice * 100) AS BIGINT) END
                   AS price_cents,
               CASE WHEN c.op = 'U' THEN 'updated' ELSE 'kept' END AS src
        FROM orders o LEFT JOIN changes c ON o.o_orderkey = c.o_orderkey
        WHERE c.op IS NULL OR c.op = 'U'
        UNION ALL
        SELECT c.o_orderkey, NULL, c.new_price_cents, 'inserted'
        FROM changes c
        WHERE c.op = 'I'
    ) t
    """,
    tags=("ext-pipeline", "merge", "upsert"),
)
def orders_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain parquet (extension — the
    lakehouse upsert: WHEN MATCHED AND op='U' THEN UPDATE, WHEN
    MATCHED AND op='D' THEN DELETE, WHEN NOT MATCHED THEN INSERT),
    expressed Spark-first as ONE outer-join pass over the snapshot:
    a deterministic change batch (updates for orderkey % 13, deletes
    for % 17, inserts for % 19 at offset keys) applies in a single
    left join + filter + union, producing the next snapshot version
    with per-row provenance (`kept`/`updated`/`inserted`).  Prices
    in integer cents.

    Scale shape: the snapshot-side scan joins the (much smaller)
    change batch on the merge key — broadcast when the batch fits,
    shuffle-on-key otherwise; deletes are a filter on the same join,
    never a second pass.  This is exactly the shuffle plan a
    Delta/Iceberg MERGE compiles to, minus the transaction-log
    bookkeeping."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
        F.round(F.col("o_totalprice") * 110).cast("bigint").alias("price110_cents"),
    )
    upd_del = o.filter(
        (F.col("o_orderkey") % 17 == 0) | (F.col("o_orderkey") % 13 == 0)
    ).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 17 == 0, "D").otherwise("U").alias("op"),
        F.col("price110_cents").alias("new_price_cents"),
    )
    ins = o.filter(F.col("o_orderkey") % 19 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.lit("I").alias("op"),
        F.col("price_cents").alias("new_price_cents"),
    )
    matched = (
        o.join(F.broadcast(upd_del), "o_orderkey", "left")
        .filter(F.col("op").isNull() | (F.col("op") == "U"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.when(F.col("op") == "U", F.col("new_price_cents"))
            .otherwise(F.col("price_cents"))
            .alias("price_cents"),
            F.when(F.col("op") == "U", "updated").otherwise("kept").alias("src"),
        )
    )
    inserted = ins.select(
        "o_orderkey",
        F.lit(None).cast("long").alias("o_custkey"),
        F.col("new_price_cents").alias("price_cents"),
        F.lit("inserted").alias("src"),
    )
    return matched.unionByName(inserted).select(
        "o_orderkey",
        F.coalesce("o_custkey", F.lit(-1)).alias("o_custkey"),
        "price_cents",
        "src",
    )


@register(
    "orders_snapshot_diff",
    oracle="""
    WITH base AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders
    ),
    nxt AS (
        SELECT o.o_orderkey,
               CASE WHEN o.o_orderkey % 13 = 0 AND o.o_orderkey % 17 <> 0
                    THEN CAST(round(o.o_totalprice * 110) AS BIGINT)
                    ELSE CAST(round(o.o_totalprice * 100) AS BIGINT) END
                   AS price_cents
        FROM orders o WHERE o.o_orderkey % 17 <> 0
        UNION ALL
        SELECT o_orderkey + 100000000,
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM orders WHERE o_orderkey % 19 = 0
    )
    SELECT coalesce(b.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN b.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change,
           b.price_cents AS old_price_cents,
           n.price_cents AS new_price_cents
    FROM base b FULL OUTER JOIN nxt n ON b.o_orderkey = n.o_orderkey
    WHERE b.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR b.price_cents <> n.price_cents
    """,
    tags=("ext-pipeline", "diff", "audit"),
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (extension — the audit complement of
    `orders_merge_into`): compares the base orders snapshot against
    the post-merge version (reconstructed from the same deterministic
    change rules) and emits ONLY the rows that differ, labeled
    added / removed / changed with old and new values.  This is the
    time-travel "what changed between versions" query a lakehouse
    table log answers; on plain parquet it is one full-outer join on
    the key with a value-inequality filter.

    Scale shape: a key-keyed full outer join (bucketed/co-partitioned
    at deployment); unchanged rows — the overwhelming majority — are
    filtered before any downstream work, so the diff output is
    change-sized, not table-sized."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
        F.round(F.col("o_totalprice") * 110).cast("bigint").alias("price110_cents"),
    )
    base = o.select("o_orderkey", "price_cents")
    nxt = (
        o.filter(F.col("o_orderkey") % 17 != 0)
        .select(
            "o_orderkey",
            F.when(
                (F.col("o_orderkey") % 13 == 0), F.col("price110_cents")
            )
            .otherwise(F.col("price_cents"))
            .alias("price_cents"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 19 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                "price_cents",
            )
        )
    )
    b = base.select(
        F.col("o_orderkey").alias("b_key"), F.col("price_cents").alias("old_price_cents")
    )
    n = nxt.select(
        F.col("o_orderkey").alias("n_key"), F.col("price_cents").alias("new_price_cents")
    )
    return (
        b.join(n, b.b_key == n.n_key, "full_outer")
        .filter(
            F.col("b_key").isNull()
            | F.col("n_key").isNull()
            | (F.col("old_price_cents") != F.col("new_price_cents"))
        )
        .select(
            F.coalesce("b_key", "n_key").alias("o_orderkey"),
            F.when(F.col("b_key").isNull(), "added")
            .when(F.col("n_key").isNull(), "removed")
            .otherwise("changed")
            .alias("change"),
            "old_price_cents",
            "new_price_cents",
        )
    )


@register(
    "lineitem_zonemap_pruning",
    oracle=f"""
    WITH mx AS (
        SELECT CAST(max(l_partkey) AS BIGINT) AS mxp,
               CAST(max(l_suppkey) AS BIGINT) AS mxs,
               CAST(max(l_orderkey) AS BIGINT) AS mxo
        FROM lineitem
    ),
    scaled AS (
        SELECT l.l_partkey, l.l_orderkey,
               l.l_partkey * 65536 // (m.mxp + 1) AS x,
               l.l_suppkey * 65536 // (m.mxs + 1) AS y,
               l.l_orderkey * {_Z_FILES} // (m.mxo + 1) AS nat_block,
               m.mxp
        FROM lineitem l CROSS JOIN mx m
    ),
    blocks AS (
        SELECT 'zorder' AS layout,
               CAST(({_zvalue_sql('x', 'y')}) // {_Z_SHIFT} AS BIGINT)
                   AS block_id,
               l_partkey, mxp
        FROM scaled
        UNION ALL
        SELECT 'natural' AS layout, CAST(nat_block AS BIGINT) AS block_id,
               l_partkey, mxp
        FROM scaled
    )
    SELECT layout, block_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(l_partkey) AS BIGINT) AS min_pk,
           CAST(max(l_partkey) AS BIGINT) AS max_pk,
           (max(l_partkey) < min(mxp) // 4
            OR min(l_partkey) > min(mxp) // 4 + min(mxp) // 64) AS pruned
    FROM blocks
    GROUP BY 1, 2
    """,
    tags=("ext-layout", "zonemap", "data-skipping"),
)
def lineitem_zonemap_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (per-file min/max) statistics + measured pruning
    efficacy, z-order vs ingest-order layouts (extension — the WHY
    behind lineitem_zorder_layout): assign every row to one of {files}
    blocks under (a) the Morton-interleaved (partkey, suppkey) layout
    and (b) the natural orderkey-ingest layout, compute each block's
    partkey zone map, and flag the blocks a scan for
    ``l_partkey IN [mxp/4, mxp/4 + mxp/64]`` could SKIP on stats alone
    (zone disjoint from the predicate range).  The z-order layout
    prunes most blocks for this mid-domain probe; the natural layout
    prunes almost none — the measured Delta/Iceberg OPTIMIZE claim.
    Coordinates are rescaled to the 16-bit Morton grid by each key's
    max (domain-relative, so every scale factor exercises all blocks),
    and the probe range is domain-relative too; everything is exact
    integer arithmetic.

    Scale shape: one scalar max() broadcast to the scan, one shuffle
    to the (layout, block) rollup — output bounded at 2x{files} rows
    regardless of data size.  At a real deployment the zone maps come
    free from parquet footers; this query is the engine-side oracle of
    what the footer stats would contain."""
    li = table(spark, sf_dir, "lineitem")
    mx = li.agg(
        F.max("l_partkey").cast("bigint").alias("mxp"),
        F.max("l_suppkey").cast("bigint").alias("mxs"),
        F.max("l_orderkey").cast("bigint").alias("mxo"),
    )
    scaled = li.crossJoin(F.broadcast(mx)).select(
        "l_partkey",
        F.expr("l_partkey * 65536L div (mxp + 1)").alias("x"),
        F.expr("l_suppkey * 65536L div (mxs + 1)").alias("y"),
        F.expr(f"l_orderkey * {_Z_FILES}L div (mxo + 1)").alias("nat_block"),
        "mxp",
    )
    zb = scaled.select(
        F.lit("zorder").alias("layout"),
        F.expr(f"({_zvalue_sql('x', 'y')}) div {_Z_SHIFT}")
        .cast("bigint")
        .alias("block_id"),
        "l_partkey",
        "mxp",
    )
    nb = scaled.select(
        F.lit("natural").alias("layout"),
        F.col("nat_block").cast("bigint").alias("block_id"),
        "l_partkey",
        "mxp",
    )
    return (
        zb.unionByName(nb)
        .groupBy("layout", "block_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("l_partkey").cast("bigint").alias("min_pk"),
            F.max("l_partkey").cast("bigint").alias("max_pk"),
            (
                (F.max("l_partkey") < F.expr("min(mxp) div 4"))
                | (
                    F.min("l_partkey")
                    > F.expr("min(mxp) div 4 + min(mxp) div 64")
                )
            ).alias("pruned"),
        )
    )


lineitem_zonemap_pruning.__doc__ = lineitem_zonemap_pruning.__doc__.format(
    files=_Z_FILES
)


@register(
    "lineitem_compaction_bins",
    oracle="""
    WITH files AS (
        SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1
                    AS BIGINT) AS midx,
               CAST(l_orderkey // 64 AS BIGINT) AS file_id,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem
        GROUP BY 1, 2
    ),
    tgt AS (
        SELECT midx,
               greatest(CAST(sum(n_rows) // 8 AS BIGINT), CAST(1 AS BIGINT))
                   AS target
        FROM files GROUP BY midx
    ),
    planned AS (
        SELECT f.midx, f.file_id, f.n_rows, t.target,
               CAST(sum(f.n_rows) OVER (PARTITION BY f.midx
                    ORDER BY f.file_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - f.n_rows AS BIGINT) AS cum_before
        FROM files f JOIN tgt t ON f.midx = t.midx
    )
    SELECT midx, file_id, n_rows,
           CAST(cum_before // target AS BIGINT) AS bin_id
    FROM planned
    """,
    tags=("ext-layout", "compaction", "maintenance"),
)
def lineitem_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (extension — the table-maintenance
    op every 100 TB lake runs nightly): simulate a file inventory (one
    "file" per 64-orderkey run per ship-month partition, sized by its
    row count), then assign files to compaction bins by cumulative-sum
    division so each output file lands near partition_rows/8 — the
    deterministic streaming-bin-packing that OPTIMIZE/rewriteDataFiles
    performs, as a relational plan.  Everything exact-integer; bin
    boundaries depend only on (partition, file order), so reruns and
    engines agree.

    Scale shape: the inventory rollup is one map-side-combinable
    shuffle; the cumulative window is PER PARTITION (midx) over the
    file inventory — thousands of rows per partition, never raw data.
    In production the inventory comes from the table metadata/manifest
    layer and this same plan emits the rewrite job list."""
    li = table(spark, sf_dir, "lineitem")
    files = li.groupBy(
        (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1)
        .cast("bigint")
        .alias("midx"),
        F.expr("l_orderkey div 64").cast("bigint").alias("file_id"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    tgt = files.groupBy("midx").agg(
        F.greatest(F.expr("sum(n_rows) div 8"), F.lit(1).cast("bigint"))
        .cast("bigint")
        .alias("target")
    )
    w = (
        Window.partitionBy("midx")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    planned = files.join(tgt, "midx").withColumn(
        "cum_before", (F.sum("n_rows").over(w) - F.col("n_rows")).cast("bigint")
    )
    return planned.select(
        "midx",
        "file_id",
        "n_rows",
        F.expr("cum_before div target").cast("bigint").alias("bin_id"),
    )


_N_SHARDS = 16


@register(
    "doc_shard_assignment_balanced",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, n_chars,
               row_number() OVER (ORDER BY n_chars DESC, doc_id)
                   AS rk
        FROM documents
    ),
    assigned AS (
        SELECT doc_id, n_chars,
               CAST((rk - 1) % {_N_SHARDS} AS BIGINT) AS shard
        FROM ranked
    ),
    tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS all_chars FROM assigned)
    SELECT a.shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(a.n_chars) AS BIGINT) AS shard_chars,
           CAST(sum(a.n_chars) * {_N_SHARDS} * 1000000 // min(t.all_chars)
               AS BIGINT) AS load_ppm_of_even
    FROM assigned a CROSS JOIN tot t
    GROUP BY a.shard
    """,
    tags=("ext-pipeline", "sharding", "output-layout"),
)
def doc_shard_assignment_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced output shard assignment (extension — the write
    side of a training-data pipeline: webdataset/TFRecord shards
    should be near-equal BYTES, not equal document counts, or the
    data loader's stragglers mirror the biggest shard): documents
    ranked by size descending and dealt round-robin across {k}
    shards — the greedy dealing that bounds any shard's excess by one
    document per round — reported as per-shard load in exact ppm of
    the even split.  Deterministic rank tie-break on doc_id.

    Scale shape: the global size rank is the one global-sort cost
    (at petabyte scale it rides operators/prefix.global_cumsum's
    range-partitioned rank instead of a single-partition window —
    the same swap documented for the Gini rank); assignment is then
    a pure map and the report a {k}-row rollup.

    Arithmetic bound (ADVICE r9): ``load_ppm_of_even`` multiplies the
    per-shard sum by {k}*1e6 before dividing, so a per-shard sum above
    ~5.7e11 (2^63 / 1.6e7) would overflow BIGINT — ~576 G chars/shard,
    far above any realistic shard target (shards exist to be small);
    a deployment sharding >500 GB per shard should divide first
    (``sum div (all div {k})`` with remainder correction) at the cost
    of one ulp of ppm precision."""
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.orderBy(F.desc("n_chars"), "doc_id")
    assigned = d.select(
        "n_chars",
        ((F.row_number().over(w) - 1) % _N_SHARDS).cast("bigint").alias("shard"),
    )
    tot = assigned.agg(F.sum("n_chars").cast("bigint").alias("all_chars"))
    return (
        assigned.crossJoin(F.broadcast(tot))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("shard_chars"),
            F.expr(
                f"sum(n_chars) * {_N_SHARDS}L * 1000000L div min(all_chars)"
            )
            .cast("bigint")
            .alias("load_ppm_of_even"),
        )
    )


doc_shard_assignment_balanced.__doc__ = doc_shard_assignment_balanced.__doc__.replace(
    "{k}", str(_N_SHARDS)
)


@register(
    "doc_token_snake_shards",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               CAST(len(string_split(trim(text), ' ')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, n_tokens,
               row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1
                   AS rk
        FROM tok
    ),
    assigned AS (
        SELECT doc_id, n_tokens,
               CAST(CASE WHEN rk % {2 * _N_SHARDS} < {_N_SHARDS}
                    THEN rk % {2 * _N_SHARDS}
                    ELSE {2 * _N_SHARDS - 1} - rk % {2 * _N_SHARDS}
                    END AS BIGINT) AS shard
        FROM ranked
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS all_tokens
            FROM assigned)
    SELECT a.shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(a.n_tokens) AS BIGINT) AS shard_tokens,
           CAST(sum(a.n_tokens) * {_N_SHARDS} * 1000000
                // min(t.all_tokens) AS BIGINT) AS load_ppm_of_even
    FROM assigned a CROSS JOIN tot t
    GROUP BY a.shard
    """,
    tags=("ext-pipeline", "sharding", "output-layout"),
)
def doc_token_snake_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted SNAKE (boustrophedon) shard assignment
    (extension — the refinement over round-robin dealing: on a
    size-sorted order, round-robin always hands shard 0 the largest
    document of every round, a systematic heavy-shard bias; snaking
    the deal direction every pass cancels it, the same trick
    tournament seeding uses).  Load reported in exact ppm of the even
    split — comparable side by side with
    ``doc_shard_assignment_balanced``'s round-robin ppm.

    Scale shape: same as the round-robin variant — one global
    size-rank sort (range-partitioned rank via operators/prefix at
    petabyte scale), then a pure-map assignment and a 16-row
    rollup.  Same ppm-overflow bound as the round-robin variant:
    per-shard token sums above ~5.7e11 need divide-before-scale."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.trim("text"), " ")).cast("bigint").alias("n_tokens")
    )
    w = Window.orderBy(F.desc("n_tokens"), "doc_id")
    rk = F.row_number().over(w) - 1
    fold = rk % (2 * _N_SHARDS)
    assigned = d.select(
        "n_tokens",
        F.when(fold < _N_SHARDS, fold)
        .otherwise(F.lit(2 * _N_SHARDS - 1) - fold)
        .cast("bigint")
        .alias("shard"),
    )
    tot = assigned.agg(F.sum("n_tokens").cast("bigint").alias("all_tokens"))
    return (
        assigned.crossJoin(F.broadcast(tot))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
            F.expr(
                f"sum(n_tokens) * {_N_SHARDS}L * 1000000L div min(all_tokens)"
            )
            .cast("bigint")
            .alias("load_ppm_of_even"),
        )
    )
