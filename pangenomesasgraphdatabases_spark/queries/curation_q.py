"""Corpus-curation operators for training-data pipelines (extension).

The ops a large-scale LLM-data pipeline runs between crawling and
training, beyond dedup/quality (text_q.py): benchmark decontamination,
sequence chunking, per-source caps, stratified sampling, and vocabulary
coverage.  All JVM-side (no Python UDFs), each with a DuckDB oracle.

Scale notes (100 TB):
- decontamination broadcasts the benchmark gram set (small by
  construction — eval benchmarks are thousands of docs, not billions)
  so the training side never shuffles except the final per-doc count;
- chunking and sampling are map-side only (no shuffle at all);
- source caps shuffle once on `source` (skewed mega-domains would need
  a salted two-phase aggregation);
- vocab coverage is word-count (map-side partial agg) + a distributed
  top-k (orderBy+limit, NOT a global window over the full vocab).

Determinism across engines: md5 is byte-identical in Spark and DuckDB,
so hash-derived orderings/buckets reproduce exactly; ratios are emitted
as fixed-point integers (ppm via integer division) because
round(agg(double)) diverges between engines (r2 lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pangenomesasgraphdatabases_spark.data import table
from pangenomesasgraphdatabases_spark.queries.registry import register
from pangenomesasgraphdatabases_spark.queries.text_q import (
    ORACLE_MAX_POS,
    _gram_starts,
)

# Benchmark-decontamination gram width.  GPT-3/PaLM use 8-13-gram
# collision against eval sets; the fixture corpus draws from a tiny
# vocabulary, so 5 keeps planted-duplicate collisions detectable while
# random collisions stay rare.
_DECON_N = 5
# Everything below this doc_id stands in for the held-out benchmark.
_DECON_EVAL_MAX_ID = 40

_CHUNK_C = 20  # tokens per training chunk
_CHUNK_S = 10  # stride (50% overlap)

_CAP_N = 15  # max docs kept per source

# Per-source sampling rates in percent (domain-mixing weights); the
# md5-derived bucket makes the sample deterministic and engine-exact.
_SAMPLE_RATES = {"src0": 50, "src1": 25}
_SAMPLE_DEFAULT = 10

_VOCAB_K = 50


def _tok_col():
    return F.split(F.trim("text"), " ")


def _grams_of(d: DataFrame, width: int) -> DataFrame:
    """Distinct (doc_id, gram) word n-grams, JVM-side."""
    toks = d.select("doc_id", _tok_col().alias("toks"))
    return (
        toks.select(
            "doc_id",
            F.explode(_gram_starts(F.col("toks"), width)).alias("i"),
            "toks",
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", *[F.element_at("toks", F.col("i") + k) for k in range(width)]
            ).alias("gram"),
        )
        .distinct()
    )


def _grams_sql(src: str, width: int, alias: str) -> str:
    terms = " || ' ' || ".join(f"toks[i+{k}]" for k in range(width))
    return f"""
    {alias} AS (
        SELECT DISTINCT doc_id, {terms} AS gram
        FROM (
            SELECT doc_id, string_split(trim(text), ' ') AS toks
            FROM {src}
        ), generate_series(1, {ORACLE_MAX_POS}) t(i)
        WHERE i + {width - 1} <= len(toks)
    )"""


@register(
    "doc_decontaminate",
    oracle=f"""
    WITH {_grams_sql(f"(SELECT * FROM documents WHERE doc_id < {_DECON_EVAL_MAX_ID})", _DECON_N, "eval_g")},
    {_grams_sql(f"(SELECT * FROM documents WHERE doc_id >= {_DECON_EVAL_MAX_ID})", _DECON_N, "train_g")}
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_hit_grams
    FROM train_g t
    JOIN (SELECT DISTINCT gram FROM eval_g) e USING (gram)
    GROUP BY t.doc_id
    """,
    tags=("ext-curation", "decontamination"),
)
def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (extension): training docs sharing any
    {_DECON_N}-gram with the held-out benchmark set, with the number of
    distinct colliding grams (the GPT-3 appendix-C / PaLM rule: drop or
    flag such docs before training).

    The benchmark gram set is BROADCAST — eval suites are tiny relative
    to a crawl — so the train side is a map-side hash semi-join; the
    only shuffle is the per-doc hit count on doc_id."""
    d = table(spark, sf_dir, "documents")
    eval_g = _grams_of(d.filter(F.col("doc_id") < _DECON_EVAL_MAX_ID), _DECON_N)
    train_g = _grams_of(d.filter(F.col("doc_id") >= _DECON_EVAL_MAX_ID), _DECON_N)
    hits = train_g.join(
        F.broadcast(eval_g.select("gram").distinct()), "gram"
    )
    return hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hit_grams"))


@register(
    "doc_chunk_windows",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(trim(text), ' ') AS t
        FROM documents
    )
    SELECT doc_id,
           CAST((i - 1) // {_CHUNK_S} AS BIGINT) AS chunk_id,
           CAST(i AS BIGINT) AS start_tok,
           CAST(least(i + {_CHUNK_C} - 1, len(t)) AS BIGINT) AS end_tok,
           substr(md5(array_to_string(
               t[i:least(i + {_CHUNK_C} - 1, len(t))], ' ')), 1, 16)
               AS chunk_hash
    FROM toks, generate_series(1, {ORACLE_MAX_POS}) s(i)
    WHERE i <= len(t) AND (i - 1) % {_CHUNK_S} = 0
    """,
    tags=("ext-curation", "chunking"),
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence chunking (extension): split each document into
    {_CHUNK_C}-token training windows with stride {_CHUNK_S} (50%
    overlap), the standard prep for packing long documents into
    fixed-length training sequences.  Emits the token span and an md5
    fingerprint of each chunk (byte-identical across engines) rather
    than the chunk text itself.  Map-side only — no shuffle."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tok_col().alias("t"))
    n = F.size("t")
    starts = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (i - 1) % _CHUNK_S == 0,
    )
    out = toks.select("doc_id", "t", F.explode(starts).alias("i"))
    end = F.least(F.col("i") + _CHUNK_C - 1, F.size("t"))
    chunk = F.array_join(
        F.slice("t", F.col("i"), end - F.col("i") + 1), " "
    )
    return out.select(
        "doc_id",
        # floor-div on both engines: a plain `/` + cast would TRUNCATE
        # in Spark but ROUND in DuckDB's CAST.
        F.floor((F.col("i") - 1) / _CHUNK_S).cast("bigint").alias("chunk_id"),
        F.col("i").cast("bigint").alias("start_tok"),
        end.cast("bigint").alias("end_tok"),
        F.substring(F.md5(chunk), 1, 16).alias("chunk_hash"),
    )


@register(
    "doc_source_cap",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT doc_id, source, CAST(rk AS BIGINT) AS rk,
           CAST(CASE WHEN rk <= {_CAP_N} THEN 1 ELSE 0 END AS INTEGER)
               AS kept
    FROM ranked
    """,
    tags=("ext-curation", "source-cap"),
)
def doc_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (extension): keep at most {_CAP_N} docs
    per source, chosen by a deterministic md5-shuffled order (the
    boilerplate/mega-domain cap every crawl pipeline applies so a
    single domain cannot dominate the corpus).  One shuffle on
    `source`; a skew-prone domain distribution would swap in a salted
    two-phase aggregation."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return d.select(
        "doc_id",
        "source",
        F.row_number().over(w).cast("bigint").alias("rk"),
    ).withColumn("kept", (F.col("rk") <= _CAP_N).cast("int"))


def _rate_case_sql() -> str:
    whens = " ".join(
        f"WHEN source = '{s}' THEN {r}" for s, r in _SAMPLE_RATES.items()
    )
    return f"CASE {whens} ELSE {_SAMPLE_DEFAULT} END"


def _rate_col():
    c = F.lit(_SAMPLE_DEFAULT)
    expr = None
    for s, r in _SAMPLE_RATES.items():
        cond = F.col("source") == s
        expr = F.when(cond, r) if expr is None else expr.when(cond, r)
    return expr.otherwise(c)


@register(
    "doc_stratified_sample",
    oracle=f"""
    SELECT doc_id, source,
           CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
                AS BIGINT) % 100 AS BIGINT) AS bucket
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
          AS BIGINT) % 100 < {_rate_case_sql()}
    """,
    tags=("ext-curation", "sampling"),
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-source) sampling with domain-mixing weights
    (extension): each doc hashes to a bucket in [0, 100) via md5 and is
    kept when bucket < its source's rate — {_SAMPLE_RATES} percent,
    default {_SAMPLE_DEFAULT}.  Deterministic, engine-exact, and pure
    map-side (no shuffle, no RNG state): re-running on an appended
    corpus keeps exactly the docs it kept before — the property a
    resumable pipeline needs that `df.sample()` cannot give."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint")
        % 100
    )
    return (
        d.withColumn("bucket", bucket)
        .filter(F.col("bucket") < _rate_col())
        .select("doc_id", "source", "bucket")
    )


@register(
    "doc_vocab_coverage",
    oracle=f"""
    WITH counts AS (
        SELECT toks[i] AS token, CAST(count(*) AS BIGINT) AS cnt
        FROM (
            SELECT string_split(trim(text), ' ') AS toks FROM documents
        ), generate_series(1, {ORACLE_MAX_POS}) t(i)
        WHERE i <= len(toks)
        GROUP BY 1
    ), total AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM counts
    ), top AS (
        SELECT token, cnt,
               row_number() OVER (ORDER BY cnt DESC, token) AS rank
        FROM counts
        QUALIFY rank <= {_VOCAB_K}
    )
    SELECT CAST(rank AS BIGINT) AS rank, token, cnt,
           CAST(sum(cnt) OVER (ORDER BY rank) AS BIGINT) * 1000000 // tot
               AS cum_ppm
    FROM top, total
    """,
    tags=("ext-curation", "vocab"),
)
def doc_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage (extension): the top-{_VOCAB_K} tokens by
    corpus frequency with the cumulative fraction of all token
    occurrences they cover (ppm, exact integer math) — the diagnostic
    behind tokenizer-vocabulary sizing.  Word-count aggregates partial
    map-side; the top-k is a distributed orderBy+limit (TakeOrdered),
    NOT a global window over the full vocabulary, so it survives a
    100M-type vocab; only the k survivors hit the final 1-row-window
    cumulative sum."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(_tok_col()).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").cast("bigint").alias("tot"))
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(_VOCAB_K)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("token"))),
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            F.col("rank").cast("bigint").alias("rank"),
            "token",
            "cnt",
            F.expr("CAST(sum(cnt) OVER (ORDER BY rank) AS BIGINT)"
                   " * 1000000 div tot").alias("cum_ppm"),
        )
    )


_PACK_BUDGET = 256  # tokens per packed training sequence


@register(
    "doc_pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tok
        FROM documents
    ), cum AS (
        SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
               CAST(sum(n_tok) OVER (ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
        FROM toks
    )
    SELECT doc_id, n_tok,
           cs - n_tok AS start_tok,
           (cs - n_tok) // {_PACK_BUDGET} AS seq_id,
           (cs - n_tok) % {_PACK_BUDGET} AS offset_in_seq
    FROM cum
    """,
    tags=("ext-curation", "packing"),
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (extension): concatenate the corpus in
    doc_id order and cut every {_PACK_BUDGET} tokens — each doc gets
    its global token offset, its sequence id, and its offset inside
    that sequence (docs straddling a cut are split across sequences,
    as sequence packing does).

    The global running total comes from operators/prefix.global_cumsum
    — range partition + per-partition window + broadcast offsets — NOT
    an unpartitioned window: `Window.orderBy()` without partitionBy
    funnels the entire corpus through one partition, which is a dead
    plan at 100 TB.  The oracle uses the naive single-partition window
    (DuckDB is single-node), pinning the two formulations equal."""
    from pangenomesasgraphdatabases_spark.operators.prefix import global_cumsum

    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.size(_tok_col()).cast("bigint").alias("n_tok"))
    cum = global_cumsum(toks, ["doc_id"], "n_tok", out_col="cs")
    start = (F.col("cs") - F.col("n_tok")).alias("start_tok")
    return cum.select(
        "doc_id",
        "n_tok",
        start,
        F.expr(f"(cs - n_tok) div {_PACK_BUDGET}").alias("seq_id"),
        ((F.col("cs") - F.col("n_tok")) % _PACK_BUDGET).alias("offset_in_seq"),
    )


_KFOLD = 5


@register(
    "doc_kfold_split",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    )
    SELECT doc_id, source,
           CAST((rk - 1) % {_KFOLD} AS BIGINT) AS fold,
           CAST(rk AS BIGINT) AS shuffle_rank
    FROM ranked
    """,
    tags=("ext-curation", "cross-validation", "sampling"),
)
def doc_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified k-fold assignment (extension — the cross-validation
    counterpart of `doc_train_split`): documents shuffle
    deterministically WITHIN each source (md5 rank), then deal
    round-robin into {_KFOLD} folds — every fold holds an equal
    (±1) share of every source, and reruns/engines agree exactly.
    Round-robin over the hash order is the stratified dealing that
    per-doc `hash mod k` cannot give (mod-k is only balanced in
    expectation; dealing is balanced by construction).

    Scale shape: one window rank per source partition (same cost
    envelope as `doc_domain_mixture`); at 100 TB the per-source sort
    is the price of exact balance — the documented trade against the
    mod-k approximation."""
    d = table(spark, sf_dir, "documents")
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
    )
    return d.select(
        "doc_id",
        "source",
        ((rk - 1) % _KFOLD).cast("bigint").alias("fold"),
        rk.cast("bigint").alias("shuffle_rank"),
    )


@register(
    "doc_token_budget_mixture",
    oracle="""
    WITH tok AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT source, n_docs, n_tokens,
               CAST(floor(sqrt(CAST(n_tokens * 1000000 AS DOUBLE)))
                   AS BIGINT) AS wgt
        FROM tok
    ),
    tot AS (SELECT sum(wgt) AS z FROM w)
    SELECT source, n_docs, n_tokens,
           CAST(wgt * 1000000 // t.z AS BIGINT) AS mix_micro,
           CAST(wgt * 1000000000 // t.z AS BIGINT) AS alloc_tokens_1b
    FROM w CROSS JOIN tot t
    """,
    tags=("ext-curation", "mixture", "sampling"),
)
def doc_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted token-budget allocation across sources
    (extension — the mixture step of a pretraining pipeline: sources
    are sampled ∝ share^T rather than raw share, so long-tail domains
    are up-weighted; T = 0.5, the sqrt smoothing multilingual recipes
    standardized).  Emits per-source raw token counts, the smoothed
    mixture weight in exact micros, and the allocation of a 1 B-token
    budget.

    Cross-engine exactness: sqrt of an integer-valued double is
    IEEE-754 correctly-rounded (bit-identical in Spark and DuckDB,
    unlike pow(x, 0.7)), and floor pins it to a BIGINT weight, so the
    whole computation after the token count is integer arithmetic —
    no float-sum ordering can shift the hash.

    Scale shape: one shuffle on `source` with map-side partial
    counts; the per-source frame (thousands of rows at web scale) is
    scalar-joined via broadcast."""
    d = table(spark, sf_dir, "documents")
    tok = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split(F.trim("text"), " ")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    w = tok.withColumn(
        "wgt",
        F.floor(F.sqrt((F.col("n_tokens") * 1_000_000).cast("double"))).cast(
            "bigint"
        ),
    )
    tot = w.agg(F.sum("wgt").alias("z"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("CAST(wgt * 1000000L div z AS BIGINT)").alias("mix_micro"),
            F.expr("CAST(wgt * 1000000000L div z AS BIGINT)").alias(
                "alloc_tokens_1b"
            ),
        )
    )
