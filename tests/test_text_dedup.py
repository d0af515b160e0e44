"""Production-width sketch behavior on planted near-duplicates:
16x4 MinHash banding must catch what r1's single-band missed, and
64-bit SimHash must separate near-dups from unrelated docs."""

from __future__ import annotations

from pyspark.sql import functions as F

from pangenomesasgraphdatabases_spark.queries.text_q import (
    band_frame,
    lsh_candidate_pairs,
    minhash_sig_of,
    shingles_of,
    simhash_hamming,
    simhash_of,
)


def _corpus(spark):
    """10 unrelated docs + 5 planted near-dup pairs (two words swapped
    per 40 -> 3-gram shingle Jaccard ~0.73, above the 16x4 banding
    s-curve threshold of ~0.5 where P(candidate) > 0.99).
    Deterministic text."""
    rows = []
    base_words = [f"w{i}" for i in range(400)]
    for d in range(10):
        text = " ".join(base_words[d * 40 : d * 40 + 40])
        rows.append((d, text))
    for p in range(5):
        words = [f"p{p}t{i}" for i in range(40)]
        rows.append((100 + 2 * p, " ".join(words)))
        mutated = list(words)
        mutated[7] = "CHANGED_A"
        mutated[23] = "CHANGED_B"
        rows.append((101 + 2 * p, " ".join(mutated)))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_banded_lsh_catches_planted_near_dups(spark):
    d = _corpus(spark)
    sh = shingles_of(d).cache()
    sig = minhash_sig_of(sh).cache()
    planted = {(100 + 2 * p, 101 + 2 * p) for p in range(5)}

    banded = {(r.doc1, r.doc2) for r in lsh_candidate_pairs(sig).collect()}
    assert planted <= banded, f"banding missed {planted - banded}"
    # No unrelated pair sneaks in (their shingle sets are disjoint).
    assert all(p in planted for p in banded if p[0] < 100 or p[1] < 100) and all(
        d2 - d1 == 1 for d1, d2 in banded - planted
    ) or banded == planted

    # r1's single-band (one minhash equality): P(candidate) = Jaccard,
    # so at J~0.75 it loses planted pairs that banding keeps.
    a = sig.select(F.col("doc_id").alias("doc1"), "h0")
    b = sig.select(F.col("doc_id").alias("doc2"), "h0")
    single = {
        (r.doc1, r.doc2)
        for r in a.join(b, "h0").filter(F.col("doc1") < F.col("doc2")).collect()
    }
    assert len(planted & banded) >= len(planted & single)


def test_simhash64_separates_near_dups(spark):
    d = _corpus(spark)
    sh = simhash_of(d)
    a = sh.select(F.col("doc_id").alias("d1"), F.col("simhash64").alias("s1"))
    b = sh.select(F.col("doc_id").alias("d2"), F.col("simhash64").alias("s2"))
    pairs = a.join(b, F.col("d1") < F.col("d2")).select(
        "d1", "d2", simhash_hamming(F.col("s1"), F.col("s2")).alias("ham")
    )
    rows = {(r.d1, r.d2): r.ham for r in pairs.collect()}
    planted = {(100 + 2 * p, 101 + 2 * p) for p in range(5)}
    planted_ham = [rows[p] for p in planted]
    unrelated_ham = [h for p, h in rows.items() if p not in planted]
    assert max(planted_ham) < 16, planted_ham
    assert min(unrelated_ham) > max(planted_ham), (
        max(planted_ham),
        min(unrelated_ham),
    )
    # hex width sanity
    assert all(len(r.simhash64) == 16 for r in sh.collect())


def test_band_frame_shape(spark):
    d = _corpus(spark)
    bands = band_frame(minhash_sig_of(shingles_of(d)))
    n_docs = d.count()
    assert bands.count() == 16 * n_docs
    assert bands.select("band").distinct().count() == 16


def test_connected_components_transitive_chain(spark):
    from pangenomesasgraphdatabases_spark.operators.components import (
        connected_components,
    )

    # chain 1-2-3-4 (one component), pair 10-11, isolated-by-edge 20-20
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
    )
    got = {
        (r.node, r.component) for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_connected_components_long_chain_boundary(spark, monkeypatch):
    """Adversarial depth (VERDICT r4 #8, upgraded r12): with star
    contraction the iterative path converges in O(log n) rounds, so a
    201-node path — which plain min-propagation could never finish in
    20 rounds (it moves the minimum one hop per round) — now resolves
    to one component well inside the budget.  The RAISE contract
    survives for a genuinely insufficient budget (2 star rounds
    cannot contract a 201-node path; a silent truncation would split
    the component undetected)."""
    import pytest

    from pangenomesasgraphdatabases_spark.operators import components
    from pangenomesasgraphdatabases_spark.operators.components import (
        connected_components,
    )

    deep = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["src", "dst"]
    )
    # The union-find fast path solves the deep chain exactly (no
    # iteration bound applies there).
    monkeypatch.setattr(components, "MAX_ITER", 2)
    uf = connected_components(deep)
    assert {r.component for r in uf.collect()} == {0}
    # Force the iterative path from here on.
    monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", 0)
    # the no-fixpoint guard still raises when the budget truly is
    # too small (2 rounds reach only a few hops even with jumping)
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(deep).collect()
    # r12: star contraction finishes the 201-node chain in ~8 rounds
    monkeypatch.setattr(components, "MAX_ITER", 20)
    got_deep = connected_components(deep)
    assert {r.component for r in got_deep.collect()} == {0}

    shallow = spark.createDataFrame(
        [(i, i + 1) for i in range(15)], ["src", "dst"]
    )
    got = connected_components(shallow)
    assert {r.component for r in got.collect()} == {0}


def test_ngram_jaccard_dedup_groups_planted_chain(spark, tmp_path):
    """A~B~C edit chain must land in ONE dup group (exact Jaccard +
    connected components), even though A and C differ twice as much."""
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        doc_ngram_jaccard_dedup,
    )

    words = [f"c{i}" for i in range(60)]
    rows = [(1, " ".join(words))]
    chain_b = list(words)
    chain_b[10] = "EDIT_B"
    rows.append((2, " ".join(chain_b)))
    chain_c = list(chain_b)
    chain_c[40] = "EDIT_C"
    rows.append((3, " ".join(chain_c)))
    # unrelated docs
    for d in range(4, 10):
        rows.append((d, " ".join(f"u{d}x{i}" for i in range(60))))
    df = spark.createDataFrame(rows, ["doc_id", "text"]).withColumns(
        {
            "lang": F.lit("en"),
            "source": F.lit("test"),
            "n_chars": F.length("text"),
        }
    )
    sf_dir = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    out = {
        (r.doc_id, r.dup_group, r.is_canonical)
        for r in doc_ngram_jaccard_dedup(spark, sf_dir).collect()
    }
    assert out == {(1, 1, 1), (2, 1, 0), (3, 1, 0)}


def test_pii_scrub_planted(spark):
    from pangenomesasgraphdatabases_spark.queries.text_q import pii_scrub_cols

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or 555-123-4567 now"),
            (2, "server at 192.168.0.1 and 10.0.0.255 ok"),
            (3, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    scrubbed, counts = pii_scrub_cols(F.col("text"))
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            scrubbed.alias("out"),
            *[c.alias(n) for n, c in counts.items()],
        ).collect()
    }
    assert rows[1].out == "contact <EMAIL> or <PHONE> now"
    assert (rows[1].n_email, rows[1].n_phone, rows[1].n_ipv4) == (1, 1, 0)
    assert rows[2].out == "server at <IP> and <IP> ok"
    assert rows[2].n_ipv4 == 2
    assert rows[3].out == "nothing sensitive here"


def test_train_split_deterministic_proportions(spark):
    from pangenomesasgraphdatabases_spark.queries.text_q import doc_train_split

    sf = "/root/testdata/sf0.01"
    a = doc_train_split(spark, sf).collect()
    b = {r.doc_id: r.split for r in doc_train_split(spark, sf).collect()}
    assert all(b[r.doc_id] == r.split for r in a)  # rerun-stable
    n = len(a)
    frac_train = sum(r.split == "train" for r in a) / n
    frac_val = sum(r.split == "val" for r in a) / n
    assert 0.80 <= frac_train <= 0.97 and 0.01 <= frac_val <= 0.12


def test_dedup_increment_against_corpus(spark):
    """Exact copies and near-dups of corpus docs are dropped from the
    batch; in-batch exact dups collapse to one; fresh docs survive."""
    from pangenomesasgraphdatabases_spark.queries.text_q import dedup_increment

    corpus_rows = []
    for d in range(6):
        corpus_rows.append((d, " ".join(f"c{d}w{i}" for i in range(50))))
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])

    near = [f"c2w{i}" for i in range(50)]
    near[10] = "EDITED"
    batch = spark.createDataFrame(
        [
            (100, corpus_rows[0][1]),          # exact corpus copy -> drop
            (101, "  " + corpus_rows[1][1]),   # copy modulo whitespace -> drop
            (102, " ".join(near)),             # near-dup of corpus doc 2 -> drop
            (103, " ".join(f"n{i}" for i in range(50))),  # fresh -> keep
            (104, " ".join(f"n{i}" for i in range(50))),  # in-batch dup of 103 -> drop
            (105, " ".join(f"m{i}" for i in range(50))),  # fresh -> keep
        ],
        ["doc_id", "text"],
    )
    kept = sorted(r.doc_id for r in dedup_increment(corpus, batch).collect())
    assert kept == [103, 105]


def test_connected_components_matches_union_find(spark, monkeypatch):
    """Distributed min-label propagation must agree with a sequential
    union-find on deterministic random graphs (including a long chain,
    the propagation worst case)."""
    import random

    from pangenomesasgraphdatabases_spark.operators import components
    from pangenomesasgraphdatabases_spark.operators.components import (
        connected_components,
    )

    rng = random.Random(0xC0FFEE)
    cases = [
        [(i, i + 1) for i in range(30)],  # one 31-node chain
        [(rng.randrange(40), rng.randrange(40)) for _ in range(25)],
        [(rng.randrange(200), rng.randrange(200)) for _ in range(60)],
    ]
    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b]
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {n: find(n) for n in parent}

        df = spark.createDataFrame(edges, ["src", "dst"])
        # Exercise BOTH paths: the single-task union-find fast path
        # (default gate) and the distributed min-label iteration
        # (gate forced off).
        for gate in (2_000_000, 0):
            monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", gate)
            got = {r.node: r.component for r in connected_components(df).collect()}
            assert got == expected, f"gate={gate}"


def test_winnow_shared_substring_shares_fingerprints(spark, tmp_path):
    """Winnowing guarantee: two docs sharing a long substring share
    fingerprints; unrelated docs share none."""
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        doc_winnow_fingerprints,
    )

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, "prefix one " + shared + " suffix alpha"),
        (2, "totally different lead-in " + shared + " other tail"),
        (3, "no overlap here at all just unrelated words entirely"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).withColumns(
        {"lang": F.lit("en"), "source": F.lit("t"), "n_chars": F.length("text")}
    )
    sf_dir = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    fps = {
        r.doc_id: set(r.fingerprints.split(";"))
        for r in doc_winnow_fingerprints(spark, sf_dir).collect()
    }
    assert fps[1] & fps[2], "shared substring produced no shared fingerprints"
    assert not (fps[1] & fps[3])


def test_partial_overlap_catches_contained_quote(spark, tmp_path):
    """A short doc quoted wholesale inside a long doc: tiny Jaccard,
    but containment flags the pair."""
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        doc_partial_overlap_pairs,
    )

    quote = " ".join(f"q{i}" for i in range(30))
    long_doc = " ".join(f"l{i}" for i in range(200)) + " " + quote + " " + " ".join(
        f"r{i}" for i in range(200)
    )
    rows = [
        (1, quote),
        (2, long_doc),
        (3, " ".join(f"z{i}" for i in range(60))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).withColumns(
        {"lang": F.lit("en"), "source": F.lit("t"), "n_chars": F.length("text")}
    )
    sf_dir = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    pairs = {
        (r.doc1, r.doc2) for r in doc_partial_overlap_pairs(spark, sf_dir).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_clean_normalize_strips_planted_markup(spark):
    from pangenomesasgraphdatabases_spark.queries.text_q import clean_text_col

    df = spark.createDataFrame(
        [
            (1, "Hello <b>World</b>   and <a href='x'>link</a> end"),
            (2, "   plain    text   "),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r.out for r in df.select("doc_id", clean_text_col(F.col("text")).alias("out")).collect()}
    assert rows[1] == "hello world and link end"
    assert rows[2] == "plain text"


def test_short_docs_do_not_crash_gram_builders(spark):
    """ADVICE r2: sequence(1, size-width+1) descends to [1, 0] on
    docs shorter than one gram and element_at indexes past the array
    (ANSI error).  One empty / one-token / two-token doc in a crawl
    batch must not kill the job; docs shorter than the gram width are
    dropped, matching the oracle's WHERE i+width-1 <= len(toks)."""
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        doc_gopher_repetition as _gopher,
    )

    d = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"), (4, "three word doc")],
        ["doc_id", "text"],
    )
    sh = shingles_of(d).collect()
    assert {r.doc_id for r in sh} == {4}, "only the 3-token doc shingles"
    assert [r.shingle for r in sh] == ["three word doc"]

    # gopher runs over the documents table; build a tiny parquet dir.
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        d.withColumn("n_chars", F.length("text")).write.parquet(
            tmp + "/documents.parquet"
        )
        out = _gopher(spark, tmp).collect()
    got = {r.doc_id for r in out}
    assert got == {3, 4}, "docs with >= 2 tokens survive, shorter are dropped"


def test_corpus_fits_oracle_position_cap(spark):
    """ADVICE r2: the DuckDB oracles enumerate positions with
    generate_series(1, ORACLE_MAX_POS) while the Spark twins are
    unbounded — assert the test corpus can never reach the cap."""
    import os

    from pangenomesasgraphdatabases_spark.queries.text_q import ORACLE_MAX_POS

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    d = spark.read.parquet(sf_dir + "/documents.parquet")
    mx = d.select(
        F.max(F.length("text")).alias("chars"),
        F.max(F.size(F.split(F.trim("text"), " "))).alias("toks"),
    ).first()
    assert mx.chars < ORACLE_MAX_POS, "doc chars exceed oracle series cap"
    assert mx.toks < ORACLE_MAX_POS, "doc tokens exceed oracle series cap"


def test_segment_dedup_invariants(spark):
    """Corpus-wide segment dedup: total kept equals the number of
    distinct segments in the corpus (each distinct segment survives
    exactly once), bounds hold per doc, and the first document keeps
    exactly its within-doc-distinct segments (nothing earlier exists
    to shadow it)."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.queries.text_q import (
        _SEG_WORDS,
        doc_segment_dedup,
    )

    SF = "/root/testdata/sf0.001"
    out = doc_segment_dedup(spark, SF).cache()
    assert out.filter(
        (F.col("n_kept") < 0) | (F.col("n_kept") > F.col("n_segs"))
    ).isEmpty()

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    seen: set[str] = set()
    total_distinct = 0
    first_doc = min(r.doc_id for r in docs)
    first_distinct = 0
    for r in sorted(docs, key=lambda r: r.doc_id):
        ws = r.text.strip().split(" ")
        local = set()
        for i in range(0, len(ws), _SEG_WORDS):
            seg = " ".join(ws[i : i + _SEG_WORDS])
            if seg not in seen:
                seen.add(seg)
                total_distinct += 1
            if r.doc_id == first_doc:
                local.add(seg)
        if r.doc_id == first_doc:
            first_distinct = len(local)
    got_total = out.agg(F.sum("n_kept")).collect()[0][0]
    assert got_total == total_distinct
    assert out.filter(F.col("doc_id") == first_doc).collect()[0].n_kept == first_distinct
    # The planted near-dup corpus makes dedup non-vacuous.
    assert got_total < out.agg(F.sum("n_segs")).collect()[0][0]
    spark.catalog.clearCache()


def test_bloom_dedup_no_false_negatives_planted(spark, tmp_path):
    """A batch doc whose text exactly matches a corpus doc MUST be
    bloom_hit (the one-sided guarantee), and a unique batch doc must
    not be an exact dup; no_false_negative holds row-wise."""
    from pangenomesasgraphdatabases_spark.queries.text_q import doc_bloom_dedup

    rows = [
        # corpus (doc_id % 10 < 8)
        (1, "alpha beta gamma", "en", "web", 16),
        (2, "delta epsilon zeta", "en", "web", 18),
        (3, "unique corpus text", "en", "web", 18),
        # batch (doc_id % 10 >= 8): 18 dups corpus doc 1, 19 is new
        (18, "alpha beta gamma", "en", "web", 16),
        (19, "never seen before", "en", "web", 17),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r.doc_id: r for r in doc_bloom_dedup(spark, str(tmp_path)).collect()}
    assert set(out) == {18, 19}
    assert out[18].is_dup_exact and out[18].bloom_hit
    assert not out[19].is_dup_exact
    assert all(r.no_false_negative for r in out.values())
    assert all(r.false_positive == (r.bloom_hit and not r.is_dup_exact)
               for r in out.values())


def test_unigram_logprob_ranks_rare_tokens_lower(spark, tmp_path):
    """Per-token fixed-point log-probs sum exactly; a doc made of
    corpus-frequent tokens scores higher (less negative per token)
    than a doc of rare tokens."""
    import math

    from pangenomesasgraphdatabases_spark.queries.text_q import (
        doc_unigram_logprob,
    )

    rows = [
        (0, "the the the the", "en", "web", 15),
        (1, "the the rareword", "en", "web", 16),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r.doc_id: r for r in doc_unigram_logprob(spark, str(tmp_path)).collect()}
    # corpus: "the" x6, "rareword" x1, T=7
    lp_the = round(math.log(6 / 7) * 10000)
    lp_rare = round(math.log(1 / 7) * 10000)
    assert out[0].n_tokens == 4 and out[0].sum_lp_fx == 4 * lp_the
    assert out[1].n_tokens == 3 and out[1].sum_lp_fx == 2 * lp_the + lp_rare
    assert out[0].sum_lp_fx / 4 > out[1].sum_lp_fx / 3


def test_fuzzy_match_blocking_is_exact(spark):
    """The length-band blocking must lose NO pair admitted by the
    declared predicate: compare against an unblocked quadratic join on
    the small sf and check the lev=0 tier equals the exact-prefix
    self-join."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.queries.text_q import (
        _FUZZ_LEN,
        _FUZZ_MAXD,
        _FUZZ_PFX,
        doc_fuzzy_match_pairs,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.doc_a, r.doc_b, r.prefix_lev)
        for r in doc_fuzzy_match_pairs(spark, sf).collect()
    }
    d = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select(
            "doc_id",
            "n_chars",
            F.substring(
                F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")),
                1,
                _FUZZ_PFX,
            ).alias("pfx"),
        )
        .collect()
    )

    def lev(s, t):
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (cs != ct))
                )
            prev = cur
        return prev[-1]

    want = set()
    for i in range(len(d)):
        for j in range(i + 1, len(d)):
            a, b = d[i], d[j]
            if abs(a.n_chars - b.n_chars) > _FUZZ_LEN:
                continue
            dist = lev(a.pfx, b.pfx)
            if dist <= _FUZZ_MAXD:
                pair = (min(a.doc_id, b.doc_id), max(a.doc_id, b.doc_id), dist)
                want.add(pair)
    assert got == want
    assert any(p[2] == 0 for p in got), "corpus has planted exact dups"


def test_char_entropy_orders_quality(spark):
    """Entropy sanity on crafted docs: a single repeated character
    gives ~0 nats; uniformly distinct characters approach ln(n); a
    natural-text doc sits in between."""
    import math
    import tempfile

    from pangenomesasgraphdatabases_spark.queries.text_q import doc_char_entropy

    docs = [
        (1, "aaaaaaaaaaaaaaaa", "en", "s", 16),
        (2, "abcdefghijklmnop", "en", "s", 16),
        (3, "the quick brown fox", "en", "s", 19),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            docs, ["doc_id", "text", "lang", "source", "n_chars"]
        ).write.parquet(tmp + "/documents.parquet")
        out = {r.doc_id: r for r in doc_char_entropy(spark, tmp).collect()}
    assert out[1].entropy_fx == 0
    assert abs(out[2].entropy_fx - round(math.log(16) * 10000)) <= 1
    assert 0 < out[3].entropy_fx < out[2].entropy_fx + 10000
    assert out[2].n_distinct_chars == 16 and out[1].n_distinct_chars == 1


def test_simhash_hamming_blocking_exact(spark):
    """The 4-block pigeonhole must find exactly the pairs an
    unblocked all-pairs Hamming scan finds at distance <= 3, and
    planted exact dups must appear at hamming 0."""
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        _SH_MAXD,
        doc_simhash_hamming_pairs,
        simhash_of,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in doc_simhash_hamming_pairs(spark, sf).collect()
    }
    sigs = {
        r.doc_id: int(r.simhash64, 16)
        for r in simhash_of(
            spark.read.parquet(f"{sf}/documents.parquet")
        ).collect()
    }
    ids = sorted(sigs)
    want = {}
    for i, da in enumerate(ids):
        for db in ids[i + 1:]:
            d = bin(sigs[da] ^ sigs[db]).count("1")
            if d <= _SH_MAXD:
                want[(da, db)] = d
    assert got == want
    assert any(d == 0 for d in got.values()), "planted dups at hamming 0"


def test_bigram_logprob_contextual(spark):
    """Bigram scoring is context-aware where unigram is blind: over a
    corpus where 'a b' always co-occur but 'a c' never does, the doc
    containing the unseen transition scores strictly lower per bigram
    despite identical unigram frequencies; counts and smoothing match
    a Python recomputation."""
    import math
    import tempfile

    from pangenomesasgraphdatabases_spark.queries.text_q import doc_bigram_logprob

    docs = [
        (1, "a b a b a b", "en", "s", 11),
        (2, "a b a b a b", "en", "s", 11),
        (3, "b a c b a c", "en", "s", 11),  # 'a c' unseen elsewhere
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            docs, ["doc_id", "text", "lang", "source", "n_chars"]
        ).write.parquet(tmp + "/documents.parquet")
        out = {r.doc_id: r for r in doc_bigram_logprob(spark, tmp).collect()}

    toks = {i: docs[i - 1][1].split() for i in (1, 2, 3)}
    from collections import Counter

    big = Counter()
    for ts in toks.values():
        big.update(zip(ts, ts[1:]))
    c1 = Counter()
    for (w1, _), c in big.items():
        c1[w1] += c
    vocab = len({w for ts in toks.values() for w in ts})
    for i in (1, 2, 3):
        want = sum(
            round(math.log((big[bg] + 1) / (c1[bg[0]] + vocab)) * 10000)
            for bg in zip(toks[i], toks[i][1:])
        )
        assert out[i].sum_lp_fx == want, i
        assert out[i].n_bigrams == len(toks[i]) - 1
    # per-bigram average: doc 3 (with rare transitions) scores lower
    assert (
        out[3].sum_lp_fx / out[3].n_bigrams
        < out[1].sum_lp_fx / out[1].n_bigrams
    )


def test_lsh_recall_truth_superset_and_planted_dups_found(spark):
    """Truth pairs are exactly the exact-Jaccard >= tau set; planted
    dups (J ~= 0.99) exist and the 16x4 banding finds ALL of them —
    far above the s-curve midpoint P(candidate) ~ 1."""
    from pangenomesasgraphdatabases_spark.queries.text_q import dedup_lsh_recall

    rows = dedup_lsh_recall(spark, "/root/testdata/sf0.001").collect()
    assert rows, "truth pairs exist"
    near = [r for r in rows if r.jaccard >= 0.95]
    assert near, "planted near-dups at J >= 0.95"
    # Far above the s-curve midpoint, P(candidate) is ~1 - recall on
    # the planted tier must be total.
    assert all(r.found_by_lsh for r in near)
    for r in rows:
        assert r.jaccard >= 0.5


def _span_fixture(spark, tmp_path):
    """Doc 1 and doc 2 share a 12-word passage at DIFFERENT offsets
    (10 vs 5) — the case doc_segment_dedup's fixed 20-word blocks
    cannot catch; doc 3 is unrelated."""
    passage = [f"dup{i}" for i in range(12)]
    rows = [
        (1, " ".join([f"a{i}" for i in range(10)] + passage
                     + [f"b{i}" for i in range(10)])),
        (2, " ".join([f"c{i}" for i in range(5)] + passage
                     + [f"d{i}" for i in range(15)])),
        (3, " ".join(f"u{i}" for i in range(30))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).withColumns(
        {
            "lang": F.lit("en"),
            "source": F.lit("test"),
            "n_chars": F.length("text"),
        }
    )
    sf_dir = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    return sf_dir, rows


def test_duplicate_spans_planted_offset_passage(spark, tmp_path):
    """The globally-first occurrence (doc 1, lower (doc_id, pos))
    survives; doc 2's five 8-word windows over the shared passage merge
    into ONE maximal span of exactly the 12 passage words."""
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        doc_duplicate_spans,
    )

    sf_dir, _ = _span_fixture(spark, tmp_path)
    out = doc_duplicate_spans(spark, sf_dir).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_id, r.n_spans, r.dup_words) == (2, 1, 12)


def test_duplicate_span_clean_excises_exact_words(spark, tmp_path):
    """The clean transform cuts exactly the passage from doc 2 and
    leaves docs 1 and 3 untouched; clean_md5 is the md5 of the
    reassembled text."""
    import hashlib

    from pangenomesasgraphdatabases_spark.queries.text_q import (
        doc_duplicate_span_clean,
    )

    sf_dir, rows = _span_fixture(spark, tmp_path)
    out = {r.doc_id: r for r in doc_duplicate_span_clean(spark, sf_dir).collect()}
    assert set(out) == {1, 2, 3}
    assert (out[1].n_words, out[1].n_kept) == (32, 32)
    assert (out[3].n_words, out[3].n_kept) == (30, 30)
    assert (out[2].n_words, out[2].n_kept) == (32, 20)
    expected = " ".join(
        [f"c{i}" for i in range(5)] + [f"d{i}" for i in range(15)]
    )
    assert out[2].clean_md5 == hashlib.md5(expected.encode()).hexdigest()
    assert out[1].clean_md5 == hashlib.md5(rows[0][1].encode()).hexdigest()


def test_duplicate_span_report_and_clean_agree(spark):
    """Cross-query consistency on real testdata: for every doc the
    report claims dup_words about, the clean transform must cut
    exactly that many words (n_words - n_kept == dup_words)."""
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        doc_duplicate_span_clean,
        doc_duplicate_spans,
    )

    sf_dir = "/root/testdata/sf0.001"
    spans = {r.doc_id: r.dup_words
             for r in doc_duplicate_spans(spark, sf_dir).collect()}
    clean = {r.doc_id: r.n_words - r.n_kept
             for r in doc_duplicate_span_clean(spark, sf_dir).collect()}
    for doc_id, cut in clean.items():
        assert cut == spans.get(doc_id, 0)


def test_bm25_length_normalization_beats_raw_tf(spark, tmp_path):
    """BM25's dl/avgdl normalization must flip a raw-tf ordering: a
    short doc with tf=1 outranks a long doc with tf=2 (hand-computed
    scores: 0.6557 vs 0.4725 at k1=1.2, b=0.75); docs with no query
    term emit no row."""
    from pangenomesasgraphdatabases_spark.queries.text_q import doc_bm25_topk

    rows = [
        (1, " ".join(["hash"] * 2 + [f"f{i}" for i in range(58)])),
        (2, " ".join(["hash"] + [f"g{i}" for i in range(7)])),
        (3, " ".join(f"h{i}" for i in range(10))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).withColumns(
        {
            "lang": F.lit("en"),
            "source": F.lit("test"),
            "n_chars": F.length("text"),
        }
    )
    sf_dir = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    out = [
        (r.doc_id, r.score_bm25, r.matched_terms, r.rnk)
        for r in doc_bm25_topk(spark, sf_dir).orderBy("rnk").collect()
    ]
    assert out == [(2, 0.6557, 1, 1), (1, 0.4725, 1, 2)]


def test_quality_classifier_sign_and_fixedpoint(spark, tmp_path):
    """keep must equal the integer SIGN of the weight sum (never a
    float comparison), and logit_fx is the exact floor of the mean
    weight in 1e-4 units — verified against a pure-python replica of
    the hash + weight arithmetic."""
    import hashlib

    from pangenomesasgraphdatabases_spark.queries.text_q import (
        _QC_BUCKETS,
        _QC_KNUTH,
        doc_quality_classifier,
    )

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "epsilon zeta"),
        (3, "eta"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).withColumns(
        {
            "lang": F.lit("en"),
            "source": F.lit("test"),
            "n_chars": F.length("text"),
        }
    )
    sf_dir = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    def w(tok):
        b = int(hashlib.md5(tok.encode()).hexdigest()[:7], 16) % _QC_BUCKETS
        return (b * _QC_KNUTH) % 2001 - 1000

    out = {r.doc_id: r for r in doc_quality_classifier(spark, sf_dir).collect()}
    for doc_id, text in rows:
        toks = text.split(" ")
        sw = sum(w(t) for t in toks)
        n = len(toks)
        assert out[doc_id].n_tokens == n
        assert out[doc_id].logit_fx == ((sw + 1000 * n) * 10) // n - 10000
        assert out[doc_id].keep == (1 if sw >= 0 else 0)


def test_bpe_learn_matches_pure_python_replica(spark, tmp_path):
    """The K learned merges must equal a true left-to-right BPE
    learner (Sennrich-style) run on the same word-frequency table —
    pinning the argmax tie-break AND the triple-replace merge
    semantics."""
    from collections import Counter

    from pangenomesasgraphdatabases_spark.queries.text_q import (
        _BPE_MERGES,
        doc_bpe_learn,
    )

    corpus = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest wide",
        "low new wide lower newer",
    ]
    rows = [(i, t) for i, t in enumerate(corpus)]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).withColumns(
        {
            "lang": F.lit("en"),
            "source": F.lit("test"),
            "n_chars": F.length("text"),
        }
    )
    sf_dir = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    # pure-python replica: true left-to-right merge application
    freqs = Counter(w for t in corpus for w in t.split(" ") if w)
    segs = {w: list(w) for w in freqs}
    expected = []
    for step in range(1, _BPE_MERGES + 1):
        pc = Counter()
        for w, sym in segs.items():
            for a, b in zip(sym, sym[1:]):
                pc[(a, b)] += freqs[w]
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((step, f"{a} {b}", a + b, cnt))
        for w, sym in segs.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            segs[w] = out

    got = [
        (r.step, r.pair, r.merged, r.support)
        for r in doc_bpe_learn(spark, sf_dir).orderBy("step").collect()
    ]
    assert got == expected


def test_bpe_segment_token_counts_match_replica(spark, tmp_path):
    """Per-doc post-merge token counts must equal applying the
    replica's learned merges left-to-right to every word."""
    from collections import Counter

    from pangenomesasgraphdatabases_spark.queries.text_q import (
        _BPE_MERGES,
        doc_bpe_segment,
    )

    corpus = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest wide",
        "low new wide lower newer",
    ]
    rows = [(i, t) for i, t in enumerate(corpus)]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).withColumns(
        {
            "lang": F.lit("en"),
            "source": F.lit("test"),
            "n_chars": F.length("text"),
        }
    )
    sf_dir = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    freqs = Counter(w for t in corpus for w in t.split(" ") if w)
    segs = {w: list(w) for w in freqs}
    merges = []
    for _ in range(_BPE_MERGES):
        pc = Counter()
        for w, sym in segs.items():
            for a, b in zip(sym, sym[1:]):
                pc[(a, b)] += freqs[w]
        (a, b), _cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b))
        for w, sym in segs.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b); i += 2
                else:
                    out.append(sym[i]); i += 1
            segs[w] = out

    def seg_word(w):
        sym = list(w)
        for a, b in merges:
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b); i += 2
                else:
                    out.append(sym[i]); i += 1
            sym = out
        return sym

    got = {r.doc_id: r for r in doc_bpe_segment(spark, sf_dir).collect()}
    for doc_id, text in rows:
        n_expected = sum(len(seg_word(w)) for w in text.split(" ") if w)
        assert got[doc_id].n_tokens_bpe == n_expected
        chars = len(text.replace(" ", ""))
        assert got[doc_id].n_chars_nospace == chars
        assert got[doc_id].chars_per_token_fx == chars * 10000 // n_expected


def test_bpe_pair_depth_precondition():
    """ADVICE r11: a merge step finding ZERO adjacent pairs (all words
    fused to single symbols) makes the Spark plan and the DuckDB
    oracle diverge differently (0-row crossJoin vs NULL scalar
    subquery).  The precondition is K <= corpus pair depth; assert it
    holds on every shipped testdata tier the gates run at, via the
    same pure-python replica the semantics tests pin."""
    import os
    from collections import Counter

    import pyarrow.parquet as pq

    from pangenomesasgraphdatabases_spark.queries.text_q import _BPE_MERGES

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        if not os.path.exists(path):
            continue
        texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
        freqs = Counter(w for t in texts for w in t.strip().split(" ") if w)
        segs = {w: list(w) for w in freqs}
        for step in range(1, _BPE_MERGES + 1):
            pc = Counter()
            for w, sym in segs.items():
                for a, b in zip(sym, sym[1:]):
                    pc[(a, b)] += freqs[w]
            assert pc, (
                f"{sf}: pair table empty at merge step {step} — "
                f"corpus pair depth < _BPE_MERGES={_BPE_MERGES}"
            )
            (a, b), _ = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            for w, sym in segs.items():
                out, i = [], 0
                while i < len(sym):
                    if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(sym[i])
                        i += 1
                segs[w] = out


def test_connected_components_star_vs_union_find_randomized(spark, monkeypatch):
    """r12 star-contraction rewrite: the iterative path must agree
    with the single-task union-find fast path on random graphs
    (mixed component shapes, hashed-looking ids including negatives)."""
    import random

    from pangenomesasgraphdatabases_spark.operators import components
    from pangenomesasgraphdatabases_spark.operators.components import (
        connected_components,
    )

    rng = random.Random(99)
    for trial in range(3):
        n = rng.randint(30, 120)
        ids = rng.sample(range(-(10**12), 10**12), n)
        edges = []
        for _ in range(int(n * 1.3)):
            a, b = rng.sample(ids, 2)
            edges.append((a, b))
        df = spark.createDataFrame(edges, "src long, dst long")
        uf = {(r.node, r.component) for r in connected_components(df).collect()}
        with monkeypatch.context() as m:
            m.setattr(components, "SMALL_GRAPH_EDGES", 0)
            it = {(r.node, r.component) for r in connected_components(df).collect()}
        assert it == uf, f"trial {trial}: iterative != union-find"


def test_rare_ngram_privacy_planted(spark, tmp_path):
    """k-anonymity n-gram audit: a phrase shared by >= K docs is safe
    support, a phrase in K-1 docs is rare for ALL its carriers
    (support is symmetric — unlike novelty's ownership), and
    k_anon_min is the doc's weakest support."""
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        _RARE_K,
        doc_rare_ngram_privacy,
    )

    assert _RARE_K == 3  # fixture arithmetic below assumes K=3
    safe = "alpha beta gamma delta"          # 2 shingles, in 3 docs
    duo = "omega psi chi phi"                # 2 shingles, in 2 docs
    rows = [
        (1, f"{safe} one unique tail here"),
        (2, f"{safe} two other tail text"),
        (3, safe),                            # only safe shingles
        (4, f"{duo} four tail words here"),
        (5, duo),                             # only duo shingles
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).withColumns(
        {
            "lang": F.lit("en"),
            "source": F.lit("test"),
            "n_chars": F.length("text"),
        }
    )
    sf_dir = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    got = {r.doc_id: r for r in doc_rare_ngram_privacy(spark, sf_dir).collect()}
    # doc 3: both shingles in 3 docs -> zero rare, k_anon_min = 3
    assert (got[3].n_shingles, got[3].n_rare, got[3].k_anon_min) == (2, 0, 3)
    assert got[3].rare_ppm == 0
    # doc 5: both shingles in only 2 docs -> all rare (df=2 < 3)
    assert (got[5].n_shingles, got[5].n_rare, got[5].k_anon_min) == (2, 2, 2)
    assert got[5].rare_ppm == 1000000
    # doc 4: 2 duo shingles rare + bridging/unique shingles rare too;
    # weakest support is 1 (its unique tail)
    assert got[4].k_anon_min == 1 and got[4].n_rare == got[4].n_shingles
    # doc 1: safe shingles (df=3) not rare, everything else unique
    assert got[1].k_anon_min == 1
    assert got[1].n_rare == got[1].n_shingles - 2
