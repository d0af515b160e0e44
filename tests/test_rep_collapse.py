"""Planted exact-duplicate clusters through the three collapsed pair
queries (VERDICT r9 #1).

The driver's sf0.01 testdata has no duplicate texts and no duplicate
embeddings, so its oracle gate cannot exercise the collapse/expand
path.  These tests plant clusters in a temp sf dir and run the
REGISTERED query against its REGISTERED DuckDB oracle through the
driver-strict comparator (tools/check_oracle.compare_frames) — the
oracle is the uncollapsed all-pairs semantics, so a pass proves the
rep-collapse rewrite is bit-identical on duplicate-heavy input.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parent.parent

_spec = importlib.util.spec_from_file_location(
    "check_oracle", REPO / "tools" / "check_oracle.py"
)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)

from pangenomesasgraphdatabases_spark.queries.registry import (  # noqa: E402
    all_queries,
)

_REG = all_queries()


def _words(prefix: str, n: int = 40) -> list[str]:
    return [f"{prefix}{i}" for i in range(n)]


@pytest.fixture(scope="module")
def dup_sf_dir(tmp_path_factory):
    """A documents+embeddings sf dir with planted exact-dup clusters:

    documents —
      * ids 0..11: 12 exact copies of TEXT_X (the hot cluster);
      * ids 20..24: 5 exact copies of TEXT_Y, a near-dup of TEXT_X
        (2 of 40 words changed, shingle Jaccard ~0.73) -> every
        (X-member, Y-member) pair is a CROSS near-dup pair;
      * ids 30..32: 3 exact copies of the empty string (zero
        shingles: LSH must emit nothing for them, SimHash must emit
        hamming-0 pairs);
      * ids 40..49: unrelated singletons.

    embeddings —
      * ids 0..7: 8 bit-identical copies of one vector;
      * ids 10..11: 2 copies of a near-identical vector (one
        coordinate nudged, cosine ~ 1) -> cross pairs;
      * ids 20..29: distinct random vectors.
    """
    d = tmp_path_factory.mktemp("dupsf")
    text_x = " ".join(_words("x"))
    y_words = _words("x")
    y_words[7], y_words[23] = "CHANGED_A", "CHANGED_B"
    text_y = " ".join(y_words)
    rows = [(i, text_x) for i in range(12)]
    rows += [(20 + i, text_y) for i in range(5)]
    rows += [(30 + i, "") for i in range(3)]
    rows += [(40 + i, " ".join(_words(f"u{i}"))) for i in range(10)]
    docs = pd.DataFrame(rows, columns=["doc_id", "text"])
    docs["lang"] = "en"
    docs["source"] = "planted"
    docs["n_chars"] = docs["text"].str.len()
    docs["doc_id"] = docs["doc_id"].astype("int64")
    docs["n_chars"] = docs["n_chars"].astype("int64")
    docs.to_parquet(d / "documents.parquet", index=False)

    rng = np.random.RandomState(7)
    base = rng.randn(64).astype("float32")
    near = base.copy()
    near[0] += np.float32(0.05)
    erows = [(i, base) for i in range(8)]
    erows += [(10 + i, near) for i in range(2)]
    erows += [(20 + i, rng.randn(64).astype("float32")) for i in range(10)]
    emb = pd.DataFrame(
        {
            "vec_id": pd.Series([r[0] for r in erows], dtype="int64"),
            "embedding": [list(map(float, r[1])) for r in erows],
            "label": pd.Series([0] * len(erows), dtype="int32"),
        }
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.Table.from_pandas(
        emb,
        schema=pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        ),
        preserve_index=False,
    )
    pq.write_table(tbl, d / "embeddings.parquet")
    return str(d)


def _oracle_vs_spark(spark, sf_dir: str, name: str):
    sdf = _REG[name].fn(spark, sf_dir)
    spdf = sdf.toPandas()
    spark.catalog.clearCache()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    dpdf = con.sql(_REG[name].oracle).df()
    problems = check_oracle.compare_frames(spdf, dpdf)
    assert not problems, problems
    return spdf


def test_lsh_near_dup_pairs_on_planted_dups(spark, dup_sf_dir):
    out = _oracle_vs_spark(spark, dup_sf_dir, "doc_lsh_near_dup_pairs")
    pairs = {(r.doc1, r.doc2): (r.n_common, r.jaccard) for r in out.itertuples()}
    # Within-cluster pairs of the 12-copy cluster: all 66, jaccard 1.
    for i in range(12):
        for j in range(i + 1, 12):
            assert pairs[(i, j)][1] == 1.0
    # Cross pairs X-cluster x Y-cluster: all 60 present, same payload.
    cross_payloads = {pairs[(i, 20 + j)] for i in range(12) for j in range(5)}
    assert len(cross_payloads) == 1
    # Zero-shingle (empty text) cluster emits nothing.
    assert not any(d1 >= 30 and d2 <= 32 for d1, d2 in pairs)


def test_simhash_hamming_pairs_on_planted_dups(spark, dup_sf_dir):
    out = _oracle_vs_spark(spark, dup_sf_dir, "doc_simhash_hamming_pairs")
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in out.itertuples()}
    for i in range(12):
        for j in range(i + 1, 12):
            assert pairs[(i, j)] == 0
    # Empty-text dup cluster: identical signatures -> hamming 0 pairs.
    assert pairs[(30, 31)] == 0 and pairs[(30, 32)] == 0 and pairs[(31, 32)] == 0


def test_emb_cosine_near_dup_on_planted_dups(spark, dup_sf_dir):
    out = _oracle_vs_spark(spark, dup_sf_dir, "emb_cosine_near_dup")
    pairs = {(r.vec1, r.vec2): r.cosine for r in out.itertuples()}
    for i in range(8):
        for j in range(i + 1, 8):
            assert pairs[(i, j)] == 1.0
    assert pairs[(10, 11)] == 1.0
    # Cross pairs between the identical cluster and its near twin.
    assert (0, 10) in pairs and pairs[(0, 10)] == pairs[(7, 11)]


def test_collapse_makes_signature_work_duplicate_blind(spark, dup_sf_dir):
    """The guard itself: after collapse the signature/band stage sees
    one row per DISTINCT content, so a g-member dup cluster costs 1
    signature (16 band rows), not g (16*g band rows and g^2/2-ish
    candidate join rows per bucket)."""
    from pangenomesasgraphdatabases_spark.data import table
    from pangenomesasgraphdatabases_spark.operators.rep_collapse import (
        collapse_exact,
    )
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        band_frame,
        minhash_sig_of,
        shingles_of,
    )

    d = table(spark, dup_sf_dir, "documents").select("doc_id", "text")
    rep_docs, members = collapse_exact(d, "doc_id", F.md5("text"))
    n_docs, n_distinct = 30, 13  # 12+5+3 dups -> 3 reps; 10 singletons
    assert d.count() == n_docs
    assert rep_docs.count() == n_distinct
    assert members.count() == n_docs
    # reps are the group minima
    reps = {r._rep for r in members.collect()}
    assert reps == {0, 20, 30} | set(range(40, 50))
    bands = band_frame(minhash_sig_of(shingles_of(rep_docs)))
    # empty-text rep has no shingles -> no signature -> 12 signed reps
    assert bands.count() == 16 * 12


def test_lsh_candidate_pairs_bucket_cap_logs_and_drops(spark, caplog):
    """The optional occupancy cap (for hot buckets that survive exact
    collapse): capped buckets are excluded from candidate generation
    and the drop is REPORTED, never silent."""
    import logging

    from pangenomesasgraphdatabases_spark.queries.text_q import (
        lsh_candidate_pairs,
        minhash_sig_of,
        shingles_of,
    )

    # 6 distinct near-identical texts (one word changed each) -> they
    # share most band buckets; plus 2 unrelated docs.
    words = _words("h")
    rows = []
    for i in range(6):
        w = list(words)
        w[i] = f"VAR{i}"
        rows.append((i, " ".join(w)))
    rows += [(10, " ".join(_words("q"))), (11, " ".join(_words("r")))]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = minhash_sig_of(shingles_of(d)).cache()

    uncapped = {(r.doc1, r.doc2) for r in lsh_candidate_pairs(sig).collect()}
    assert len(uncapped) == 15  # all pairs of the 6 near-identical docs

    with caplog.at_level(logging.WARNING):
        capped = {
            (r.doc1, r.doc2)
            for r in lsh_candidate_pairs(sig, max_bucket=3).collect()
        }
    assert capped <= uncapped
    assert any("dropping" in rec.message for rec in caplog.records), (
        "cap must log its dropped-bucket report"
    )


def test_within_group_pairs_block_path_matches_plain(spark, monkeypatch):
    """The block-pair decomposition for big groups emits exactly the
    same pair set as the plain single-key join: force it for every
    group (AUTO_BIG_MIN 0, a members estimate past any broadcast
    threshold) over mixed group sizes and compare."""
    from pangenomesasgraphdatabases_spark.operators import rep_collapse
    from pangenomesasgraphdatabases_spark.operators.rep_collapse import (
        within_group_pairs,
    )

    rows = []
    for g, size in [(100, 37), (200, 5), (300, 1), (400, 2), (500, 19)]:
        rows += [(g + i, g) for i in range(size)]
    members = spark.createDataFrame(rows, "_id long, _rep long")
    huge = 10**12

    plain = {
        (r.a, r.b) for r in within_group_pairs(members, "a", "b").collect()
    }
    monkeypatch.setattr(rep_collapse, "AUTO_BIG_MIN", 0)
    for blocks in (1, 3, 16):
        monkeypatch.setattr(rep_collapse, "BLOCKS", blocks)
        blocked = [
            (r.a, r.b)
            for r in within_group_pairs(members, "a", "b", members_rows=huge).collect()
        ]
        assert len(blocked) == len(plain), f"dup pairs at blocks={blocks}"
        assert set(blocked) == plain, f"pair set differs at blocks={blocks}"
    # mixed: threshold between the two group sizes
    monkeypatch.setattr(rep_collapse, "AUTO_BIG_MIN", 20)
    mixed = {
        (r.a, r.b)
        for r in within_group_pairs(members, "a", "b", members_rows=huge).collect()
    }
    assert mixed == plain
    spark.catalog.clearCache()


def test_null_text_dup_group_emits_nothing(spark, tmp_path):
    """A NULL-text duplicate group has no signature in either engine
    (split(trim(NULL)) explodes to nothing), so the collapsed plans
    must emit NO pairs for it — and must not generate-then-drop them
    (the r10 pre-filters).  Also oracle-compared end to end."""
    docs = pd.DataFrame(
        {
            "doc_id": pd.Series([0, 1, 2, 10, 11], dtype="int64"),
            "text": [None, None, None,
                     " ".join(_words("a")), " ".join(_words("a"))],
            "lang": ["en"] * 5,
            "source": ["t"] * 5,
            "n_chars": pd.Series([0, 0, 0, 200, 200], dtype="int64"),
        }
    )
    d = tmp_path / "nulls"
    d.mkdir()
    docs.to_parquet(d / "documents.parquet", index=False)

    for name, cols in (
        ("doc_lsh_near_dup_pairs", ("doc1", "doc2")),
        ("doc_simhash_hamming_pairs", ("doc_a", "doc_b")),
    ):
        sdf = _REG[name].fn(spark, str(d))
        rows = sdf.collect()
        spark.catalog.clearCache()
        ids = {getattr(r, cols[0]) for r in rows} | {
            getattr(r, cols[1]) for r in rows
        }
        assert ids == {10, 11}, f"{name}: NULL-text group leaked {ids}"
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'"
        )
        dpdf = con.sql(_REG[name].oracle).df()
        assert len(dpdf) == len(rows)


def test_collapse_exact_adaptive_bypass_and_engage(spark):
    """The footer-gated stats probe (VERDICT r10 #2): a dup-light
    frame bypasses (members None, reps_df IS the input); a dup-heavy
    frame collapses exactly like collapse_exact; no input_rows
    evidence always collapses (conservative default)."""
    from pangenomesasgraphdatabases_spark.operators.rep_collapse import (
        collapse_exact,
        collapse_exact_adaptive,
    )

    light_rows = [(i, f"t{i}") for i in range(200)] + [(900, "t0")]
    light = spark.createDataFrame(light_rows, "doc_id long, text string")
    reps, members = collapse_exact_adaptive(
        light, "doc_id", F.sha2("text", 256), input_rows=len(light_rows)
    )
    assert members is None
    assert reps is light  # the input frame itself, untouched

    heavy_rows = [(i, "same") for i in range(40)] + [
        (100 + i, f"u{i}") for i in range(10)
    ]
    heavy = spark.createDataFrame(heavy_rows, "doc_id long, text string")
    reps, members = collapse_exact_adaptive(
        heavy, "doc_id", F.sha2("text", 256), input_rows=len(heavy_rows)
    )
    assert members is not None
    ref_reps, ref_members = collapse_exact(
        heavy, "doc_id", F.sha2("text", 256)
    )
    assert {r.doc_id for r in reps.collect()} == {
        r.doc_id for r in ref_reps.collect()
    }
    assert {(r._id, r._rep) for r in members.collect()} == {
        (r._id, r._rep) for r in ref_members.collect()
    }

    # gmax guard: 1% excess but one 33-member group must still collapse
    big_group = [(i, "dup") for i in range(33)] + [
        (1000 + i, f"v{i}") for i in range(3300)
    ]
    bg = spark.createDataFrame(big_group, "doc_id long, text string")
    _, members = collapse_exact_adaptive(
        bg, "doc_id", F.sha2("text", 256), input_rows=len(big_group)
    )
    assert members is not None

    # no evidence -> conservative collapse, no probe
    _, members = collapse_exact_adaptive(
        light, "doc_id", F.sha2("text", 256), input_rows=None
    )
    assert members is not None
    spark.catalog.clearCache()


def test_within_group_pairs_auto_block_gate(spark):
    """VERDICT r10 #1: the block path engages ITSELF when the
    members-rows estimate says the frame outgrows the session's
    broadcast threshold — no caller opt-in — and stays plain below
    it.  Pair-set equality across the gate is pinned."""
    from pangenomesasgraphdatabases_spark.operators.rep_collapse import (
        MEMBER_ROW_BYTES,
        within_group_pairs,
    )
    from pangenomesasgraphdatabases_spark.operators.sizing import (
        broadcast_threshold_bytes,
    )

    rows = []
    for g, size in [(100, 23), (300, 4), (500, 1)]:
        rows += [(g + i, g) for i in range(size)]
    members = spark.createDataFrame(rows, "_id long, _rep long")

    thr = broadcast_threshold_bytes(spark)
    assert thr > 0  # session default; the gate needs a live threshold
    past = thr // MEMBER_ROW_BYTES + 1  # estimate just past broadcast
    under = max(1, thr // MEMBER_ROW_BYTES // 2)

    blocked = within_group_pairs(members, "a", "b", members_rows=past)
    plain = within_group_pairs(members, "a", "b", members_rows=under)
    plan_blocked = blocked._jdf.queryExecution().executedPlan().toString()
    plan_plain = plain._jdf.queryExecution().executedPlan().toString()
    assert "sequence(" in plan_blocked  # the block-range explode
    assert "sequence(" not in plan_plain

    want = {
        (r.a, r.b) for r in within_group_pairs(members, "a", "b").collect()
    }
    assert {(r.a, r.b) for r in blocked.collect()} == want
    assert {(r.a, r.b) for r in plain.collect()} == want
    spark.catalog.clearCache()
