"""Builtin seed-and-extend nucleotide aligner — the no-binary answer
to the S11 boundary (reference extendingDB_performingBlast.py:63-105
shells out to ``blastn``; this container ships no BLAST, so the last
"missing" residue was an environment wall).

The BLAST algorithm itself is public and maps naturally onto Spark:

1. **Seeding** is an inverted-index EQUI-JOIN: every ``WORD_SIZE``-mer
   of every query joins every identical k-mer of every subject — the
   same shuffle-on-content-key shape as the LSH/shingle dedup family,
   never a pairwise scan of query x subject.
2. **Overrepresented-word masking** (BLAST's low-complexity guard,
   and this engine's hot-key discipline): k-mers whose subject-side
   occurrence count exceeds ``MAX_KMER_DF`` are dropped from seeding
   via one window over the k-mer key — a poly-A run cannot become a
   quadratic join key.  Dropped-seed recall loss is the documented
   BLAST trade, not a silent failure: the cap is a named constant.
3. **Candidate collapse**: seed hits group per (query, subject,
   diagonal = s_pos - q_pos) carrying the sorted seed-position list,
   then collapse to ONE ROW PER (query, subject) PAIR holding the
   diagonal list — so each pair's two sequences enter the shuffle and
   the Arrow batch exactly once, however many diagonals it seeds
   (the repo's payloads-shuffle-once discipline; a hot megabase
   subject on 50 diagonals carries 1 sequence copy, not 50).
4. **Extension** is embarrassingly parallel: each pair row runs in an
   Arrow-batched ``mapInPandas``; per diagonal the seed positions are
   clustered into islands (consecutive seeds <= ``WORD_SIZE +
   XDROP // 2`` apart merge — a junk gap extension can cross anyway;
   wider gaps X-drop would not cross split) and classic ungapped
   X-drop extension runs from EVERY island, so (a) a second disjoint
   homology island on the same diagonal past an X-drop junk gap gets
   its own HSP (multi-HSP, as blastn's per-seed extension produces),
   and (b) a spurious early seed on the diagonal cannot mask a
   genuine later island — each extends independently and identical
   outcomes dedup.  The extension stage's width is PINNED with an
   explicit round-robin repartition of the slim candidate frame:
   its cost is CPU-per-row, invisible to AQE's byte-based partition
   coalescing, which otherwise serializes the python stage onto one
   task (measured 88 s -> 13 s; SCALE.md r13).  The gapped variant's
   banded Smith-Waterman runs as ONE numpy wavefront over every
   (pair, diagonal) task in the batch (:func:`_banded_sw_batch`,
   bit-identical to the scalar :func:`_banded_sw` reference).

Scoring is the public blastn default for ungapped nucleotide
alignment (match +1 / mismatch -2) with Karlin-Altschul statistics
(lambda = 1.28, K = 0.46 for that matrix — NCBI's published ungapped
values): ``bit = (lambda*S - ln K) / ln 2``,
``evalue = m*n / 2^bit`` with effective lengths simplified to the
raw pair lengths (documented simplification; the reference pipeline
only thresholds and ranks, which this preserves).  The ungapped path
is the default — the reference's virus-screen use case is
high-identity hit detection, where ungapped HSPs carry the signal —
and :func:`builtin_blast_hits_gapped` adds indel tolerance via
banded Smith-Waterman around the top 4 seeded diagonals
per pair (gapped Karlin-Altschul parameters ``KA_GAPPED_*`` attach
via ``with_bitscore(..., gapped=True)`` — the ungapped lambda/K do
not apply to gapped scores), so a two-locus homology on far-apart
diagonals yields two hits, matching the per-subject description rows
(best score per subject) readBlast consumes at
extendingDB_performingBlast.py:82-105.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Ungapped blastn defaults (+1/-2) and their published Karlin-Altschul
# parameters.
MATCH = 1
MISMATCH = -2
KA_LAMBDA = 1.28
KA_K = 0.46
# GAPPED Karlin-Altschul parameters for the builtin gapped path
# (VERDICT r13 #4).  NCBI publishes gapped (lambda, K, H) per
# (reward, penalty, gap_open, gap_extend) regime in blast_stat.c's
# blastn_values_1_2 table; this engine's linear ``gap = -3`` per gap
# column is bracketed by two published (1,-2) rows — open 1 / extend
# 2 (a length-k gap costs 2k+1 <= 3k for all k >= 1) below and open
# 3 / extend 3 (3k+3 >= 3k) above.  Cheaper gaps admit more
# high-scoring random alignments, i.e. smaller lambda — so the
# cheaper bracket's parameters (lambda 0.85, K 0.23 for
# open 1 / extend 2) are the CONSERVATIVE choice: bit scores are
# never overstated and e-values never understated relative to the
# true (unpublished) linear-3 values.
KA_GAPPED_LAMBDA = 0.85
KA_GAPPED_K = 0.23

# Seed word length, the ungapped X-drop and the subject-side k-mer
# occurrence cap.
WORD_SIZE = 11
XDROP = 20
MAX_KMER_DF = 64

_HIT_SCHEMA = (
    "query_id string, subject_id string, q_start int, s_start int, "
    "align_len int, n_matches int, score int"
)


# Chunk payload for k-mer extraction: positions per Generate row.
_KMER_CHUNK = 4096


def _kmers(seqs: DataFrame, id_col: str, word_size: int, pos_col: str) -> DataFrame:
    """(id, pos, kmer) for every ``word_size`` window — JVM-side, in
    three Generate steps sized for MEGABASE sequences:

    1. encode to binary and slice into ``_KMER_CHUNK``-byte chunks
       (+ ``word_size - 1`` overlap) via ``transform`` over a
       position sequence — ``substring`` on BinaryType is an O(1)
       offset + O(len) copy, where StringType substring WALKS the
       string to char ``pos`` (O(pos) per call, O(L^2) per sequence:
       measured minutes-per-megabase before this shape);
    2. explode the chunk array — each exploded row carries one small
       chunk, never the full sequence (explode copies its carried
       columns per OUTPUT row, so a megabase string through a
       1M-position explode would memcpy ~1 TB);
    3. per chunk, build the k-mer array with ``transform`` +
       binary substring and posexplode it.

    Positions are 1-based BYTE offsets — identical to character
    offsets for the ACGT alphabet this engine feeds it."""
    c, w = _KMER_CHUNK, word_size
    chunks = (
        seqs.filter(F.length("sequence") >= w)
        .select(
            F.col(id_col),
            F.encode("sequence", "UTF-8").alias("_sb"),
        )
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.floor(
                            (F.length("_sb") - F.lit(w)) / F.lit(c)
                        ).cast("int"),
                    ),
                    lambda i: F.substring(
                        "_sb", i * F.lit(c) + 1, c + w - 1
                    ),
                )
            ).alias("_ci", "_ck"),
        )
    )
    return (
        chunks.select(
            id_col,
            (F.col("_ci").cast("long") * c).alias("_off"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.length("_ck") - (w - 1)),
                    lambda j: F.substring("_ck", j, w),
                )
            ).alias("_ji", "_kb"),
        )
        .select(
            id_col,
            (F.col("_off") + F.col("_ji") + 1).cast("int").alias(pos_col),
            F.decode("_kb", "UTF-8").alias("kmer"),
        )
    )


def _pair_candidates(
    queries: DataFrame,
    subjects: DataFrame,
    keep_positions: bool,
    max_diags: int | None = None,
) -> DataFrame:
    """Shared seeding front half: k-mer inverted-index join with the
    overrepresented-word cap, collapsed to ONE row per (query,
    subject) pair carrying the diagonal list (and per-diagonal seed
    positions when ``keep_positions``), with both sequences attached
    exactly once per pair.  ``max_diags`` keeps only the top-N
    diagonals per pair by seed count (ties: lowest diagonal) — the
    gapped path's banded-DP budget.

    Both sequence frames join under an EXPLICIT ``F.broadcast`` hint
    (VERDICT r13 #2 / ADVICE r13 — the pin must not depend on AQE's
    silent broadcast decision): payloads never shuffle and the
    round-robin pin placed before the joins survives to the extension
    stage whatever ``autoBroadcastJoinThreshold`` says.  Above Spark's
    ~8 GB broadcast hard cap this fails LOUDLY instead of silently
    unpinning."""
    qk = _kmers(queries, "query_id", WORD_SIZE, "q_pos")
    sk = _kmers(subjects, "subject_id", WORD_SIZE, "s_pos")
    # BLAST-style overrepresented-word mask: one window over the
    # k-mer key (the measured window-over-key pattern) instead of a
    # groupBy + join-back.
    sk = sk.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("kmer"))
    ).filter(F.col("_df") <= MAX_KMER_DF)
    seeds = qk.join(sk, "kmer").select(
        "query_id",
        "subject_id",
        (F.col("s_pos") - F.col("q_pos")).alias("diag"),
        "q_pos",
    )
    per_diag = seeds.groupBy("query_id", "subject_id", "diag").agg(
        F.sort_array(F.collect_set("q_pos")).alias("qpos"),
        F.count(F.lit(1)).alias("n_seeds"),
    )
    if max_diags is not None:
        rk = Window.partitionBy("query_id", "subject_id").orderBy(
            F.col("n_seeds").desc(), F.col("diag").asc()
        )
        per_diag = per_diag.withColumn(
            "_rk", F.row_number().over(rk)
        ).filter(F.col("_rk") <= max_diags)
    diag_struct = (
        F.struct("diag", "qpos") if keep_positions else F.struct("diag")
    )
    cand = per_diag.groupBy("query_id", "subject_id").agg(
        F.sort_array(F.collect_list(diag_struct)).alias("diags")
    )
    # Pin the extension stage's parallelism with an EXPLICIT
    # round-robin width.  The extension is CPU-bound per row, so
    # AQE's byte-based partition coalescing is exactly wrong for it:
    # measured 88 s fused vs 13 s pinned on the 200x50
    # reference-scale corpus — AQE saw a "small" post-agg frame and
    # squeezed the python DP stage onto ONE task.  It must be
    # ROUND-ROBIN: a keyed repartition on (query_id, subject_id)
    # matches the aggregate's distribution, gets elided as redundant,
    # and the surviving agg exchange is AQE-coalescible again
    # (measured: the keyed form changed nothing); REPARTITION_BY_NUM
    # round-robin is user-specified width AQE preserves, and it
    # load-balances the uneven per-pair DP cost as a bonus.
    from pangenomesasgraphdatabases_spark.operators.sizing import (
        session_shuffle_floor,
    )

    width = session_shuffle_floor(queries.sparkSession)
    qs_dim = queries.select("query_id", F.col("sequence").alias("_qs"))
    ss_dim = subjects.select("subject_id", F.col("sequence").alias("_ss"))
    # Pin BEFORE the joins on the slim candidate frame; the explicit
    # broadcast hints guarantee the joins preserve the pinned
    # partitioning (a silent sort-merge fallback above the
    # auto-broadcast threshold would re-shuffle by key and undo the
    # pin — ADVICE r13; tests/test_plans.py asserts the plan shape with
    # auto-broadcast disabled).
    return (
        cand.repartition(width)
        .join(F.broadcast(qs_dim), "query_id")
        .join(F.broadcast(ss_dim), "subject_id")
    )


def _xdrop_extend(
    qs: str, ss: str, diag: int, i0: int, xdrop: int
) -> tuple[int, int, int, int, int] | None:
    """Classic ungapped X-drop extension from 0-based query anchor
    ``i0`` on ``diag``: (q_start, s_start, align_len, n_matches,
    score), 1-based starts, or None when nothing scores >= 1."""
    nq, ns = len(qs), len(ss)

    def step(i: int) -> int:
        return MATCH if qs[i] == ss[i + diag] else MISMATCH

    # right extension from the anchor (the seed is all-match by
    # construction, re-scored as part of the sweep)
    best = score = 0
    best_r = i0 - 1
    i = i0
    while i < nq and i + diag < ns:
        score += step(i)
        if score > best:
            best, best_r = score, i
        if best - score > xdrop:
            break
        i += 1
    right = best
    # left extension
    best = score = 0
    best_l = i0
    i = i0 - 1
    while i >= 0 and i + diag >= 0:
        score += step(i)
        if score > best:
            best, best_l = score, i
        if best - score > xdrop:
            break
        i -= 1
    total = right + best
    if total < 1 or best_r < best_l:
        return None
    length = best_r - best_l + 1
    n_matches = (total + 2 * length) // 3  # s = m - 2(L-m)
    return (best_l + 1, best_l + diag + 1, length, n_matches, total)


def _xdrop_extend_batch(
    tasks: list[tuple[str, str, int, int]], xdrop: int
) -> list[tuple[int, int, int, int, int] | None]:
    """Vectorized :func:`_xdrop_extend` over a BATCH of (qs, ss, diag,
    i0) tasks — both X-drop sweeps advance every task's cursor
    together, one numpy step per offset, so the python-level cost is
    O(max extension length) vector ops instead of O(total chars)
    interpreted steps.  Bit-identical to the scalar version (update
    best on strict >, THEN check the drop, exactly the scalar order);
    the scalar stays as the property-test reference."""
    import numpy as np

    n = len(tasks)
    if n == 0:
        return []
    nq = np.array([len(t[0]) for t in tasks], dtype=np.int64)
    ns = np.array([len(t[1]) for t in tasks], dtype=np.int64)
    diag = np.array([t[2] for t in tasks], dtype=np.int64)
    i0 = np.array([t[3] for t in tasks], dtype=np.int64)
    max_nq, max_ns = int(nq.max()), int(ns.max())
    # Dedup sequences across tasks: many tasks share a sequence (one
    # hot subject on many diagonals/islands), and padding a copy PER
    # TASK re-replicates the payload inside the worker — a megabase
    # subject on 64 diagonals would cost 64 MB/pair (measured as a
    # worker OOM on the long-subject fixture).  One padded row per
    # DISTINCT sequence, gathered through per-task index maps.
    uq: dict[str, int] = {}
    us: dict[str, int] = {}
    qmap = np.empty(n, dtype=np.int64)
    smap = np.empty(n, dtype=np.int64)
    for t, (qs, ss, _, _) in enumerate(tasks):
        qmap[t] = uq.setdefault(qs, len(uq))
        smap[t] = us.setdefault(ss, len(us))
    Q = np.zeros((len(uq), max_nq), dtype=np.uint8)
    S = np.zeros((len(us), max_ns), dtype=np.uint8)
    for qs, k in uq.items():
        Q[k, : len(qs)] = np.frombuffer(qs.encode(), np.uint8)
    for ss, k in us.items():
        S[k, : len(ss)] = np.frombuffer(ss.encode(), np.uint8)

    def sweep(direction: int):
        """direction +1: right from i0; -1: left from i0-1.  Returns
        (best, best_i) with the scalar's init conventions."""
        best = np.zeros(n, dtype=np.int64)
        score = np.zeros(n, dtype=np.int64)
        if direction > 0:
            i = i0.copy()
            best_i = i0 - 1
        else:
            i = i0 - 1
            best_i = i0.copy()
        active = np.ones(n, dtype=bool)
        while True:
            j = i + diag
            inb = (i >= 0) & (i < nq) & (j >= 0) & (j < ns)
            active &= inb
            if not active.any():
                break
            ic = np.clip(i, 0, max_nq - 1)
            jc = np.clip(j, 0, max_ns - 1)
            m = np.where(Q[qmap, ic] == S[smap, jc], MATCH, MISMATCH)
            score = np.where(active, score + m, score)
            upd = active & (score > best)
            best = np.where(upd, score, best)
            best_i = np.where(upd, i, best_i)
            active &= (best - score) <= xdrop
            i = i + direction
        return best, best_i

    right, best_r = sweep(+1)
    left, best_l = sweep(-1)
    total = right + left
    out: list[tuple[int, int, int, int, int] | None] = []
    for t in range(n):
        tt, br, bl = int(total[t]), int(best_r[t]), int(best_l[t])
        if tt < 1 or br < bl:
            out.append(None)
            continue
        length = br - bl + 1
        n_matches = (tt + 2 * length) // 3
        out.append((bl + 1, bl + int(diag[t]) + 1, length, n_matches, tt))
    return out


def _seed_islands(qpos: list[int], merge_gap: int) -> list[int]:
    """Anchor positions (0-based) — one per island of seed starts,
    where consecutive sorted seed positions <= ``merge_gap`` apart
    belong to the same island.  Extension runs once per island."""
    anchors = [qpos[0] - 1]
    prev = qpos[0]
    for p in qpos[1:]:
        if p - prev > merge_gap:
            anchors.append(p - 1)
        prev = p
    return anchors


def builtin_blast_hits(
    queries: DataFrame,
    subjects: DataFrame,
    min_score: int = 28,
) -> DataFrame:
    """Ungapped seed-and-extend hits between ``queries`` and
    ``subjects`` (both ``(.., sequence)`` frames with ``query_id`` /
    ``subject_id``).  Returns every distinct HSP with ``score >=
    min_score``: per (query, subject, diagonal) the seed positions
    cluster into islands (gap > ``WORD_SIZE + XDROP // 2`` splits —
    a junk gap narrow enough for X-drop to cross merges, anything
    wider extends separately), X-drop extension runs from each
    island's first seed, and identical outcomes dedup — so disjoint
    homology islands on one diagonal yield one HSP EACH (multi-HSP,
    matching blastn's extend-every-seed behavior the reference
    consumes via ``hit.alignments``,
    extendingDB_performingBlast.py:95-105), and a spurious early
    seed cannot mask a genuine later island:

    ``(query_id, subject_id, q_start, s_start, align_len, n_matches,
    score)`` — 1-based starts, integer raw score under +1/-2.

    Use :func:`with_bitscore` to attach bit score / e-value columns
    for the ``enrich_clusters_with_blast`` surface."""
    with_seqs = _pair_candidates(queries, subjects, keep_positions=True)
    merge_gap = WORD_SIZE + XDROP // 2

    def extend(batches: Iterable) -> Iterator:
        import pandas as pd

        for pdf in batches:
            # one vectorized X-drop wavefront over every (pair,
            # diagonal, island) task in the Arrow batch
            # (_xdrop_extend_batch; the scalar _xdrop_extend is the
            # property-test reference)
            tasks, owners = [], []
            for row_i, (qs, ss, diags) in enumerate(
                zip(pdf["_qs"], pdf["_ss"], pdf["diags"])
            ):
                for d in diags:
                    diag = int(d["diag"])
                    for i0 in _seed_islands(
                        [int(p) for p in d["qpos"]], merge_gap
                    ):
                        tasks.append((qs, ss, diag, i0))
                        owners.append(row_i)
            results = _xdrop_extend_batch(tasks, XDROP)
            rows = []
            seen: dict[int, set] = {}
            for row_i, hsp in zip(owners, results):
                if hsp is None:
                    continue
                s_r = seen.setdefault(row_i, set())
                if hsp in s_r:
                    continue
                s_r.add(hsp)
                rows.append(
                    (
                        pdf["query_id"].iloc[row_i],
                        pdf["subject_id"].iloc[row_i],
                    )
                    + hsp
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "query_id",
                    "subject_id",
                    "q_start",
                    "s_start",
                    "align_len",
                    "n_matches",
                    "score",
                ],
            )

    hits = with_seqs.mapInPandas(extend, _HIT_SCHEMA)
    return hits.filter(F.col("score") >= F.lit(min_score))


def with_bitscore(
    hits: DataFrame,
    m: int,
    n: int,
    gapped: bool = False,
) -> DataFrame:
    """Attach Karlin-Altschul bit score and e-value columns (+1/-2
    parameters; ``m``/``n`` are the query/database lengths the
    e-value search space uses).  The search space keeps RAW lengths
    (the r12 documented simplification — the reference pipeline only
    thresholds and ranks, which raw lengths preserve).

    ``gapped=True`` switches to the GAPPED parameters
    (``KA_GAPPED_*`` — the conservative published bracket of the
    linear ``-3`` regime, VERDICT r13 #4), so gapped and ungapped
    hits threshold on ONE bit/e-value scale exactly as blastn
    reports per HSP and the reference's hits-table consumers expect
    (readBlast's description rows carry blastn's gapped scores,
    extendingDB_performingBlast.py:82-105)."""
    lam, kk = (KA_GAPPED_LAMBDA, KA_GAPPED_K) if gapped else (KA_LAMBDA, KA_K)
    bit = (lam * F.col("score") - math.log(kk)) / math.log(2.0)
    return hits.withColumn("bit_score", bit).withColumn(
        "evalue", F.lit(float(m)) * F.lit(float(n)) * F.pow(F.lit(2.0), -bit)
    )


def builtin_hits_as_blast_table(hits_with_bits: DataFrame) -> DataFrame:
    """The hits table ``graph.enrich.enrich_clusters_with_blast``
    reads: (cluster_id, title, score, evalue) — ONE row per (cluster,
    subject), keeping the best HSP's score (and its e-value: bit
    score and e-value are monotone images of each other, so max
    score and min evalue name the same HSP).  The reference's
    readBlast iterates ``blast_record.descriptions`` — one entry PER
    SUBJECT carrying the best score, however many HSPs the subject
    produced (extendingDB_performingBlast.py:82-105, the
    ``description.title/score/e`` loop at :97) — so a multi-HSP
    subject must not fan out duplicate titles in
    ``blastTitlesVirus`` (ADVICE r13)."""
    return (
        hits_with_bits.select(
            F.col("query_id").alias("cluster_id"),
            F.col("subject_id").alias("title"),
            F.round("bit_score", 2).alias("score"),
            "evalue",
        )
        .groupBy("cluster_id", "title")
        .agg(F.max("score").alias("score"), F.min("evalue").alias("evalue"))
    )


def _banded_sw(
    qs: str,
    ss: str,
    diag: int,
    band: int,
    gap: int,
) -> tuple[int, int, int, int, int, int, int] | None:
    """Banded local alignment (Smith-Waterman, linear gap penalty)
    restricted to diagonals ``[diag - band, diag + band]`` — O(|q| *
    band) time and memory, the classic post-seeding refinement.
    Returns (q_start, s_start, align_len, n_matches, score, gaps),
    1-based starts, or None when nothing scores above 0.  Parallel DP
    tables carry match counts, gap counts, column counts and path
    origins so identity is exact without a traceback pass."""
    nq, ns = len(qs), len(ss)
    width = 2 * band + 1
    NEG = -(10**9)
    # per-cell: score, matches, gaps, cols, origin (qi, ji)
    H = [NEG] * width
    Mt = [0] * width
    Gp = [0] * width
    Cl = [0] * width
    Org = [(0, 0)] * width
    best = (0, None)  # (score, payload)
    for i in range(nq):
        nH = [NEG] * width
        nM = [0] * width
        nG = [0] * width
        nC = [0] * width
        nO = [(0, 0)] * width
        base_j = i + diag - band
        for k in range(width):
            j = base_j + k
            if j < 0 or j >= ns:
                continue
            m = MATCH if qs[i] == ss[j] else MISMATCH
            # start a new local path here
            sc, mt, gp, cl, org = m, int(m > 0), 0, 1, (i, j)
            # diagonal move: H[k] is (i-1, j-1) in the previous row
            if H[k] > NEG and H[k] + m > sc:
                sc = H[k] + m
                mt, gp, cl = Mt[k] + int(m > 0), Gp[k], Cl[k] + 1
                org = Org[k]
            # up (gap in subject): (i-1, j) = previous row, k+1
            if k + 1 < width and H[k + 1] > NEG and H[k + 1] + gap > sc:
                sc = H[k + 1] + gap
                mt, gp, cl = Mt[k + 1], Gp[k + 1] + 1, Cl[k + 1] + 1
                org = Org[k + 1]
            # left (gap in query): (i, j-1) = current row, k-1
            if k - 1 >= 0 and nH[k - 1] > NEG and nH[k - 1] + gap > sc:
                sc = nH[k - 1] + gap
                mt, gp, cl = nM[k - 1], nG[k - 1] + 1, nC[k - 1] + 1
                org = nO[k - 1]
            if sc < 0:
                continue
            nH[k], nM[k], nG[k], nC[k], nO[k] = sc, mt, gp, cl, org
            if sc > best[0]:
                best = (sc, (org[0] + 1, org[1] + 1, cl, mt, sc, gp))
        H, Mt, Gp, Cl, Org = nH, nM, nG, nC, nO
    return best[1]


_NEG = -(10**9)


def _banded_sw_batch(
    tasks: list[tuple[str, str, int]], band: int, gap: int
) -> list[tuple[int, int, int, int, int, int] | None]:
    """Vectorized :func:`_banded_sw` over a BATCH of (qs, ss, diag)
    tasks — one numpy wavefront advances every task's DP row
    together, so the python-level cost is O(max|q| * width) numpy ops
    on (n_tasks,)-vectors instead of O(sum|q| * width) interpreted
    cells (measured 20x the ungapped path's wall at reference scale
    before this).  Bit-identical to the scalar version including tie
    order (fresh < diag < up < left, strict >, first-best-in-scan-
    order kept): the scalar stays as the property-test reference.

    The within-row left-gap dependency is the one sequential edge: it
    runs as a width-sized loop per row (width ~17), each step a
    vector op over tasks."""
    import numpy as np

    n = len(tasks)
    if n == 0:
        return []
    W = 2 * band + 1
    nq = np.array([len(t[0]) for t in tasks], dtype=np.int64)
    ns = np.array([len(t[1]) for t in tasks], dtype=np.int64)
    diag = np.array([t[2] for t in tasks], dtype=np.int64)
    max_nq, max_ns = int(nq.max()), int(ns.max())
    # one padded row per DISTINCT sequence (see _xdrop_extend_batch —
    # per-task padding re-replicates shared payloads in the worker)
    uq: dict[str, int] = {}
    us: dict[str, int] = {}
    qmap = np.empty(n, dtype=np.int64)
    smap = np.empty(n, dtype=np.int64)
    for t, (qs, ss, _) in enumerate(tasks):
        qmap[t] = uq.setdefault(qs, len(uq))
        smap[t] = us.setdefault(ss, len(us))
    Q = np.zeros((len(uq), max_nq), dtype=np.uint8)
    S = np.zeros((len(us), max_ns), dtype=np.uint8)
    for qs, k in uq.items():
        Q[k, : len(qs)] = np.frombuffer(qs.encode(), np.uint8)
    for ss, k in us.items():
        S[k, : len(ss)] = np.frombuffer(ss.encode(), np.uint8)

    ar = np.arange(W, dtype=np.int64)
    tix = np.arange(n)
    # per-cell state: score, matches, gaps, cols, origin (qi, ji)
    H = np.full((n, W), _NEG, dtype=np.int64)
    Mt = np.zeros((n, W), dtype=np.int64)
    Gp = np.zeros((n, W), dtype=np.int64)
    Cl = np.zeros((n, W), dtype=np.int64)
    Oi = np.zeros((n, W), dtype=np.int64)
    Oj = np.zeros((n, W), dtype=np.int64)
    best_sc = np.zeros(n, dtype=np.int64)
    best_pl = np.zeros((n, 6), dtype=np.int64)
    has_best = np.zeros(n, dtype=bool)
    neg_col = np.full((n, 1), _NEG, dtype=np.int64)
    zero_col = np.zeros((n, 1), dtype=np.int64)

    for i in range(max_nq):
        j = i + diag[:, None] - band + ar[None, :]  # (n, W)
        valid = (j >= 0) & (j < ns[:, None]) & (i < nq)[:, None]
        jc = np.clip(j, 0, max_ns - 1)
        qc = Q[qmap, np.minimum(i, max_nq - 1)][:, None]
        m = np.where(qc == S[smap[:, None], jc], MATCH, MISMATCH)
        # fresh start
        sc = m.copy()
        mt = (m > 0).astype(np.int64)
        gp = np.zeros_like(sc)
        cl = np.ones_like(sc)
        oi = np.full_like(sc, i)
        oj = j.copy()
        # diagonal: prev row, same k
        cand = H + m
        take = (H > _NEG) & (cand > sc)
        sc = np.where(take, cand, sc)
        mt = np.where(take, Mt + (m > 0), mt)
        gp = np.where(take, Gp, gp)
        cl = np.where(take, Cl + 1, cl)
        oi = np.where(take, Oi, oi)
        oj = np.where(take, Oj, oj)
        # up (gap in subject): prev row, k+1
        Hu = np.concatenate([H[:, 1:], neg_col], axis=1)
        cand = Hu + gap
        take = (Hu > _NEG) & (cand > sc)
        sc = np.where(take, cand, sc)
        mt = np.where(take, np.concatenate([Mt[:, 1:], zero_col], 1), mt)
        gp = np.where(
            take, np.concatenate([Gp[:, 1:], zero_col], 1) + 1, gp
        )
        cl = np.where(
            take, np.concatenate([Cl[:, 1:], zero_col], 1) + 1, cl
        )
        oi = np.where(take, np.concatenate([Oi[:, 1:], zero_col], 1), oi)
        oj = np.where(take, np.concatenate([Oj[:, 1:], zero_col], 1), oj)
        # invalid / dropped-below-zero cells die BEFORE feeding the
        # left scan (scalar: `continue` skips the cell entirely)
        dead = ~valid | (sc < 0)
        sc[dead] = _NEG
        # left (gap in query): CURRENT row, k-1 — sequential in k,
        # vectorized over tasks
        for k in range(1, W):
            prev = sc[:, k - 1]
            cand = prev + gap
            take = (prev > _NEG) & (cand > sc[:, k]) & valid[:, k]
            if not take.any():
                continue
            sc[take, k] = cand[take]
            mt[take, k] = mt[take, k - 1]
            gp[take, k] = gp[take, k - 1] + 1
            cl[take, k] = cl[take, k - 1] + 1
            oi[take, k] = oi[take, k - 1]
            oj[take, k] = oj[take, k - 1]
        # a left move can land below zero (scalar kills such cells at
        # its `sc < 0` check) — re-kill for exact dead-state parity
        sc[sc < 0] = _NEG
        # commit row state
        H, Mt, Gp, Cl, Oi, Oj = sc, mt, gp, cl, oi, oj
        # best update: scalar scans k ascending with strict >, so the
        # row's winner is its max at the FIRST k attaining it
        alive = H > _NEG
        row_max = np.where(alive, H, _NEG).max(axis=1)
        upd = row_max > best_sc
        if upd.any():
            k_first = np.argmax(
                np.where(alive, H, _NEG) == row_max[:, None], axis=1
            )
            ti = tix[upd]
            kf = k_first[upd]
            best_sc[upd] = row_max[upd]
            best_pl[upd, 0] = Oi[ti, kf] + 1
            best_pl[upd, 1] = Oj[ti, kf] + 1
            best_pl[upd, 2] = Cl[ti, kf]
            best_pl[upd, 3] = Mt[ti, kf]
            best_pl[upd, 4] = H[ti, kf]
            best_pl[upd, 5] = Gp[ti, kf]
            has_best[upd] = True

    out: list[tuple[int, int, int, int, int, int] | None] = []
    for t in range(n):
        if has_best[t] and best_sc[t] > 0:
            q0, j0, cl0, mt0, sc0, gp0 = (int(v) for v in best_pl[t])
            out.append((q0, j0, cl0, mt0, sc0, gp0))
        else:
            out.append(None)
    return out


def builtin_blast_hits_gapped(
    queries: DataFrame,
    subjects: DataFrame,
    min_score: int = 28,
) -> DataFrame:
    """Gapped variant of :func:`builtin_blast_hits`: the same
    inverted-index seeding, overrepresented-word cap, and
    one-row-per-pair candidate collapse, but candidates keep the TOP
    4 seeded diagonals per (query, subject) (by seed count, ties to
    the lowest diagonal) and refine each with banded Smith-Waterman
    (± 8 diagonals, linear gap penalty -3) — indel-tolerant HSPs the
    ungapped X-drop cannot produce, with identical outcomes deduped,
    so a two-locus homology on diagonals further than 8 apart yields
    two hits (a locus beyond the 4-diagonal seed-count cut is the
    documented recall limit on many-locus subjects).  Output adds a
    ``gaps`` column; scores are raw
    +1/-2/gap — attach bit scores / e-values with
    :func:`with_bitscore(..., gapped=True)` (the ``KA_GAPPED_*``
    parameters; the UNGAPPED lambda/K do not apply to gapped scores)
    so gapped and ungapped hits threshold on one scale as blastn
    reports per HSP.

    Scale shape: identical to the ungapped path until extension (the
    join IS the work); the banded DP is O(|q| * band) per kept
    diagonal inside the same Arrow-batched ``mapInPandas``, and each
    pair's sequences cross the shuffle once however many diagonals
    it keeps."""
    with_seqs = _pair_candidates(queries, subjects, keep_positions=False, max_diags=4)

    def extend(batches: Iterable) -> Iterator:
        import pandas as pd

        for pdf in batches:
            # one vectorized DP wavefront over every (pair, diagonal)
            # task in the Arrow batch (_banded_sw_batch; the scalar
            # _banded_sw is the property-test reference)
            tasks, owners = [], []
            for row_i, (qs, ss, diags) in enumerate(
                zip(pdf["_qs"], pdf["_ss"], pdf["diags"])
            ):
                for d in diags:
                    tasks.append((qs, ss, int(d["diag"])))
                    owners.append(row_i)
            results = _banded_sw_batch(tasks, band=8, gap=-3)
            rows = []
            seen: dict[int, set] = {}
            for row_i, r in zip(owners, results):
                if r is None:
                    continue
                s_r = seen.setdefault(row_i, set())
                if r in s_r:
                    continue
                s_r.add(r)
                rows.append(
                    (
                        pdf["query_id"].iloc[row_i],
                        pdf["subject_id"].iloc[row_i],
                    )
                    + r
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "query_id",
                    "subject_id",
                    "q_start",
                    "s_start",
                    "align_len",
                    "n_matches",
                    "score",
                    "gaps",
                ],
            )

    hits = with_seqs.mapInPandas(extend, _HIT_SCHEMA + ", gaps int")
    return hits.filter(F.col("score") >= F.lit(min_score))
