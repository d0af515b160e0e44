"""Domain scalar functions: GC content, delta encode/decode, CAI.

Reference semantics:
- GC content: Bio.SeqUtils.GC = 100*(G+C+S)/len
  (extendingDB_FeatureAndStrainMetrics.py:51) — expressed UDF-free via
  translate (F8 in SURVEY.md).
- determineVariation (pirateToDatabase.py:175-197): char-wise compare
  of an aligned sequence vs the cluster reference; emits
  "<dist><char>..." where dist is the index distance from the previous
  difference (first dist is the absolute index).
- variationToFullSequence (extendingDB_FeatureAndStrainMetrics.py:21-29):
  applies the diffs back onto the reference, then strips '-' gaps.

Both variation functions are genuine Python boundaries -> Arrow-
vectorized pandas_udfs (SURVEY.md section 2.10).  Property:
decode(encode(s, r), r) == s.replace('-','') for equal-length s, r.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, DoubleType, StringType

_DIFF_RE = re.compile(r"(\d+)(\D)")


def gc_content(seq: Column | str) -> Column:
    """GC percentage 100*(G+C+S)/len as a pure column expression."""
    c = F.upper(F.col(seq) if isinstance(seq, str) else seq)
    gc = F.length(c) - F.length(F.translate(c, "GCS", ""))
    return 100.0 * gc / F.length(c)


def delta_encode_py(seq: str | None, ref: str | None) -> str | None:
    """Pure-python delta encode, reference-faithful (incl. the quirk
    that `dist` is measured from the previous *difference index*, so
    the first distance is absolute and later ones are index deltas)."""
    if seq is None or ref is None:
        return None
    prev = 0
    out = []
    for i, (a, b) in enumerate(zip(seq, ref)):
        if a != b:
            out.append(f"{i - prev}{a}")
            prev = i
    return "".join(out)


def delta_decode_py(variation: str | None, ref: str | None) -> str | None:
    """Apply "<dist><char>..." diffs onto ref, then strip '-' gaps."""
    if ref is None:
        return None
    chars = list(ref)
    if variation:
        idx = 0
        for dist, ch in _DIFF_RE.findall(variation):
            idx += int(dist)
            chars[idx] = ch
    return "".join(chars).replace("-", "")


@pandas_udf(StringType())
def delta_encode(seq: pd.Series, ref: pd.Series) -> pd.Series:
    return pd.Series(
        [delta_encode_py(s, r) for s, r in zip(seq, ref)], dtype="object"
    )


@pandas_udf(StringType())
def delta_decode(variation: pd.Series, ref: pd.Series) -> pd.Series:
    return pd.Series(
        [delta_decode_py(v, r) for v, r in zip(variation, ref)], dtype="object"
    )


# Sharp & Li (1987) E. coli relative-adaptiveness (w) table — the
# default index of Biopython's CodonAdaptationIndex, which the
# reference instantiates bare (extendingDB_FeatureAndStrainMetrics.py:
# 48, 67: `CU.CodonAdaptationIndex()` then `cai_for_gene(...)`).
# Public data: Sharp & Li, NAR 15(3):1281-1295 (1987), table 1.
SHARP_ECOLI_INDEX: dict[str, float] = {
    "GCA": 0.586, "GCC": 0.122, "GCG": 0.424, "GCT": 1.0,
    "AGA": 0.004, "AGG": 0.002, "CGA": 0.004, "CGC": 0.356,
    "CGG": 0.004, "CGT": 1.0,
    "AAC": 1.0, "AAT": 0.051,
    "GAC": 1.0, "GAT": 0.434,
    "TGC": 1.0, "TGT": 0.5,
    "CAA": 0.124, "CAG": 1.0,
    "GAA": 1.0, "GAG": 0.259,
    "GGA": 0.01, "GGC": 0.724, "GGG": 0.019, "GGT": 1.0,
    "CAC": 1.0, "CAT": 0.291,
    "ATA": 0.003, "ATC": 1.0, "ATT": 0.185,
    "CTA": 0.007, "CTC": 0.037, "CTG": 1.0, "CTT": 0.042,
    "TTA": 0.02, "TTG": 0.02,
    "AAA": 1.0, "AAG": 0.253,
    "ATG": 1.0,
    "TTC": 1.0, "TTT": 0.296,
    "CCA": 0.135, "CCC": 0.012, "CCG": 1.0, "CCT": 0.07,
    "AGC": 0.41, "AGT": 0.085, "TCA": 0.077, "TCC": 0.744,
    "TCG": 0.017, "TCT": 1.0,
    "ACA": 0.076, "ACC": 1.0, "ACG": 0.099, "ACT": 0.965,
    "TGG": 1.0,
    "TAC": 1.0, "TAT": 0.239,
    "GTA": 0.495, "GTC": 0.066, "GTG": 0.221, "GTT": 1.0,
}

_STOP_CODONS = ("TGA", "TAA", "TAG")


def cai_py(seq: str | None) -> float | None:
    """Codon adaptation index, faithful to the reference's call path
    (extendingDB_FeatureAndStrainMetrics.py:48-68 -> Biopython
    CodonUsage.cai_for_gene with the default Sharp E. coli index):

    - uppercase only when the whole sequence is lowercase;
    - walk the UNFILTERED sequence in frame steps of 3 (the
      reference's N-filter builds `filteredSeq` but never passes it —
      dead code — so an N codon, or a trailing partial codon, raises
      and the except-path records NaN -> None here);
    - ATG/TGG contribute nothing (always w=1 by construction);
      stop codons are skipped;
    - geometric mean uses Biopython's n - 0.5 denominator (so an
      empty/all-skipped sequence yields exp(0 / -0.5) = 1.0).
    """
    import math

    if seq is None:
        return None
    if seq.islower():
        seq = seq.upper()
    cai_value, cai_length = 0.0, 0
    for i in range(0, len(seq), 3):
        codon = seq[i : i + 3]
        if codon in SHARP_ECOLI_INDEX:
            if codon not in ("ATG", "TGG"):
                cai_value += math.log(SHARP_ECOLI_INDEX[codon])
                cai_length += 1
        elif codon not in _STOP_CODONS:
            return None  # illegal codon -> reference's NaN path
    return math.exp(cai_value / (cai_length - 0.5))


@pandas_udf(DoubleType())
def cai(seq: pd.Series) -> pd.Series:
    # Weight table constructed once per Arrow batch, mirroring the
    # reference's construct-once CodonAdaptationIndex object.
    return pd.Series([cai_py(s) for s in seq], dtype="float64")


# --- Translation / CDS sanity (F10) ----------------------------------------

_CODON_TABLE = {
    "TTT": "F", "TTC": "F", "TTA": "L", "TTG": "L",
    "CTT": "L", "CTC": "L", "CTA": "L", "CTG": "L",
    "ATT": "I", "ATC": "I", "ATA": "I", "ATG": "M",
    "GTT": "V", "GTC": "V", "GTA": "V", "GTG": "V",
    "TCT": "S", "TCC": "S", "TCA": "S", "TCG": "S",
    "CCT": "P", "CCC": "P", "CCA": "P", "CCG": "P",
    "ACT": "T", "ACC": "T", "ACA": "T", "ACG": "T",
    "GCT": "A", "GCC": "A", "GCA": "A", "GCG": "A",
    "TAT": "Y", "TAC": "Y", "TAA": "*", "TAG": "*",
    "CAT": "H", "CAC": "H", "CAA": "Q", "CAG": "Q",
    "AAT": "N", "AAC": "N", "AAA": "K", "AAG": "K",
    "GAT": "D", "GAC": "D", "GAA": "E", "GAG": "E",
    "TGT": "C", "TGC": "C", "TGA": "*", "TGG": "W",
    "CGT": "R", "CGC": "R", "CGA": "R", "CGG": "R",
    "AGT": "S", "AGC": "S", "AGA": "R", "AGG": "R",
    "GGT": "G", "GGC": "G", "GGA": "G", "GGG": "G",
}
_COMPLEMENT = str.maketrans("ACGTacgt", "TGCAtgca")


def reverse_complement_py(seq: str) -> str:
    return seq.translate(_COMPLEMENT)[::-1]


def translate_py(seq: str) -> str:
    """Standard-table DNA->protein translation ('X' for unknown codons,
    '*' for stops) — the Biopython translate() stand-in for the CDS
    sanity check (convert_refseq_to_prokka_gff.py:84-88)."""
    s = seq.upper()
    return "".join(
        _CODON_TABLE.get(s[i : i + 3], "X") for i in range(0, len(s) - 2, 3)
    )


def has_premature_stop_py(seq: str | None, strand: str | None) -> bool:
    """True if the strand-oriented translation contains an internal
    stop ('*' anywhere except the final codon,
    convert_refseq_to_prokka_gff.py:84-88)."""
    if not seq:
        return False
    oriented = reverse_complement_py(seq) if strand == "-" else seq
    return "*" in translate_py(oriented)[:-1]


@pandas_udf(BooleanType())
def has_premature_stop(seq: pd.Series, strand: pd.Series) -> pd.Series:
    return pd.Series(
        [has_premature_stop_py(s, st) for s, st in zip(seq, strand)],
        dtype="bool",
    )
