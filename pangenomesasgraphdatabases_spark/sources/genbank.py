"""GenBank flat-file source (SURVEY.md S8).

Reference: 01_fileConversion/bp_genbank2gff3.pl (BioPerl, 2349 lines)
invoked per readme.md:29-35 as the pipeline's true entry point —
``.gbk`` files are converted to GFF3, then cleaned by
convert_refseq_to_prokka_gff.py (our sources/gff.py).  This module is
a deliberate *minimal* re-expression: it parses exactly the fields the
downstream pipeline consumes (feature key, location incl.
``complement(..)`` / ``join(..)`` / partial ``<``/``>`` markers,
locus_tag, product, /pseudo flag, and the ORIGIN sequence), not the
full BioPerl feature-unflattening.

Spark shape: one GenBank file is an indivisible parse unit (records
separated by ``//``, features span continuation lines), so parsing
runs in ``mapInPandas`` over wholetext rows — one Python parse per
file, distributed across files, Arrow-batched out.  Everything after
the parse (filtering, joins with scaffolds, cleanup) stays in native
DataFrame ops via the GFF-parity projection of
:func:`genbank_to_gff`.
"""

from __future__ import annotations

import re
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pangenomesasgraphdatabases_spark.sources.fasta import FILE_STEM

_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("seqid", T.StringType()),
        T.StructField("feature_type", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("strand", T.StringType()),
        T.StructField("feature_id", T.StringType()),
        T.StructField("product", T.StringType()),
        T.StructField("pseudo", T.BooleanType()),
        T.StructField("partial", T.BooleanType()),
        T.StructField("gb_id", T.StringType()),
        T.StructField("gb_parent", T.StringType()),
        # per-sub-location extents of join()/order() locations, file
        # order; single-interval features carry one segment equal to
        # [start, end] (VERDICT r13 #8 — the GFF projection explodes
        # multi-segment non-CDS features to shared-ID rows)
        T.StructField(
            "segments",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("seg_start", T.IntegerType()),
                        T.StructField("seg_end", T.IntegerType()),
                    ]
                )
            ),
        ),
        # the FULL qualifier set (duplicates \x1f-joined, flags
        # "true") — the GFF projection emits these as GFF3 attributes
        # the way bp_genbank2gff3.pl carries every qualifier through
        T.StructField(
            "qualifiers", T.MapType(T.StringType(), T.StringType())
        ),
    ]
)

_SEQ_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("seqid", T.StringType()),
        T.StructField("seq", T.StringType()),
    ]
)

def _unquote(v: str) -> str:
    """GenBank qualifier value: strip ONE surrounding quote pair, then
    unescape doubled quotes (a doubled quote is a literal quote inside
    a quoted value).  A blind strip of all edge quotes would also eat
    an escaped quote at the value edge ('"foo' + 3 quotes means
    'foo' + one literal quote)."""
    v = v.strip()
    if len(v) >= 2 and v[0] == '"' and v[-1] == '"':
        v = v[1:-1]
    return v.replace('""', '"')


_KEY_RE = re.compile(r"^ {5}(\S+)\s*(.*)$")
_QUAL_RE = re.compile(r"^\s+/(\w+)(?:=(.*))?$")
_LOCUS_RE = re.compile(r"^LOCUS\s+(\S+)")


def _split_records(text: str) -> list[str]:
    recs, cur = [], []
    for line in text.split("\n"):
        if line.rstrip() == "//":
            if cur:
                recs.append("\n".join(cur))
            cur = []
        else:
            cur.append(line)
    if any(ln.strip() for ln in cur):
        recs.append("\n".join(cur))
    return recs


# Remote segment reference inside join()/order(): 'ACCESSION[.v]:a..b'
# — the whole segment (incl. its coordinates, which index a DIFFERENT
# sequence) must stay out of this record's envelope
# (bp_genbank2gff3.pl delegates to Bio::Location, which splits these
# off; the local envelope is over local segments only).
_REMOTE_SEG_RE = re.compile(r"[A-Za-z][A-Za-z0-9_]*(?:\.\d+)?:[^,()]*")


_WRAPPER_RE = re.compile(r"^(?:complement|join|order)\((.*)\)$")


def _split_sublocs(s: str) -> list[str]:
    """Split a join()/order() body on its TOP-LEVEL commas only — a
    comma inside a fuzzy form (``one-of(1888,1901)..2200``) belongs
    to that sub-location, not to the split list."""
    parts: list[str] = []
    depth, cur = 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
            continue
        cur.append(ch)
    parts.append("".join(cur))
    return parts


def _parse_location(
    loc: str,
) -> tuple[int, int, str, bool, list[tuple[int, int]]] | None:
    """(start, end, strand, partial, segments) from a GenBank location
    string.

    ``complement(..)`` → '-'; ``join(a..b,c..d)`` / ``order(..)`` →
    envelope [min, max] in start/end (the downstream cleanup works on
    genomic extent) PLUS the per-sub-location extents in ``segments``
    (file order — BioPerl's SplitLocation sub_Location order), so the
    GFF projection can emit one row per segment with a shared ID as
    bp_genbank2gff3.pl does for discontinuous features (VERDICT r13
    #8); ``<``/``>`` flag the feature partial.  Fuzzy forms take
    their numeric envelope: ``(122.133)..204`` spans [122, 204],
    ``102^103`` the between-bases pair [102, 103],
    ``one-of(1888,1901)..2200`` the widest reading [1888, 2200] —
    the same extent BioPerl's Fuzzy/Split locations resolve to.
    Remote segments (``J00194.1:100..202``) are dropped whole; a
    location with ONLY remote segments yields None (feature skipped,
    as the reference's converter does for unresolvable locations)."""
    strand = "-" if "complement(" in loc else "+"
    local = _REMOTE_SEG_RE.sub("", loc)
    partial = "<" in local or ">" in local
    # peel complement()/join()/order() wrappers, then split the body
    # on top-level commas: one numeric envelope per local segment.
    # Peel ONLY when the wrapper's '(' really closes at the END — in
    # the older join-of-complements form
    # ``join(complement(a..b),complement(c..d))`` the body
    # ``complement(...),complement(...)`` superficially re-matches
    # the wrapper regex but with unbalanced parens, and peeling it
    # would collapse the per-segment extents to one envelope (review
    # finding r14; the balance scan rejects it).
    body = local
    while True:
        m = _WRAPPER_RE.match(body)
        if not m:
            break
        inner = m.group(1)
        depth = 0
        balanced = True
        for ch in inner:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    balanced = False
                    break
        if not balanced:
            break
        body = inner
    segments: list[tuple[int, int]] = []
    for part in _split_sublocs(body):
        nums = [int(n) for n in re.findall(r"\d+", part)]
        if nums:
            segments.append((min(nums), max(nums)))
    if not segments:
        return None
    return (
        min(s for s, _ in segments),
        max(e for _, e in segments),
        strand,
        partial,
        segments,
    )


def _iter_record_features(rec: str) -> Iterator[dict]:
    seqid = ""
    m = _LOCUS_RE.match(rec)
    if m:
        seqid = m.group(1)
    in_features = False
    blocks: list[tuple[str, list[str]]] = []  # (key, raw lines)
    for line in rec.split("\n"):
        if line.startswith("FEATURES"):
            in_features = True
            continue
        if line.startswith(("ORIGIN", "CONTIG", "BASE COUNT")):
            in_features = False
            continue
        if not in_features:
            continue
        km = _KEY_RE.match(line)
        if km:
            blocks.append((km.group(1), [km.group(2)]))
        elif blocks and line.strip():
            blocks[-1][1].append(line)

    # Gene-model association (bp_genbank2gff3.pl:835-945
    # gene_features — the unflattener's ID/Parent assignment, the
    # subset a downstream pipeline consumes): features arrive in file
    # order, a gene opens a model, the mRNAs under it get
    # "<gene>.t0<n>" ids with Parent=gene, each CDS derives
    # "<gene>.p0<n>" from the CURRENT mRNA (CDSkeep default: Parent =
    # the mRNA), non-mRNA RNAs get "<gene>.r0<n>".  A feature whose
    # own gene link (locus_tag, else /gene — gene_name() at :1086)
    # names a DIFFERENT gene is NOT part of the model (GM_NOT_PART)
    # and stays top-level, as does a CDS with no mRNA under the
    # current gene.  Full exon unflattening (multi-parent exons,
    # :879-898) stays out of scope: exons parent to the active
    # (nc)RNA, duplicates are not deduplicated.
    gene_id = rna_id = ncrna_id = ""
    tnum = rnum = 0
    for key, lines in blocks:
        # Location = the key-line remainder plus continuation lines up
        # to the first qualifier; qualifiers may also span lines
        # (translation strings routinely do).
        loc_parts: list[str] = []
        quals: list[list[str]] = []  # [name, value-so-far]
        for raw in lines:
            stripped = raw.strip()
            # A '/'-leading line is a NEW qualifier only when the
            # current value's quote is closed: a quoted value like
            # /product="foo\n/bar baz" legitimately continues across
            # a line that starts with '/' (bp_genbank2gff3.pl:835-
            # 1180 tracks the same open-quote state).
            in_open_quote = (
                bool(quals)
                and (quals[-1][1] or "").count('"') % 2 == 1
            )
            qm = (
                _QUAL_RE.match(raw)
                if stripped.startswith("/") and not in_open_quote
                else None
            )
            if qm:
                # value None = FLAG qualifier (/pseudo, no '=') —
                # distinct from an explicitly empty /note="" (review
                # finding r14: both previously collapsed to "")
                quals.append([qm.group(1), qm.group(2)])
            elif quals:
                prev = quals[-1]
                joiner = "" if prev[0] == "translation" else " "
                prev[1] = (prev[1] or "") + joiner + stripped
            else:
                loc_parts.append(stripped)
        parsed = _parse_location("".join(loc_parts))
        if parsed is None:
            continue
        start, end, strand, partial, segments = parsed
        qd = {name: _unquote(val or "") for name, val in quals}
        # The FULL qualifier set, duplicates preserved (a feature
        # routinely carries several /db_xref): multi-values join on
        # \x1f (an impossible byte in GenBank text) so the GFF
        # emitter can escape each value independently before the
        # GFF3 comma join; flag qualifiers (/pseudo) carry "true".
        qmap: dict[str, str] = {}
        for name, val in quals:
            v = "true" if val is None else _unquote(val)
            qmap[name] = qmap[name] + "\x1f" + v if name in qmap else v
        own = qd.get("locus_tag") or qd.get("gene") or ""
        linked = bool(gene_id) and (not own or own == gene_id)
        gb_id, gb_parent = own, ""
        if key == "gene":
            gene_id = own
            rna_id = ncrna_id = ""
            tnum = rnum = 0
            gb_id = gene_id
        elif key == "mRNA":
            if linked:
                tnum += 1
                rna_id = f"{gene_id}.t0{tnum}"
                gb_id, gb_parent = rna_id, gene_id
        elif "RNA" in key or "transcript" in key:
            if linked:
                rnum += 1
                ncrna_id = f"{gene_id}.r0{rnum}"
                gb_id, gb_parent = ncrna_id, gene_id
            elif not gene_id:
                # No enclosing gene: the RNA acts as its own top level
                # and may own subsequent exons
                # (bp_genbank2gff3.pl:866-875).
                ncrna_id = own
            # else: inside a gene model but naming a DIFFERENT gene —
            # GM_NOT_PART returns before any assignment in BioPerl
            # (:861-862), so the previously-active linked ncRNA (if
            # any) stays the exon parent and a foreign RNA never
            # captures the model's later exons (review finding; the
            # gene-models oracle joins linked RNAs only).
        elif key in ("CDS", "protein", "polypeptide"):
            if linked and rna_id:
                # First occurrence only — BioPerl's s/\.t/\.p/ is a
                # single substitution, so a gene locus_tag containing
                # '.t' keeps its tag intact (quirk kept for parity).
                gb_id = rna_id.replace(".t", ".p", 1)
                gb_parent = rna_id
        elif key == "exon":
            if (rna_id or ncrna_id) and (not own or own == gene_id):
                gb_id, gb_parent = "", rna_id or ncrna_id
        else:
            if gene_id and own == gene_id:
                gb_parent = gene_id
        ftype = key
        if key == "gene" and "pseudo" in qd:
            # The reference pipeline's GFF3 carries these as
            # ``pseudogene`` rows (readme.md:40 keeps CDS/tRNA/
            # pseudogene); GenBank flags them as gene + /pseudo.
            ftype = "pseudogene"
        yield {
            "seqid": seqid,
            "feature_type": ftype,
            "start": start,
            "end": end,
            "strand": strand,
            "feature_id": qd.get("locus_tag", ""),
            "product": qd.get("product", ""),
            "pseudo": "pseudo" in qd,
            "partial": partial,
            "gb_id": gb_id,
            "gb_parent": gb_parent,
            "segments": [
                {"seg_start": s, "seg_end": e} for s, e in segments
            ],
            "qualifiers": qmap,
        }


def _iter_record_sequence(rec: str) -> str:
    out: list[str] = []
    in_origin = False
    for line in rec.split("\n"):
        if line.startswith("ORIGIN"):
            in_origin = True
            continue
        if not in_origin:
            continue
        out.append(re.sub(r"[\d\s]", "", line))
    return "".join(out).upper()


def _wholetext(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.read.text(path, wholetext=True)
        .withColumn("file", F.regexp_extract(F.input_file_name(), FILE_STEM, 1))
        .select("file", "value")
    )


def read_genbank_features(spark: SparkSession, path: str) -> DataFrame:
    """S8: GenBank ``.gbk`` glob -> one row per feature.

    Columns: (file, seqid, feature_type, start, end, strand,
    feature_id, product, pseudo, partial, gb_id, gb_parent,
    segments).  feature_id is the locus_tag ('' when absent, e.g.
    the ``source`` feature); start/end are the genomic envelope and
    ``segments`` the per-sub-location extents of a join()/order()
    location (one segment, equal to the envelope, for simple
    spans)."""
    cols = [f.name for f in _FEATURE_SCHEMA.fields]

    def parse(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for file, text in zip(pdf["file"], pdf["value"]):
                for rec in _split_records(text):
                    for feat in _iter_record_features(rec):
                        rows.append({"file": file, **feat})
            yield pd.DataFrame(rows, columns=cols)

    return _wholetext(spark, path).mapInPandas(parse, _FEATURE_SCHEMA)


def read_genbank_sequences(spark: SparkSession, path: str) -> DataFrame:
    """ORIGIN sections -> (file, seqid, seq), uppercased — the same
    surface as gff.read_gff_scaffolds so the S9 cleanup can join it."""

    def parse(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for file, text in zip(pdf["file"], pdf["value"]):
                for rec in _split_records(text):
                    m = _LOCUS_RE.match(rec)
                    seq = _iter_record_sequence(rec)
                    if seq:
                        rows.append(
                            {
                                "file": file,
                                "seqid": m.group(1) if m else "",
                                "seq": seq,
                            }
                        )
            yield pd.DataFrame(rows, columns=["file", "seqid", "seq"])

    return _wholetext(spark, path).mapInPandas(parse, _SEQ_SCHEMA)


def clean_genbank(
    spark: SparkSession, path: str, ignore_overlapping: bool = True
) -> DataFrame:
    """End-to-end ``.gbk`` -> cleaned feature table: the reference's
    first two pipeline stages composed (bp_genbank2gff3.pl then
    convert_refseq_to_prokka_gff.py, readme.md:29-41) without the GFF
    file round-trip.

    Applies the exact S9 semantics (gff.clean_parsed_features — the
    same shared core clean_gff runs) over GenBank-parsed features and
    ORIGIN scaffolds: CDS/tRNA/pseudogene whitelist, CDS length%3 /
    min-length / premature-stop checks against the genomic substring,
    per-record overlap cascade and ID de-duplication.  Output columns
    match gff.clean_gff exactly."""
    from pangenomesasgraphdatabases_spark.sources.gff import (
        clean_parsed_features,
    )

    return clean_parsed_features(
        read_genbank_features(spark, path),
        read_genbank_sequences(spark, path),
        ignore_overlapping,
    )


# GFF3 reserved characters in attribute values (the spec's
# percent-encoding set); '%' must escape first.
_GFF3_ESCAPES = (
    ("%", "%25"),
    (";", "%3B"),
    ("=", "%3D"),
    ("&", "%26"),
    (",", "%2C"),
)

# Qualifiers NOT repeated as generic attributes: locus_tag/product
# already have dedicated emission slots, and translation is the
# one qualifier bp_genbank2gff3.pl consumers routinely drop for
# size (the protein is derivable).
_ATTR_EXCLUDE = ("locus_tag", "product", "translation")


def _gff3_escape(col):
    for a, b in _GFF3_ESCAPES:
        col = F.regexp_replace(col, re.escape(a), b)
    return col


def genbank_to_gff(spark: SparkSession, path: str) -> DataFrame:
    """GFF-parity projection (the bp_genbank2gff3.pl output contract):
    exactly gff.GFF_COLS, so downstream consumers of
    parse_gff_features can run unchanged on GenBank input.  Commas are
    stripped from free-text fields as the GFF cleanup does file-wide
    (convert_refseq_to_prokka_gff.py:24).

    A multi-interval ``join()``/``order()`` location on a NON-CDS
    feature emits one GFF row PER SEGMENT, all sharing the feature's
    ID/attributes — the GFF3 discontinuous-feature convention
    BioPerl's writer applies to split locations (bp_genbank2gff3.pl
    via Bio::SeqFeature split locations; VERDICT r13 #8).  CDS keeps
    its genomic envelope as one row: the downstream prokka-style
    cleanup consumes CDS extent (convert_refseq_to_prokka_gff.py),
    and the gene-model '.p0n' rows are driver-hashed on that shape —
    the documented remaining delta from BioPerl's per-exon CDS
    rows.

    Every remaining qualifier goes through as a GFF3 attribute the way
    bp_genbank2gff3.pl does — sorted by key, values percent-encoded
    per the GFF3 reserved set (';' '=' '&' ',' '%'), repeated
    qualifiers (multiple /db_xref) comma-joined as GFF3 multi-values,
    flag qualifiers (/pseudo) as ``key=true`` — except those in
    ``_ATTR_EXCLUDE`` (locus_tag/product, which have dedicated slots,
    and the bulky derivable translation)."""
    feats = read_genbank_features(spark, path)
    is_multi = (F.size("segments") > 1) & (F.col("feature_type") != "CDS")
    # ID/attributes below derive from the ENVELOPE columns (so the
    # segment rows share them — incl. the anonymous-feature
    # "type:seqid:start..end" fallback id); only the emitted
    # start/end take the per-segment extents.
    feats = feats.withColumn(
        "_seg",
        F.explode(
            F.when(is_multi, F.col("segments")).otherwise(
                F.array(
                    F.struct(
                        F.col("start").alias("seg_start"),
                        F.col("end").alias("seg_end"),
                    )
                )
            )
        ),
    )
    product = F.regexp_replace("product", ",", "")
    # The GFF ID must live in the same namespace Parent references —
    # the unflattener's gb_id (mRNA '.t0n', CDS '.p0n') — or every
    # Parent= is dangling (bp_genbank2gff3.pl emits ID=<gb_id> for
    # exactly this reason).  The exported feature_id column follows
    # the ID attribute so a write/parse round-trip is the identity;
    # the raw locus_tag stays available as a locus_tag= attribute.
    # A LINKED leaf (gb_id deliberately empty, gb_parent set — the
    # unflattener's exons) must NOT fall back to the raw locus_tag:
    # that duplicates its gene's ID on a second feature, which GFF3
    # forbids (review finding — strainC's exon carried ID=C_0002 next
    # to gene ID=C_0002).  BioPerl emits such leaves with Parent= only;
    # the locus_tag survives as an attribute and feature_id is ''.
    is_leaf = (F.length("gb_id") == 0) & (F.length("gb_parent") > 0)
    # Generic features (not gene/pseudogene, not RNA-like) whose gb_id
    # is just their raw locus_tag take BioPerl's add_generic_id
    # "method:name" form (bp_genbank2gff3.pl:955-975) — a bacterial
    # gene+CDS pair shares one locus_tag, and a bare CDS ID would
    # collide with the gene's.  Model members (.t0n/.p0n/.r0n ids) and
    # top-level RNAs (:866-875 keep the genelink id verbatim) stay
    # bare.
    is_generic = (
        (F.col("gb_id") == F.col("feature_id"))
        & (F.length("gb_id") > 0)
        & ~F.col("feature_type").isin("gene", "pseudogene")
        & ~F.col("feature_type").rlike("RNA|transcript")
    )
    # A fully ANONYMOUS top-level feature (no gb_id, no parent, no
    # locus_tag — e.g. an orphan exon after a bare gene, or unnamed
    # regulatory features) would otherwise emit a malformed empty
    # "ID="; BioPerl's generic-id fallback names it from its method
    # and location instead (bp_genbank2gff3.pl:955-975 add_generic_id
    # when the feature carries no usable tag).
    is_anon = (
        (F.length("gb_id") == 0)
        & (F.length("gb_parent") == 0)
        & (F.length("feature_id") == 0)
    )
    anon_id = F.concat(
        F.col("feature_type"),
        F.lit(":"),
        F.col("seqid"),
        F.lit(":"),
        F.col("start"),
        F.lit(".."),
        F.col("end"),
    )
    gff_id = F.when(
        is_generic,
        F.concat(F.col("feature_type"), F.lit(":"), F.col("gb_id")),
    ).otherwise(
        F.when(F.length("gb_id") > 0, F.col("gb_id")).otherwise(
            F.when(is_leaf, F.lit(""))
            .otherwise(
                F.when(is_anon, anon_id).otherwise(F.col("feature_id"))
            )
        )
    )
    id_attr = F.when(is_leaf, F.lit("")).otherwise(
        F.concat(F.lit("ID="), gff_id)
    )
    parent_attr = F.when(
        F.length("gb_parent") > 0,
        # Gene-model parentage, as the unflattener's GFF3 carries
        # it (bp_genbank2gff3.pl gene_features Parent tags).
        F.concat(
            F.when(is_leaf, F.lit("Parent=")).otherwise(F.lit(";Parent=")),
            F.col("gb_parent"),
        ),
    ).otherwise(F.lit(""))
    entries = F.array_sort(F.map_entries("qualifiers"))
    kept = F.filter(entries, lambda e: ~e.getField("key").isin(*_ATTR_EXCLUDE))
    extra = F.array_join(
        F.transform(
            kept,
            lambda e: F.concat(
                _gff3_escape(e.getField("key")),
                F.lit("="),
                # multi-values (\x1f-joined at parse) escape each
                # part INDEPENDENTLY, then comma-join per GFF3
                F.array_join(
                    F.transform(
                        F.split(e.getField("value"), "\x1f"),
                        _gff3_escape,
                    ),
                    ",",
                ),
            ),
        ),
        ";",
    )
    extra_tail = F.when(
        F.length(extra) > 0, F.concat(F.lit(";"), extra)
    ).otherwise(F.lit(""))
    return feats.filter(F.col("feature_type") != "source").select(
        "file",
        "seqid",
        F.lit("genbank").alias("source"),
        "feature_type",
        F.col("_seg.seg_start").alias("start"),
        F.col("_seg.seg_end").alias("end"),
        F.lit(".").alias("score"),
        "strand",
        F.lit(".").alias("phase"),
        F.concat(
            id_attr,
            parent_attr,
            F.when(
                (F.length("feature_id") > 0) & (gff_id != F.col("feature_id")),
                F.concat(F.lit(";locus_tag="), F.col("feature_id")),
            ).otherwise(F.lit("")),
            F.when(
                F.length(product) > 0, F.concat(F.lit(";product="), product)
            ).otherwise(F.lit("")),
            extra_tail,
        ).alias("attributes"),
        gff_id.alias("feature_id"),
    )


# GenBank feature-table key -> Sequence Ontology term, the subset of
# BioPerl's Bio::SeqFeature::Tools::TypeMapper::FT_SO_map the
# unflattener applies when no .obo file is given
# (bp_genbank2gff3.pl:315-368 falls back to the hard-coded table;
# :484 maps 'source' to the region source_type; :534-536 note the
# pseudo/misc_RNA rewrites).  Identity mappings (gene, mRNA, CDS,
# exon, tRNA, rRNA, ...) are omitted — unmapped keys pass through.
FT_SO_SUBSET: dict[str, str] = {
    "-10_signal": "minus_10_signal",
    "-35_signal": "minus_35_signal",
    "3'UTR": "three_prime_UTR",
    "5'UTR": "five_prime_UTR",
    "D-loop": "D_loop",
    "LTR": "long_terminal_repeat",
    "misc_RNA": "processed_transcript",
    "misc_binding": "binding_site",
    "misc_difference": "sequence_difference",
    "misc_feature": "region",
    "misc_signal": "regulatory_region",
    "misc_structure": "sequence_secondary_structure",
    "mobile_element": "mobile_genetic_element",
    "polyA_signal": "polyA_signal_sequence",
    "polyA_site": "polyA_site",
    "primer_bind": "primer_binding_site",
    "protein_bind": "protein_binding_site",
    "pseudomRNA": "pseudogenic_transcript",
    "pseudotranscript": "pseudogenic_transcript",
    "rep_origin": "origin_of_replication",
    "satellite": "satellite_DNA",
    "sig_peptide": "signal_peptide",
    "source": "region",
    "variation": "sequence_variant",
}


def load_type_map(spark: SparkSession, path: str) -> DataFrame:
    """Read an FT->SO type-map table: two tab-separated columns
    ``(ft_key, so_type)``, ``#`` comments — the configuration seat
    bp_genbank2gff3.pl fills from an ontology file (map_types :1180
    prefers the .obo-derived map over the hard-coded fallback table).
    The engine consumes the already-derived table rather than parsing
    OBO: the ontology -> table step is offline curation, the
    distributed work is applying it."""
    return (
        spark.read.option("sep", "\t")
        .option("comment", "#")
        .schema("ft_key string, so_type string")
        .csv(path)
    )


def with_so_type(
    df: DataFrame,
    type_map: dict | DataFrame | None = None,
) -> DataFrame:
    """Add an ``so_type`` column: the Sequence Ontology term for the
    GenBank feature key (bp_genbank2gff3.pl map_types, :1180), keys
    without a mapping passing through unchanged.

    ``type_map`` selects the configuration (VERDICT r11 #6):

    * ``None`` — the no-ontology-file fallback ``FT_SO_SUBSET``
      (:315-368's hard-coded table), as a pure chained-when
      expression — no UDF, no shuffle;
    * a ``dict`` — same chained-when shape over the given literal
      map (small curated overrides);
    * a ``DataFrame`` with columns ``(ft_key, so_type)`` (e.g. from
      :func:`load_type_map`) — a BROADCAST left join + coalesce
      fallback.  The scale-correct form for an obo-derived map: a
      full ontology table runs to thousands of entries, where a
      chained CASE would blow up the expression tree, while the map
      side stays trivially broadcastable.

    On the table path one ``ft_key`` may map to DIFFERENT ``so_type``
    values (the dict path makes such conflicts impossible, so silently
    picking a winner would mask a data error — ADVICE r13).
    Exact-duplicate rows dedup harmlessly; a genuine conflict raises
    at EXECUTION time (a lazy ``raise_error`` branch: building the
    plan stays jobless, per the test_plans no-eager-actions contract)
    for any conflicted key a feature row actually resolves through,
    naming the key."""
    ft = F.col("feature_type")
    if type_map is None or isinstance(type_map, dict):
        literal = FT_SO_SUBSET if type_map is None else type_map
        expr = ft
        for k, v in sorted(literal.items()):
            expr = F.when(ft == k, F.lit(v)).otherwise(expr)
        return df.withColumn("so_type", expr)
    # A duplicate ft_key row in a user-supplied map table would
    # silently FAN OUT feature rows through the join — impossible in
    # the dict path, so the table path must dedup (ADVICE r12).
    # distinct() first: exact re-statements of one mapping are not
    # conflicts; max() keeps the reduction deterministic
    # (dropDuplicates picks an arbitrary survivor, which would float
    # the driver hash) and the distinct-value count feeds the
    # conflict guard.
    m = (
        type_map.select(
            F.col("ft_key").alias("__ft_key"), F.col("so_type").alias("__so")
        )
        .distinct()
        .groupBy("__ft_key")
        .agg(F.max("__so").alias("__so"), F.count(F.lit(1)).alias("__n"))
    )
    so = F.when(
        F.col("__n") > 1,
        F.raise_error(
            F.concat(
                F.lit("with_so_type: conflicting so_type values for "
                      "ft_key '"),
                F.col("__ft_key"),
                F.lit("' in the supplied type map"),
            )
        ).cast("string"),
    ).otherwise(F.coalesce(F.col("__so"), ft))
    return (
        df.join(F.broadcast(m), ft == F.col("__ft_key"), "left")
        .withColumn("so_type", so)
        .drop("__ft_key", "__so", "__n")
    )
