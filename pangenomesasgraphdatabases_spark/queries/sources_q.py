"""Oracle coverage for the file-format parsers (S1/S3/W1-over-raw) over
the committed raw PIRATE-shaped fixture tree at fixtures_data/pirate_raw
(written by graph/fixtures.write_raw_pirate_dir; both engines read the
same files at an absolute path)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pangenomesasgraphdatabases_spark.queries.registry import register
from pangenomesasgraphdatabases_spark.sources.fasta import (
    read_representative_headers,
)
from pangenomesasgraphdatabases_spark.sources.genbank import (
    read_genbank_features,
)
from pangenomesasgraphdatabases_spark.sources.pirate import read_coords

FIXTURES = Path(__file__).resolve().parents[2] / "fixtures_data"
RAW = str(FIXTURES / "pirate_raw")
GBK = str(FIXTURES / "genbank")


@register(
    "etl_coords_scan",
    oracle=f"""
    SELECT Name, Start, "End", Length,
           Type AS FeatureType, CAST(Strand AS VARCHAR) AS Strand,
           regexp_extract(filename, '([^/]+?)\\.[^/]*$', 1) AS Strain
    FROM read_csv('{RAW}/co-ords/*.tsv', delim='\t', header=true,
                  filename=true)
    """,
    tags=("S1", "parser"),
)
def etl_coords_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: directory-glob TSV scan with filename-derived Strain column
    (pirateToDatabase.py:20-29) — one distributed csv read replaces the
    reference's per-file pandas concat loop."""
    return read_coords(spark, f"{RAW}/co-ords/*.tsv").select(
        "Name", "Start", "End", "Length", "FeatureType", "Strand", "Strain"
    )


@register(
    "etl_repr_headers",
    oracle=f"""
    WITH lines AS (
        SELECT unnest(string_split(content, chr(10))) AS line
        FROM read_text('{RAW}/representative_sequences.ffn')
    )
    SELECT regexp_extract(line, '^>([^;]+)', 1) AS cluster_name,
           regexp_extract(line, 'locus_tag=([^;]+)', 1) AS reference_locus
    FROM lines WHERE line LIKE '>%'
    """,
    tags=("S3", "parser"),
)
def etl_repr_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: FASTA header scan -> (cluster_name, reference_locus)
    (pirateToDatabase.py:41-54)."""
    return read_representative_headers(
        spark, f"{RAW}/representative_sequences.ffn"
    )


@register(
    "etl_neighbour_edges",
    oracle=f"""
    WITH coords AS (
        SELECT Name, Start,
               regexp_extract(filename, '([^/]+?)\\.[^/]*$', 1) AS Strain
        FROM read_csv('{RAW}/co-ords/*.tsv', delim='\t', header=true,
                      filename=true)
    )
    SELECT src AS sourceFeature, Name AS receivingFeature
    FROM (
        SELECT Name,
               lag(Name) OVER (PARTITION BY Strain ORDER BY Start, Name) AS src
        FROM coords
    ) WHERE src IS NOT NULL
    """,
    tags=("W1", "S6", "parser"),
)
def etl_neighbour_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 over the raw files: the neighbourEdges.csv content of the ETL
    (pirateToDatabase.py:299-327) with intended per-strain semantics."""
    from pangenomesasgraphdatabases_spark.graph.etl import neighbour_edges

    return neighbour_edges(read_coords(spark, f"{RAW}/co-ords/*.tsv"))


# Shared oracle prefix: re-parse the .gbk fixture tree in SQL down to
# one row per feature block (file, rec, blk, key, loc, locus_tag,
# product, pseudo) — used by both etl_genbank_scan and
# etl_genbank_gene_models.
def _gbk_blocks_sql(gbk_dir: str) -> str:
    """The record/feature-block CTE chain over a .gbk glob — shared by
    every GenBank oracle; parameterized so fixture trees with
    different purposes (gene models vs type mapping) don't share a
    glob (a new file in one must not move the other's driver hash)."""
    return rf"""
    raw AS (
        SELECT regexp_extract(filename, '([^/]+?)\.[^/]*$', 1) AS file,
               string_split(content, chr(10)) AS ls
        FROM read_text('{gbk_dir}/*.gbk')
    ),
    lines AS (
        SELECT file, unnest(ls) AS line, generate_subscripts(ls, 1) AS rn
        FROM raw
    ),
    marked AS (
        SELECT file, line, rn,
               count(*) FILTER (WHERE line LIKE 'LOCUS%')
                   OVER (PARTITION BY file ORDER BY rn) AS rec,
               count(*) FILTER (WHERE line LIKE 'FEATURES%')
                   OVER (PARTITION BY file ORDER BY rn) AS n_feat_hdr,
               count(*) FILTER (WHERE line LIKE 'ORIGIN%'
                                   OR line LIKE 'CONTIG%')
                   OVER (PARTITION BY file ORDER BY rn) AS n_origin
        FROM lines
    ),
    recs AS (
        SELECT file, rec,
               max(regexp_extract(line, '^LOCUS\s+(\S+)', 1))
                   FILTER (WHERE line LIKE 'LOCUS%') AS seqid
        FROM marked GROUP BY file, rec
    ),
    feat_lines AS (
        SELECT file, rec, line, rn,
               count(*) FILTER (WHERE regexp_matches(line, '^ {{5}}\S'))
                   OVER (PARTITION BY file, rec ORDER BY rn) AS blk
        FROM marked
        WHERE n_feat_hdr > n_origin AND line NOT LIKE 'FEATURES%'
    ),
    blocks AS (
        SELECT file, rec, blk,
               max(regexp_extract(line, '^ {{5}}(\S+)', 1))
                   FILTER (WHERE regexp_matches(line, '^ {{5}}\S')) AS key,
               max(trim(regexp_extract(line, '^ {{5}}\S+\s+(.*)$', 1)))
                   FILTER (WHERE regexp_matches(line, '^ {{5}}\S')) AS loc,
               coalesce(max(regexp_extract(line, '/locus_tag="([^"]+)"', 1)),
                        '') AS locus_tag,
               coalesce(max(regexp_extract(line, '/gene="([^"]+)"', 1)),
                        '') AS gene_tag,
               coalesce(max(regexp_extract(line, '/product="([^"]+)"', 1)),
                        '') AS product,
               bool_or(regexp_matches(line, '^\s+/pseudo\s*$')) AS pseudo
        FROM feat_lines
        WHERE blk > 0
        GROUP BY file, rec, blk
    )
"""


# The historical constant: the gene-model fixture tree's blocks CTE
# (etl_genbank_scan / etl_genbank_gene_models build on it verbatim).
_GBK_BLOCKS_SQL = _gbk_blocks_sql(GBK)


@register(
    "etl_genbank_scan",
    oracle=rf"""
    WITH {_GBK_BLOCKS_SQL}
    SELECT b.file, r.seqid,
           CASE WHEN b.key = 'gene' AND b.pseudo THEN 'pseudogene'
                ELSE b.key END AS feature_type,
           CAST(list_min(list_transform(regexp_extract_all(b.loc, '[0-9]+'),
                                        x -> CAST(x AS INT))) AS INT)
               AS "start",
           CAST(list_max(list_transform(regexp_extract_all(b.loc, '[0-9]+'),
                                        x -> CAST(x AS INT))) AS INT)
               AS "end",
           CASE WHEN contains(b.loc, 'complement(') THEN '-' ELSE '+' END
               AS strand,
           b.locus_tag AS feature_id, b.product
    FROM blocks b JOIN recs r USING (file, rec)
    """,
    tags=("S8", "parser"),
)
def etl_genbank_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: GenBank flat-file feature scan over the committed fixture
    tree (reference entry point: bp_genbank2gff3.pl per readme.md:29-35
    — minimal field subset, see sources/genbank.py).  The oracle
    re-parses the same files independently in SQL (single-line
    locations/qualifiers in the committed fixtures; the Python parser
    additionally handles continuation lines, covered by pytest)."""
    return read_genbank_features(spark, f"{GBK}/*.gbk").select(
        "file",
        "seqid",
        "feature_type",
        "start",
        "end",
        "strand",
        "feature_id",
        "product",
    )


@register(
    "etl_genbank_gene_models",
    oracle=rf"""
    WITH {_GBK_BLOCKS_SQL},
    gm AS (
        SELECT file, rec, blk, key, locus_tag, pseudo,
               CASE WHEN locus_tag <> '' THEN locus_tag
                    WHEN gene_tag <> '' THEN gene_tag
                    ELSE '' END AS own,
               count(*) FILTER (WHERE key = 'gene')
                   OVER (PARTITION BY file, rec ORDER BY blk) AS gseq
        FROM blocks
    ),
    gene_of AS (
        SELECT file, rec, gseq, own AS gene_id
        FROM gm WHERE key = 'gene'
    ),
    linked AS (
        SELECT g.file, g.rec, g.blk, g.key, g.locus_tag, g.own, g.pseudo,
               g.gseq,
               coalesce(go.gene_id, '') AS gene_id,
               (coalesce(go.gene_id, '') <> ''
                AND (g.own = '' OR g.own = go.gene_id))
                   AS is_linked
        FROM gm g LEFT JOIN gene_of go USING (file, rec, gseq)
    ),
    mrna AS (
        SELECT file, rec, gseq, blk,
               row_number() OVER (PARTITION BY file, rec, gseq
                                  ORDER BY blk) AS tnum
        FROM linked WHERE key = 'mRNA' AND is_linked
    ),
    ncrna AS (
        SELECT file, rec, gseq, blk,
               row_number() OVER (PARTITION BY file, rec, gseq
                                  ORDER BY blk) AS rnum
        FROM linked
        WHERE key <> 'mRNA' AND is_linked
          AND (key LIKE '%RNA%' OR key LIKE '%transcript%')
    ),
    cds_rna AS (
        SELECT c.file, c.rec, c.blk, max(m.tnum) AS tnum
        FROM linked c JOIN mrna m
          ON m.file = c.file AND m.rec = c.rec AND m.gseq = c.gseq
         AND m.blk < c.blk
        WHERE c.key IN ('CDS', 'protein', 'polypeptide') AND c.is_linked
        GROUP BY c.file, c.rec, c.blk
    ),
    exon_rna AS (
        SELECT x.file, x.rec, x.blk,
               max(m.tnum) AS tnum
        FROM linked x JOIN mrna m
          ON m.file = x.file AND m.rec = x.rec AND m.gseq = x.gseq
         AND m.blk < x.blk
        WHERE x.key = 'exon' AND x.is_linked
        GROUP BY x.file, x.rec, x.blk
    ),
    exon_ncr AS (
        SELECT x.file, x.rec, x.blk,
               max(n2.rnum) AS rnum
        FROM linked x JOIN ncrna n2
          ON n2.file = x.file AND n2.rec = x.rec AND n2.gseq = x.gseq
         AND n2.blk < x.blk
        WHERE x.key = 'exon' AND x.is_linked
        GROUP BY x.file, x.rec, x.blk
    ),
    exon_top AS (
        -- exon under a TOP-LEVEL RNA (bp_genbank2gff3.pl:866-875): a
        -- non-mRNA RNA/transcript BEFORE the first gene (gene_id='')
        -- acts as its own top level and owns subsequent exons; the
        -- latest such RNA wins, and a gene resets the state — both
        -- enforced by gene_id='' on each side (post-gene rows carry
        -- a nonempty gene_id).
        SELECT x.file, x.rec, x.blk, max(t.blk) AS tblk
        FROM linked x JOIN linked t
          ON t.file = x.file AND t.rec = x.rec AND t.blk < x.blk
        WHERE x.key = 'exon' AND x.gene_id = '' AND x.own = ''
          AND t.gene_id = '' AND t.key <> 'mRNA'
          AND (t.key LIKE '%RNA%' OR t.key LIKE '%transcript%')
        GROUP BY x.file, x.rec, x.blk
    ),
    exon_topid AS (
        SELECT e.file, e.rec, e.blk, t.own AS top_parent
        FROM exon_top e JOIN linked t
          ON t.file = e.file AND t.rec = e.rec AND t.blk = e.tblk
    )
    SELECT l.file, r.seqid,
           CASE WHEN l.key = 'gene' AND l.pseudo THEN 'pseudogene'
                ELSE l.key END AS feature_type,
           l.locus_tag AS feature_id,
           CASE
             WHEN l.key = 'gene' THEN l.gene_id
             WHEN l.key = 'mRNA' AND m.tnum IS NOT NULL
                  THEN l.gene_id || '.t0' || CAST(m.tnum AS VARCHAR)
             WHEN l.key <> 'mRNA'
                  AND (l.key LIKE '%RNA%' OR l.key LIKE '%transcript%')
                  AND n.rnum IS NOT NULL
                  THEN l.gene_id || '.r0' || CAST(n.rnum AS VARCHAR)
             WHEN l.key IN ('CDS', 'protein', 'polypeptide')
                  AND c.tnum IS NOT NULL
                  THEN regexp_replace(
                       l.gene_id || '.t0' || CAST(c.tnum AS VARCHAR),
                       '\.t', '.p')
             WHEN l.key = 'exon'
                  AND (xm.tnum IS NOT NULL OR xn.rnum IS NOT NULL
                       OR xt.top_parent IS NOT NULL)
                  THEN ''
             ELSE l.own
           END AS gb_id,
           CASE
             WHEN l.key = 'mRNA' AND m.tnum IS NOT NULL THEN l.gene_id
             WHEN l.key <> 'mRNA' AND l.key <> 'gene'
                  AND (l.key LIKE '%RNA%' OR l.key LIKE '%transcript%')
                  AND n.rnum IS NOT NULL THEN l.gene_id
             WHEN l.key IN ('CDS', 'protein', 'polypeptide')
                  AND c.tnum IS NOT NULL
                  THEN l.gene_id || '.t0' || CAST(c.tnum AS VARCHAR)
             WHEN l.key = 'exon' AND xm.tnum IS NOT NULL
                  THEN l.gene_id || '.t0' || CAST(xm.tnum AS VARCHAR)
             WHEN l.key = 'exon' AND xn.rnum IS NOT NULL
                  THEN l.gene_id || '.r0' || CAST(xn.rnum AS VARCHAR)
             WHEN l.key = 'exon' AND xt.top_parent IS NOT NULL
                  THEN xt.top_parent
             WHEN l.key NOT IN ('gene', 'mRNA', 'CDS', 'protein',
                                'polypeptide', 'exon')
                  AND NOT (l.key LIKE '%RNA%' OR l.key LIKE '%transcript%')
                  AND l.gene_id <> '' AND l.own = l.gene_id
                  THEN l.gene_id
             ELSE ''
           END AS gb_parent
    FROM linked l
    JOIN recs r USING (file, rec)
    LEFT JOIN mrna m ON m.file = l.file AND m.rec = l.rec AND m.blk = l.blk
    LEFT JOIN ncrna n ON n.file = l.file AND n.rec = l.rec AND n.blk = l.blk
    LEFT JOIN cds_rna c ON c.file = l.file AND c.rec = l.rec
                        AND c.blk = l.blk
    LEFT JOIN exon_rna xm ON xm.file = l.file AND xm.rec = l.rec
                          AND xm.blk = l.blk
    LEFT JOIN exon_ncr xn ON xn.file = l.file AND xn.rec = l.rec
                          AND xn.blk = l.blk
    LEFT JOIN exon_topid xt ON xt.file = l.file AND xt.rec = l.rec
                            AND xt.blk = l.blk
    """,
    tags=("S8", "parser", "gene-model"),
)
def etl_genbank_gene_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 gene-model subset (VERDICT r10 #4): the ID/Parent
    association BioPerl's unflattener assigns (bp_genbank2gff3.pl:835
    ``gene_features``) over the multi-record fixture tree — mRNAs get
    ``<gene>.t0<n>`` under their gene, each CDS derives
    ``<gene>.p0<n>`` from (and parents to) the CURRENT mRNA, non-mRNA
    RNAs get ``<gene>.r0<n>``, and a feature whose own gene link
    names a different gene stays top-level (GM_NOT_PART), as does a
    CDS with no mRNA.  The oracle replays the same sequential state
    machine with window functions (gene ordinal -> per-model
    row_number -> last-mRNA-before-CDS/exon max), so every id and
    parent is hash-pinned against an independent implementation.
    Gene links resolve through locus_tag, falling back to the /gene
    qualifier, on BOTH sides; the CDS '.t'->'.p' substitution is
    first-occurrence on both sides (BioPerl's single s///).  r12
    (VERDICT r11 #6) closes the last scope gap: an exon under a
    TOP-LEVEL RNA (no enclosing gene, bp_genbank2gff3.pl:866-875)
    parents to the latest preceding top-level non-mRNA RNA — fixture
    strainD.gbk plants the case (plus a post-gene orphan exon), and
    the oracle replays it with a latest-top-RNA max join gated on
    gene_id='' on both sides."""
    return read_genbank_features(spark, f"{GBK}/*.gbk").select(
        "file",
        "seqid",
        "feature_type",
        "feature_id",
        "gb_id",
        "gb_parent",
    )


_GF_GENOME_COLS = [f"S0{i}" for i in range(1, 9)]  # fixture strain columns
_GF_CLEANED = ", ".join(
    f"replace(regexp_replace(\"{c}\", '[()]', '', 'g'), ':', ';')"
    for c in _GF_GENOME_COLS
)
_FP48_DUCK = "CAST(('0x' || substr(md5({expr}), 1, 12)) AS BIGINT)"

_ETL_E2E_ORACLE = f"""
    WITH coords AS (
        SELECT Name, Start, "End", Length, Type AS FeatureType,
               CAST(Strand AS VARCHAR) AS Strand, Product,
               regexp_extract(filename, '([^/]+?)\\.[^/]*$', 1) AS Strain
        FROM read_csv('{RAW}/co-ords/*.tsv', delim='\t', header=true,
                      filename=true)
    ),
    repr AS (
        SELECT regexp_extract(line, '^>([^;]+)', 1) AS cluster_name,
               regexp_extract(line, 'locus_tag=([^;]+)', 1) AS reference_locus
        FROM (SELECT unnest(string_split(content, chr(10))) AS line
              FROM read_text('{RAW}/representative_sequences.ffn'))
        WHERE line LIKE '>%'
    ),
    gf AS (
        SELECT allele_name, gene_family, consensus_product,
               CAST(threshold AS INTEGER) AS threshold,
               CAST(number_genomes AS INTEGER) AS number_genomes,
               list_filter(string_split(concat_ws(';', {_GF_CLEANED}), ';'),
                           x -> x <> '' AND x <> '0') AS feature_ids
        FROM read_csv('{RAW}/PIRATE.gene_families.tsv', delim='\t',
                      header=true, all_varchar=true)
    ),
    feat_fa AS (
        SELECT Cluster, Feature, Seq FROM (
            SELECT regexp_extract(filename, '([^/]+?)\\.[^/]*$', 1) AS Cluster,
                   trim(split_part(rec, chr(10), 1)) AS Feature,
                   replace(CASE WHEN strpos(rec, chr(10)) = 0 THEN rec
                                ELSE substr(rec, strpos(rec, chr(10)) + 1)
                           END, chr(10), '') AS Seq
            FROM (SELECT filename, unnest(string_split(content, '>')) AS rec
                  FROM read_text('{RAW}/feature_sequences/*.fasta'))
            WHERE len(trim(rec)) > 0
        ) WHERE len(Seq) > 0
    ),
    strain_seqs AS (
        SELECT regexp_extract(filename, '([^/]+?)\\.[^/]*$', 1) AS Strain,
               replace(regexp_replace(string_split(content, '##FASTA')[-1],
                                      '(?m)^>.*$', '', 'g'), chr(10), '')
                   AS Sequence
        FROM read_text('{RAW}/modified_gffs/*.gff')
    ),
    with_locus AS (
        SELECT f.Cluster, f.Feature, f.Seq, r.reference_locus
        FROM feat_fa f JOIN repr r ON f.Cluster = r.cluster_name
    ),
    aligned_ref AS (
        SELECT a.Cluster, a.Feature, a.Seq, a.reference_locus,
               r.Seq AS Seq_reference
        FROM with_locus a LEFT JOIN with_locus r
          ON a.reference_locus = r.Feature AND a.Cluster = r.Cluster
    ),
    pairs AS (SELECT DISTINCT Seq, Seq_reference FROM aligned_ref),
    diff0 AS (
        SELECT Seq, Seq_reference, i, substr(Seq, i, 1) AS a
        FROM pairs, generate_series(1, 4000) t(i)
        WHERE Seq_reference IS NOT NULL
          AND i <= least(len(Seq), len(Seq_reference))
          AND substr(Seq, i, 1) <> substr(Seq_reference, i, 1)
    ),
    diff1 AS (
        SELECT Seq, Seq_reference, i, a,
               i - coalesce(lag(i) OVER (PARTITION BY Seq, Seq_reference
                                         ORDER BY i), 1) AS dist
        FROM diff0
    ),
    enc AS (
        SELECT Seq, Seq_reference,
               string_agg(CAST(dist AS VARCHAR) || a, '' ORDER BY i) AS var
        FROM diff1 GROUP BY Seq, Seq_reference
    ),
    var_pairs AS (
        SELECT p.Seq, p.Seq_reference,
               CASE WHEN p.Seq_reference IS NULL THEN NULL
                    ELSE coalesce(e.var, '') END AS Variation
        FROM pairs p LEFT JOIN enc e
          ON p.Seq = e.Seq AND p.Seq_reference = e.Seq_reference
    ),
    per_feature AS (
        SELECT a.Feature, v.Variation
        FROM aligned_ref a LEFT JOIN var_pairs v
          ON a.Seq = v.Seq AND a.Seq_reference = v.Seq_reference
    ),
    features AS (
        SELECT c.*, p.Variation
        FROM coords c LEFT JOIN per_feature p ON c.Name = p.Feature
    ),
    fnodes AS (
        SELECT f.Name, f.Start, f."End", f.Length, f.Strand, f.Product,
               f.Strain, f.FeatureType,
               coalesce(f.Variation, '') AS Variation,
               CASE WHEN f.Variation IS NULL
                    THEN substr(s.Sequence, f.Start, f."End" - f.Start + 1)
                    ELSE '' END AS FullSequences
        FROM features f LEFT JOIN strain_seqs s ON f.Strain = s.Strain
    ),
    member AS (
        SELECT g.allele_name, unnest(g.feature_ids) AS Name FROM gf g
    ),
    lengths AS (
        SELECT m.allele_name, min(c.Length) AS min_length,
               max(c.Length) AS max_length
        FROM member m JOIN coords c ON m.Name = c.Name
        GROUP BY m.allele_name
    ),
    ref_seq AS (
        SELECT Cluster AS gene_family_key, Seq AS Seq_out
        FROM aligned_ref WHERE Feature = reference_locus
    ),
    cnodes AS (
        SELECT g.allele_name, g.gene_family, g.consensus_product,
               g.threshold, g.number_genomes, l.min_length, l.max_length,
               array_to_string(g.feature_ids, ';') AS feature,
               r.reference_locus, rs.Seq_out AS Seq
        FROM gf g
        JOIN repr r ON g.gene_family = r.cluster_name
        LEFT JOIN lengths l ON g.allele_name = l.allele_name
        LEFT JOIN ref_seq rs ON g.gene_family = rs.gene_family_key
    ),
    edges AS (
        SELECT src AS sourceFeature, Name AS receivingFeature
        FROM (SELECT Name, lag(Name) OVER (PARTITION BY Strain
                                           ORDER BY Start, Name) AS src
              FROM coords)
        WHERE src IS NOT NULL
    ),
    ffp AS (
        SELECT {_FP48_DUCK.format(expr='''concat_ws('|', Name, Start, "End",
            Length, Strand, Product, Strain, FeatureType, Variation,
            FullSequences)''')} AS fp
        FROM fnodes
    ),
    cfp AS (
        SELECT {_FP48_DUCK.format(expr='''concat_ws('|', allele_name,
            gene_family, consensus_product, threshold, number_genomes,
            min_length, max_length, feature, reference_locus,
            coalesce(Seq, ''))''')} AS fp
        FROM cnodes
    ),
    efp AS (
        SELECT {_FP48_DUCK.format(
            expr="concat_ws('>', sourceFeature, receivingFeature)"
        )} AS fp
        FROM edges
    )
    SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM fnodes) AS n_features,
        (SELECT CAST(coalesce(sum(fp), 0) AS BIGINT) FROM ffp) AS feat_fp,
        (SELECT CAST(count(*) AS BIGINT) FROM cnodes) AS n_clusters,
        (SELECT CAST(coalesce(sum(fp), 0) AS BIGINT) FROM cfp) AS cluster_fp,
        (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
        (SELECT CAST(coalesce(sum(fp), 0) AS BIGINT) FROM efp) AS edge_fp
"""


def _fp48(col):
    """48-bit md5-derived content fingerprint — engine-portable (the
    minhash base-hash discipline: md5 is byte-identical across
    engines); 12 hex chars keep the SUM inside int64 up to ~32k rows
    (56 bits overflowed at 340 rows under ANSI)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


@register(
    "etl_pirate_to_graph",
    oracle=_ETL_E2E_ORACLE,
    tags=("S1", "S2", "S3", "S4", "S5", "J1", "J4", "F5", "F6", "W1",
          "etl-e2e"),
)
def etl_pirate_to_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL PIRATE->graph ETL as one oracled row (VERDICT r9 #7):
    graph/etl.pirate_to_graph runs end-to-end over the committed raw
    fixture tree — S1 coords glob, S2 wide gene-families TSV, S3/S4
    FASTA headers+records, S5 GFF FASTA tails, J1-J5 joins, F6 delta
    encoding (dedup-before-UDF), F5 genomic substrings, W1 neighbour
    window — and each output table is reduced to (count, content
    fingerprint): the sum over rows of a 48-bit md5 of the row's
    canonical '|'-joined rendering.  The oracle re-derives all three
    tables INDEPENDENTLY in SQL, including the delta encoding
    (positional diff + lag-window distance + ordered string_agg,
    mirroring functions/sequence.delta_encode_py): any drift in any
    parser, join, window, or the variation codec shifts a fingerprint.
    average_length columns are excluded from the rendering (double
    accumulation order is not cross-engine-stable; min/max lock the
    same member join).  The oracle's diff scan is bounded at 4000
    positions (DuckDB's generate_series cannot take a lateral length;
    fixture alignments are 12 bp — the bound is fixture-local, the
    Spark side has no such limit).  Reference:
    pirateToDatabase.py:333-377."""
    from pangenomesasgraphdatabases_spark.graph.etl import pirate_to_graph

    out = pirate_to_graph(spark, RAW)
    fn = out.feature_nodes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_features"),
        F.coalesce(
            F.sum(
                _fp48(
                    F.concat_ws(
                        "|", "Name", "Start", "End", "Length", "Strand",
                        "Product", "Strain", "FeatureType", "Variation",
                        "FullSequences",
                    )
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("feat_fp"),
    )
    cl = out.cluster_nodes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.coalesce(
            F.sum(
                _fp48(
                    F.concat_ws(
                        "|", "allele_name", "gene_family",
                        "consensus_product", "threshold", "number_genomes",
                        "min_length", "max_length", "feature",
                        "reference_locus", F.coalesce("Seq", F.lit("")),
                    )
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("cluster_fp"),
    )
    ed = out.neighbour_edges.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.coalesce(
            F.sum(_fp48(F.concat_ws(">", "sourceFeature", "receivingFeature"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("edge_fp"),
    )
    return fn.crossJoin(cl).crossJoin(ed)


# FT->SO type mapping (bp_genbank2gff3.pl map_types, :1180, no-obo
# configuration): its own fixture tree so the gene-model queries'
# driver hashes never move when this fixture grows.
GBT = str(FIXTURES / "genbank_types")


def _so_case_sql(col: str) -> str:
    """CASE expression applying FT_SO_SUBSET in SQL — generated from
    the SAME literal table the Spark helper chains (single source of
    truth; a map edit moves both sides together)."""
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        FT_SO_SUBSET,
    )

    whens = "\n               ".join(
        f"WHEN '{k.replace(chr(39), chr(39) * 2)}' "
        f"THEN '{v.replace(chr(39), chr(39) * 2)}'"
        for k, v in sorted(FT_SO_SUBSET.items())
    )
    return f"CASE {col}\n               {whens}\n               ELSE {col} END"


@register(
    "etl_genbank_so_types",
    oracle=rf"""
    WITH {_gbk_blocks_sql(GBT)},
    feats AS (
        SELECT CASE WHEN key = 'gene' AND pseudo THEN 'pseudogene'
                    ELSE key END AS feature_type
        FROM blocks
    )
    SELECT feature_type,
           {_so_case_sql("feature_type")} AS so_type,
           CAST(count(*) AS BIGINT) AS n
    FROM feats
    GROUP BY 1, 2
    """,
    tags=("S8", "parser", "type-map"),
)
def etl_genbank_so_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 FT->SO type mapping (bp_genbank2gff3.pl ``map_types``, :1180,
    in its no-ontology-file configuration — the hard-coded
    Bio::SeqFeature::Tools::TypeMapper::FT_SO_map subset): every
    feature key of the type-mapping fixture tree mapped to its
    Sequence Ontology term via sources/genbank.with_so_type (a pure
    chained-when expression, no UDF), unmapped keys passing through.
    The fixture exercises 20 of the 24 mapped keys plus identity
    passthroughs and the pseudo-gene rewrite; the oracle re-parses the
    same files and applies a CASE generated from the SAME literal map,
    so a drifted entry on either side fails the hash."""
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        with_so_type,
    )

    feats = read_genbank_features(spark, f"{GBT}/*.gbk")
    return (
        with_so_type(feats)
        .groupBy("feature_type", "so_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# Table-driven FT->SO configuration (VERDICT r11 #6): its own fixture
# tree + map table, so neither the no-obo query's nor the gene-model
# queries' driver hashes move when this fixture grows.
GBTX = str(FIXTURES / "genbank_types_ext")


@register(
    "etl_genbank_so_types_mapped",
    oracle=rf"""
    WITH {_gbk_blocks_sql(GBTX)},
    feats AS (
        SELECT CASE WHEN key = 'gene' AND pseudo THEN 'pseudogene'
                    ELSE key END AS feature_type
        FROM blocks
    ),
    tmap AS (
        SELECT ft_key, so_type
        FROM read_csv('{GBTX}/typemap.tsv', delim='\t', header=false,
                      names=['ft_key', 'so_type'])
    )
    SELECT f.feature_type,
           coalesce(m.so_type, f.feature_type) AS so_type,
           CAST(count(*) AS BIGINT) AS n
    FROM feats f LEFT JOIN tmap m ON f.feature_type = m.ft_key
    GROUP BY 1, 2
    """,
    tags=("S8", "parser", "type-map"),
)
def etl_genbank_so_types_mapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 FT->SO type mapping, obo-map CONFIGURATION (VERDICT r11 #6
    — bp_genbank2gff3.pl map_types :1180 prefers the ontology-derived
    map over the hard-coded fallback): the map arrives as a TABLE
    (fixtures_data/genbank_types_ext/typemap.tsv — the no-obo subset
    plus the extended INSDC->SO entries an ontology file supplies:
    misc_recomb->recombination_feature, RBS->ribosome_entry_site,
    mat_peptide->mature_protein_region, TATA_signal->TATA_box, ...)
    and applies as a BROADCAST left join with passthrough coalesce —
    the scale-correct shape for a thousands-of-entries ontology map,
    vs the chained-CASE literal the no-obo twin uses.  The fixture
    exercises extended-map keys, subset keys resolved through the
    table, and an unmapped passthrough (stem_loop); the oracle joins
    the SAME TSV via read_csv, so a drifted table row fails the hash
    on either side."""
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        load_type_map,
        with_so_type,
    )

    feats = read_genbank_features(spark, f"{GBTX}/*.gbk")
    tmap = load_type_map(spark, f"{GBTX}/typemap.tsv")
    return (
        with_so_type(feats, type_map=tmap)
        .groupBy("feature_type", "so_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- S11 builtin aligner (the no-binary answer to the blastn wall) ----------
# SF-invariant corpus generated IN-PLAN from md5 chains (the engine's
# shared idiom — DuckDB's md5 produces the identical hex): 8 subjects
# of 256 nt (8 md5 blocks, hex translated to ACGT), 3 queries per
# subject cut at fixed offsets.  The registered projection keeps only
# FULL-LENGTH EXACT hits (align_len = n_matches = 24, q_start = 1),
# which makes the oracle STRUCTURAL, not probabilistic: such a hit
# exists iff substr(subject, s_start, 24) equals the query — the
# DuckDB side enumerates occurrences by direct substring scan, the
# Spark side must find every one through 11-mer seeding + X-drop
# extension (an exact 24-mer guarantees 14 seeds, far below the
# overrepresented-word cap on this corpus).  Partial-identity and
# X-drop behavior is pinned by tests/test_seed_align.py.
_BLAST_HEX2NT = "ACGTACGTACGTACGT"
_BLAST_OFFSETS = (17, 101, 186)
_BLAST_QLEN = 24


def _blast_corpus(spark: SparkSession):
    seq = F.concat(
        *[
            F.translate(
                F.md5(
                    F.concat(
                        F.lit("blast-"),
                        F.col("id").cast("string"),
                        F.lit(f"-{j}"),
                    )
                ),
                "0123456789abcdef",
                _BLAST_HEX2NT,
            )
            for j in range(8)
        ]
    )
    subjects = spark.range(8).select(
        F.format_string("s%d", F.col("id").cast("int")).alias("subject_id"),
        seq.alias("sequence"),
    )
    q = None
    for off in _BLAST_OFFSETS:
        part = subjects.select(
            F.format_string(
                "q_%s_%d", F.col("subject_id"), F.lit(off)
            ).alias("query_id"),
            F.substring("sequence", off, _BLAST_QLEN).alias("sequence"),
        )
        q = part if q is None else q.unionByName(part)
    return q, subjects


_BLAST_SUBJ_ONLY_SQL = f"""
    subjects AS (
        SELECT 's' || CAST(i AS VARCHAR) AS subject_id,
               translate({" || ".join(
                   f"md5('blast-' || CAST(i AS VARCHAR) || '-{j}')"
                   for j in range(8)
               )},
                         '0123456789abcdef', '{_BLAST_HEX2NT}') AS sequence
        FROM generate_series(0, 7) t(i)
    )
"""

_BLAST_SUBJ_SQL = f"""
    {_BLAST_SUBJ_ONLY_SQL.strip()},
    qs AS (
        SELECT 'q_' || subject_id || '_' || CAST(off AS VARCHAR) AS query_id,
               substr(sequence, off, {_BLAST_QLEN}) AS qseq
        FROM subjects, (VALUES {", ".join(f"({o})" for o in _BLAST_OFFSETS)})
             o(off)
    )
"""


@register(
    "blast_builtin_exact_hits",
    oracle=f"""
    WITH {_BLAST_SUBJ_SQL.strip()}
    SELECT q.query_id, s.subject_id,
           CAST(1 AS INT) AS q_start,
           CAST(p AS INT) AS s_start,
           CAST({_BLAST_QLEN} AS INT) AS align_len,
           CAST({_BLAST_QLEN} AS INT) AS n_matches,
           CAST({_BLAST_QLEN} AS INT) AS score
    FROM qs q, subjects s,
         generate_series(1, 256 - {_BLAST_QLEN} + 1) t(p)
    WHERE substr(s.sequence, p, {_BLAST_QLEN}) = q.qseq
    """,
    tags=("S11", "aligner", "seed-extend"),
)
def blast_builtin_exact_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 without the binary (closing the last environment residue):
    the builtin Spark-native seed-and-extend aligner
    (operators/seed_align — 11-mer inverted-index equi-join seeding
    with the overrepresented-word cap, diagonal grouping, ungapped
    X-drop extension in mapInPandas; reference boundary
    extendingDB_performingBlast.py:63-105) run over the md5-derived
    corpus, projected to FULL-LENGTH EXACT hits so the DuckDB oracle
    can enumerate the same set by direct substring scan — equality is
    structural: a (query, subject, s_start) row with 24/24 matches
    exists on either side iff the 24-char substrings are equal."""
    from pangenomesasgraphdatabases_spark.operators.seed_align import (
        builtin_blast_hits,
    )

    q, s = _blast_corpus(spark)
    # min_score below the 24-nt queries' maximum (the operator default
    # of 28 targets longer queries); partial hits admitted here are
    # removed by the exact-hit projection below either way.
    hits = builtin_blast_hits(q, s, min_score=20)
    return hits.filter(
        (F.col("align_len") == _BLAST_QLEN)
        & (F.col("n_matches") == _BLAST_QLEN)
        & (F.col("q_start") == 1)
    ).select(
        "query_id",
        "subject_id",
        "q_start",
        "s_start",
        "align_len",
        "n_matches",
        "score",
    )


# --- S11 builtin aligner: partial-identity scoring under the hash ----------
# VERDICT r12 #2: the exact-hit projection above never exercises the
# X-drop scoring/n_matches/trim arithmetic — a scoring bug would pass
# the driver.  These two queries plant analytically-solvable variants
# over the SAME md5 corpus: a single point mutation (ungapped path)
# and a single deletion (gapped banded-SW path).
#
# Ungapped closed form (+1/-2, xdrop=20): a 24-nt query with ONE
# interior mutation at 1-based position mp in [4, 21] aligns
# full-length — the X-drop sweep from the diagonal's first seed keeps
# both flanks because each flank past the mismatch regains more than
# the -2 it costs (prefix/suffix of >= 3 matches), and trimming the
# mismatch would lose the longer flank; so q_start=1, align_len=24,
# n_matches=23, score=21.  Outside [4, 21] the optimum TRIMS the
# mismatch (align_len < 24) and the row drops out of the projection
# on BOTH sides.  The oracle does not trust the construction: it
# SCANS every (query, subject, s_start) window and keeps Hamming<=1
# windows with the mismatch (if any) interior — structural equality
# with the Spark side's full-length projection, because a full-length
# HSP with score >= 20 exists iff such a window does (score 24-3*ham
# needs ham <= 1; 11-mer seeding is guaranteed: a Hamming<=1 window
# of 24 has an exact run >= 12).
_BLAST_MUT = ((17, 4), (101, 12), (186, 21))  # (offset, mutated pos)
_BLAST_NWIN = 256 - _BLAST_QLEN + 1


def _blast_mut_corpus(spark: SparkSession):
    _, subjects = _blast_corpus(spark)
    q = None
    for off, mp in _BLAST_MUT:
        base = F.substring("sequence", off, _BLAST_QLEN)
        mut = F.concat(
            F.substring(base, 1, mp - 1),
            F.translate(F.substring(base, mp, 1), "ACGT", "CGTA"),
            F.substring(base, mp + 1, _BLAST_QLEN - mp),
        )
        part = subjects.select(
            F.format_string(
                "qm_%s_%d", F.col("subject_id"), F.lit(off)
            ).alias("query_id"),
            mut.alias("sequence"),
        )
        q = part if q is None else q.unionByName(part)
    return q, subjects


_BLAST_MUT_SQL = f"""
    {_BLAST_SUBJ_ONLY_SQL.strip()},
    qmut AS (
        SELECT 'qm_' || subject_id || '_' || CAST(off AS VARCHAR) AS query_id,
               substr(sequence, off, mp - 1)
               || translate(substr(sequence, off + mp - 1, 1),
                            'ACGT', 'CGTA')
               || substr(sequence, off + mp, {_BLAST_QLEN} - mp) AS qseq
        FROM subjects,
             (VALUES {", ".join(f"({o}, {p})" for o, p in _BLAST_MUT)})
             o(off, mp)
    ),
    wins AS (
        SELECT q.query_id, s.subject_id, p AS s_start,
               count(*) FILTER (
                   WHERE substr(s.sequence, p + i - 1, 1)
                         <> substr(q.qseq, i, 1)) AS ham,
               coalesce(min(i) FILTER (
                   WHERE substr(s.sequence, p + i - 1, 1)
                         <> substr(q.qseq, i, 1)), 0) AS mp
        FROM qmut q, subjects s,
             generate_series(1, {_BLAST_NWIN}) t(p),
             generate_series(1, {_BLAST_QLEN}) g(i)
        GROUP BY 1, 2, 3
    )
"""


@register(
    "blast_builtin_scored_hits",
    oracle=f"""
    WITH {_BLAST_MUT_SQL.strip()}
    SELECT query_id, subject_id,
           CAST(1 AS INT) AS q_start,
           CAST(s_start AS INT) AS s_start,
           CAST({_BLAST_QLEN} AS INT) AS align_len,
           CAST({_BLAST_QLEN} - ham AS INT) AS n_matches,
           CAST({_BLAST_QLEN} - 3 * ham AS INT) AS score
    FROM wins
    WHERE ham = 0 OR (ham = 1 AND mp BETWEEN 4 AND {_BLAST_QLEN - 3})
    """,
    tags=("S11", "aligner", "xdrop-scoring"),
)
def blast_builtin_scored_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 partial-identity scoring under the driver hash (VERDICT
    r12 #2 — the reference consumes SCORED partial hits,
    extendingDB_performingBlast.py:95-105): every query carries one
    planted interior point mutation (positions 4 / 12 / 21 — both
    edges of the analytic-validity interval and the middle), so the
    full-length HSPs the projection keeps have n_matches=23 and
    score=21 ONLY if the X-drop sweep, trim arithmetic and the
    n_matches derivation (score = m - 2(L-m)) are all exact.  The
    oracle is a structural Hamming scan of every alignment window —
    construction-independent."""
    from pangenomesasgraphdatabases_spark.operators.seed_align import (
        builtin_blast_hits,
    )

    q, s = _blast_mut_corpus(spark)
    hits = builtin_blast_hits(q, s, min_score=20)
    return hits.filter(
        (F.col("q_start") == 1) & (F.col("align_len") == _BLAST_QLEN)
    ).select(
        "query_id",
        "subject_id",
        "q_start",
        "s_start",
        "align_len",
        "n_matches",
        "score",
    )


# Gapped closed form (+1/-2, gap=-3, band=8): a 23-nt query built by
# deleting ONE interior base (1-based dp) from a 24-nt subject window
# aligns with exactly one gap column: 23 matches, 1 gap, score 20,
# align_len 24 (23 match columns + 1 gap column), q_start=1,
# s_start=off.  dp must sit DEEP interior: an ungapped flank of F
# matches can extend past the deletion point by the homopolymer run
# there (each neighbor-equal base is a free match), and at F + luck
# >= 20 it TIES the gapped optimum — the DP keeps the first tie, not
# the gapped one (observed at dp=5: flank 19 + 1 lucky neighbor).
# At dp in [10, 14] the max flank is 14, so a tie needs a 6-long
# homopolymer run at the cut — absent from this fixed md5 corpus
# (verified; the corpus is SF-invariant, so the check is permanent).
# At least one flank diagonal seeds (the longer flank is >= 13 >= 11
# at every dp here), and the two flank diagonals sit 1 apart —
# inside the band, so every kept diagonal's banded DP finds the SAME
# optimum and dedups to one row.  A gapped-DP
# oracle is not SQL-expressible; the oracle emits the closed-form
# rows from the same corpus constants (the value hash still pins
# Spark's DP arithmetic to them exactly).
_BLAST_DEL = ((17, 10), (101, 12), (186, 14))  # (offset, deleted pos)


def _blast_del_corpus(spark: SparkSession):
    _, subjects = _blast_corpus(spark)
    q = None
    for off, dp in _BLAST_DEL:
        base = F.substring("sequence", off, _BLAST_QLEN)
        dele = F.concat(
            F.substring(base, 1, dp - 1),
            F.substring(base, dp + 1, _BLAST_QLEN - dp),
        )
        part = subjects.select(
            F.format_string(
                "qg_%s_%d", F.col("subject_id"), F.lit(off)
            ).alias("query_id"),
            dele.alias("sequence"),
        )
        q = part if q is None else q.unionByName(part)
    return q, subjects


@register(
    "blast_builtin_gapped_hits",
    oracle=f"""
    WITH {_BLAST_SUBJ_ONLY_SQL.strip()}
    SELECT 'qg_' || subject_id || '_' || CAST(off AS VARCHAR) AS query_id,
           subject_id,
           CAST(1 AS INT) AS q_start,
           CAST(off AS INT) AS s_start,
           CAST({_BLAST_QLEN} AS INT) AS align_len,
           CAST({_BLAST_QLEN} - 1 AS INT) AS n_matches,
           CAST({_BLAST_QLEN} - 4 AS INT) AS score,
           CAST(1 AS INT) AS gaps
    FROM subjects,
         (VALUES {", ".join(f"({o})" for o, _ in _BLAST_DEL)}) o(off)
    """,
    tags=("S11", "aligner", "banded-sw"),
)
def blast_builtin_gapped_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 gapped banded-Smith-Waterman path under the driver hash
    (VERDICT r12 #2): every query carries one planted deep-interior
    deletion (positions 10 / 12 / 14 — deep enough that no ungapped
    flank can tie the gapped optimum, see the tie analysis above;
    dp=12 leaves the left flank EXACTLY one seed wide), so the
    emitted hits pin the banded DP's score/match/gap/
    column bookkeeping and the origin tracking (q_start/s_start
    without a traceback pass) to the closed form: 23 matches + 1 gap
    = score 20 across 24 columns at the planted coordinates."""
    from pangenomesasgraphdatabases_spark.operators.seed_align import (
        builtin_blast_hits_gapped,
    )

    q, s = _blast_del_corpus(spark)
    return builtin_blast_hits_gapped(q, s, min_score=19).select(
        "query_id",
        "subject_id",
        "q_start",
        "s_start",
        "align_len",
        "n_matches",
        "score",
        "gaps",
    )


@register(
    "blast_builtin_enrich",
    oracle=f"""
    WITH {_BLAST_SUBJ_ONLY_SQL.strip()},
    qs AS (
        SELECT 'q_' || subject_id || '_' || CAST(off AS VARCHAR) AS cluster_id,
               substr(sequence, off, {_BLAST_QLEN}) AS qseq
        FROM subjects, (VALUES {", ".join(f"({o})" for o in _BLAST_OFFSETS)})
             o(off)
    ),
    hits AS (
        SELECT q.cluster_id, s.subject_id AS title
        FROM qs q, subjects s,
             generate_series(1, 256 - {_BLAST_QLEN} + 1) t(p)
        WHERE substr(s.sequence, p, {_BLAST_QLEN}) = q.qseq
    ),
    agg AS (
        SELECT cluster_id,
               CAST(count(*) AS INT) AS n_hits,
               string_agg(title, ';' ORDER BY title) AS titles
        FROM hits GROUP BY cluster_id
    )
    SELECT q.cluster_id,
           (a.cluster_id IS NOT NULL) AS has_hit,
           coalesce(a.n_hits, 0) AS n_hits,
           coalesce(a.titles, '') AS titles,
           CASE WHEN a.cluster_id IS NOT NULL
                THEN CAST(round(100.0 * (1.28 * {_BLAST_QLEN} - ln(0.46))
                                / ln(2.0)) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS bit_x100
    FROM qs q LEFT JOIN agg a ON q.cluster_id = a.cluster_id
    """,
    tags=("S11", "S14", "aligner", "enrich"),
)
def blast_builtin_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 -> S14 end-to-end with NO binary: the builtin aligner's
    hits flow through the Karlin-Altschul surface
    (:func:`with_bitscore`), the blast-table adapter, and the
    reference's cluster-enrichment writeback
    (``enrich_clusters_with_blast`` — the grouped collect + left join
    replacing extendingDB_performingBlast.py:107-142's per-cluster
    SET loop), all under one driver hash.  Hits are projected to the
    full-length exact subset first (same structural argument as
    ``blast_builtin_exact_hits``: the oracle enumerates them by
    substring scan), so every downstream value is closed-form: the
    sorted title list, the hit count, and the bit score of a
    24-match ungapped HSP as an integer x100 (float-safe hash)."""
    from pangenomesasgraphdatabases_spark.graph.enrich import (
        enrich_clusters_with_blast,
    )
    from pangenomesasgraphdatabases_spark.operators.seed_align import (
        builtin_blast_hits,
        builtin_hits_as_blast_table,
        with_bitscore,
    )

    q, s = _blast_corpus(spark)
    clusters = q.select(F.col("query_id").alias("cluster_id"))
    hits = builtin_blast_hits(q, s, min_score=20).filter(
        (F.col("align_len") == _BLAST_QLEN)
        & (F.col("n_matches") == _BLAST_QLEN)
    )
    table = builtin_hits_as_blast_table(
        with_bitscore(hits, m=_BLAST_QLEN, n=8 * 256)
    )
    enriched = enrich_clusters_with_blast(clusters, table)
    return enriched.select(
        "cluster_id",
        F.col("hasBlastVirusHit").alias("has_hit"),
        F.coalesce(F.size("blastTitlesVirus"), F.lit(0)).cast("int").alias(
            "n_hits"
        ),
        F.coalesce(
            F.array_join("blastTitlesVirus", ";"), F.lit("")
        ).alias("titles"),
        F.when(
            F.col("hasBlastVirusHit"),
            F.round(
                F.element_at("blastScoresVirus", 1) * 100
            ).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("bit_x100"),
    )


@register(
    "blast_builtin_gapped_enrich",
    oracle=f"""
    SELECT 'qg_' || 's' || CAST(i AS VARCHAR) || '_' || CAST(off AS VARCHAR)
               AS cluster_id,
           TRUE AS has_hit,
           CAST(1 AS INT) AS n_hits,
           's' || CAST(i AS VARCHAR) AS titles,
           CAST(round(round((0.85 * 20 - ln(0.23)) / ln(2.0), 2) * 100)
                AS BIGINT) AS bit_x100,
           CAST(round(ln({_BLAST_QLEN - 1}.0 * 2048.0
                          * pow(2.0, -((0.85 * 20 - ln(0.23)) / ln(2.0))))
                      * 1e6) AS BIGINT) AS e_ln_x1e6
    FROM generate_series(0, 7) t(i),
         (VALUES {", ".join(f"({o})" for o, _ in _BLAST_DEL)}) o(off)
    """,
    tags=("S11", "S14", "aligner", "banded-sw", "enrich"),
)
def blast_builtin_gapped_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 gapped path -> S14 writeback with GAPPED Karlin-Altschul
    statistics under one driver hash (VERDICT r13 #4): the planted
    single-deletion corpus (one score-20 banded-SW HSP per query, the
    ``blast_builtin_gapped_hits`` closed form) flows through
    ``with_bitscore(gapped=True)`` — bit = (lambda_g*S - ln K_g)/ln 2
    with the published (1,-2) open-1/extend-2 bracket of the linear
    -3 regime (KA_GAPPED_LAMBDA 0.85, KA_GAPPED_K 0.23) — then the
    per-subject blast-table adapter and
    ``enrich_clusters_with_blast`` (reference surface: readBlast's
    per-subject description rows carry blastn's GAPPED scores and
    e-values, extendingDB_performingBlast.py:82-105).  Every value is
    closed-form: bit score as integer x100 via the adapter's 2-dp
    rounding, and the e-value (m*n*2^-bit over the raw 23 x 2048
    search space) as round(ln(e)*1e6) — float-safe integers both."""
    from pangenomesasgraphdatabases_spark.graph.enrich import (
        enrich_clusters_with_blast,
    )
    from pangenomesasgraphdatabases_spark.operators.seed_align import (
        builtin_blast_hits_gapped,
        builtin_hits_as_blast_table,
        with_bitscore,
    )

    q, s = _blast_del_corpus(spark)
    clusters = q.select(F.col("query_id").alias("cluster_id"))
    hits = builtin_blast_hits_gapped(q, s, min_score=19)
    table = builtin_hits_as_blast_table(
        with_bitscore(hits, m=_BLAST_QLEN - 1, n=8 * 256, gapped=True)
    )
    enriched = enrich_clusters_with_blast(clusters, table)
    return (
        enriched.join(table.select("cluster_id", "evalue"), "cluster_id")
        .select(
            "cluster_id",
            F.col("hasBlastVirusHit").alias("has_hit"),
            F.size("blastTitlesVirus").cast("int").alias("n_hits"),
            F.array_join("blastTitlesVirus", ";").alias("titles"),
            F.round(F.element_at("blastScoresVirus", 1) * 100)
            .cast("long")
            .alias("bit_x100"),
            F.round(F.log("evalue") * 1e6).cast("long").alias("e_ln_x1e6"),
        )
    )
