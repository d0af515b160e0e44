"""Seeded pangenome inputs with planted regions of genomic plasticity.

Every strain carries the same ordered backbone of core clusters
``core_00000 .. core_{K-1}``.  At chosen backbone sites a seeded subset
of strains (under 30% of them, so the anchor edge stays dominant)
carries an accessory island between two adjacent core genes.  Island
genes are low-GC, low-CAI outliers; a strain carries at most two islands, so its islands stay
outliers against its own mean.  Most islands contain an integrase,
some contain none (negative controls that must not become RGPs).  A
few strains also carry one strain-specific gene that no cluster lists
(a lonely feature).

Because the layout is planted, the generator knows the answers the
graph operations must give:

* the feature, edge and cluster counts of the built graph;
* one ``find_rgps`` row per (carrier strain, island with integrase);
* per-feature GI run flags for the strains the workload scans.

The tables have the columns ``graph.build.build_graph`` reads (the
prepared-CSV shape of the reference, FIXTURES.md section 2).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

GI_Z = 1.5  # gi_scan's z threshold
GI_DEV_WINDOW, GI_DEV_COUNT = 20, 5
GI_CORE_WINDOW = 5
RGP_MAX_CARRIER_FRAC = 0.3  # keeps 0.7 * nb_out < anchor edge members
MAX_ISLANDS = 2  # per strain
LONELY_FRAC = 0.2  # share of strains with one lonely gene
N_SCAN_STRAINS = 3  # strains whose GI flags the workload checks


@dataclass(frozen=True)
class GraphSpec:
    n_strains: int = 770
    n_core: int = 80
    n_mobile_islands: int = 12
    n_plain_islands: int = 4
    island_len: tuple[int, int] = (6, 12)
    carrier_frac: tuple[float, float] = (0.03, 0.12)

    @property
    def core_max(self) -> int:
        """gi_scan's accessory threshold, scaled from the reference's
        600 of 770 strains."""
        return round(600 * self.n_strains / 770)


@dataclass
class GraphInputs:
    feature_nodes: pa.Table
    cluster_nodes: pa.Table
    composition: pa.Table
    truth: dict


def strain_name(i: int) -> str:
    return f"GCA_{i:09d}_1"


def _seq(rng: np.random.Generator, n: int) -> str:
    return "".join(np.array(list("ACGT"))[rng.integers(0, 4, n)])


def generate(seed: int, spec: GraphSpec = GraphSpec()) -> GraphInputs:
    rng = np.random.default_rng(seed)
    n, k = spec.n_strains, spec.n_core
    n_islands = spec.n_mobile_islands + spec.n_plain_islands
    if n_islands > k - 1:
        raise ValueError("more islands than backbone sites")
    sites = np.sort(rng.choice(k - 1, size=n_islands, replace=False))
    # Island designs (carrier share, length, integrase) are fixed by the
    # spec and only dealt to sites by the seed, so every seed yields the
    # same feature count and the same number of RGPs.
    lo, hi = spec.carrier_frac
    lens = range(spec.island_len[0], spec.island_len[1] + 1)
    designs = [
        (lo + (hi - lo) * i / max(1, n_islands - 1), lens[i % len(lens)], i < spec.n_mobile_islands)
        for i in range(n_islands)
    ]
    designs = [designs[i] for i in rng.permutation(n_islands)]
    mobile_sites = {site for site, d in zip(sites.tolist(), designs) if d[2]}

    islands = []  # (site, carriers, genes); gene = (cluster, product, type)
    carried = np.zeros(n, dtype=int)
    for site, (frac, length, mobile) in zip(sites.tolist(), designs):
        n_carriers = max(1, min(int(frac * n), int(RGP_MAX_CARRIER_FRAC * n) - 1))
        # At most MAX_ISLANDS per strain, so islands stay GC outliers.
        eligible = np.flatnonzero(carried < MAX_ISLANDS)
        carriers = set(rng.choice(eligible, size=n_carriers, replace=False).tolist())
        carried[list(carriers)] += 1
        genes = []
        for g in range(length):
            ftype = "tRNA" if g == 0 and rng.random() < 0.5 else "CDS"
            genes.append((f"acc_{site:05d}_{g:02d}", "phage protein", ftype))
        if mobile:
            g = int(rng.integers(1, length))
            genes[g] = (genes[g][0], "site-specific integrase", "CDS")
        islands.append((site, carriers, genes))
    island_at = {site: (carriers, genes) for site, carriers, genes in islands}

    # One lonely gene in LONELY_FRAC of strains, never at an island site.
    plain_sites = np.setdiff1d(np.arange(k), sites)
    lonely = {
        int(s): int(rng.choice(plain_sites))
        for s in rng.choice(n, size=round(LONELY_FRAC * n), replace=False)
    }

    cols: dict[str, list] = {c: [] for c in (
        "Name", "Start", "End", "Length", "Strand", "Product", "Strain",
        "FeatureType", "Variation", "FullSequences",
    )}
    comp_id, comp_gc, comp_cai = [], [], []
    members: dict[str, list[str]] = {}
    is_island, number_genomes, strain_of, feat_cluster = [], [], [], []
    rgp_rows = []
    seq_pool = [_seq(rng, 24) for _ in range(64)]

    for s in range(n):
        sname = strain_name(s)
        base_gc = rng.uniform(45.0, 55.0)
        base_cai = rng.uniform(0.70, 0.80)
        layout = []  # (cluster or None, product, type, island?, ng)
        for c in range(k):
            layout.append((f"core_{c:05d}", f"enzyme family {c}", "CDS", False, n))
            if c in island_at and s in island_at[c][0]:
                carriers, genes = island_at[c]
                for cl, prod, ftype in genes:
                    layout.append((cl, prod, ftype, True, len(carriers)))
            if lonely.get(s) == c:
                layout.append((None, "hypothetical protein", "CDS", False, 1))
        m = len(layout)
        lengths = rng.integers(300, 1500, m)
        ends = np.cumsum(rng.integers(20, 200, m) + lengths - 1)
        starts = ends - lengths + 1
        isl = np.array([x[3] for x in layout])
        # Two-point backbone around the strain mean keeps every backbone
        # |z| near 1 whatever the island share; islands sit 12 GC points
        # and 0.2 CAI below it.
        sign = np.where(np.arange(m) % 2, -1.0, 1.0)
        gc = np.where(
            isl,
            base_gc - 12.0 + rng.uniform(-0.5, 0.5, m),
            base_gc + sign * 0.6 + rng.uniform(-0.05, 0.05, m),
        )
        cai = np.where(
            isl,
            base_cai - 0.2 + rng.uniform(-0.01, 0.01, m),
            base_cai + sign * 0.01 + rng.uniform(-0.001, 0.001, m),
        )
        fids = [f"S{s:04d}_{i:05d}" for i in range(m)]
        cols["Name"] += fids
        cols["Start"] += starts.tolist()
        cols["End"] += ends.tolist()
        cols["Length"] += lengths.tolist()
        cols["Strand"] += np.where(rng.random(m) < 0.5, "1", "-1").tolist()
        cols["Product"] += [x[1] for x in layout]
        cols["Strain"] += [sname] * m
        cols["FeatureType"] += [x[2] for x in layout]
        cols["Variation"] += [""] * m
        cols["FullSequences"] += [seq_pool[i] for i in rng.integers(0, 64, m)]
        comp_id += fids
        comp_gc += np.round(gc, 4).tolist()
        comp_cai += np.round(cai, 5).tolist()
        is_island += isl.tolist()
        number_genomes += [x[4] for x in layout]
        strain_of += [s] * m
        feat_cluster += [x[0] for x in layout]
        for (cl, *_), fid in zip(layout, fids):
            if cl is not None:
                members.setdefault(cl, []).append(fid)
        starts, ends = starts.tolist(), ends.tolist()

        # RGP truth: one row per mobile island this strain carries.
        idx0 = len(cols["Name"]) - len(layout)
        i = 0
        while i < len(layout):
            cl = layout[i][0]
            if cl and cl.startswith("core_") and i + 1 < len(layout) and layout[i + 1][3]:
                site = int(cl[5:])
                j = i + 1
                while layout[j][3]:
                    j += 1
                if site in mobile_sites:
                    rgp_rows.append({
                        "StrainName": sname,
                        "Anchor1ID": cl,
                        "Anchor2ID": layout[j][0],
                        "InsertionStart": starts[i + 1],
                        "InsertionEnd": ends[j - 1],
                        "InsertionNbFeatures": j - i - 1,
                        "InsertionListGC": comp_gc[idx0 + i + 1: idx0 + j],
                        "InsertionListClusterID": [x[0] for x in layout[i: j + 1]],
                        "InsertionListMobileNames": [
                            x[1] for x in layout[i: j + 1] if "integrase" in x[1]
                        ],
                        "InsertionNbTRNAs": sum(x[2] == "tRNA" for x in layout[i: j + 1]),
                    })
                i = j
            else:
                i += 1

    feature_nodes = pa.table({
        "Name": cols["Name"],
        "Start": pa.array(cols["Start"], pa.int64()),
        "End": pa.array(cols["End"], pa.int64()),
        "Length": pa.array(cols["Length"], pa.int64()),
        "Strand": cols["Strand"],
        "Product": cols["Product"],
        "Strain": cols["Strain"],
        "FeatureType": cols["FeatureType"],
        "Variation": cols["Variation"],
        "FullSequences": cols["FullSequences"],
    })
    composition = pa.table({
        "featureID": comp_id,
        "GC": pa.array(comp_gc, pa.float64()),
        "CAI": pa.array(comp_cai, pa.float64()),
    })
    lengths = dict(zip(cols["Name"], cols["Length"]))
    names = sorted(members)
    cluster_nodes = pa.table({
        "allele_name": names,
        "consensus_product": [
            "enzyme family" if c.startswith("core_") else "phage protein" for c in names
        ],
        "threshold": pa.array([50] * len(names), pa.int64()),
        "number_genomes": pa.array([len(members[c]) for c in names], pa.int64()),
        "min_length": pa.array([min(lengths[f] for f in members[c]) for c in names], pa.int64()),
        "max_length": pa.array([max(lengths[f] for f in members[c]) for c in names], pa.int64()),
        "average_length": pa.array(
            [float(np.mean([lengths[f] for f in members[c]])) for c in names], pa.float64()
        ),
        "feature": [";".join(members[c]) for c in names],
        "reference_locus": [members[c][0] for c in names],
        "Seq": [seq_pool[i % 64] for i in range(len(names))],
    })

    strain_of = np.array(strain_of)
    is_island = np.array(is_island)
    number_genomes = np.array(number_genomes)
    gc = np.array(comp_gc)
    cai = np.array(comp_cai)
    _check_margins(strain_of, is_island, gc, cai, n)

    # Directed cluster adjacency along each genome (lonely features are
    # their own cluster, named after the feature).
    cl_of = [c if c is not None else f for c, f in zip(feat_cluster, cols["Name"])]
    cneigh = {
        (cl_of[i - 1], cl_of[i])
        for i in range(1, len(cl_of))
        if strain_of[i] == strain_of[i - 1]
    }
    cluster_in_strain = {(c, s) for c, s in zip(cl_of, strain_of.tolist())}
    n_feat = len(cl_of)
    counts = {
        "features": n_feat,
        "strains": n,
        "clusters": len(names) + len(lonely),
        "ortholog": n_feat,
        "feature_in_strain": n_feat,
        "feature_neighbour": n_feat - n,
        "cluster_neighbour": len(cneigh),
        "cluster_in_strain": len(cluster_in_strain),
        "lonely": len(lonely),
    }

    scan = _scan_strains(rng, islands, mobile_sites, n, N_SCAN_STRAINS)
    gi = {}
    for s in scan:
        sel = strain_of == s
        isl = is_island[sel].astype(int)
        ng = number_genomes[sel]
        dev_run = _trailing(isl, GI_DEV_WINDOW, np.sum) > GI_DEV_COUNT
        gi[strain_name(s)] = {
            "gc_dev_run": dev_run,
            "cai_dev_run": dev_run,
            "accessory_run": _trailing(ng, GI_CORE_WINDOW, np.max) <= spec.core_max,
        }
    truth = {
        "counts": counts,
        "rgp": rgp_rows,
        "scan_strains": [strain_name(s) for s in scan],
        "gi": {s: {k2: v.astype(int).tolist() for k2, v in d.items()} for s, d in gi.items()},
    }
    return GraphInputs(feature_nodes, cluster_nodes, composition, truth)


def _trailing(x: np.ndarray, width: int, fn) -> np.ndarray:
    """fn over the trailing window of up to ``width`` rows ending at each
    row (Spark's rowsBetween(-(width - 1), 0))."""
    return np.array([fn(x[max(0, i - width + 1): i + 1]) for i in range(len(x))])


def _check_margins(strain_of, is_island, gc, cai, n_strains) -> None:
    """The planted labels are the GI deviation flags only if every
    backbone |z| stays clearly under gi_scan's threshold and every
    island |z| clearly over it."""
    for values in (gc, cai):
        for s in range(n_strains):
            v = values[strain_of == s]
            z = np.abs((v - v.mean()) / v.std(ddof=1))
            isl = is_island[strain_of == s]
            if (z[~isl] > GI_Z - 0.1).any() or (z[isl] < GI_Z + 0.1).any():
                raise ValueError(f"seed plants an ambiguous GI flag in strain {s}")


def _scan_strains(rng, islands, mobile_sites, n, k) -> list[int]:
    """Strains for the single-strain GI scans: carriers of a mobile
    island, chosen by the seed."""
    carriers = sorted({s for site, cs, _ in islands if site in mobile_sites for s in cs})
    return sorted(rng.choice(carriers, size=min(k, len(carriers)), replace=False).tolist())
