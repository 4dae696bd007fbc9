"""Seeded inputs of the vcf-pipeline workload, with the truth planted.

Writes into `out`:
  calls.vcf, truth.vcf  (chrom, pos)-sorted single-sample VCFs over 8 contigs;
                        90% of sites are in both sets, 5% only in each
  regions.bed           confident regions, sorted, non-overlapping
  lookups.tsv           seeded lookup regions (chrom, lo, hi), 1-based inclusive
  expected.json         tp/fp/fn per Concordance stratum and the row count of
                        every lookup, derived from the planted sites

A call survives the pipeline's typed scan when GQ >= MIN_GQ and INFO DP >=
MIN_DP, and a site of either set is confident when its reference span
[pos-1, pos-1+len(REF)) overlaps a region (bedtools intersect -u).
"""
import json

import numpy as np

CONTIGS = [f"chr{i}" for i in range(1, 9)]
CONTIG_LEN = 20_000_000
MIN_GQ = 20
MIN_DP = 10
BASES = np.array(list("ACGT"))


def _sites(rng, n_sites):
    """Per-site arrays: contig index, pos, ref, alt, indel, hmer."""
    per = n_sites // len(CONTIGS)
    mean_gap = CONTIG_LEN // (per + 1)
    chrom, pos = [], []
    for ci in range(len(CONTIGS)):
        gaps = rng.integers(12, 2 * mean_gap - 12, size=per)
        p = np.cumsum(gaps)
        p = p[p < CONTIG_LEN - 20]
        chrom.append(np.full(p.size, ci))
        pos.append(p)
    chrom, pos = np.concatenate(chrom), np.concatenate(pos)
    n = pos.size
    indel = rng.random(n) < 0.25
    hmer = np.where(indel, rng.integers(0, 9, size=n), 0)
    anchor = rng.integers(0, 4, size=n)
    other = (anchor + rng.integers(1, 4, size=n)) % 4
    length = rng.integers(1, 6, size=n)
    deletion = rng.random(n) < 0.5
    refs, alts = [], []
    for i in range(n):
        a = BASES[anchor[i]]
        if not indel[i]:
            refs.append(a)
            alts.append(BASES[other[i]])
        else:
            run = BASES[other[i]] * int(length[i])
            if deletion[i]:
                refs.append(a + run)
                alts.append(a)
            else:
                refs.append(a)
                alts.append(a + run)
    return chrom, pos, np.array(refs, dtype=object), np.array(alts, dtype=object), indel, hmer


def _regions(rng):
    """Alternating confident / non-confident stretches per contig."""
    rows = []
    for ci in range(len(CONTIGS)):
        x = int(rng.integers(0, 50_000))
        while x < CONTIG_LEN:
            end = min(CONTIG_LEN, x + int(rng.integers(20_000, 200_000)))
            rows.append((ci, x, end))
            x = end + int(rng.integers(5_000, 60_000))
    return rows


def _in_regions(chrom, pos, ref_len, regions):
    starts = {ci: np.array([s for c, s, _ in regions if c == ci]) for ci in range(len(CONTIGS))}
    ends = {ci: np.array([e for c, _, e in regions if c == ci]) for ci in range(len(CONTIGS))}
    out = np.zeros(pos.size, dtype=bool)
    for ci in range(len(CONTIGS)):
        m = chrom == ci
        s0 = pos[m] - 1
        e0 = s0 + ref_len[m]
        # last region starting before the span's end; regions are disjoint,
        # so the span overlaps some region iff it overlaps that one
        j = np.searchsorted(starts[ci], e0, side="left") - 1
        ok = j >= 0
        out_m = np.zeros(s0.size, dtype=bool)
        out_m[ok] = ends[ci][j[ok]] > s0[ok]
        out[m] = out_m
    return out


HEADER = [
    "##fileformat=VCFv4.2",
    '##INFO=<ID=DP,Number=1,Type=Integer,Description="Read depth">',
    '##INFO=<ID=HMER,Number=1,Type=Integer,Description="Homopolymer length of an indel">',
    '##INFO=<ID=VT,Number=1,Type=String,Description="Variant type">',
    '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
    '##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="Genotype quality">',
    '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Read depth">',
] + [f"##contig=<ID={c},length={CONTIG_LEN}>" for c in CONTIGS]


def _write_vcf(path, idx, chrom, pos, ref, alt, indel, hmer, qual, gq, dp):
    with open(path, "w") as f:
        f.write("\n".join(HEADER) + "\n")
        f.write("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tSAMPLE\n")
        f.writelines(
            f"{CONTIGS[chrom[i]]}\t{pos[i]}\t.\t{ref[i]}\t{alt[i]}\t{qual[i]:.1f}\tPASS\t"
            f"DP={dp[i]};HMER={hmer[i]};VT={'INDEL' if indel[i] else 'SNP'}\t"
            f"GT:GQ:DP\t0/1:{gq[i]}:{dp[i]}\n"
            for i in idx)


STRATA = {
    "ALL": lambda indel, hmer: np.ones(indel.size, dtype=bool),
    "SNP": lambda indel, hmer: ~indel,
    "INDEL": lambda indel, hmer: indel,
    "NON_HMER_INDEL": lambda indel, hmer: indel & (hmer == 0),
    "HMER_INDEL_1_4": lambda indel, hmer: indel & (hmer >= 1) & (hmer <= 4),
    "HMER_INDEL_5_PLUS": lambda indel, hmer: indel & (hmer >= 5),
}


def generate(out, seed, n_sites, n_lookups):
    rng = np.random.default_rng(seed)
    chrom, pos, ref, alt, indel, hmer = _sites(rng, n_sites)
    n = pos.size
    u = rng.random(n)
    in_calls = u < 0.95          # shared (90%) + call-only (5%)
    in_truth = (u < 0.90) | (u >= 0.95)
    shared = in_calls & in_truth
    gq = rng.integers(1, 100, size=n)
    dp = rng.integers(5, 61, size=n)
    # true calls score higher on average, so the P/R curve has a shape
    qual = np.round(rng.gamma(4.0, 8.0, size=n) + np.where(shared, 15.0, 0.0), 1)
    passes = (gq >= MIN_GQ) & (dp >= MIN_DP)

    regions = _regions(rng)
    confident = _in_regions(chrom, pos, np.array([len(r) for r in ref]), regions)

    order = np.arange(n)  # sites are generated (contig, pos)-sorted
    _write_vcf(f"{out}/calls.vcf", order[in_calls], chrom, pos, ref, alt, indel, hmer,
               qual, gq, dp)
    _write_vcf(f"{out}/truth.vcf", order[in_truth], chrom, pos, ref, alt, indel, hmer,
               np.full(n, 50.0), np.full(n, 99), np.full(n, 50))
    with open(f"{out}/regions.bed", "w") as f:
        f.writelines(f"{CONTIGS[c]}\t{s}\t{e}\n" for c, s, e in regions)

    kept_call = in_calls & passes & confident
    kept_truth = in_truth & confident
    tp = kept_call & kept_truth
    fp = kept_call & ~kept_truth
    fn = kept_truth & ~kept_call
    accuracy = {name: {"tp": int((tp & m).sum()), "fp": int((fp & m).sum()),
                       "fn": int((fn & m).sum())}
                for name, pred in STRATA.items() for m in [pred(indel, hmer)]}

    lookups = []
    for _ in range(n_lookups):
        ci = int(rng.integers(0, len(CONTIGS)))
        width = int(rng.integers(5_000, 200_000))
        lo = int(rng.integers(1, CONTIG_LEN - width))
        hi = lo + width
        rows = int((kept_call & (chrom == ci) & (pos >= lo) & (pos <= hi)).sum())
        lookups.append((CONTIGS[ci], lo, hi, rows))
    with open(f"{out}/lookups.tsv", "w") as f:
        f.writelines(f"{c}\t{lo}\t{hi}\n" for c, lo, hi, _ in lookups)

    expected = {"accuracy": accuracy, "lookup_rows": [r for *_, r in lookups],
                "calls_kept": int(kept_call.sum()), "truth_kept": int(kept_truth.sum()),
                "call_records": int(in_calls.sum()), "truth_records": int(in_truth.sum())}
    with open(f"{out}/expected.json", "w") as f:
        json.dump(expected, f)
    return expected
