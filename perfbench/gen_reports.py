#!/usr/bin/env python3
"""Seeded KrakenUniq-style report generator for the pipeline workloads.

Writes one `<sample>_report.tsv` per sample (two `#` comment lines, the
report header, an unclassified row, a root row, then the taxa rows) and
returns the negative-control group patterns (`-n CONTROL GROUP` pairs) that
match the generated sample names.

The input properties the pipeline's behaviour depends on:
  - heavy-tailed read counts (Pareto, alpha 1.1), so a few taxa dominate
    each sample's RPM and top-K;
  - per-sample density drawn uniformly from 30-90% of the taxa universe,
    so the dense grid is 10-70% zero-filled;
  - two control groups (`NCA` for `A*`, `NCB` for `B*`) plus ungrouped
    `C*` samples whose control RPM defaults to 1;
  - genus-rank rows (filtered out by the species rank);
  - duplicate taxID rows inside a sample (reads accumulate, stats are
    last-wins, the name is first-seen);
  - taxNames with commas and double quotes, which the CSV sinks must quote.

Only `random.Random(seed)` drives the output, so the same arguments give the
same bytes (test_gen_reports.py pins it).

Usage: gen_reports.py OUT_DIR N_SAMPLES N_TAXA SEED
"""
import os
import random
import sys

HEADER = "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName"
GROUPS = [("NCA", "^A"), ("NCB", "^B")]
# names a CSV writer must quote: a delimiter or a quote inside
ODD_NAMES = ['Virus X, strain 7', 'Phage "lambda" variant', 'Bacillus sp. "A,1"']
FIRST_TAXID = 1000
GENUS_TAXID = 900000


def sample_names(n_samples):
    """Two controls, then the rest split round-robin over groups A, B, C."""
    return ["NCA", "NCB"] + [f"{'ABC'[i % 3]}{i // 3 + 1:04d}"
                             for i in range(n_samples - 2)]


def tax_name(tax_id):
    k = tax_id - FIRST_TAXID
    if k % 397 == 13:
        return ODD_NAMES[(k // 397) % len(ODD_NAMES)]
    return f"Species {tax_id}"


def report_lines(rnd, sample, n_taxa):
    density = rnd.uniform(0.3, 0.9)
    rows = []
    for tax_id in range(FIRST_TAXID, FIRST_TAXID + n_taxa):
        if rnd.random() >= density:
            continue
        reads = min(int(rnd.paretovariate(1.1) * 3), 5_000_000)
        rows.append((reads, tax_id, "species", tax_name(tax_id)))
        if rnd.random() < 0.005:  # duplicate row: later stats win
            rows.append((rnd.randint(1, 50), tax_id, "species",
                         f"{tax_name(tax_id)} dup"))
    for g in range(rnd.randint(2, 5)):
        rows.append((rnd.randint(100, 10_000), GENUS_TAXID + g, "genus",
                     f"Genus {g}"))
    classified = sum(r[0] for r in rows)
    unclassified = rnd.randint(classified // 4 + 1, classified + 1000)
    total = classified + unclassified
    out = ["# synthetic KrakenUniq report", f"# sample {sample}", HEADER,
           f"{100 * unclassified / total:.4f}\t{unclassified}\t{unclassified}"
           f"\t0\t0\t0\t0\tno rank\tunclassified",
           f"{100 * classified / total:.4f}\t{classified}\t{classified}"
           f"\t{classified * 11}\t0\t0\t1\tno rank\troot"]
    for reads, tax_id, rank, name in rows:
        kmers = reads * rnd.randint(3, 40)
        dup = rnd.uniform(1.0, 3.0)
        cov = rnd.uniform(0.0, 0.05)
        out.append(f"{100 * reads / total:.4f}\t{reads}\t{reads}\t{kmers}"
                   f"\t{dup:.3f}\t{cov:.6f}\t{tax_id}\t{rank}\t{name}")
    return out


def generate(out_dir, n_samples, n_taxa, seed):
    """Write the reports; return (paths in argument order, group patterns)."""
    os.makedirs(out_dir, exist_ok=True)
    rnd = random.Random(seed)
    paths = []
    for sample in sample_names(n_samples):
        path = os.path.join(out_dir, f"{sample}_report.tsv")
        with open(path, "w", newline="\n") as f:
            f.write("\n".join(report_lines(rnd, sample, n_taxa)) + "\n")
        paths.append(path)
    return paths, GROUPS


if __name__ == "__main__":
    out, n, t, s = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
    ps, _ = generate(out, n, t, s)
    print(f"wrote {len(ps)} reports to {out}")
