#!/usr/bin/env python3
"""Independent DuckDB recomputation of one pipeline batch, compared with the
three CSVs the program wrote.

The reference semantics (bigbugdata `run()`), restated in SQL over the
report rows parsed here in Python:
  totals   Σ reads of taxID 0/1 per sample
  taxa     species rows, taxID ∉ {0,1}
  grid     every (organism, sample) cell, 0-filled; taxName first seen
           in argument/file order, trimmed; organism total = Σ reads
  rpm      reads / (total / 1e6)
  z_score  (rpm − mean) / population sd over the organism's samples
           (NaN when sd = 0)
  rrpm     floor(rpm) / max(floor(control rpm, default 1), 1)
  tophits  per sample, row_number over (rrpm desc, taxID asc) ≤ k, inner
           joined with the last-seen row stats of that (sample, taxID)

combined, rrpm and the tophits ranks, ids, names and stats must match
exactly. z_score must match within Z_ULPS units in the last place of
max(|z|, 1): the engine sums the mean and variance in a different order.

Usage: check_pipeline.py RESULTS_DIR REPORT... [-n CONTROL GROUP]...
"""
import csv
import math
import os
import re
import sys

import duckdb
import pyarrow as pa

Z_ULPS = 64


def sample_id(path):
    return os.path.basename(path).rpartition("_")[0]


def ordered(ids):
    try:
        return sorted(ids, key=lambda s: int(s.strip()))
    except ValueError:
        return sorted(ids)


def controls(ids, groups):
    """sample → control sample, first matching group wins."""
    resolved = []
    for nc_pat, grp_pat in groups:
        ncs = [s for s in ids if re.search(nc_pat, s)]
        if len(ncs) != 1:
            raise ValueError(f"expected one sample matching {nc_pat!r}, found {len(ncs)}")
        resolved.append((ncs[0], {s for s in ids if re.search(grp_pat, s)}))
    out = {}
    for s in ids:
        for nc, members in resolved:
            if s in members:
                out[s] = nc
                break
    return out


def report_rows(paths):
    rows = []
    for argidx, p in enumerate(paths):
        s = sample_id(p)
        with open(p, encoding="utf-8") as f:
            lines = [ln.rstrip("\n") for ln in f if not ln.startswith("#")]
        for rowno, ln in enumerate(lines[1:]):
            c = ln.split("\t")
            rows.append((s, argidx * 1_000_000_000 + rowno, int(c[1]), int(c[3]),
                         float(c[4]), float(c[5]), int(c[6]), c[7], c[8]))
    return rows


def expected(paths, groups, k):
    con = duckdb.connect()
    con.execute("SET threads=2")
    cols = ["sample", "ord", "reads", "kmers", "dup", "cov", "taxid", "rank", "taxname"]
    types = [pa.string(), pa.int64(), pa.int64(), pa.int64(), pa.float64(),
             pa.float64(), pa.int64(), pa.string(), pa.string()]
    data = list(zip(*report_rows(paths)))
    con.register("r", pa.table([pa.array(c, t) for c, t in zip(data, types)], names=cols))
    ids = [sample_id(p) for p in paths]
    con.register("samples", pa.table({"sample": ids}))
    nc = controls(ids, groups)
    con.register("nc", pa.table({"sample": list(nc), "nc_sample": list(nc.values())}))
    con.execute("""
      CREATE TABLE totals AS SELECT sample, sum(reads) AS total
        FROM r WHERE taxid IN (0, 1) GROUP BY sample;
      CREATE TABLE taxa AS SELECT * FROM r
        WHERE taxid NOT IN (0, 1) AND rank = 'species';
      CREATE TABLE meta AS SELECT taxid, trim(arg_min(taxname, ord)) AS taxname,
        sum(reads) AS org_total FROM taxa GROUP BY taxid;
      CREATE TABLE counts AS SELECT taxid, sample, sum(reads) AS reads
        FROM taxa GROUP BY taxid, sample;
      CREATE TABLE grid AS
        SELECT m.taxid, m.taxname, m.org_total, s.sample,
               coalesce(c.reads, 0) AS reads,
               coalesce(c.reads, 0)::DOUBLE / (t.total::DOUBLE / 1e6) AS rpm
        FROM meta m CROSS JOIN samples s
        LEFT JOIN counts c ON c.taxid = m.taxid AND c.sample = s.sample
        JOIN totals t ON t.sample = s.sample;
      CREATE TABLE z AS
        SELECT *, CASE WHEN sd = 0 OR sd IS NULL THEN 'NaN'::DOUBLE
                       ELSE (rpm - av) / sd END AS z_score
        FROM (SELECT *, avg(rpm) OVER (PARTITION BY taxid) AS av,
                        stddev_pop(rpm) OVER (PARTITION BY taxid) AS sd FROM grid);
      CREATE TABLE rr AS
        SELECT g.*, floor(g.rpm) / greatest(floor(coalesce(c.rpm, 1.0)), 1.0) AS rrpm
        FROM z g LEFT JOIN nc ON nc.sample = g.sample
        LEFT JOIN grid c ON c.taxid = g.taxid AND c.sample = nc.nc_sample;
      CREATE TABLE stats AS
        SELECT sample, taxid, arg_max(kmers, ord) AS kmers, arg_max(dup, ord) AS dup,
               arg_max(reads, ord) AS reads, arg_max(cov, ord) AS cov,
               arg_max(CASE WHEN reads <> 0 THEN kmers::DOUBLE / reads::DOUBLE * cov END,
                       ord) AS e_val
        FROM taxa GROUP BY sample, taxid;
    """)
    cells = {}
    names = {}
    for taxid, name, total, s, reads, rrpm in con.execute(
            "SELECT taxid, taxname, org_total, sample, reads, rrpm FROM rr").fetchall():
        names[taxid] = (name, total)
        cells[(taxid, s)] = (reads, rrpm)
    tops = con.execute(f"""
      SELECT t.sample, t.taxid, t.taxname, t.rank, t.rrpm, s.kmers, s.dup, s.reads,
             s.cov, s.e_val, t.z_score
      FROM (SELECT *, row_number() OVER (PARTITION BY sample
                                         ORDER BY rrpm DESC, taxid ASC) AS rank
            FROM rr) t
      JOIN stats s ON s.sample = t.sample AND s.taxid = t.taxid
      WHERE t.rank <= {k}""").fetchall()
    order = {s: i for i, s in enumerate(ordered(ids))}
    tops.sort(key=lambda r: (order[r[0]], r[3]))
    return ordered(ids), names, cells, tops


def read_csv(path):
    with open(path, encoding="utf-8", newline="") as f:
        return list(csv.reader(f, escapechar="\\", doublequote=False))


def ulps(a, b):
    """distance in units in the last place of max(|a|, |b|, 1)"""
    if math.isnan(a) or math.isnan(b):
        return 0 if math.isnan(a) and math.isnan(b) else math.inf
    return abs(a - b) / math.ulp(max(abs(a), abs(b), 1.0))


def check(results_dir, paths, groups, k=15):
    """Return a list of mismatch descriptions (empty when the batch is right)."""
    samples, names, cells, tops = expected(paths, groups, k)
    bad = []
    header = ["taxID", "taxName", "Total # of Reads"] + samples
    for kind, idx, parse in (("combined", 0, int), ("rrpm", 1, float)):
        rows = read_csv(os.path.join(results_dir, f"{kind}_species.csv"))
        if rows[0] != header:
            bad.append(f"{kind}: header differs")
        got = rows[1:]
        if [int(r[0]) for r in got] != sorted(names):
            bad.append(f"{kind}: organism rows differ ({len(got)} vs {len(names)})")
            continue
        for r in got:
            t = int(r[0])
            name, total = names[t]
            want = [name, total] + [cells[(t, s)][idx] for s in samples]
            have = [r[1], int(r[2])] + [parse(v) for v in r[3:]]
            if have != want:
                bad.append(f"{kind}: taxID {t} differs")
                break
    rows = read_csv(os.path.join(results_dir, "tophits_species.csv"))[1:]
    if len(rows) != len(tops):
        bad.append(f"tophits: {len(rows)} rows, expected {len(tops)}")
    worst = 0.0
    for r, e in zip(rows, tops):
        have = [r[0], int(r[1]), r[2], int(r[3]), float(r[4]), int(r[5]), float(r[6]),
                int(r[7]), float(r[8]), float(r[9]) if r[9] else None]
        if have != list(e[:10]):
            bad.append(f"tophits: {r[0]} rank {r[3]} differs: {have} vs {list(e[:10])}")
            break
        worst = max(worst, ulps(float(r[10]), e[10]))
    if worst > Z_ULPS:
        bad.append(f"tophits: z_score off by {worst:.1f} ulps (bound {Z_ULPS})")
    return bad, worst


def main(argv):
    out, rest = argv[0], argv[1:]
    paths, groups = [], []
    i = 0
    while i < len(rest):
        if rest[i] == "-n":
            groups.append((rest[i + 1], rest[i + 2]))
            i += 3
        else:
            paths.append(rest[i])
            i += 1
    bad, worst = check(out, paths, groups)
    for b in bad:
        print("FAIL", b)
    print(f"{'ok' if not bad else 'FAIL'}: z_score max {worst:.1f} ulps")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
