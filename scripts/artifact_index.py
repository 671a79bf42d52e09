#!/usr/bin/env python3
"""Generate ARTIFACTS.md — one row per BENCH_*.json / RECALL_*.json at
the repo root.

The per-round bench artifacts accumulated to ~45 root files whose
ordering/supersession story lived only in BASELINE_SOURCES.txt prose
(r15 verdict nit 4). This makes the inventory mechanical and committed:
for every file, the measured sf dir, query count, per-file status
(canon source / superseded / one-off probe), and the queries it
measured — so a reader can find the canonical number for any query in
one hop (ARTIFACTS.md row -> file, or BASELINE_CANON.md for the sf0.1
per-query table).

Status rules:
  canon-source   — listed in BASELINE_SOURCES.txt (feeds the generated
                   sf0.1 BASELINE_CANON.md, latest-wins).
  superseded     — the JSON carries an explicit "superseded_by" key.
  scale row      — measured at a non-sf0.1 dir (sf1/sf10 soak or probe;
                   canonical scale numbers live in SCALE.md prose).
  driver round   — BENCH_r{N}.json, the driver's per-round capture
                   (may hold a truncated stdout tail; the full line is
                   the matching committed BENCH_FULL_r{N}.json).

Regenerate with: python3 scripts/artifact_index.py
"""
import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "ARTIFACTS.md")
SOURCES = os.path.join(REPO, "BASELINE_SOURCES.txt")


def canon_sources():
    try:
        with open(SOURCES) as f:
            return [l.strip() for l in f
                    if l.strip() and not l.strip().startswith("#")]
    except FileNotFoundError:
        return []


def load(path):
    """Parse a bench artifact: whole-file json.load first (handles the
    pretty-printed soak files, which the old line-oriented parse
    mislabeled "unparseable"), then the historical one-line format;
    None only for genuinely truncated driver captures."""
    try:
        with open(path) as f:
            return json.load(f)
    except (json.JSONDecodeError, OSError):
        pass
    try:
        with open(path) as f:
            line = next((l for l in f if l.strip().startswith("{")), None)
        return json.loads(line) if line else None
    except (json.JSONDecodeError, OSError):
        return None


def main():
    sources = canon_sources()
    rows = []
    for p in sorted(glob.glob(os.path.join(REPO, "BENCH_*.json"))
                    + glob.glob(os.path.join(REPO, "RECALL_*.json"))):
        name = os.path.basename(p)
        d = load(p)
        if d is None:
            rows.append((name, "?", 0, "unparseable (truncated driver capture)",
                         ""))
            continue
        sf = d.get("sf", "?")
        sf_short = os.path.basename(str(sf).rstrip("/")) or str(sf)
        qs = sorted(d.get("queries", d.get("variants", {})))
        status = []
        if name in sources:
            status.append("**canon-source**")
        if "superseded_by" in d:
            status.append(f"superseded by {d['superseded_by'].split(' ')[0]}")
        if name == "BENCH_FULL_LATEST.json":
            status.append("overwritten by every sweep — cite the round-named "
                          "snapshot instead")
        if name.startswith("BENCH_r"):
            status.append("driver round capture")
        if sf_short not in ("sf0.1",):
            status.append("scale row (see SCALE.md)")
        qcell = ", ".join(qs) if len(qs) <= 8 else (
            ", ".join(qs[:8]) + f", … (+{len(qs) - 8})")
        rows.append((name, sf_short, len(qs), "; ".join(status) or "one-off",
                     qcell))
    lines = [
        "# ARTIFACTS — generated by scripts/artifact_index.py (do not edit)",
        "",
        "Inventory of every root `BENCH_*.json` / `RECALL_*.json`. The "
        "canonical per-query sf0.1 table is the",
        "generated `BASELINE_CANON.md` (sources + order: "
        "`BASELINE_SOURCES.txt`); canonical",
        "sf1/sf10 numbers are the SCALE.md tables, which cite these files.",
        "",
        "| file | sf | #q | status | queries |",
        "|---|---|---|---|---|",
    ]
    for name, sf, nq, status, qcell in rows:
        lines.append(f"| {name} | {sf} | {nq} | {status} | {qcell} |")
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {OUT} ({len(rows)} files)")


if __name__ == "__main__":
    sys.exit(main())
