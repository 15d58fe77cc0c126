#!/usr/bin/env python3
"""Print a frontier checkpoint's per-wave layer table from its
MANIFEST-N.json files: candidates -> fresh -> allowed -> scheduled, the
seen and pending totals, wave time and the codegen counters.

Usage: tools/layers.py <checkpoint dir>

Manifests written before a field was counted show it as "-"."""
import glob
import json
import os
import re
import sys

COLUMNS = [
    ("wave", "wave"),
    ("candidates", "candidates"),
    ("fresh", "fresh"),
    ("allowed", "allowed"),
    ("scheduled", "scheduled"),
    ("seen_total", "seen"),
    ("pending_total", "pending"),
    ("elapsed_sec", "sec"),
    ("codegen_compiles", "compiles"),
    ("codegen_ms", "compile_ms"),
]


def manifests(ck_dir):
    waves = []
    for path in glob.glob(os.path.join(ck_dir, "MANIFEST-*.json")):
        m = re.search(r"MANIFEST-(\d+)\.json$", path)
        if m:
            with open(path, encoding="utf-8") as f:
                waves.append((int(m.group(1)), json.load(f)))
    return [m for _, m in sorted(waves, key=lambda w: w[0])]


def cell(value):
    if value is None or value == -1:
        return "-"
    if isinstance(value, float) and not value.is_integer():
        return f"{value:.2f}"
    return str(int(value))


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    rows = manifests(argv[1])
    if not rows:
        sys.exit(f"no MANIFEST-N.json in {argv[1]}")
    table = [[head for _, head in COLUMNS]]
    table += [[cell(m.get(key)) for key, _ in COLUMNS] for m in rows]
    summed = ("candidates", "fresh", "allowed", "scheduled", "elapsed_sec",
              "codegen_compiles", "codegen_ms")
    totals = ["total"] + [
        cell(sum(m[key] for m in rows if m.get(key, -1) >= 0)) if key in summed else ""
        for key, _ in COLUMNS[1:]]
    table.append(totals)
    widths = [max(len(r[i]) for r in table) for i in range(len(COLUMNS))]
    for r in table:
        print("  ".join(c.rjust(w) for c, w in zip(r, widths)))


if __name__ == "__main__":
    main(sys.argv)
