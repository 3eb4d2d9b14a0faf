#!/usr/bin/env python3
"""Compare the metadata of two TableIO tables written from the same input.

Usage: tools/diff_manifests.py <tableA> <tableB>

Reads every JSON file under each table's `manifests/` dir and compares:
  - bucket manifests (`bucket-<i>.json`) key by key, all keys but
    `snapshot` and `wall_ms`;
  - batch manifests (`batch-<id>.json`) and compaction journals
    (`compaction-<s>.json`) key by key, all keys but `wall_ms`;
  - in every manifest, the number of listed files in place of the file
    names (which carry a per-write id);
  - the number of manifests of each kind.
Prints one line per difference and a summary line; exits 1 on any
difference, 0 when the two tables' metadata match.
"""
import json
import os
import re
import sys

KIND = re.compile(r"^(bucket|batch|compaction)-(\d+)\.json$")


def manifests(table):
    """{file name: comparable dict} of `table`'s manifests."""
    out = {}
    mdir = os.path.join(table, "manifests")
    for name in sorted(os.listdir(mdir)):
        m = KIND.match(name)
        if not m:
            continue
        with open(os.path.join(mdir, name)) as f:
            doc = json.load(f)
        drop = {"wall_ms"} | ({"snapshot"} if m.group(1) == "bucket" else set())
        doc = {k: v for k, v in doc.items() if k not in drop}
        if "files" in doc:
            doc["files"] = len(doc["files"])
        out[name] = doc
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = manifests(argv[1]), manifests(argv[2])
    diffs = []
    for kind in ("bucket", "batch", "compaction"):
        na = sum(1 for n in a if n.startswith(kind + "-"))
        nb = sum(1 for n in b if n.startswith(kind + "-"))
        if na != nb:
            diffs.append(f"{kind} manifests: {na} != {nb}")
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            diffs.append(f"{name}: only in {argv[1] if name in a else argv[2]}")
            continue
        for key in sorted(set(a[name]) | set(b[name])):
            va, vb = a[name].get(key, "<absent>"), b[name].get(key, "<absent>")
            if va == vb:
                continue
            if isinstance(va, list) and isinstance(vb, list) and len(va) == len(vb):
                at = [i for i, (x, y) in enumerate(zip(va, vb)) if x != y]
                diffs.append(f"{name} {key}[{at[0]}]: {va[at[0]]!r} != {vb[at[0]]!r}"
                             f" ({len(at)} of {len(va)} elements differ)")
            else:
                diffs.append(f"{name} {key}: {va!r} != {vb!r}")
    for d in diffs:
        print("DIFF", d)
    kinds = {k: sum(1 for n in a if n.startswith(k + "-")) for k in ("bucket", "batch", "compaction")}
    print(f"manifests={len(a)} bucket={kinds['bucket']} batch={kinds['batch']} "
          f"compaction={kinds['compaction']} diffs={len(diffs)}")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
