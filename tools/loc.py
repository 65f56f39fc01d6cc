#!/usr/bin/env python3
"""Line counts for the Scala sources: total lines and code-only lines.

Code-only lines are the non-blank lines that are not comments: `//`
lines and the lines of `/* ... */` and `/** ... */` blocks do not
count, a line holding code before or after a comment does. So deleting
comments never shows as a code reduction.

Usage:
    python3 tools/loc.py                      # src/main + the ANN group
    python3 tools/loc.py --group ann          # one named group, per file
    python3 tools/loc.py FILE...              # any files
    python3 tools/loc.py --root DIR ...       # count another checkout

Prints one line per file of the group (or of the named files), then
`<name>: total=<lines> code=<code lines> files=<n>` for the group and
for all of `src/main`.
"""
import argparse
import os
import sys

OPS = "src/main/scala/graft/operators"

GROUPS = {
    # the nearest-neighbor family: the AnnSpec pipeline, its coder,
    # quantizer and transform trainers, and the frozen models
    "ann": [f"{OPS}/{n}.scala" for n in (
        "Ann", "Similarity", "Pq", "Opq", "Sq", "KMeans", "Pca",
        "FrozenAnn")],
}


def count(path):
    """(total lines, code-only lines) of one Scala file."""
    total = code = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            total += 1
            line = raw.strip()
            while line:
                if in_block:
                    end = line.find("*/")
                    if end < 0:
                        line = ""
                    else:
                        in_block = False
                        line = line[end + 2:].strip()
                elif line.startswith("//"):
                    line = ""
                elif line.startswith("/*"):
                    in_block = True
                    line = line[2:]
                else:
                    code += 1
                    break
    return total, code


def scala_files(root, top):
    out = []
    for d, _, names in os.walk(os.path.join(root, top)):
        out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def report(name, paths, per_file, root):
    total = code = 0
    for p in paths:
        if not os.path.exists(p):
            continue
        t, c = count(p)
        total, code = total + t, code + c
        if per_file:
            print(f"  {os.path.relpath(p, root)}: total={t} code={c}")
    n = sum(os.path.exists(p) for p in paths)
    print(f"{name}: total={total} code={code} files={n}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--root", default=".", help="checkout to count")
    ap.add_argument("--group", choices=sorted(GROUPS))
    ap.add_argument("files", nargs="*")
    a = ap.parse_args()
    if a.files:
        report("files", [os.path.join(a.root, f) for f in a.files], True,
               a.root)
    else:
        for g in [a.group] if a.group else sorted(GROUPS):
            report(f"group {g}", [os.path.join(a.root, f)
                                  for f in GROUPS[g]], True, a.root)
    report("src/main", scala_files(a.root, "src/main"), False, a.root)
    return 0


if __name__ == "__main__":
    sys.exit(main())
