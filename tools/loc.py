#!/usr/bin/env python3
"""Line counts of graft's Scala sources.

Prints, for src/main/scala and src/test/scala, the raw line count and
the code line count (non-blank lines that are not `//` comments or
inside `/* ... */` / scaladoc blocks), in total and, when a filter is
given, for the files whose path relative to the repo contains it.

    python3 tools/loc.py                      # totals
    python3 tools/loc.py graft/streaming      # totals + files under it
    python3 tools/loc.py StreamingJobs.scala  # one file
"""
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREES = ("src/main/scala", "src/test/scala")


def counts(path):
    """(raw lines, code lines) of one Scala file."""
    raw = code = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            raw += 1
            t = line.strip()
            if in_block:
                if "*/" not in t:
                    continue
                in_block = False
                t = t.split("*/", 1)[1].strip()
            elif t.startswith("/*"):
                if "*/" not in t:
                    in_block = True
                    continue
                t = t.split("*/", 1)[1].strip()
            if t and not t.startswith("//"):
                code += 1
    return raw, code


def main(argv):
    filt = argv[1] if len(argv) > 1 else None
    print(f"{'path':<58} {'raw':>7} {'code':>7}")
    for tree in TREES:
        files = []
        for dp, _, fs in os.walk(os.path.join(ROOT, tree)):
            files += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
        per = {os.path.relpath(f, ROOT): counts(f) for f in sorted(files)}
        tot = [sum(c[i] for c in per.values()) for i in (0, 1)]
        print(f"{tree + ' (total)':<58} {tot[0]:>7} {tot[1]:>7}")
        if filt:
            hit = {p: c for p, c in per.items() if filt in p}
            for p, (r, c) in hit.items():
                print(f"  {p:<56} {r:>7} {c:>7}")
            if len(hit) > 1:
                print(f"  {'(matching ' + filt + ')':<56} "
                      f"{sum(c[0] for c in hit.values()):>7} {sum(c[1] for c in hit.values()):>7}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
