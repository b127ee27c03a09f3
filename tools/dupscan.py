#!/usr/bin/env python3
"""Repeated-window scan: per file, the windows of N normalized lines whose
text occurs more than once across a source tree (a copy left in place).

    python3 tools/dupscan.py [--n 4] [--root src/main/scala] [--show]

Normalizing strips indentation, collapses runs of whitespace and drops lines
with no letter or digit (blank lines, lone braces), so a block re-indented
or re-wrapped by blank lines still matches. A window is counted at each
position it starts, so one copied block of L lines gives L - N + 1 windows in
each file that holds it. Prints `<windows> <path>` per file with any, then
the total; `--show` also prints each repeated window once with its places.
"""
import argparse
import os
import re
from collections import defaultdict


def normalized(path):
    with open(path, encoding="utf-8") as f:
        for no, line in enumerate(f, 1):
            text = re.sub(r"\s+", " ", line).strip()
            if re.search(r"[A-Za-z0-9]", text):
                yield no, text


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--n", type=int, default=4, help="lines per window")
    ap.add_argument("--root", default="src/main/scala")
    ap.add_argument("--show", action="store_true")
    args = ap.parse_args()
    places = defaultdict(list)  # window text -> [(path, first line)]
    for dirpath, _, files in sorted(os.walk(args.root)):
        for name in sorted(files):
            if not name.endswith(".scala"):
                continue
            path = os.path.join(dirpath, name)
            lines = list(normalized(path))
            for i in range(len(lines) - args.n + 1):
                window = "\n".join(t for _, t in lines[i:i + args.n])
                places[window].append((path, lines[i][0]))
    per_file = defaultdict(int)
    for window, at in places.items():
        if len(at) > 1:
            for path, _ in at:
                per_file[path] += 1
            if args.show:
                print(", ".join(f"{p}:{no}" for p, no in at))
                print("    " + window.replace("\n", "\n    "))
    for path in sorted(per_file):
        print(per_file[path], path)
    print(sum(per_file.values()), "total")


if __name__ == "__main__":
    main()
