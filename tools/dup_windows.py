#!/usr/bin/env python3
"""Count copied code in a source directory by sliding 5-line windows.

Usage: python3 tools/dup_windows.py <dir> [--show]

For each *.scala file under <dir>: drop blank lines and comment lines
(starting with //, /** or *), strip each remaining line's whitespace,
then slide a 5-line window over what is left and keep windows of at
least 150 characters. A line is a duplicated-window line if some window
covering it occurs at least twice anywhere in <dir> (in the same file
or another). Prints each file's count of distinct such lines and the
total. --show also prints the repeated windows' first lines with their
locations, largest groups first.
"""
import collections
import os
import sys

WINDOW = 5
MIN_CHARS = 150


def code_lines(path):
    out = []
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            line = raw.strip()
            if not line or line.startswith(("//", "/**", "*")):
                continue
            out.append((no, line))
    return out


def main(argv):
    if not argv or argv[0].startswith("-"):
        sys.exit(__doc__)
    root, show = argv[0], "--show" in argv[1:]
    files = {}
    for d, _, names in os.walk(root):
        for n in sorted(names):
            if n.endswith(".scala"):
                p = os.path.join(d, n)
                files[os.path.relpath(p, root)] = code_lines(p)

    where = collections.defaultdict(list)  # window text -> [(file, idx)]
    for name, lines in files.items():
        for i in range(len(lines) - WINDOW + 1):
            text = "\n".join(l for _, l in lines[i:i + WINDOW])
            if len(text) - (WINDOW - 1) >= MIN_CHARS:
                where[text].append((name, i))

    covered = collections.defaultdict(set)  # file -> source line numbers
    for locs in where.values():
        if len(locs) < 2:
            continue
        for name, i in locs:
            covered[name].update(no for no, _ in files[name][i:i + WINDOW])

    total = 0
    for name in sorted(covered, key=lambda n: (-len(covered[n]), n)):
        print(f"{len(covered[name]):6d}  {name}")
        total += len(covered[name])
    print(f"{total:6d}  total")

    if show:
        groups = sorted(((t, l) for t, l in where.items() if len(l) >= 2),
                        key=lambda tl: (-len(tl[1]), tl[1]))
        for text, locs in groups:
            at = ", ".join(f"{n}:L{files[n][i][0]}" for n, i in locs)
            print(f"\n{len(locs)}x {at}\n    {text.splitlines()[0][:100]}")


if __name__ == "__main__":
    main(sys.argv[1:])
