#!/usr/bin/env python3
"""Caller scan: which definitions in src/main nothing but tests reaches.

Usage: python3 tools/caller_scan.py [--all]

Counts every `def` and `val` name defined at member level in
src/main/scala against four trees: main (outside its own definition
lines), test (src/test), perfbench (perfbench/src) and tools. A name is a
whole-word match outside comment lines, so the scan is textual:
overloads share one count, and a common name (`apply`, `schema`) is
matched wherever the word appears in code or a string. Prints one line
per name that main, perfbench and tools never mention — `test-only`
when a test does, `none` when nothing does — with its defining file
and line. `override` members are skipped: they implement an interface
(a Spark expression's `doGenCode`, an aggregate's `serialize`) that the
framework calls, so no caller of theirs is in the source. `--all`
prints every name with its four counts. Dev-only tool; a candidate it prints is read before it is
deleted (a name reached by reflection or SQL text is not a caller here).
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREES = {
    "main": [os.path.join(ROOT, "src/main/scala")],
    "test": [os.path.join(ROOT, "src/test/scala")],
    "perfbench": [os.path.join(ROOT, "perfbench/src")],
    "tools": [os.path.join(ROOT, "tools")],
}
DEF = re.compile(r"^\s*((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|lazy\s+|implicit\s+)*)"
                 r"(?:def|val)\s+([A-Za-z_][A-Za-z0-9_]*)")


def files(roots):
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                if n.endswith((".scala", ".py")) and n != "caller_scan.py":
                    yield os.path.join(d, n)


def read(path):
    with open(path, encoding="utf-8") as f:
        return f.read().splitlines()


def main():
    texts = {tree: {p: read(p) for p in files(roots)} for tree, roots in TREES.items()}
    defs = {}  # name -> [(path, line number)]
    for path, lines in texts["main"].items():
        for i, line in enumerate(lines):
            m = DEF.match(line)
            # member level only: two-space indent under an object or class
            if m and "override" not in m.group(1).split() and \
                    len(line) - len(line.lstrip()) <= 2:
                defs.setdefault(m.group(2), []).append((path, i))
    words = {}
    for tree, by_path in texts.items():
        for path, lines in by_path.items():
            for i, line in enumerate(lines):
                if line.lstrip().startswith(("*", "/*", "//", "#")):
                    continue  # a comment names, it does not call
                for w in set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", line.split("//")[0])):
                    words.setdefault(w, []).append((tree, path, i))
    show_all = "--all" in sys.argv[1:]
    for name in sorted(defs):
        own = set(defs[name])
        counts = {t: 0 for t in TREES}
        for tree, path, i in words.get(name, []):
            if (path, i) not in own:
                counts[tree] += 1
        path, i = defs[name][0]
        where = f"{os.path.relpath(path, ROOT)}:{i + 1}"
        if show_all:
            print(f"{name}\t{where}\t" + "\t".join(f"{t}={counts[t]}" for t in TREES))
        elif counts["main"] + counts["perfbench"] + counts["tools"] == 0:
            print(f"{'test-only' if counts['test'] else 'none'}\t{name}\t{where}")


if __name__ == "__main__":
    main()
