#!/usr/bin/env python3
"""Count the direct store call sites in the streaming views.

A view that merges or pins a store itself, instead of going through
`IncrementalAgg`'s shapes, shows up as a `.merge(`, `versionBefore(` or
`rowsForKeysAt(` call in `src/main/scala/graft/streaming/Streaming*.scala`.
Prints one line per file with any such call (merge / versionBefore /
rowsForKeysAt), then the totals.

    python3 scripts/store_sites.py [root]
"""
import pathlib
import re
import sys

PATTERNS = [re.compile(p) for p in
            (r"\.merge\(", r"\bversionBefore\(", r"\browsForKeysAt\(")]


def main() -> None:
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".")
    src = root / "src" / "main" / "scala" / "graft" / "streaming"
    totals = [0] * len(PATTERNS)
    print("merge  versionBefore  rowsForKeysAt  file")
    for path in sorted(src.glob("Streaming*.scala")):
        text = path.read_text(encoding="utf-8")
        counts = [len(p.findall(text)) for p in PATTERNS]
        if any(counts):
            print(f"{counts[0]:5d}  {counts[1]:13d}  {counts[2]:13d}  "
                  f"{path.name}")
        totals = [t + c for t, c in zip(totals, counts)]
    print(f"{totals[0]:5d}  {totals[1]:13d}  {totals[2]:13d}  total")


if __name__ == "__main__":
    main()
