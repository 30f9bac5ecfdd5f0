#!/usr/bin/env python3
"""Count the independently settable values of the main code.

A settable value is a parameter with a default: a caller may omit it or
set it. The count runs one regex over every `src/main/**/*.scala` file
and prints one line per package, then the total.

    python3 scripts/settable_values.py [root]
"""
import collections
import pathlib
import re
import sys

# `(` or `,`, an optional `val`/`var`, a name, a type without commas,
# parens or `=`, then `=` that is not part of `=>` or `==`
DEFAULT_PARAM = re.compile(
    r"(?:\(|,)\s*(?:(?:val|var)\s+)?\w+\s*:\s*[^,()=]+?\s*=(?![>=])")


def main() -> None:
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".")
    src = root / "src" / "main" / "scala"
    per_pkg = collections.Counter()
    for path in sorted(src.rglob("*.scala")):
        n = len(DEFAULT_PARAM.findall(path.read_text(encoding="utf-8")))
        if n:
            per_pkg[".".join(path.parent.relative_to(src).parts)] += n
    for pkg, n in sorted(per_pkg.items()):
        print(f"{n:5d}  {pkg}")
    print(f"{sum(per_pkg.values()):5d}  total")


if __name__ == "__main__":
    main()
