#!/usr/bin/env python3
"""Count src/main's Scala code lines: the non-blank lines left after
removing /* ... */ and // comments.

    python3 tools/loc.py [repo-root]      # prints one integer

The rule is deliberately plain (a regex pass, so a "//" inside a string
literal also ends the line) and must stay fixed: simplicity changes
report their before -> after with this same count.
"""
import pathlib
import re
import sys

root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".")
total = 0
for path in sorted((root / "src" / "main").rglob("*.scala")):
    text = re.sub(r"/\*.*?\*/", "", path.read_text(encoding="utf-8"), flags=re.S)
    text = re.sub(r"//.*", "", text)
    total += sum(1 for line in text.splitlines() if line.strip())
print(total)
