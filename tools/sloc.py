#!/usr/bin/env python3
"""Print the non-blank, non-comment line count of the .scala files under a path.

A line counts unless it is blank or, stripped, starts with `//`, `*` or `/*`.

    python3 tools/sloc.py [path]        (default: src/main/scala)
"""
import pathlib
import sys

root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else "src/main/scala")
files = [root] if root.is_file() else sorted(root.rglob("*.scala"))
print(sum(1 for f in files for line in f.read_text(encoding="utf-8").splitlines()
          if line.strip() and not line.strip().startswith(("//", "*", "/*"))))
