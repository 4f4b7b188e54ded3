#!/usr/bin/env python3
"""Compare two sets of `graft.Probe` plan files query by query.

    python3 tools/plan_diff.py <dirA> <dirB>

Each dir holds `<query>_<suffix>.txt` files (one suffix per dir). Before
comparing, each plan is normalized so that two runs of the same plan
read the same: expression ids (`#123`), RDD ids (`RDD[45]`), plan-node
ids (`(12)`, `*(3)`, `plan_id=…`, query-stage numbers), source line
numbers of RDD call sites (`LlmScale.scala:449`), per-JVM staging roots
and UUIDs in paths. Prints `identical` or `different` per query, then
the first differing lines of each different one; queries present in
only one dir are listed as such. Exits 1 when any query differs.
"""
import pathlib
import re
import sys

RULES = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\(\d+\)"), "()"),
    (re.compile(r"codegen id : \d+"), "codegen id : "),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(QueryStage|stageId) \d+"), r"\1 "),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:"),
    (re.compile(r"graft_stage\d+"), "graft_stage"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f-]*"), "<uuid>"),
]


def normalize(text):
    lines = []
    for line in text.splitlines():
        for pat, rep in RULES:
            line = pat.sub(rep, line)
        lines.append(line)
    return lines


def plans(d):
    """query name -> normalized lines, the suffix after the last `_` dropped."""
    return {p.stem.rsplit("_", 1)[0]: normalize(p.read_text(encoding="utf-8"))
            for p in sorted(pathlib.Path(d).glob("*.txt"))}


def main(a, b, shown=3):
    pa, pb = plans(a), plans(b)
    differ = False
    for name in sorted(pa.keys() | pb.keys()):
        if name not in pa or name not in pb:
            print(f"{name}: only in {a if name in pa else b}")
            differ = True
            continue
        la, lb = pa[name], pb[name]
        if la == lb:
            print(f"{name}: identical")
            continue
        differ = True
        rows = [i for i in range(max(len(la), len(lb)))
                if i >= len(la) or i >= len(lb) or la[i] != lb[i]]
        print(f"{name}: different ({len(rows)} lines)")
        for i in rows[:shown]:
            print(f"  line {i + 1}")
            print(f"    - {la[i] if i < len(la) else '<end>'}")
            print(f"    + {lb[i] if i < len(lb) else '<end>'}")
    return 1 if differ else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
