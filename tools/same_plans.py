#!/usr/bin/env python3
"""Plan-identity diff of two graft.Explain dumps.

Usage: python3 tools/same_plans.py [--top-only] <explainA.md> <explainB.md> [query ...]

The plan counterpart of tools/same_outputs.py. Each dump holds one
`## <query>` section per catalog query with its formatted physical plan
(`runMain graft.Explain <sfDir> <out.md>`), followed by one
`### Below barrier RDD[N]` subsection per `graft.Barrier` built while
planning the query, holding that barrier's producer plan. Both parts are
compared; `--top-only` drops the subsections first, to compare against a
dump that has none. Before comparing, each section's run-specific
numbering is renumbered by first appearance, subsections included:

- expression ids (`text#746`, `count#12L`);
- RDD ids (`MapPartitionsRDD[87]`, `### Below barrier RDD[87]`) and the
  source line of the call site that created the RDD
  (`at localCheckpoint at Dedup.scala:518`);
- operator ids (`(12)` node labels, `[codegen id : 3]`,
  `operator id = 5`, `Reuses operator id: 12`, `[plan_id=401]`);
- JVM object identities, which differ per run: identity hash codes
  (`[[D@4c85eb6b`, a plan-literal array whose values the dump never
  prints) and lambda class names (`$Lambda$5887/0x00007f813561ef58`).

Two plans that differ only in that numbering read SAME; anything else
(an extra Exchange, another key, another floor's spread) reads DIFF.

Prints one SAME/DIFF/MISSING line per query; exits 1 if any query is not
SAME.
"""
import re
import sys

# (pattern whose group 1 is a run-specific number, its namespace)
NUMBERED = [
    (re.compile(r"#(\d+)"), "expr"),
    (re.compile(r"RDD\[(\d+)\]"), "rdd"),
    (re.compile(r"\[plan_id=(\d+)\]"), "plan"),
    (re.compile(r"\[codegen id : (\d+)\]"), "codegen"),
    (re.compile(r"operator id(?: =|:) (\d+)"), "op"),
    (re.compile(r"^\((\d+)\) ", re.M), "op"),
    (re.compile(r"\s\((\d+)\)$", re.M), "op"),
]
CALL_SITE = re.compile(r"(\w+\.scala):\d+")
LAMBDA = re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+")
IDENTITY = re.compile(r"(?<=[\w\[;$])@[0-9a-f]{1,8}\b")


BELOW = "### Below barrier "


def sections(path, top_only=False):
    """query name -> its plan text (without the below-barrier
    subsections if `top_only`)."""
    out, name, lines = {}, None, []
    with open(path) as f:
        for line in f:
            if line.startswith("## "):
                if name is not None:
                    out[name] = "".join(lines)
                name, lines, below = line[3:].strip(), [], False
            elif name is not None:
                below = below or (top_only and line.startswith(BELOW))
                if not below:
                    lines.append(line)
    if name is not None:
        out[name] = "".join(lines)
    return out


def normalize(plan):
    """`plan` without call-site lines and object identities, and with each
    numbering namespace renumbered by first appearance."""
    plan = CALL_SITE.sub(r"\1", plan)
    plan = IDENTITY.sub("@obj", LAMBDA.sub("$Lambda", plan))
    seen = {space: {} for _, space in NUMBERED}
    for pattern, space in NUMBERED:
        ids = seen[space]

        def renumber(m):
            n = ids.setdefault(m.group(1), len(ids))
            a, b = m.span(1)
            return m.group(0)[: a - m.start()] + f"{space}{n}" + m.group(0)[b - m.start():]

        plan = pattern.sub(renumber, plan)
    return plan


def first_difference(a, b):
    la, lb = a.splitlines(), b.splitlines()
    for i, (x, y) in enumerate(zip(la, lb)):
        if x != y:
            return f"line {i + 1}\n  A: {x}\n  B: {y}"
    return f"line count A={len(la)} B={len(lb)}"


def main():
    args = sys.argv[1:]
    top_only = "--top-only" in args
    args = [x for x in args if x != "--top-only"]
    if len(args) < 2:
        sys.exit(__doc__)
    a, b = sections(args[0], top_only), sections(args[1], top_only)
    queries = args[2:] or sorted(set(a) | set(b))
    bad = 0
    for q in queries:
        if q not in a or q not in b:
            print(f"MISSING {q}: A={q in a} B={q in b}")
            bad += 1
            continue
        na, nb = normalize(a[q]), normalize(b[q])
        if na == nb:
            print(f"SAME {q}")
        else:
            print(f"DIFF {q}: {first_difference(na, nb)}")
            bad += 1
    print(f"{len(queries) - bad}/{len(queries)} same plans")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
