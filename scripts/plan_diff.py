#!/usr/bin/env python3
"""Compare two `graft.PlanDump` output directories query by query.

Usage: scripts/plan_diff.py <dirA> <dirB>

PlanDump writes one formatted physical plan per query as
`<query>_<label>.txt`; the label (the text after the last `_`) may differ
between the two directories. For every query the script prints the
shuffle and broadcast exchange counts of both plans and whether the
plans are equal once run-specific tokens are normalised:

  - expression ids (`#123`), exchange plan ids (`plan_id=123`);
  - the numeric suffix Spark gives each `functions` lambda variable
    (`x_12`), which counts the lambdas built earlier in the JVM;
  - RDD ids (`MapPartitionsRDD[230]` of a checkpoint), which count the
    RDDs built earlier in the JVM;
  - the per-process warehouse directory (`graft_wh_<pid>`) and the
    per-write uuid in parquet file names.

A plan that still differs is shown as a short diff. When the difference
disappears once the AQE `== Final Plan ==` blocks are left out (and
operator / codegen ids renumbered), the plans differ only in choices AQE
made at run time (a cached stage's join strategy, or the order in which
concurrent query stages got their ids); the script says so rather than
hiding it. Counts cover the whole plan tree, so an AQE plan's exchanges
are counted in both its final and its initial plan.

Exit status: 0 when every query common to both directories has equal
plans, 1 otherwise (including AQE-only differences).
"""
import difflib
import os
import re
import sys

SHUFFLE = re.compile(r"(?<![A-Za-z])Exchange \(\d+\)")
BROADCAST = re.compile(r"BroadcastExchange \(\d+\)")


def load(d):
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt") and "_" in f:
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                out[f[:-4].rsplit("_", 1)[0]] = fh.read()
    return out


def normalise(text):
    text = re.sub(r"#\d+", "#N", text)
    text = re.sub(r"plan_id=\d+", "plan_id=N", text)
    text = re.sub(r"\b(lambda \w+?)_\d+\b", r"\1_N", text)
    text = re.sub(r"part-\d+-[0-9a-f-]{36}", "part-N-UUID", text)
    text = re.sub(r"RDD\[\d+\]", "RDD[N]", text)
    return re.sub(r"graft_wh_\d+", "graft_wh_PID", text)


def split(text):
    """(tree lines, {operator id: detail block}) of a formatted plan."""
    lines = text.splitlines()
    start = next((i for i, l in enumerate(lines) if re.match(r"^\(\d+\) ", l)), len(lines))
    details, cur = {}, None
    for line in lines[start:]:
        m = re.match(r"^\((\d+)\) ", line)
        if m:
            cur = details.setdefault(m.group(1), [])
        if cur is not None and line.strip():
            cur.append(line)
    return [l.rstrip() for l in lines[:start] if l.strip()], details


def without_final_plans(text):
    """The plan with every AQE `== Final Plan ==` block dropped from the
    tree, only the details of the operators left in it, and operator and
    codegen ids renumbered in order of appearance — what stays fixed
    when only AQE's run-time choices differ."""
    lines, details = split(text)
    out, skip_at = [], None
    for line in lines:
        col = len(line) - len(line.lstrip(" :|+-"))
        if skip_at is not None:
            if "== Initial Plan ==" in line and col == skip_at:
                skip_at = None
                out.append(line)
            continue
        if "== Final Plan ==" in line:
            skip_at = col
            continue
        out.append(line)
    ids = list(dict.fromkeys(re.findall(r"\((\d+)\)", "\n".join(out))))
    order = {i: str(n) for n, i in enumerate(ids)}
    text = "\n".join(out + [l for i in ids for l in details.get(i, [])])
    text = re.sub(r"\((\d+)\)", lambda m: "(%s)" % order.get(m.group(1), "?"), text)
    return re.sub(r"codegen id : \d+", "codegen id : N", text)


def counts(text):
    t = "\n".join(split(text)[0])
    return len(SHUFFLE.findall(t)), len(BROADCAST.findall(t))


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = load(argv[1]), load(argv[2])
    only_a, only_b = sorted(a.keys() - b.keys()), sorted(b.keys() - a.keys())
    clean = True
    print(f"{'query':<28} {'shuffles':>9} {'broadcasts':>11}  verdict")
    for q in sorted(a.keys() & b.keys()):
        na, nb = normalise(a[q]), normalise(b[q])
        (sa, ba), (sb, bb) = counts(na), counts(nb)
        if na == nb:
            verdict = "same"
        elif without_final_plans(na) == without_final_plans(nb):
            verdict = "AQE final plan only"
        else:
            verdict = "DIFF"
        clean &= verdict == "same"
        print(f"{q:<28} {sa:>4}/{sb:<4} {ba:>5}/{bb:<5}  {verdict}")
        if verdict != "same":
            diff = list(difflib.unified_diff(
                na.splitlines(), nb.splitlines(), "A", "B", n=0, lineterm=""))
            for line in diff[2:22]:
                print(f"    {line[:160]}")
            if len(diff) > 22:
                print(f"    ... {len(diff) - 22} more diff lines")
    for q in only_a:
        print(f"{q:<28} only in {argv[1]}")
    for q in only_b:
        print(f"{q:<28} only in {argv[2]}")
    sys.exit(0 if clean and not only_a and not only_b else 1)


if __name__ == "__main__":
    main(sys.argv)
