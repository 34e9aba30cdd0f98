#!/usr/bin/env python3
"""Compare two `runMain graft.Explain` output directories plan by plan.

Usage:
    python3 tools/plan_diff.py DIR_A DIR_B [--diff]

Explain writes one `<query>.txt` per SparkEntry query. Two runs of the
same commit never match byte for byte, because a plan carries tokens
that change every run; this tool rewrites those tokens to a canonical
form before comparing:

  - expression ids (`doc_id#3380L`), `plan_id=`, lambda variable
    counters (`lambda x_99`) and RDD ids (`MapPartitionsRDD[753]`) are
    renumbered in order of first appearance within each file, so two
    plans compare equal exactly when their reference structure is equal;
  - identity hashes (`@3125a81f`), JVM lambda class names
    (`$$Lambda$7354/0x...`), the per-session warehouse directory
    (`/tmp/graft-graft-explain-<n>/warehouse`) and nanoTime suffixes
    (`_12429614819059`) are replaced by a fixed placeholder;
  - the `Expand` of a distinct aggregate (Spark's RewriteDistinctAggregates,
    output column `gid`) is put in one canonical form first: Spark orders
    its distinct columns and numbers its projections by expression hash,
    which depends on the ids a session allocated before the query, so the
    distinct columns are sorted by name everywhere they appear together
    and the projections are sorted and renumbered, `gid = k` tags with
    them.

Prints the names of the queries whose normalized plans differ (or that
exist on one side only) and exits 1 if there are any, else prints a
one-line summary and exits 0. `--diff` also prints a unified diff of
each differing pair's normalized text.
"""
import difflib
import os
import re
import sys

# (pattern, prefix) pairs renumbered per file in order of first appearance
RENUMBERED = [
    (re.compile(r"#(\d+)"), "#"),
    (re.compile(r"plan_id=(\d+)"), "plan_id="),
    (re.compile(r"\blambda (\w+?)_(\d+)"), None),  # keeps the var name
    (re.compile(r"RDD\[(\d+)\]"), "RDD["),
]
FIXED = [
    (re.compile(r"\$\$Lambda[$\w/]*"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{6,8}\b"), "@HASH"),
    (re.compile(r"[\w/.-]*/graft-[\w.-]*?-\d{6,}/warehouse"), "WAREHOUSE"),
    (re.compile(r"(?<=[_-])\d{10,}"), "NANOS"),
]


EXPAND_ARGS = re.compile(
    r"^Arguments: (\[\[.*\]\]), (\[[^\[\]]*\bgid#\d+[^\[\]]*\])$", re.M)
EXPR_ID = re.compile(r"#\d+")


def split_top(body):
    """Split a list body on the commas outside any brackets."""
    parts, depth, cur = [], 0, ""
    for ch in body:
        depth += (ch in "([") - (ch in ")]")
        if ch == "," and depth == 0:
            parts.append(cur.strip())
            cur = ""
        else:
            cur += ch
    return parts + [cur.strip()]


def canonical_expand(text, line, rows_text, out_text):
    """Rewrite one distinct-aggregate Expand, and the lists and gid tags
    that follow it, into a form independent of expression hashes."""
    rows = [split_top(r[1:-1]) for r in split_top(rows_text[1:-1])]
    out = split_top(out_text[1:-1])
    g = next(i for i, a in enumerate(out) if re.fullmatch(r"gid#\d+", a))
    # the distinct columns: before gid and null in some projection (the
    # group-by columns before them are passed through by every one)
    block = [i for i in range(g) if any(r[i] == "null" for r in rows)]
    order = sorted(block, key=lambda i: EXPR_ID.sub("", out[i]))
    perm = list(range(len(out)))
    for i, j in zip(block, order):
        perm[i] = j
    rows = [[r[p] for p in perm] for r in rows]
    gids = sorted(int(r[g]) for r in rows)
    rows.sort(key=lambda r: [EXPR_ID.sub("", v)
                             for k, v in enumerate(r) if k != g])
    remap = {}
    for r, new in zip(rows, gids):
        remap[r[g]] = str(new)
        r[g] = str(new)
    text = text.replace(line, "Arguments: [%s], [%s]" % (
        ", ".join("[" + ", ".join(r) + "]" for r in rows),
        ", ".join(out[p] for p in perm)))
    seq = ", ".join(out[i] for i in block)
    canon = ", ".join(out[i] for i in order)
    text = re.sub(re.escape(seq) + r"(?!\d)", lambda _: canon, text)
    return re.sub(re.escape(out[g]) + r" = (\d+)\b",
                  lambda m: f"{out[g]} = {remap.get(m.group(1), m.group(1))}",
                  text)


def normalize(text):
    for m in list(EXPAND_ARGS.finditer(text)):
        text = canonical_expand(text, m.group(0), m.group(1), m.group(2))
    for pat, repl in FIXED:
        text = pat.sub(repl, text)
    for pat, prefix in RENUMBERED:
        seen = {}

        def canon(m, seen=seen, prefix=prefix):
            if prefix is None:  # lambda counter: number per variable name
                key = m.group(0)
                n = seen.setdefault(key, len(seen))
                return f"lambda {m.group(1)}_L{n}"
            n = seen.setdefault(m.group(1), len(seen))
            close = "]" if prefix == "RDD[" else ""
            return f"{prefix}{n}{close}"
        text = pat.sub(canon, text)
    return text


def plans(d):
    return {f[:-4]: os.path.join(d, f)
            for f in os.listdir(d) if f.endswith(".txt")}


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 2 or not all(os.path.isdir(a) for a in args):
        print("usage: python3 tools/plan_diff.py DIR_A DIR_B [--diff]",
              file=sys.stderr)
        return 2
    show = "--diff" in argv
    a, b = plans(args[0]), plans(args[1])
    differ = []
    for q in sorted(a.keys() | b.keys()):
        if q not in a or q not in b:
            differ.append(f"{q} (only in {args[0] if q in a else args[1]})")
            continue
        with open(a[q], encoding="utf-8") as fa, \
                open(b[q], encoding="utf-8") as fb:
            na, nb = normalize(fa.read()), normalize(fb.read())
        if na != nb:
            differ.append(q)
            if show:
                sys.stdout.writelines(difflib.unified_diff(
                    na.splitlines(True), nb.splitlines(True),
                    f"{args[0]}/{q}.txt", f"{args[1]}/{q}.txt", n=1))
    for q in differ:
        print(q)
    if differ:
        print(f"{len(differ)} of {len(a.keys() | b.keys())} plans differ",
              file=sys.stderr)
        return 1
    print(f"{len(a)} plans, all equal after normalization")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
