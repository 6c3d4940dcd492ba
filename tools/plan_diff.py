#!/usr/bin/env python3
"""Compare two `graft.Plans <outDir> <tag> <key>...` outputs and print the
keys whose physical plans differ.

usage: plan_diff.py OUTDIR_A:TAG_A OUTDIR_B:TAG_B [--diff]

Each side is the `<outDir>/<key>_<tag>.txt` files one Plans run wrote
(both sides may share an outDir). Before comparing, each plan drops what
changes from run to run or with code layout but not with the plan itself:
expression ids (`#123L`), exchange `plan_id`s, RDD ids, fresh lambda
variable names (`x_39`), JVM lambda class names, identity hashes
(`[J@14f8ca45`), `File.scala:NN` call-site positions, the random
suffix of per-call temp dirs (`/tmp/graft_extract<digits>`) and a
stage's `Statistics(sizeInBytes=32.2 MiB, ...)`: a broadcast stage's
size includes a memory page whose size follows the driver heap, so the
same plan reads 16.2 MiB under a 4g heap and 32.2 MiB under 8g. The
`rowCount` stays. Substrate leaf names stay: they are content-addressed,
so a changed leaf is a real difference.

A distinct-aggregate Expand (one with a `gid` column) is also put in a
canonical order. Spark orders its distinct groups by a hash of their
expression ids, so two runs of one commit can permute them: the
Expand's projection rows, its output columns, every list above it that
carries those columns, and the `gid = k` filters all move together.
The canonical form orders the distinct columns by name and numbers the
groups in that order, everywhere above the Expand.

Prints one line per differing or one-sided key (`--diff` adds a
unified diff of the normalized plans) and exits 1 if any.
"""
import argparse, difflib, glob, os, re, sys

RULES = [
    (re.compile(r"#\d+L?"), "#N"),                           # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=N"),               # exchange plan ids
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),                   # RDD ids
    (re.compile(r"(lambda \w+?)_\d+"), r"\1_N"),             # fresh lambda variables
    (re.compile(r"\$*Lambda\$*\d*/0x[0-9a-f]+"), "$Lambda"),  # JVM lambda classes
    (re.compile(r"@[0-9a-f]{1,8}\b"), "@H"),                 # identity hashes
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),              # call-site positions
    (re.compile(r"(/graft_[A-Za-z_]+)\d+"), r"\1N"),          # per-call temp dirs
    (re.compile(r"sizeInBytes=[\d.E+]+ [KMGTPE]?i?B"), "sizeInBytes=N"),  # heap-sized stats
]


EXPAND_ARGS = re.compile(r"^(\(\d+\) Expand\nInput \[\d+\]: .*\nArguments: )(.*)$", re.M)
GID_FILTER = re.compile(r"\(gid#N = (\d+)\)")
ATTR = re.compile(r"(\w+)#N")


def split_top(s):
    """Split at the commas outside any brackets; None if unbalanced."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
            if depth < 0:
                return None
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    return parts + [s[start:].strip()] if depth == 0 else None


def attr(element):
    """The attribute an element names: the last `name#N` in it."""
    found = ATTR.findall(element)
    return found[-1] if found else None


def rewrite_lists(line, fix):
    """Apply `fix` (elements -> elements or None) to every bracketed
    list in `line`, innermost first; unbalanced lines stay as they are."""
    def walk(i, close):
        buf = []
        while i < len(line):
            ch = line[i]
            if ch in "([":
                inner, i = walk(i + 1, ")" if ch == "(" else "]")
                if inner is None:
                    return None, i
                parts = split_top(inner)
                fixed = fix(parts) if parts else None
                buf.append(ch + (", ".join(fixed) if fixed else inner) + line[i - 1])
                continue
            if ch in ")]":
                return ("".join(buf), i + 1) if ch == close else (None, i)
            buf.append(ch)
            i += 1
        return ("".join(buf), i) if close is None else (None, i)
    out, _ = walk(0, None)
    return line if out is None else out


def canonical_expand(text, m):
    """Order the distinct-aggregate Expand `m` matched by column name
    (see the module docstring)."""
    top = split_top(m.group(2))
    if not top or len(top) != 2:
        return text
    rows = [split_top(r[1:-1]) for r in split_top(top[0][1:-1]) or []]
    out = split_top(top[1][1:-1])
    gid = next((i for i, e in enumerate(out or []) if e.startswith("gid#")), None)
    if gid is None or not rows or any(r is None or len(r) != len(out) for r in rows):
        return text
    distinct = [p for p in range(gid) if any(r[p] == "null" for r in rows)]
    names = [attr(out[p]) for p in distinct]
    canon = sorted(names)
    if None in names or len(set(names)) != len(names):
        return text
    src = {n: p for n, p in zip(names, distinct)}
    perm = {dst: src[n] for dst, n in zip(distinct, canon)}

    def permute(elements):
        return [elements[perm.get(i, i)] for i in range(len(elements))]

    rows = [permute(r) for r in rows]
    key = lambda r: [attr(r[p]) for p in distinct if r[p] != "null"]
    ranked = sorted(rows, key=key)
    old = sorted((r[gid] for r in rows), key=int)
    remap = {r[gid]: new for r, new in zip(ranked, old)}
    for r in ranked:
        r[gid] = remap[r[gid]]
    args = "[%s], [%s]" % (", ".join("[%s]" % ", ".join(r) for r in ranked),
                          ", ".join(permute(out)))

    def fix(elements):
        got = [attr(e) for e in elements]
        for k in range(len(got) - len(names) + 1):
            if got[k:k + len(names)] == names:
                by = dict(zip(names, elements[k:k + len(names)]))
                return elements[:k] + [by[n] for n in canon] + elements[k + len(names):]
        return None

    above = "\n".join(rewrite_lists(l, fix) for l in text[m.end():].split("\n"))
    above = GID_FILTER.sub(lambda g: "(gid#N = %s)" % remap.get(g.group(1), g.group(1)), above)
    return text[:m.start()] + m.group(1) + args + above


def normalize(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    m = EXPAND_ARGS.search(text)
    while m:
        text = canonical_expand(text, m)
        m = EXPAND_ARGS.search(text, m.end())
    return text


def load(side):
    out_dir, sep, tag = side.rpartition(":")
    if not sep or not out_dir or not tag:
        sys.exit(f"expected OUTDIR:TAG, got {side!r}")
    suffix = f"_{tag}.txt"
    files = glob.glob(os.path.join(glob.escape(out_dir), "*" + suffix))
    if not files:
        sys.exit(f"no *{suffix} files in {out_dir}")
    return {os.path.basename(f)[:-len(suffix)]: normalize(open(f).read()) for f in files}


def main():
    ap = argparse.ArgumentParser(description="diff two graft.Plans outputs")
    ap.add_argument("a", metavar="OUTDIR_A:TAG_A")
    ap.add_argument("b", metavar="OUTDIR_B:TAG_B")
    ap.add_argument("--diff", action="store_true", help="print the normalized plan diffs")
    args = ap.parse_args()
    a, b = load(args.a), load(args.b)
    differ = 0
    for key in sorted(a.keys() | b.keys()):
        if key not in b or key not in a:
            print(f"{key}: only in {args.a if key in a else args.b}")
            differ += 1
        elif a[key] != b[key]:
            print(f"{key}: differs")
            differ += 1
            if args.diff:
                sys.stdout.writelines(difflib.unified_diff(
                    a[key].splitlines(True), b[key].splitlines(True), args.a, args.b))
    print(f"{len(a.keys() | b.keys()) - differ} same, {differ} differ")
    sys.exit(1 if differ else 0)


main()
