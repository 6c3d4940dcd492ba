#!/usr/bin/env python3
"""Compare two `graft.Plans <outDir> <tag> <key>...` outputs and print the
keys whose physical plans differ.

usage: plan_diff.py OUTDIR_A:TAG_A OUTDIR_B:TAG_B [--diff]

Each side is the `<outDir>/<key>_<tag>.txt` files one Plans run wrote
(both sides may share an outDir). Before comparing, each plan drops what
changes from run to run or with code layout but not with the plan itself:
expression ids (`#123L`), exchange `plan_id`s, RDD ids, fresh lambda
variable names (`x_39`), JVM lambda class names, identity hashes
(`[J@14f8ca45`) and `File.scala:NN` call-site positions. Substrate leaf
names stay: they are content-addressed, so a changed leaf is a real
difference. Prints one line per differing or one-sided key (`--diff`
adds a unified diff of the normalized plans) and exits 1 if any.
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
]


def normalize(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
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
