#!/usr/bin/env python3
"""Normalize the kernel calls in graft.PlanDump dumps so dumps diff cleanly.

    python3 scripts/plan_normalize.py FILE                  # normalized dump on stdout
    python3 scripts/plan_normalize.py --compare BEFORE_DIR AFTER_DIR
    python3 scripts/plan_normalize.py --kernels DIR         # rows per stateful kernel

A kernel that takes prebuilt state renders in two forms. A hand-written
expression class prints its lowercased class name and all its constructor
arguments, flattened and truncated (`bigramscore(text#N, (a b,-1), ...,
... 5020 more fields)`); a `StaticInvoke` prints
`static_invoke(graft.Kernels.bigramScore(text#N, lm(50 entries), ...))`.
Both become `graft.Kernels.bigramScore(text#N, …)`: the input column is
kept, every state and constant argument is blanked. Stateless kernels are
left as they are. So is the rest of the plan, except what differs between
two runs of one plan: identity hashes of printed objects (`TopKAgg@1c96322c`),
lambda class names and the names of temporary directories and part files.

`--compare` pairs `<query>_<suffix>.txt` files of two PlanDump output
directories by query name, prints a unified diff of the normalized dumps of
each query that differs, and ends with a count line. `--kernels` lists,
for each stateful kernel, the queries whose dump calls it.
"""
import difflib
import os
import re
import sys

# lowercased expression class name -> the graft.Kernels method it called
CLASS_FORMS = {
    "centroidcell": "centroidCell",
    "centroidprobes": "centroidProbes",
    "lshbands": "lshBands",
    "doctokenstats": "docTokenStats",
    "stopwordlangid": "langIdLabel",
    "bpeencodecount": "bpeEncodeCount",
    "unigramscore": "unigramScore",
    "bigramscore": "bigramScore",
    "registrabledomainheuristic": "registrableDomainHeuristic",
    "registrabledomainpsl": "registrableDomain",
    "nbscore": "nbScore",
    "intervalbucket": "intervalBucket",
}
METHODS = sorted(set(CLASS_FORMS.values()))
NOISE = [
    (re.compile(r"\$\$Lambda\$\d+/0x[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{5,8}\b"), "@H"),
    (re.compile(r"(/tmp/graft_\w*?_)\d{6,}"), r"\1N"),
    (re.compile(r"part-\d+-[0-9a-f-]{36}"), "part-N"),
]
CALL = re.compile(r"static_invoke\(graft\.Kernels\.(\w+)\(|(?<![\w.])("
                  + "|".join(CLASS_FORMS) + r")\(")


def close(s, i):
    """Index of the ')' closing the paren opened just before s[i], or len(s).
    Only parentheses count: a state may print an unbalanced '[' ([D@1f2e)."""
    depth = 1
    while i < len(s):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    return len(s)


def first_arg(args):
    depth = 0
    for i, c in enumerate(args):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            return args[:i]
    return args


def normalize_line(line):
    out, pos = [], 0
    while True:
        m = CALL.search(line, pos)
        if not m:
            out.append(line[pos:])
            return "".join(out)
        method = m.group(1) or CLASS_FORMS[m.group(2)]
        if m.group(1) and method not in METHODS:
            out.append(line[pos:m.end()])
            pos = m.end()
            continue
        end = close(line, m.end())
        arg = normalize_line(first_arg(line[m.end():end]))
        out.append(f"{line[pos:m.start()]}graft.Kernels.{method}({arg}, …)")
        pos = end + 1
        if m.group(1) and line[pos:pos + 1] == ")":  # static_invoke's own paren
            pos += 1


def normalize(text):
    for pattern, repl in NOISE:
        text = pattern.sub(repl, text)
    return "\n".join(normalize_line(l) for l in text.split("\n"))


def dumps(d):
    """query name -> path for every `<query>_<suffix>.txt` in d."""
    files = [f for f in os.listdir(d) if f.endswith(".txt")]
    suffixes = {f[:-4].rsplit("_", 1)[1] for f in files}
    if len(suffixes) != 1:
        sys.exit(f"{d}: expected one dump suffix, found {sorted(suffixes)}")
    cut = len(suffixes.pop()) + 5
    return {f[:-cut]: os.path.join(d, f) for f in files}


def read(path):
    with open(path, encoding="utf-8") as f:
        return normalize(f.read())


def compare(before, after):
    a, b = dumps(before), dumps(after)
    same = 0
    for q in sorted(a.keys() | b.keys()):
        if q not in a or q not in b:
            print(f"{q}: only in {'before' if q in a else 'after'}")
            continue
        x, y = read(a[q]).splitlines(), read(b[q]).splitlines()
        if x == y:
            same += 1
        else:
            print(f"{q}: differs")
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                x, y, "before", "after", n=0, lineterm=""))
    print(f"{same} / {len(a.keys() | b.keys())} normalized plans identical")


def kernels(d):
    texts = {q: read(p) for q, p in dumps(d).items()}
    for method in METHODS:
        rows = sorted(q for q, t in texts.items() if f"graft.Kernels.{method}(" in t)
        print(f"{method} ({len(rows)}): {', '.join(rows)}")


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--compare":
        compare(sys.argv[2], sys.argv[3])
    elif len(sys.argv) == 3 and sys.argv[1] == "--kernels":
        kernels(sys.argv[2])
    elif len(sys.argv) == 2:
        sys.stdout.write(read(sys.argv[1]))
    else:
        sys.exit(__doc__)
