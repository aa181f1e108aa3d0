"""Rewrite a PlanDump file from after the StaticInvoke change into the
rendering the deleted per-kernel expression classes produced, so that
before/after dumps diff directly:

    static_invoke(graft.Kernels.minHashSig(x, 128))  ->  minhashsignature(x, 128)

Lambda variable numbers (`lambda x_5`) and RDD ids (`MapPartitionsRDD[270]`)
count up per session and move when PlanDump builds a query twice, so both
are replaced by `N`, the way PlanDump itself now rewrites them. Pass
`--counters-only` for a `before` file.

    python3 normalize.py q_after.txt > a.txt
    python3 normalize.py --counters-only q_before.txt > b.txt
    diff b.txt a.txt
"""
import re
import sys

# graft.Kernels method -> lowercased name of the expression class it replaced
CLASS = {
    "hashedShingles": "hashedshingles", "ngramHashes": "ngramhashes",
    "ngramHashLens": "ngramhashlens", "minHashSig": "minhashsignature",
    "sortedIntersectSize": "sortedintersectsize", "simHash64": "simhash64",
    "simHashPortable": "simhashportable", "dotD": "dotproductexpr",
    "cosineD": "cosinesim", "mediaMeta": "mediameta", "chunkSpans": "chunkspans",
    "rollingTokenHash": "rollingtokenhash", "charWindowHashes": "charwindowhashes",
    "bpeCount": "bpetokencountexpr", "piiScrub": "piiscrub",
    "normalizeText": "normalizetext", "stripMarkup": "markupstrip",
    "encodingStats": "encodingstats", "tokenBuckets": "tokenbuckets",
    "fkStats": "fkstats", "cmsPairs": "cmspairs", "cmsTokenCoords": "cmstokencoords",
    "gopherStats": "gopherstats", "dupUnitStats": "dupunitstats",
}
PREFIX = "static_invoke(graft.Kernels."


def closing(text, open_at):
    depth = 0
    for i in range(open_at, len(text)):
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    raise ValueError("unbalanced parentheses")


def kernels(text):
    while (start := text.find(PREFIX)) >= 0:
        paren = text.index("(", start + len(PREFIX))
        name = text[start + len(PREFIX):paren]
        end = closing(text, paren)
        assert text[end + 1] == ")"
        text = text[:start] + CLASS[name] + text[paren:end + 1] + text[end + 2:]
    return text


def counters(text):
    text = re.sub(r"lambda ([a-z]+)_\d+", r"lambda \1_N", text)
    return re.sub(r"RDD\[\d+\]", "RDD[N]", text)


if __name__ == "__main__":
    only = sys.argv[1] == "--counters-only"
    text = open(sys.argv[-1]).read()
    sys.stdout.write(counters(text if only else kernels(text)))
