#!/usr/bin/env python3
"""Generated query census (VERDICT r06 next-round #8): counts the
SparkEntry query inventory straight from the sources instead of
hand-edited doc numbers.

Counts dfQ/dual/sqlQ (oracle-checked) and noOracle entries across the
graft.*Queries files and cross-checks against a Verify dump's
oracle_sql.json when one is given.

Usage: python3 tools/census.py [verifyOutDir]
"""
import glob
import json
import os
import re
import sys

SRC = os.path.join(os.path.dirname(__file__), "..", "src", "main", "scala", "graft")

names = {}
for path in glob.glob(os.path.join(SRC, "*Queries.scala")):
    text = open(path, encoding="utf-8").read()
    for kind, name in re.findall(
            r'\b(dfQ|dual|sqlQ|noOracle|Q)\(\s*"(q[0-9]+[a-z0-9_]*)"', text):
        if name in names:
            sys.exit(f"duplicate query name {name} in {path}")
        names[name] = (kind, os.path.basename(path))

oracled = [n for n, (k, _) in names.items() if k != "noOracle"]
rows_only = sorted(n for n, (k, _) in names.items() if k == "noOracle")
print(f"queries: {len(names)}  oracle-checked: {len(oracled)}  "
      f"rows-only: {len(rows_only)}")
print("rows-only:", ", ".join(rows_only))

by_file = {}
for n, (k, f) in names.items():
    by_file.setdefault(f, [0, 0])
    by_file[f][0] += 1
    by_file[f][1] += k != "noOracle"
for f in sorted(by_file):
    t, o = by_file[f]
    print(f"  {f}: {t} ({o} oracled)")

# qtest green-list census vs the docs (VERDICT r07 #3 and r09 #1/#4:
# the script and result-set counts drifted by hand FOUR times across
# README/COVERAGE/SURVEY — every doc number tagged as a qtest count
# must now equal the green list / its declared result-set total).
# The result-set total is declared in the green list's own header
# ("# result-sets: N") and QtestSpec asserts the actual golden-checked
# count equals it, so the suite pins the number census checks.
REPO = os.path.join(os.path.dirname(__file__), "..")
green_path = os.path.join(REPO, "src", "test", "resources", "qtest_green.txt")
raw = open(green_path, encoding="utf-8").read().splitlines()
green = [l.strip() for l in raw
         if l.strip() and not l.strip().startswith("#")]
if len(set(green)) != len(green):
    sys.exit("qtest_green.txt contains duplicates")
rs = [re.match(r"#\s*result-sets:\s*(\d+)", l.strip()) for l in raw]
rs = [m for m in rs if m]
if len(rs) != 1:
    sys.exit("qtest_green.txt must declare exactly one '# result-sets: N'")
result_sets = int(rs[0].group(1))
neg_path = os.path.join(REPO, "src", "test", "resources", "qtest_negative.txt")
negative = [l.strip() for l in open(neg_path, encoding="utf-8")
            if l.strip() and not l.strip().startswith("#")]
print(f"qtest green list: {len(green)} scripts, {result_sets} result sets; "
      f"negative list: {len(negative)} scripts")

drift = []
def check(doc, pattern, expect, what):
    text = open(os.path.join(REPO, doc), encoding="utf-8").read()
    for m in re.finditer(pattern, text):
        if int(m.group(1)) != expect:
            drift.append(f"{doc} says '{m.group(0)}' but {what} is {expect}")

for doc in ("README.md", "COVERAGE.md", "SURVEY.md"):
    check(doc, r"(\d+)(?:-script qtest gate| reference \.q scripts"
               r"| reference qtest scripts)", len(green), "green list")
    check(doc, r"(\d+) scripts / \d+ golden-checked", len(green), "green list")
    check(doc, r"\d+ scripts / (\d+) golden-checked", result_sets,
          "result-set total")
    check(doc, r"\((\d+) result sets\)", result_sets, "result-set total")
    check(doc, r"\((\d+)\s+checked result sets", result_sets,
          "result-set total")
    check(doc, r"(\d+) golden-checked (?:queries|result sets)", result_sets,
          "result-set total")
    check(doc, r"(\d+) (?:reference )?clientnegative scripts", len(negative),
          "negative list")
    check(doc, r"(\d+)-script clientnegative gate", len(negative),
          "negative list")
# VERDICT r12 #3 (third recurrence of intro-count drift): the COVERAGE
# intro's "N of M hash-checked" and "N test registrations" phrases are
# now asserted against the source-derived counts above, plus a static
# count of line-start test( registrations in the spec files.
test_regs = 0
for path in glob.glob(os.path.join(
        REPO, "src", "test", "scala", "graft", "*.scala")):
    for line in open(path, encoding="utf-8"):
        if re.match(r"\s*test\(", line):
            test_regs += 1
for doc in ("README.md", "COVERAGE.md", "SURVEY.md"):
    check(doc, r"\((\d+) of \d+ hash-checked", len(oracled), "oracle-checked")
    check(doc, r"\(\d+ of (\d+) hash-checked", len(names), "query total")
    check(doc, r"(\d+) queries, \d+ DuckDB-oracle-checked", len(names),
          "query total")
    check(doc, r"\d+ queries, (\d+) DuckDB-oracle-checked", len(oracled),
          "oracle-checked")
    check(doc, r"\((\d+) test registrations\)", test_regs,
          "test registration count")
print(f"test registrations: {test_regs}")

# Working-set lifecycle: persist, checkpoint and release go through
# graft/WorkingSet.scala only (scoped working set, iterate round, result
# pin), so no operator can again decide on its own when blocks may be
# dropped. Each allowlisted call site carries its reason.
LIFECYCLE = re.compile(r"\.\s*(?:persist|localCheckpoint|checkpoint|unpersist|"
                       r"cache|cacheTable|uncacheTable)\s*\(|CheckpointBridge")
LIFECYCLE_ALLOWED = {
    ("GraftSession.scala", "spark.catalog.cacheTable(name)"):
        "FROM-source temp view that already exists: cached in place, "
        "under its catalog name",
    ("GraftSession.scala", "spark.catalog.uncacheTable(name)"):
        "releases the in-place cacheTable above",
}


def code_of(text):
    """`text` with its comments blanked to spaces, newlines kept, so a
    match offset still maps to its line. String literals stay code."""
    out, i, n = [], 0, len(text)
    while i < n:
        char = re.match(r"'(?:\\.|[^\\'\n])'", text[i:i + 4])
        comment = False
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
        elif char:
            j = i + len(char.group())
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            j = min(j + 1, n)
        elif text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            comment = True
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            comment = True
        else:
            j = i + 1
        out.append(re.sub(r"[^\n]", " ", text[i:j]) if comment else text[i:j])
        i = j
    return "".join(out)


def forbid(pattern, allowed, home, what):
    """Flag each match of `pattern` in the code (comments blanked) of the
    files under SRC other than `home`, unless an allowed (file, snippet)
    entry covers it. Matching runs on the whole file text, so a pattern
    written with \\s* also catches a call split across lines."""
    for path in sorted(glob.glob(os.path.join(SRC, "**", "*.scala"),
                                 recursive=True)):
        base = os.path.basename(path)
        if base == home:
            continue
        text = open(path, encoding="utf-8").read()
        code = code_of(text)
        code_lines, text_lines = code.split("\n"), text.split("\n")
        for m in pattern.finditer(code):
            first = code.count("\n", 0, m.start())
            last = code.count("\n", 0, m.end())
            span = " ".join(l.strip() for l in code_lines[first:last + 1])
            if not any(base == f and snippet in span for f, snippet in allowed):
                shown = " / ".join(l.strip() for l in text_lines[first:last + 1])
                drift.append(f"{os.path.relpath(path, REPO)}:{first + 1}: "
                             f"{what}: {shown}")


forbid(LIFECYCLE, LIFECYCLE_ALLOWED, "WorkingSet.scala",
       "raw working-set lifecycle call outside WorkingSet")

# HiveQL lexing: what is a literal, an identifier, a comment and code is
# decided in graft/HiveQlText.scala only, so no scanner can again disagree
# with the others about quotes, escapes or comments. Each allowlisted site
# carries its reason.
SCANNER = re.compile(r"var\s+quote\b|quote\s*:\s*Char|codeMask\s*\(|"
                     r"var\s+inStr\b")
SCANNER_ALLOWED = {
    ("QtestRunner.scala", "var inStr = false"):
        "balancedParen scans Java source (a UDF's class text), not HiveQL",
}
forbid(SCANNER, SCANNER_ALLOWED, "HiveQlText.scala",
       "hand-rolled HiveQL scanner outside HiveQlText")

# Array vocabulary: a value bound once per row (`explodeOnce`,
# `explodeOnceIf`) and the possibly-empty index range (`upTo`) are spelled
# in graft/operators/TextOps.scala only, so no operator again pastes a
# lambda binding or a hand-typed empty array.
ARRAYS = re.compile(r"transform\(\s*array\s*\(|filter\(\s*array\s*\(|"
                    r"\.otherwise\(\s*array\s*\(\s*\)\s*\.\s*cast\(")
forbid(ARRAYS, {}, "TextOps.scala",
       "pasted tokenize-once binding or typed empty array outside TextOps")

# One session recipe: the codegen cache size and the other confs the
# engine depends on are set in GraftSession.builder, and a static conf
# is fixed by the first session that uses it, so every session under SRC
# is built there.
BUILDER = re.compile(r"SparkSession\s*\.\s*builder\b")
forbid(BUILDER, {}, "GraftSession.scala",
       "SparkSession.builder outside GraftSession.builder")

for d in drift:
    print("DRIFT:", d)

if len(sys.argv) > 1:
    oracle_json = os.path.join(sys.argv[1], "oracle_sql.json")
    dumped = set(json.load(open(oracle_json)))
    missing = sorted(set(oracled) - dumped)
    extra = sorted(dumped - set(oracled))
    print(f"verify dump: {len(dumped)} oracles; missing={missing} extra={extra}")
    sys.exit(1 if missing or extra or drift else 0)
sys.exit(1 if drift else 0)
