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
