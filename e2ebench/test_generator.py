#!/usr/bin/env python3
"""Test of the benchmark's envelope generator.

Builds the benchmark, has the JVM write three envelope files with their recorded
ground truth, then re-parses every envelope with Python's own JSON parser
and derives the profiles a correct pipeline must deliver, independently of
the generator's bookkeeping and of the program:

    python3 e2ebench/test_generator.py

Exits non-zero on the first disagreement.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

import build

AS_OF_YEAR = 2026


def derive(envelope_dir: Path):
    """Expected profiles and per-file counts, from the raw text alone."""
    expected = {}
    files = []
    for i, f in enumerate(sorted(envelope_dir.glob("env-*.json"))):
        c = dict(lines=0, malformed=0, empty=0, redelivered=0, results=0,
                 null_ids=0, under_age=0, rows_out=0)
        rows_of_line = {}
        for line in f.read_text().splitlines():
            c["lines"] += 1
            if line in rows_of_line:
                # an identical redelivery: the same rows again, no new profile
                c["redelivered"] += 1
                c["rows_out"] += rows_of_line[line]
                continue
            rows_of_line[line] = 0
            try:
                env = json.loads(line)
            except json.JSONDecodeError:
                c["malformed"] += 1
                continue
            results = env.get("results") or []
            c["empty"] += not results
            for r in results:
                c["results"] += 1
                uid = (r.get("login") or {}).get("uuid")
                age = AS_OF_YEAR - int(r["dob"]["date"][:4])
                c["null_ids"] += uid is None
                c["under_age"] += uid is not None and age <= 18
                if uid is None or age <= 18:
                    continue
                rows_of_line[line] += 1
                host = r["email"].split("@", 1)[1].split(".")
                if host[0] == "mail":
                    host = host[1:]
                row = {"id": uid, "gender": r["gender"], "age": age,
                       "domain": host[0], "file": i}
                assert expected.setdefault(uid, row) == row, f"id {uid} reused"
            c["rows_out"] += rows_of_line[line]
        files.append(c)
    return expected, files


def main() -> int:
    classpath = build.build()
    work = build.OUT / "test-generator"
    shutil.rmtree(work, ignore_errors=True)
    subprocess.run(["java", *build.JVM_FLAGS, "-cp", classpath, "e2ebench.Main",
                    "--gen-only", "--seed", "7", "--work", str(work)], check=True)
    truth = [json.loads(l) for l in (work / "truth.jsonl").read_text().splitlines()]
    rec_profiles = {t["id"]: t for t in truth if "id" in t}
    rec_files = [t for t in truth if "lines" in t]
    expected, files = derive(work / "envelopes")
    ok = True
    if rec_profiles != expected:
        ok = False
        print(f"profiles differ: {len(rec_profiles)} recorded, {len(expected)} derived")
    for i, (rec, got) in enumerate(zip(rec_files, files)):
        for k, v in got.items():
            if rec[k] != v:
                ok = False
                print(f"file {i}: {k} recorded {rec[k]}, derived {v}")
    kinds = {k: sum(f[k] for f in files) for k in
             ("malformed", "empty", "redelivered", "null_ids", "under_age")}
    for k, v in kinds.items():
        if v == 0:
            ok = False
            print(f"the generated input holds no {k} case")
    domains = {p["domain"] for p in expected.values()}
    suffixes = set()
    for f in (work / "envelopes").glob("env-*.json"):
        for line in f.read_text().splitlines():
            for s in ("co.uk", "k12.ca.us", "pref.osaka.jp"):
                if f".{s}\"" in line:
                    suffixes.add(s)
    if len(suffixes) < 3:
        ok = False
        print(f"multi-label public suffixes present: {sorted(suffixes)}")
    shutil.rmtree(work, ignore_errors=True)
    print(f"{'PASS' if ok else 'FAIL'}: {len(expected)} profiles, {len(domains)} domains, "
          f"{sum(f['lines'] for f in files)} lines, {kinds}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
