#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks.

    python3 perfbench/selftest.py

Runs every workload at toy size three times: as is, which must pass every
check, and with a fault planted in the written store before the checks run,
which must fail them:

- drop_row: one row of one data file of the store is deleted;
- alter_value: one row's purchase_amount is changed.

Also checks that the benchmark refuses to run, without printing a result,
when the library sources are absent. Exits 0 when every case behaves as
expected.
"""
import json
import pathlib
import shutil
import subprocess
import sys
import tempfile

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("enrich_append", "upsert_growing")
# each fault must trip at least these checks
CASES = {None: set(), "drop_row": {"store_rows", "store_hash"},
         "alter_value": {"store_hash", "sum_by_city_total"}}


def run(workload, fault, cwd=ROOT):
    cmd = [sys.executable, str(cwd / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", "0", "--toy"]
    if fault:
        cmd += ["--fault", fault]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def main():
    ok = True
    for w in WORKLOADS:
        for fault, must_fail in CASES.items():
            p = run(w, fault)
            if p.returncode != 0:
                print(f"FAIL {w} {fault}: exit {p.returncode}\n{p.stderr[-2000:]}")
                ok = False
                continue
            summary = json.loads(p.stdout.strip().splitlines()[-1])
            record = json.loads((HERE / "out" / f"record-{w}-seed7-trace0.json").read_text())
            failed = {c["name"] for c in record["checks"] if not c["ok"]}
            good = (summary["correct"] and not failed) if fault is None else \
                (not summary["correct"] and must_fail <= failed and summary["failed"] > 0)
            ok &= good
            print(f"{'ok  ' if good else 'FAIL'} {w:15s} fault={fault or 'none':12s} "
                  f"correct={summary['correct']} failed={summary['failed']} "
                  f"failing checks={sorted(failed)}")
    # a directory holding only the benchmark must not produce a result
    (HERE / "work").mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=HERE / "work") as tmp:
        bare = pathlib.Path(tmp)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns("target", "out", "work"))
        p = run("enrich_append", None, cwd=bare)
        good = p.returncode != 0 and not p.stdout.strip()
        ok &= good
        print(f"{'ok  ' if good else 'FAIL'} without library sources: exit {p.returncode}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
