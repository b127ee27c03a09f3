#!/usr/bin/env python3
"""Run one workload of the stream benchmark and print its result.

    python3 perfbench/run.py --workload enrich_append --seed 1 --seconds 6 --trace 0

Builds the harness together with the library sources of the enclosing
checkout (sbt, offline) when they changed since the last build, runs the
workload in one JVM on local[nproc], adds provenance to the record the JVM
wrote under perfbench/out/, and prints as the last stdout line one JSON
object with the keys correct, attempted, failed and metrics. Exits non-zero
without that line when the build or the run fails.

Extra options: --toy (small sizes, for the self-test), --fault
drop_row|alter_value (plant a store fault before the checks).
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
LIBRARY = ROOT / "src" / "main" / "scala"
TARGET = HERE / "target"
CLASSPATH = TARGET / "classpath.txt"
STAMP = TARGET / "sources.sha256"
WORKLOADS = ("enrich_append", "upsert_growing")
JAVA_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [LIBRARY, HERE / "src"]
    files = [p for r in roots if r.is_dir() for p in r.rglob("*.scala")]
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    return sorted(f for f in files if f.is_file())


def sources_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(digest):
    if CLASSPATH.is_file() and STAMP.is_file() and STAMP.read_text() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building harness and library sources")
    t0 = time.time()
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=700)
    if res.returncode != 0 or not CLASSPATH.is_file():
        log(f"build failed (exit {res.returncode})")
        sys.exit(2)
    STAMP.write_text(digest)
    log(f"built in {time.time() - t0:.0f} s")


def git_sha():
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--toy", action="store_true")
    ap.add_argument("--fault", choices=("drop_row", "alter_value"))
    a = ap.parse_args()

    if not (LIBRARY / "graft").is_dir():
        log(f"library sources not found under {LIBRARY}")
        sys.exit(2)
    digest = sources_digest()
    build(digest)

    work = HERE / "work" / f"{a.workload}-{os.getpid()}"
    out = HERE / "out"
    work.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=256m",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", CLASSPATH.read_text().strip(), "perfbench.StreamBench",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work), "--out", str(out)]
           + (["--toy"] if a.toy else [])
           + (["--fault", a.fault] if a.fault else []))
    try:
        res = subprocess.run(cmd, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                             text=True, timeout=JAVA_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {JAVA_TIMEOUT_S} s")
        sys.exit(3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in res.stdout.splitlines() if ln.strip()]
    if res.returncode != 0 or len(lines) < 2 or not lines[-2].startswith("record: "):
        sys.stderr.write(res.stdout)
        log(f"run failed (exit {res.returncode})")
        sys.exit(res.returncode or 4)

    summary = json.loads(lines[-1])
    record_path = pathlib.Path(lines[-2][len("record: "):])
    record = json.loads(record_path.read_text())
    record["provenance"] = {
        "git_sha": git_sha(), "sources_sha256": digest, "nproc": os.cpu_count(),
        "heap": HEAP, "command": sys.argv[1:],
    }
    record_path.write_text(json.dumps(record, indent=1) + "\n")
    print(f"record: {record_path.relative_to(ROOT)} "
          f"sha={record['provenance']['git_sha'] or digest[:12]} nproc={os.cpu_count()} "
          f"spark={record['spark']} seed={a.seed} trace={a.trace}")
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
