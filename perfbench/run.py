#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ingest_fresh, ingest_redelivery, query_mix (see perfbench/NOTES.md).
The first run in a checkout builds graft and the harness from source with
sbt (offline); later runs reuse the build while the sources are unchanged.
Every file the benchmark writes stays under perfbench/.work. The last line
of standard output is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
WORKLOADS = ("ingest_fresh", "ingest_redelivery", "query_mix")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as in graft's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_fingerprint():
    """Paths, sizes and mtimes of everything the build compiles."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "src" / "main", ROOT / "project", BENCH / "src" / "main", BENCH / "project"):
        if d.is_dir():
            files += [p for p in d.rglob("*") if p.suffix in (".scala", ".sbt", ".properties")
                      and "target" not in p.parts]
    h = hashlib.sha1()
    for p in sorted(files):
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, timeout, stdout=None):
    """Run `cmd` in its own process group; on timeout kill the group
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    return p.returncode, out


def build():
    cp_file = WORK / "classpath.txt"
    stamp = WORK / "build.stamp"
    fp = sources_fingerprint()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    code, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          BENCH, env, BUILD_TIMEOUT_S, stdout=sys.stderr)
    if code != 0 or not cp_file.exists():
        fail(f"build failed (sbt exit {code})")
    stamp.write_text(fp)
    return cp_file.read_text().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"graft sources not found under {ROOT}; run from a graft checkout")
    WORK.mkdir(exist_ok=True)
    cp = build()

    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cmd = ["java"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dderby.stream.error.file={run_dir / 'derby.log'}",
            "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", str(run_dir), "--golden", str(BENCH / "golden.json")]
    code, out = run_bounded(cmd, run_dir, dict(os.environ), RUN_TIMEOUT_S, stdout=subprocess.PIPE)
    lines = out.decode("utf-8", "replace").splitlines()
    result = None
    for i in range(len(lines) - 1, -1, -1):
        try:
            cand = json.loads(lines[i])
        except ValueError:
            continue
        if isinstance(cand, dict) and set(cand) == {"correct", "attempted", "failed", "metrics"}:
            result = cand
            del lines[i]
            break
    for line in lines:
        print(line)
    if code != 0 or result is None:
        fail(f"harness exited with {code} and {'a' if result else 'no'} result")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
