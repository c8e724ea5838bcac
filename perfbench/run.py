#!/usr/bin/env python3
"""Run one benchmark workload against the tree under test.

Usage (from the repository root):
    python3 perfbench/run.py --workload <initial_load|graph_queries>
        --seed <n> --seconds <s> --trace <0|1>

Builds the repository with its own sbt build and the benchmark driver
(perfbench/build.sbt) when their sources changed since the last build,
then runs the driver in one JVM on local[nproc]. All files go under
.bench_build/ in the repository root; the per-run directory is deleted on
exit. The last line of standard output is the result JSON.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
WORKLOADS = ("initial_load", "graph_queries")
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# matches the --add-opens list of the repository's build.sbt (Spark on JDK 17)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file whose change requires a rebuild."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for proj in (ROOT / "project", BENCH / "project"):
        files += [p for p in proj.glob("*") if p.suffix in (".sbt", ".properties", ".scala")]
    for src in (ROOT / "src" / "main", BENCH / "src"):
        files += [p for p in src.rglob("*") if p.is_file()]
    return sorted(p for p in files if p.is_file())


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_classpath(cwd, deadline):
    """Compile the sbt project at `cwd`; return its runtime classpath."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    log(f"building {cwd.relative_to(ROOT) if cwd != ROOT else '.'}")
    p = subprocess.run(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True,
                       timeout=max(1, deadline - time.monotonic()))
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit(f"perfbench: build failed in {cwd}")
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    return lines[-1].strip()


def build():
    """Build the tree under test and the driver unless already built."""
    OUT.mkdir(exist_ok=True)
    want = stamp()
    stamp_file, cp_file = OUT / "build.stamp", OUT / "bench.classpath"
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == want:
        return cp_file.read_text()
    deadline = time.monotonic() + BUILD_TIMEOUT_S
    app_cp = sbt_classpath(ROOT, deadline)
    (OUT / "app.classpath").write_text("\n".join(app_cp.split(os.pathsep)) + "\n")
    bench_cp = sbt_classpath(BENCH, deadline)
    cp_file.write_text(bench_cp)
    stamp_file.write_text(want)
    return bench_cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        log(f"no program sources at {ROOT}: run from a checkout of the repository")
        return 2

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classpath = build()

    tmp = OUT / f"run-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    result = tmp / "result.json"
    java = shutil.which("java", path=os.path.join(os.environ.get("JAVA_HOME", ""), "bin")) \
        or "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--tmp", str(tmp), "--result", str(result)]
    proc = None
    try:
        # driver stdout goes to stderr: the result JSON must be the last stdout line
        proc = subprocess.Popen(cmd, cwd=tmp, stdin=subprocess.DEVNULL, stdout=sys.stderr)
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
        if rc != 0 or not result.exists():
            log(f"driver exited with code {rc}")
            return 1
        out = json.loads(result.read_text())
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
