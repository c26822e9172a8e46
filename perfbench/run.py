#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the program
and the benchmark from source with sbt and copies the jars built inside the
checkout to .bench_build/<key>/, keyed by a hash of the sources, so a later
build of other sources cannot change what a cached key runs. Every run then
starts one JVM that sets up, warms up, measures and checks the workload, and
prints the result object as the last line of stdout. See perfbench/README.md.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("argo_batch", "upload_serve", "semantic_search")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_key(root, bench):
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    files = [root / "build.sbt", root / "project" / "build.properties",
             bench / "build.sbt", bench / "project" / "build.properties"]
    for tree in (root / "src" / "main", bench / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def run_group(cmd, cwd, env, timeout, stdout, stderr):
    """Run a command in its own process group; on timeout kill the group,
    wait for it, and re-raise."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def jvm_cmd(cp, work):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graft.perfbench.Main"]


def ensure_built(root, bench, build_dir):
    """Build once per source hash. The classpath sbt exports names jars under
    the checkout's target/ directories, which the next build of other
    sources overwrites in place; those jars are copied to .bench_build/<key>/
    and the cached classpath names the copies.
    """
    key = source_key(root, bench)
    cp_file = build_dir / f"classpath-{key}.txt"
    if cp_file.exists():
        return key, cp_file.read_text().strip()
    build_dir.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    sbt_opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in sbt_opts:
        sbt_opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = sbt_opts.strip()
    log = build_dir / "build.log"
    with open(log, "wb") as err:
        try:
            rc, out = run_group(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
                 "-Dsbt.server.autostart=false",
                 "export Runtime/fullClasspathAsJars"],
                bench, env, BUILD_TIMEOUT_S, subprocess.PIPE, err)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s; see {log}")
    text = out.decode("utf-8", "replace")
    with open(log, "a", encoding="utf-8") as f:
        f.write(text)
    cps = [l.strip() for l in text.splitlines()
           if "perfbench" in l and ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        fail(f"build failed (exit {rc}); see {log}")
    jars = build_dir / key
    shutil.rmtree(jars, ignore_errors=True)
    jars.mkdir()
    entries = []
    for i, entry in enumerate(cps[-1].split(os.pathsep)):
        path = Path(entry).resolve()
        if path.is_relative_to(root.resolve()):
            copy = jars / f"{i:03d}-{path.name}"
            shutil.copyfile(path, copy)
            entries.append(str(copy))
        else:
            entries.append(entry)
    tmp = cp_file.with_suffix(".tmp")
    tmp.write_text(os.pathsep.join(entries))
    tmp.replace(cp_file)
    return key, cp_file.read_text()


def git_sha(root):
    if not (root / ".git").exists():
        return "unavailable: not a git checkout"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, check=True,
                              capture_output=True, text=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unavailable"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    root = Path.cwd()
    bench = Path(__file__).resolve().parent
    if not (root / "build.sbt").is_file() or \
            not (root / "src" / "main" / "scala" / "graft" / "Engine.scala").is_file():
        fail("run from the repository root: the program's sources are missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    build_dir = root / ".bench_build"
    key, cp = ensure_built(root, bench, build_dir)

    stamp = time.strftime("%Y%m%dT%H%M%S")
    work = build_dir / "work" / f"{args.workload}-{os.getpid()}"
    record = build_dir / "runs" / \
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = jvm_cmd(cp, work) + [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", str(work), "--record", str(record),
            "--build-key", key, "--git-sha", git_sha(root)]
    log = build_dir / "runs" / (record.stem + ".log")
    log.parent.mkdir(parents=True, exist_ok=True)
    try:
        with open(log, "wb") as err:
            rc, out = run_group(cmd, root, dict(os.environ), RUN_TIMEOUT_S,
                                subprocess.PIPE, err)
    except subprocess.TimeoutExpired:
        fail(f"run timed out after {RUN_TIMEOUT_S} s; see {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode("utf-8", "replace").splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if l not in result:
            print(l)
    if not result:
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
        fail(f"no result (exit {rc}); see {log}")
    print(result[-1], flush=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
