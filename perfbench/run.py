#!/usr/bin/env python3
"""Build the engine and its benchmark harness, then run one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload consumer_small --seed 1 \
        --seconds 12 --trace 0

The engine (the repository's own sbt build) and the harness
(perfbench/build.sbt) are compiled on the first call and reused while
their sources are unchanged. Every file the build or the run writes lands
under `.bench_build/` (plus sbt's own `target/` directories). The last line
on stdout is the result object; everything before it is informational.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("consumer_small", "analytics_mix")
# a run may take this long beyond its --seconds: JVM start, set-up,
# warm-up, the end of the last cycle or pass, checks and the traced
# layer pass
RUN_MARGIN_S = 160
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the list the
# repository's build.sbt passes to forked runs).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the two builds compile from."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt(cwd, *commands, log):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
    if "-Xmx" not in opts:
        opts += " -Xmx3g"
    # keep sbt's scratch files inside the checkout
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts += (f" -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"
             " -Dsbt.boot.lock=false")
    env["SBT_OPTS"] = opts.strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", *commands]
    with open(log, "ab") as out:
        proc = subprocess.run(cmd, cwd=cwd, env=env, stdout=out,
                              stderr=subprocess.STDOUT,
                              timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        fail(f"build failed in {cwd} (see {log})")


def build(digest):
    """Compile the engine, then the harness against its classpath."""
    stamp = BUILD / "build.stamp"
    cp_file = BUILD / "classpath.txt"
    if stamp.is_file() and stamp.read_text() == digest and cp_file.is_file():
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    log = BUILD / "build.log"
    log.write_bytes(b"")
    program_cp = BUILD / "program.classpath"
    sbt(ROOT, "compile", "export Runtime/fullClasspath", log=log)
    # the export prints the classpath as the last plain line of output
    lines = [l for l in log.read_text().splitlines()
             if l and not l.startswith("[")]
    if not lines or "classes" not in lines[-1]:
        fail("could not read the engine classpath from sbt")
    program_cp.write_text(lines[-1].replace(":", "\n") + "\n")
    sbt(HERE, "Compile/products", log=log)
    classes = HERE / "target" / "scala-2.13" / "classes"
    cp = f"{classes}:{lines[-1]}"
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def git_commit():
    try:
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(ROOT.parent))
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or \
            not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources next to {HERE.name}/ (need build.sbt and "
             "src/main/scala at the repository root)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    digest = source_digest()
    cp = build(digest)

    work = BUILD / "run"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cores = min(2, os.cpu_count() or 1)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    jvm = ["java", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={work / 'tmp'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        f"-Dderby.system.home={work / 'tmp'}",
        f"-Dperfbench.commit={git_commit()}",
        f"-Dperfbench.sources={digest[:16]}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work),
    ]
    proc = subprocess.Popen(jvm, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("stopped")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    timeout = args.seconds + RUN_MARGIN_S
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {timeout} s")
    lines = out.decode().splitlines()
    result = None
    for line in lines:
        if line.startswith('{"correct"'):
            result = line
        else:
            print(line)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        fail(f"harness exited with code {proc.returncode} and no result")
    json.loads(result)
    print(result, flush=True)


if __name__ == "__main__":
    main()
