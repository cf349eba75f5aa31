#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 25 --trace 0

Run from the repository root. The first run compiles the engine
(src/main) and the benchmark (perfbench/src) with the Scala compiler that
ships with the Spark distribution, into .bench_build/; later runs reuse
that build while the sources are unchanged. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
A run whose outputs fail a check prints that line with "correct": false
and exits 1; a run that cannot build or crashes prints no result line and
exits non-zero.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("analytics", "lifecycle", "corpus")
RESULT_PREFIX = "PERFBENCH_RESULT "
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (build.sbt passes the
# same list to the engine's forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jar directory (it also holds scala-compiler):
    $SPARK_HOME/jars, else next to the spark-submit on PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("scala-compiler-*.jar")):
            return c
    fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def heap():
    """Spark driver heap as the repository's verify recipe sizes it: half of RAM,
    clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def build():
    """Compile engine + benchmark sources once per source digest; return the
    class directory."""
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        fail(f"engine sources not found at {engine}; run from the repository root")
    sources = sorted(engine.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    res_files = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    h = hashlib.sha256()
    for p in sources + res_files:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    out = BUILD / "classes" / h.hexdigest()[:16]
    if (out / ".ok").exists():
        return out
    jars = spark_jars()
    tmp = out.with_name(f"{out.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", f"{jars}/*",
           f"@{argfile}"]
    print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr)
    rc = run_group(cmd, BUILD_TIMEOUT_S, cwd=ROOT, env=dict(os.environ, LC_ALL="C.UTF-8"))
    if rc != 0:
        fail(f"compilation failed (exit {rc})")
    for p in res_files:
        dst = tmp / p.relative_to(resources)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    argfile.unlink()
    (tmp / ".ok").write_text("")
    for old in (BUILD / "classes").iterdir():
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out


def run_group(cmd, timeout, cwd, env, on_line=None):
    """Run `cmd` in its own process group; kill the whole group on timeout
    or when this launcher is terminated, and wait for it. Returns the exit
    code (124 on timeout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if on_line else None, text=True)

    def terminate(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, terminate)
    signal.signal(signal.SIGINT, terminate)
    try:
        if on_line:
            t = threading.Thread(target=lambda: [on_line(l) for l in proc.stdout])
            t.start()
            proc.wait(timeout=timeout)
            t.join()
        else:
            proc.wait(timeout=timeout)
        return proc.returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: timed out after {timeout}s: {cmd[0]}", file=sys.stderr)
        return 124
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def java(classes, args, work, timeout, on_line=None):
    """Run perfbench.Main with the engine's JVM settings; its working
    directory, temp directory and Spark scratch all lie under `work`."""
    jars = spark_jars()
    for d in ("tmp", "local", "scratch"):
        (work / d).mkdir(parents=True, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    env.update(LC_ALL="C.UTF-8", SPARK_GRAFT_LOCAL_DIR=str(work / "local"),
               SPARK_GRAFT_SCRATCH_ROOT=str(work / "scratch"))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           [f"-Xmx{heap()}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main"] + args)
    return run_group(cmd, timeout, cwd=work, env=env, on_line=on_line)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    pinned = BENCH / "pinned.json"
    if not pinned.is_file():
        fail(f"{pinned} is missing")
    classes = build()
    work = BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    result = []

    def on_line(line):
        if line.startswith(RESULT_PREFIX):
            result.append(line[len(RESULT_PREFIX):])
        else:
            sys.stdout.write(line)
            sys.stdout.flush()

    try:
        rc = java(classes, ["run", "--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", a.trace,
                            "--work", str(work), "--data", str(BUILD / "data"),
                            "--pinned", str(pinned)],
                  work, RUN_TIMEOUT_S, on_line)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or len(result) != 1:
        fail(f"benchmark JVM exited with {rc} and {len(result)} result lines", code=rc or 1)
    res = json.loads(result[0])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result keys {sorted(res)}", code=1)
    print(json.dumps(res))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
