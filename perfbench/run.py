#!/usr/bin/env python3
"""Build the engine and the benchmark harness from source, then run one
benchmark invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds with sbt (offline)
into `target/` and `perfbench/target/` and records the classpath under
`.bench_build/`; later runs reuse it while the sources are unchanged.
The harness prints `# ` detail lines; the last stdout line is the JSON
result. Exits non-zero, printing no result, when the build, the run or
an output check throws.
"""
import hashlib
import os
import pathlib
import signal
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
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


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for top in [ROOT / "src" / "main", ROOT / "project", BENCH / "src" / "main", BENCH / "project"]:
        inputs += sorted(p for p in top.rglob("*")
                         if p.is_file() and "target" not in p.relative_to(ROOT).parts)
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def classpath():
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath"
    digest = source_stamp()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]:
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    code, out = run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                     "export perfbench/Runtime/fullClasspath"],
                    BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                    stderr=sys.stderr, text=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out)
        fail(f"build failed (sbt exit {code})")
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp.write_text(digest)
    return lines[-1]


def main():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources beside {BENCH.name}/; run from a full checkout")
    cp = classpath()
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn1g", *opens, f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main", *sys.argv[1:]]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; drop it so
    # shuffle and spill files stay inside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    code, out = run(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                    stderr=sys.stderr, text=True)
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = line[len("RESULT "):]
        else:
            print(line)
    if code != 0 or result is None:
        fail(f"benchmark exited with code {code}")
    print(result, flush=True)


if __name__ == "__main__":
    main()
