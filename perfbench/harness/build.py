"""Build the JVM harness (engine sources + perfbench/jvm) with sbt and
launch it. The build is skipped when the sources hash to the stamp of
the previous build in the same tree."""
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))   # perfbench/
ROOT = os.path.dirname(HERE)                                           # repo root
JVM = os.path.join(HERE, "jvm")
TARGET = os.path.join(JVM, "target")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def _sources():
    for base in (ENGINE_SRC, os.path.join(JVM, "src")):
        for d, _, files in os.walk(base):
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(JVM, "build.sbt")
    yield os.path.join(JVM, "project", "build.properties")


def _stamp():
    h = hashlib.sha256()
    for p in sorted(_sources()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def ensure_built(log=sys.stderr):
    """Compile if needed; return (classpath, {"oracles": oracle SQL of the
    ch_sql mix, "files_per_table": BenchLayout.filesPerTable})."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}: run from a full checkout")
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "perfbench.classpath")
    oracle_file = os.path.join(TARGET, "perfbench.oracles.json")
    stamp = _stamp()
    fresh = (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
             and os.path.exists(cp_file) and os.path.exists(oracle_file))
    if not fresh:
        print("[perfbench] building the harness (sbt compile)", file=log, flush=True)
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=JVM, env=_sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=840)
        lines = [ln for ln in r.stdout.splitlines() if ln and not ln.startswith("[")]
        if r.returncode != 0 or not lines:
            print(r.stdout[-4000:], file=log)
            raise SystemExit("sbt build failed")
        os.makedirs(TARGET, exist_ok=True)
        with open(cp_file, "w") as f:
            f.write(lines[-1].strip())
        java(lines[-1].strip(), ["--dump-oracles", oracle_file], cwd=TARGET, heap="1g",
             log_path=os.path.join(TARGET, "perfbench.oracles.log"), timeout=120)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(cp_file) as f:
        cp = f.read().strip()
    with open(oracle_file) as f:
        return cp, json.load(f)


def java(cp, args, cwd, heap, log_path, timeout, tmp=None):
    """Run perfbench.Main to completion; raise with the log tail on failure."""
    tmp = tmp or cwd
    cmd = ["java", f"-Xmx{heap}", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-XX:CompileThresholdScaling=0.1", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"perfbench.Main exited with {rc}:\n{tail}")
