"""Builds the program and the benchmark harness, and runs the harness JVM."""
import hashlib
import json
import os
import subprocess
import sys

HEAP = "3g"
RUN_LIMIT_S = 170          # a run, build excluded, must end well within 180 s

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ---------------------------------------------------------------

def source_hash(root):
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/harness/build.sbt",
            "perfbench/harness/project", "perfbench/harness/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            if "target" not in os.path.relpath(d, p).split(os.sep)
            for f in fs if f.endswith((".scala", ".sbt", ".properties", ".java")))
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Compile program + harness once per source tree; returns the classpath."""
    stamp_file = os.path.join(root, "perfbench/harness/target/perfbench.build.json")
    src = source_hash(root)
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            stamp = json.load(f)
        if stamp.get("src") == src and stamp.get("root") == root:
            return stamp["classpath"], src
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(work, exist_ok=True)
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
             "export harness/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench/harness"), env=env,
            stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=840)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"src": src, "root": root, "classpath": cps[-1]}, f)
    return cps[-1], src


def run_harness(cp, work, params, trace, limit_s=RUN_LIMIT_S, heap=HEAP):
    for d in ("tmp", "local", "warehouse", "data"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    out = os.path.join(work, "result.json")
    args = dict(params, trace=trace,
                localDir=os.path.join(work, "local"),
                warehouse=os.path.join(work, "warehouse"),
                out=out, spans=os.path.join(work, "spans.jsonl"))
    # a heap fixed from the start: a growing heap keeps pass times falling
    cmd = (["java", *ADD_OPENS, f"-Xms{heap}", f"-Xmx{heap}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()])
    with open(os.path.join(work, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "harness.log"), errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die(f"harness exited with {rc}")
    with open(out) as f:
        return json.load(f)
