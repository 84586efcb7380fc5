"""Build of the benchmark: graft with its own sbt build, then the JVM
harness in perfbench/src with the Scala compiler that build puts on the
runtime classpath (no second sbt project, so the harness always links
against exactly the classes graft's build produced).

    python3 perfbench/build.py [out_dir]      # default .bench_build

Outputs, under `out_dir`: `classes/` (the harness), `classpath.txt`
(graft's runtime classpath) and `build.stamp` (a hash of every source and
build file; a build whose stamp matches is skipped).
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Failure(Exception):
    pass


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def _run(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout the whole group
    (sbt's launcher script and its JVM) is killed and reaped."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                         start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise Failure(f"{cmd[0]} did not finish in {timeout} s")
    return subprocess.CompletedProcess(cmd, p.returncode, out, err)


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    for top in ("project", "src/main", "perfbench/src"):
        for d, dirs, fs in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(out):
    """Compile the engine (its own sbt build) and the harness; cached by
    a hash of every source and build file."""
    stamp = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    classes = os.path.join(out, "classes")
    want = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.exists(cp_file):
        return open(cp_file).read().strip(), want
    log("building engine and harness ...")
    t0 = time.time()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
              "export Runtime/fullClasspath"], 800, cwd=ROOT, env=env)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-3000:] + r.stderr[-3000:])
        raise Failure("sbt build failed")
    cp = lines[-1].strip()
    jars = cp.split(os.pathsep)
    if not any("scala-compiler" in j for j in jars):
        raise Failure("scala-compiler is not on the engine's classpath")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    srcs = sorted(os.path.join(HERE, "src", "perfbench", f)
                  for f in os.listdir(os.path.join(HERE, "src", "perfbench")))
    r = _run(["java", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
              "-classpath", cp, "-d", classes] + srcs, 300)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-3000:] + r.stderr[-3000:])
        raise Failure("harness compile failed")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.1f}s")
    return cp, want


if __name__ == "__main__":
    try:
        build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")))
    except Failure as e:
        log(f"FAILED: {e}")
        sys.exit(1)
