"""Builds graft and the harness from the checkout's sources with sbt, once
per source state: a digest of every build input is stamped beside the
exported classpath, and a matching stamp skips sbt entirely."""
import hashlib
import os
import subprocess

HARNESS = os.path.join("perfbench", "harness")
INPUTS = ["build.sbt", "project", "src/main",
          os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project"),
          os.path.join(HARNESS, "src")]


def source_digest(root):
    """sha256 over the paths and contents of every build input."""
    h = hashlib.sha256()
    for rel in INPUTS:
        top = os.path.join(root, rel)
        paths = []
        if os.path.isfile(top):
            paths = [top]
        else:
            for d, dirs, files in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                paths += [os.path.join(d, f) for f in files
                          if f.endswith((".scala", ".sbt", ".properties", ".java"))]
        for p in sorted(paths):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_command(tmp):
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.color=false",
           "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-J-Xmx2g",
           "-J-XX:-UsePerfData", f"-J-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    return cmd + ["harness/compile", "export harness/Runtime/fullClasspath"]


def ensure(root, build_dir, timeout):
    """Classpath for the harness, building first when the sources changed."""
    stamp = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    digest = source_digest(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            fresh = f.read().strip() == digest
        with open(cp_file) as g:
            cp = g.read().strip()
        if fresh and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    # no JVM that sbt starts writes a perf-data file outside the checkout
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    proc = subprocess.run(sbt_command(os.environ.get("TMPDIR", build_dir)), cwd=os.path.join(root, HARNESS), env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=timeout)
    if proc.returncode != 0:
        raise RuntimeError("sbt build failed:\n" + proc.stdout[-4000:])
    cp = [l.strip() for l in proc.stdout.splitlines() if l.strip().startswith("/")]
    if not cp:
        raise RuntimeError("sbt printed no classpath:\n" + proc.stdout[-4000:])
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cp[-1]
