"""Builds graft and the benchmark driver from source, once per checkout.

The driver is its own sbt project (perfbench/build.sbt) that depends on
graft's unchanged build at the repository root. The runtime classpath is
cached in perfbench/.build with a stamp of every build input, so a run
rebuilds only when a source or build file changed.
"""

import hashlib
import os
import subprocess

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
CP_FILE = os.path.join(BUILD_DIR, "classpath.txt")
STAMP_FILE = os.path.join(BUILD_DIR, "stamp.txt")

# sbt must never reach for the network: resolve only from local caches.
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.offline=true -Dsbt.override.build.repos=true "
                "-Xmx2g",
}


class BuildError(RuntimeError):
    pass


def check_sources():
    """Fail fast when the checkout has no graft sources to build."""
    for rel in ("build.sbt", "project/build.properties", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            raise BuildError(f"graft source missing: {rel} (run from a full checkout)")


def _inputs():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in _inputs():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath(log, timeout_s):
    """The driver's runtime classpath, building first if needed."""
    check_sources()
    want = stamp()
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        if open(STAMP_FILE).read().strip() == want:
            return open(CP_FILE).read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = SBT_ENV["SBT_OPTS"]
    if os.path.exists(repos):
        opts += f" -Dsbt.repository.config={repos}"
    env.update(SBT_ENV, SBT_OPTS=opts)
    with open(os.path.join(BUILD_DIR, "sbt.log"), "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=timeout_s)
        except subprocess.TimeoutExpired:
            raise BuildError(f"sbt build exceeded {timeout_s:.0f} s")
    lines = open(os.path.join(BUILD_DIR, "sbt.log")).read().splitlines()
    if proc.returncode != 0:
        raise BuildError("sbt build failed:\n" + "\n".join(lines[-20:]))
    cps = [l for l in lines if ".jar" in l and ":" in l and not l.startswith("[")]
    if not cps:
        raise BuildError("sbt printed no classpath")
    with open(CP_FILE, "w") as f:
        f.write(cps[-1].strip())
    with open(STAMP_FILE, "w") as f:
        f.write(want)
    log(f"built driver ({len(cps[-1].split(':'))} classpath entries)")
    return cps[-1].strip()
