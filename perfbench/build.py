"""Builds the program with the repository's own sbt build, once per source
state: a digest of the sources is stamped next to the classes, and a run
whose digest matches the stamp skips sbt entirely."""
import hashlib
import os
import signal
import subprocess
import sys
import time

CLASSES = os.path.join("target", "scala-2.13", "classes")
STAMP = os.path.join(".perfbench", "build.stamp")
LOG = os.path.join(".perfbench", "build.log")
SBT_TIMEOUT_S = 840


class BuildError(RuntimeError):
    pass


def source_digest(root="."):
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties")]
    src = os.path.join(root, "src", "main")
    for d, _, names in sorted(os.walk(src)):
        files += [os.path.join(d, n) for n in sorted(names)]
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built(root="."):
    """Returns (classes dir, seconds spent building; 0 when up to date)."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        raise BuildError("no sbt project here (build.sbt and src/main/scala are "
                         "required); run from the root of a graft checkout")
    digest = source_digest(root)
    classes = os.path.abspath(os.path.join(root, CLASSES))
    stamp = os.path.join(root, STAMP)
    if os.path.isdir(classes) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return classes, 0.0
    t0 = time.perf_counter()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.dirname(os.path.join(root, LOG)), exist_ok=True)
    with open(os.path.join(root, LOG), "w") as log:
        try:
            proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                                    cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
        except OSError as e:
            raise BuildError(f"cannot start sbt: {e}") from e
        try:
            rc = proc.wait(timeout=SBT_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BuildError(f"sbt did not finish within {SBT_TIMEOUT_S} s")
    if rc != 0 or not os.path.isdir(classes):
        raise BuildError(f"sbt compile failed (rc={rc}); see {LOG}")
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    print(f"[perfbench] built in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    return classes, time.perf_counter() - t0
