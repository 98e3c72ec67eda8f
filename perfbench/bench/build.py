"""Builds the program and the benchmark harness from the checkout with sbt,
once per distinct source tree, and returns the runtime classpath."""
import hashlib
import os
import signal
import subprocess


class BuildError(RuntimeError):
    pass


def _fingerprint(root):
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src", "project", "perfbench/project"):
        top = os.path.join(root, base)
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    for f in ("build.sbt", "perfbench/build.sbt"):
        with open(os.path.join(root, f), "rb") as fh:
            h.update(f.encode() + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(root, state_dir, timeout):
    """The harness's runtime classpath, building first if the sources
    changed since the last build in this checkout."""
    fp = _fingerprint(root)
    stamp = os.path.join(state_dir, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved_fp, cp = f.read().split("\n", 1)
        if saved_fp == fp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        opts = ["-Xmx2g", "-Dsbt.offline=true"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    try:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "export Runtime/fullClasspath"],
                             cwd=os.path.join(root, "perfbench"), env=env,
                             stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                             stderr=subprocess.PIPE, text=True, start_new_session=True)
    except OSError as e:
        raise BuildError(f"sbt did not run: {e}")
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)  # sbt's JVM runs in the launcher's group
        p.communicate()
        raise BuildError(f"sbt took longer than {timeout} s")
    lines = [ln for ln in out.splitlines() if ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        raise BuildError("sbt failed:\n" + "\n".join((out + err).splitlines()[-30:]))
    cp = lines[-1].strip()
    os.makedirs(state_dir, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(fp + "\n" + cp)
    return cp
