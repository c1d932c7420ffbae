"""Build the engine and the benchmark harness from source, once per tree.

The harness is the sbt build in `bench/jvm`; it depends on the
repository's own build two directories up, so one sbt call compiles the
engine and the harness. The result (the runtime classpath and the query
catalog) is cached under the work directory, keyed by a hash of every
source and build file, and rebuilt when any of them changes.
"""
import hashlib
import json
import os
import subprocess

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
JVM = os.path.join(BENCH, "jvm")


class BuildError(RuntimeError):
    pass


def _sources():
    roots = [os.path.join(REPO, "src", "main"), os.path.join(JVM, "src")]
    files = [os.path.join(REPO, "build.sbt"),
             os.path.join(REPO, "project", "build.properties"),
             os.path.join(JVM, "build.sbt"),
             os.path.join(JVM, "project", "build.properties")]
    for root in roots:
        for d, _, fs in os.walk(root):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def check_tree():
    """Fail early when the engine's sources are not beside the benchmark."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(REPO, need)):
            raise BuildError(f"engine source not found: {need} is missing "
                             f"next to {os.path.relpath(BENCH, REPO)}/")


def _stamp():
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, REPO).encode())
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_opts(heap_gb):
    """JVM flags: the module opens Spark needs on JDK 17 (the list
    build.sbt passes) and the system properties build.sbt sets."""
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    out = []
    for p in opens:
        out += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return out + ["-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC",
                  "-Duser.timezone=UTC", f"-Xmx{heap_gb}g", "-XX:+UseParallelGC"]


def ensure_built(log):
    """Return (classpath, catalog) for the current tree, building if needed."""
    check_tree()
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp = _stamp()
    stamp_f = os.path.join(out, "stamp")
    cp_f = os.path.join(out, "classpath.txt")
    cat_f = os.path.join(out, "catalog.json")
    if (os.path.exists(stamp_f) and os.path.exists(cp_f)
            and os.path.exists(cat_f) and open(stamp_f).read() == stamp):
        return open(cp_f).read().strip(), json.load(open(cat_f))
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.override.build.repos=true -Dsbt.offline=true"
                       " -Dsbt.server.forcestart=false -Xmx2g").strip()
    with open(os.path.join(out, "sbt.log"), "w") as fh:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export harness/Runtime/fullClasspath"],
                           cwd=JVM, env=env, stdout=subprocess.PIPE,
                           stderr=fh, text=True, timeout=840)
        fh.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        raise BuildError(f"sbt build failed (exit {p.returncode}); see {out}/sbt.log")
    cp = lines[-1].strip()
    if not cp.split(os.pathsep)[0].endswith("classes"):
        raise BuildError(f"unexpected sbt output: {cp[:200]}")
    subprocess.run(["java"] + java_opts(1) + ["-cp", cp, "graftbench.Main",
                    "catalog", cat_f], check=True, timeout=120,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(cp_f, "w") as fh:
        fh.write(cp)
    with open(stamp_f, "w") as fh:
        fh.write(stamp)
    log(f"built harness ({len(cp.split(os.pathsep))} classpath entries)")
    return cp, json.load(open(cat_f))
