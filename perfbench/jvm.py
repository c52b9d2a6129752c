"""Building the program with the benchmark's harness, and talking to the
harness process."""

import hashlib
import json
import os
import subprocess
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "harness")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench-build.sha256")
HEAP = "4g"
# a run must end within its time limit even if a call into the JVM hangs
DEADLINE_S = 170

# What spark-submit would add on JDK 17 (the root build passes the same
# list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt")]
    for base in (PROGRAM_SRC, HARNESS_SRC):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built(log):
    """Compile the program sources and the harness unless the classes
    already match the sources."""
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found at {PROGRAM_SRC}")
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"Spark jars not found at {SPARK_JARS}; set SPARK_HOME")
    digest = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=800)
    if rc != 0:
        raise BuildError(f"sbt compile failed (rc={rc}); see {log}")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    print(f"[perfbench] built program and harness in {time.time() - t0:.1f} s", flush=True)


class Harness:
    """The in-process harness JVM: one JSON command per line in, one
    `@@`-prefixed JSON reply per line out."""

    def __init__(self, work):
        tmp = os.path.join(work, "jvm-tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Harness"]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        self.log_path = os.path.join(work, "jvm.log")
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self._log, text=True, env=env)
        self._watchdog = threading.Timer(DEADLINE_S, self.proc.kill)
        self._watchdog.start()

    def call(self, op, **kw):
        kw["op"] = op
        self.proc.stdin.write(json.dumps(kw) + "\n")
        self.proc.stdin.flush()
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"harness exited during '{op}'; see {self.log_path}")
            if line.startswith("@@"):
                reply = json.loads(line[2:])
                if "error" in reply and op != "run":
                    raise RuntimeError(f"harness '{op}' failed: {reply['error']}")
                return reply

    def close(self):
        """Stop Spark and the JVM, killing it if that takes over 30 s."""
        self._watchdog.cancel()
        if self.proc.poll() is None:
            killer = threading.Timer(30, self.proc.kill)
            killer.start()
            try:
                self.call("exit")
            except (OSError, RuntimeError):
                pass
            self.proc.wait()
            killer.cancel()
        self._log.close()
