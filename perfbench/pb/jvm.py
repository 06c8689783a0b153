"""Building the benchmark's JVM side with sbt and launching it."""

import hashlib
import json
import os
import subprocess
import time

# Spark 4 on JDK 17 needs these outside spark-submit (the same list the
# repository's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
HEAP = ["-Xms3g", "-Xmx3g"]  # fixed, so peak RSS does not follow heap resizing
MAIN = "graft.perfbench.Runner"


def _sources(root):
    """Every file the build reads: the repository's build and main
    sources, and the benchmark's own."""
    tops = ["build.sbt", "project", os.path.join("src", "main"),
            os.path.join("perfbench", "build.sbt"),
            os.path.join("perfbench", "project"),
            os.path.join("perfbench", "src")]
    for top in tops:
        path = os.path.join(root, top)
        if os.path.isfile(path):
            yield top
        for d, dirs, files in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    yield os.path.relpath(os.path.join(d, f), root)


def stamp(root):
    h = hashlib.sha1()
    for rel in _sources(root):
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(hashlib.sha1(f.read()).digest())
    return h.hexdigest()


class Jvm:
    def __init__(self, root, build_dir, log):
        self.root, self.build_dir, self.log = root, build_dir, log
        self.cp_file = os.path.join(build_dir, "classpath.txt")
        self.stamp_file = os.path.join(build_dir, "stamp.txt")
        self.list_file = os.path.join(build_dir, "inventory.json")
        for d in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(build_dir, d), exist_ok=True)

    def ensure_built(self, timeout):
        """Compile with sbt unless the sources are unchanged since the last
        build; then list the inventory once per build."""
        want = stamp(self.root)
        if os.path.exists(self.stamp_file) and os.path.exists(self.list_file):
            with open(self.stamp_file) as f:
                if f.read() == want:
                    return
        env = dict(os.environ, CARGO_TARGET_DIR=self.build_dir)
        with open(os.path.join(self.build_dir, "build.log"), "w") as log:
            out = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=os.path.join(self.root, "perfbench"), env=env,
                stdout=subprocess.PIPE, stderr=log, text=True, timeout=timeout)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            raise RuntimeError("sbt build failed; see %s/build.log" % self.build_dir)
        with open(self.cp_file, "w") as f:
            f.write(lines[-1])
        self.call(["list", self.list_file], timeout=timeout)
        with open(self.stamp_file, "w") as f:
            f.write(want)

    def inventory(self):
        with open(self.list_file) as f:
            return json.load(f)

    def command(self, args):
        with open(self.cp_file) as f:
            cp = f.read().strip()
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        b = self.build_dir
        props = ["-Djava.io.tmpdir=" + os.path.join(b, "tmp"),
                 "-Dspark.local.dir=" + os.path.join(b, "spark-local"),
                 "-Dspark.sql.warehouse.dir=" + os.path.join(b, "warehouse"),
                 "-Dderby.system.home=" + os.path.join(b, "tmp")]
        opens = [x for p in ADD_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
        return [java] + HEAP + opens + props + ["-cp", cp, MAIN] + args

    def call(self, args, timeout):
        """Run the JVM side; stdout is returned, stderr goes to the log.
        The process is killed and reaped if it outlives `timeout`."""
        with open(self.log, "a") as log:
            p = subprocess.Popen(self.command(args), cwd=self.root,
                                 stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = p.communicate(timeout=timeout)
            except BaseException:  # a timeout, or the run itself stopped
                p.kill()
                p.wait()
                raise
        if p.returncode != 0:
            raise RuntimeError("runner %s exited %d; see %s" % (args[0], p.returncode, self.log))
        return out

    def timed_call(self, args, timeout):
        """Like call, with --launch-ns set to the moment of launch."""
        return self.call(args + ["--launch-ns", str(time.time_ns())], timeout)
