"""Build for the benchmark: compiles the program and the harness with the
Scala compiler that ships in Spark's jar directory, no sbt involved.

The output lands in .bench_build/graftbench-<hash>/ under the checkout,
keyed by a hash of every source file, the compiler and the JDK, so a
second run of unchanged sources starts at once."""
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
HERE = os.path.dirname(os.path.abspath(__file__))

# Spark 4 on JDK 17 outside spark-submit (the list build.sbt passes)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the directory build.sbt
    names as its unmanagedBase. It holds the Scala compiler too."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            sys.exit("build.sbt names no unmanagedBase and SPARK_HOME is unset")
        d = m.group(1)
    if not glob.glob(os.path.join(d, "scala-compiler-*.jar")):
        sys.exit(f"no Spark jar directory with a Scala compiler at {d}")
    return os.path.join(d, "*")


def sources(root):
    app = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    return app, bench


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
         "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if r.returncode != 0:
        sys.exit(f"compile failed: {out}")


def ensure(root):
    """Compile when needed; return the harness JVM's classpath."""
    app, bench = sources(root)
    if not app or not bench:
        sys.exit("no program sources under src/main/scala (run from a checkout root)")
    jars = spark_jars(root)
    h = hashlib.sha256()
    for p in app + bench:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.path.basename(p) for p in glob.glob(jars))).encode())
    h.update(subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                            capture_output=True, text=True).stderr.encode())
    out = os.path.join(root, BUILD_DIR, "graftbench-" + h.hexdigest()[:16])
    done = os.path.join(out, "ok")
    if not os.path.exists(done):
        for stale in glob.glob(os.path.join(root, BUILD_DIR, "graftbench-*")):
            shutil.rmtree(stale)
        scalac(jars, jars, os.path.join(out, "app"), app)
        scalac(jars, os.path.join(out, "app") + os.pathsep + jars,
               os.path.join(out, "bench"), bench)
        open(done, "w").close()
    return os.pathsep.join([os.path.join(out, "bench"), os.path.join(out, "app"), jars])


def metrics(root, kind):
    """The metrics BENCHMARK.json lists under `kind` ("end_to_end" or
    "per_layer"), in order."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)[kind]
