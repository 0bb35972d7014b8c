"""Build file of the benchmark package.

Compiles the engine sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into one jar, with the Scala
compiler that ships in Spark's jars directory ($SPARK_HOME/jars). It then
runs the benchmark once on a small corpus (`perfbench.Main --train`) to
record a class-data-sharing archive, which roughly halves JVM and Spark
start-up in every run. A digest of every source file is stored next to
the jar; a build whose digest matches is reused.

    python3 perfbench/build.py [BUILD_DIR]     # prints the jar path
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        sys.exit("perfbench: SPARK_HOME must name a Spark install with a jars/ directory")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


JVM_OPTS = ["-XX:-UsePerfData", "-Xmx3g", "-Xss8m"] + [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java_cmd(jar, work, archive):
    """The benchmark JVM's command line up to the main class; every file it
    writes lands under `work`."""
    props = ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
             "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
             "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "hadoop"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return [java()] + JVM_OPTS + archive + props + [
        "-cp", jar + os.pathsep + os.path.join(spark_jars(), "*"), "perfbench.Main"]


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(roots[0]):
        sys.exit("perfbench: engine sources (src/main/scala) not found")
    found = []
    for r in roots:
        for d, _, files in os.walk(r):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Returns (jar, JVM flags that use its class-data archive), compiling
    and training first if any source changed."""
    base = os.path.join(os.path.abspath(build_dir), "perfbench")
    jar, jsa = os.path.join(base, "perfbench.jar"), os.path.join(base, "perfbench.jsa")
    stamp = jar + ".sha256"
    use = ["-XX:SharedArchiveFile=" + jsa]
    files = sources()
    want = digest(files)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return jar, use
    for f in (stamp, jar, jsa):
        if os.path.exists(f):
            os.remove(f)
    classes = os.path.join(base, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(os.path.join(base, "tmp"), exist_ok=True)
    os.makedirs(classes)
    args = os.path.join(base, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
    subprocess.run([java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                    "-Djava.io.tmpdir=" + os.path.join(base, "tmp"),
                    "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
                    "-d", classes, "-classpath", jars, "@" + args],
                   check=True, stdout=sys.stderr)
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, classes))
    shutil.rmtree(classes)
    print("perfbench: recording the class-data archive", file=sys.stderr)
    train = os.path.join(base, "train")
    shutil.rmtree(train, ignore_errors=True)
    subprocess.run(java_cmd(jar, train, ["-XX:ArchiveClassesAtExit=" + jsa]) +
                   ["--train", train], cwd=os.path.join(train, "tmp"),
                   check=True, stdout=sys.stderr)
    shutil.rmtree(train)
    with open(stamp, "w") as fh:
        fh.write(want)
    return jar, use


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")[0])
