"""Build file of the bench package.

1. Compiles graft's main sources and the bench's own Scala sources with the
   Scala compiler that ships in Spark's jar directory, into one jar.
2. Runs every workload once, briefly, in one JVM that dumps a class-data
   archive at exit. Bench JVMs map that archive instead of loading and
   verifying some ten thousand Spark and graft classes, which takes about
   ten seconds off every run's start.

A content hash of every source file decides whether a rebuild is needed.

    python3 graftbench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(OUT, "graftbench.jar")
ARCHIVE = os.path.join(OUT, "graftbench.jsa")
STAMP = os.path.join(OUT, "build.sha256")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
TRAIN_TIMEOUT_S = 400

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise BuildError("no Spark installation found (set SPARK_HOME)")
    return jars


def jvm_flags(work):
    """Flags of every bench JVM: a fixed heap, and the stack, code-cache
    and module settings graft's own build uses."""
    return [f"--add-opens={p}=ALL-UNNAMED" for p in JDK17_OPENS] + [
        "-Xms3g", "-Xmx3g", "-Xss64m", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
    ]


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, jars):
    h = hashlib.sha256()
    h.update(jars.encode())
    for f in sorted(files + [os.path.abspath(__file__)]):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_jar(files, jars):
    classes = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss64m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, names in os.walk(classes):
            for n in sorted(names):
                p = os.path.join(dirpath, n)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)


def train(cp):
    """One short run of every workload, traced, dumping the archive."""
    work = os.path.join(OUT, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-XX:ArchiveClassesAtExit={ARCHIVE}"] + jvm_flags(work) + [
        "-cp", cp, "graftbench.Main", "--workload", "ta_batch,ta_stream,doc_pipeline",
        "--seed", "0", "--seconds", "1", "--trace", "0", "--train", "1", "--cores", "2",
        "--conf", "spark.graft.ann.bruteMax=2048", "--work", work,
        "--out", os.path.join(work, "result.json")]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            code = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                  timeout=TRAIN_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(ARCHIVE):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise BuildError(f"training run exited with {code}:\n{tail}")
    shutil.rmtree(work)


def classpath():
    """Class path for the bench JVM; builds first when sources changed."""
    jars = spark_jars()
    files = sources()
    if not files:
        raise BuildError("no Scala sources found")
    cp = JAR + os.pathsep + os.path.join(jars, "*")
    want = digest(files, jars)
    if all(map(os.path.exists, (JAR, ARCHIVE, STAMP))) and open(STAMP).read().strip() == want:
        return cp
    os.makedirs(OUT, exist_ok=True)
    for f in (STAMP, ARCHIVE, JAR):
        if os.path.exists(f):
            os.remove(f)
    t0 = time.time()
    compile_jar(files, jars)
    t1 = time.time()
    train(cp)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    print(f"built {len(files)} sources in {t1 - t0:.0f} s, class archive in {time.time() - t1:.0f} s",
          file=sys.stderr)
    return cp


if __name__ == "__main__":
    try:
        classpath()
    except BuildError as e:
        sys.exit(f"build failed: {e}")
