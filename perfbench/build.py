"""Build file of the benchmark.

1. Compiles the program (``src/main/scala``) and the benchmark harness
   (``perfbench/scala``) with the Scala compiler that ships in the Spark
   distribution.
2. Packs the classes and ``src/main/resources`` into one jar.
3. Runs the harness once on small inputs (``train``) and keeps the JVM's
   class-data archive of every class it loaded, so each benchmark run starts
   its JVM and Spark session from the archive instead of re-reading and
   verifying ~20k classes from the jars.

Everything goes to ``.bench_build/`` and is reused while no source file
changes. Run from the repo root: ``python3 perfbench/build.py``.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]
RESOURCES = "src/main/resources"
HEAP = "3g"
YOUNG = "768m"

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("no Spark jars found: set SPARK_HOME")
    return jars


def sources(root):
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        raise SystemExit("program sources (src/main/scala) not found: run from the repo root")
    out = []
    for d in SOURCE_DIRS + [RESOURCES]:
        out += [f for f in glob.glob(os.path.join(root, d, "**", "*"), recursive=True)
                if os.path.isfile(f)]
    return sorted(out) + [os.path.abspath(__file__)]


def tree_hash(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class Build:
    def __init__(self, jar, archive, src_hash):
        self.jar, self.archive, self.src_hash = jar, archive, src_hash

    def java(self, work, main_args, archive_at_exit=None):
        """The harness JVM command; all scratch files stay under ``work``."""
        share = ([f"-XX:ArchiveClassesAtExit={archive_at_exit}"] if archive_at_exit
                 else [f"-XX:SharedArchiveFile={self.archive}", "-Xlog:cds=off",
                       "-Xlog:cds+dynamic=off"])
        return (["java"] + JVM_OPENS + share + [
            # a fixed heap and young generation: the peak RSS then follows the
            # data the run retains, not when G1 chose to grow its young gen
            f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            "-cp", ":".join([self.jar] + spark_jars()), "perfbench.Harness"] + main_args)


def compile_jar(root, files, jar):
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    classes = jar + ".classes"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = jar + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(x for x in files if x.endswith(".scala")))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars), "-d", classes,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"scalac failed with exit code {r.returncode}")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for base in (classes, os.path.join(root, RESOURCES)):
            for f in sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True)):
                if os.path.isfile(f):
                    z.write(f, os.path.relpath(f, base))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)
    os.remove(argfile)


def train(root, bdir, b):
    """One harness run over the code paths of both benchmark workloads, on
    small inputs, dumping the class-data archive at exit."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import gen
    work = os.path.join(bdir, "train")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    inputs = os.path.join(work, "inputs")
    gen.tables(os.path.join(inputs, "tables"))
    gen.etl(os.path.join(inputs, "etl"), 0, history_days=5, new_days=2, per_day=200)
    cmd = b.java(work, ["train", "0", "0", "1", inputs, work, os.path.join(work, "out.json"),
                        "train"], archive_at_exit=b.archive + ".tmp")
    r = subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(b.archive + ".tmp"):
        raise SystemExit(f"training run failed with exit code {r.returncode}")
    os.replace(b.archive + ".tmp", b.archive)


def build(root, bdir):
    files = sources(root)
    digest = tree_hash(root, files)
    b = Build(os.path.join(bdir, f"bench-{digest[:16]}.jar"),
              os.path.join(bdir, f"bench-{digest[:16]}.jsa"), digest)
    if os.path.exists(b.jar) and os.path.exists(b.archive):
        return b
    for old in glob.glob(os.path.join(bdir, "bench-*")):
        if os.path.isdir(old):
            shutil.rmtree(old)
        else:
            os.remove(old)
    os.makedirs(bdir, exist_ok=True)
    compile_jar(root, files, b.jar)
    train(root, bdir, b)
    return b


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, os.path.join(root, ".bench_build")).jar)
