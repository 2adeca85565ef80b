"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the harness (`perfbench/scala`) with the Scala compiler that ships in Spark's
`jars/` directory, into one jar each under `<build dir>/classes/`. Each jar
is named by a hash of its sources, so an unchanged tree is never compiled
twice. Jars, not class directories, because the JVM's class-data-sharing
archive (see run.py) accepts only jars on the class path.

    python3 perfbench/build.py [build dir]      # prints the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "scala")


def spark_jars():
    """Jars of the Spark install: $SPARK_HOME, else the one whose
    bin/spark-submit is on PATH and ships a Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler") for j in jars):
            return jars
    raise SystemExit("no Spark install with a Scala compiler in its jars/: set SPARK_HOME")


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_into(jar, srcs, classpath):
    if os.path.exists(jar):
        return
    out = jar[:-len(".jar")]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = ":".join(classpath)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(spark_jars()), "scala.tools.nsc.Main",
           "-classpath", cp, "-d", out, "-nowarn"] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"scalac failed for {srcs[0]} ...")
    with zipfile.ZipFile(jar + ".part", "w") as z:
        for d, _, files in os.walk(out):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), out))
    os.replace(jar + ".part", jar)
    shutil.rmtree(out)


def build(build_dir):
    """Compile what is stale and return the run-time classpath."""
    program = sources(PROGRAM_SRC)
    harness = sources(HARNESS_SRC)
    if not program:
        raise SystemExit(f"no program sources under {PROGRAM_SRC}")
    jars = spark_jars()
    classes = os.path.join(build_dir, "classes")
    prog_jar = os.path.join(classes, "program-" + digest(program) + ".jar")
    compile_into(prog_jar, program, jars)
    harness_jar = os.path.join(classes, "harness-" + digest(harness, prog_jar) + ".jar")
    compile_into(harness_jar, harness, [prog_jar] + jars)
    # keep only the current jars and the archive made for them
    keep = (prog_jar, harness_jar, harness_jar[:-len(".jar")] + ".jsa")
    for f in glob.glob(os.path.join(classes, "*")):
        if f not in keep:
            shutil.rmtree(f) if os.path.isdir(f) else os.remove(f)
    return [harness_jar, prog_jar] + jars


if __name__ == "__main__":
    print(":".join(build(sys.argv[1] if len(sys.argv) > 1 else
                         os.path.join(ROOT, ".bench_build", "perfbench"))))
