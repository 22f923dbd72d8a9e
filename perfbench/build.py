"""Build file of the benchmark: compiles the library sources (`src/main/scala`
of the checkout) together with the benchmark sources (`perfbench/scala`) with
the Scala compiler that ships in Spark's `jars/` directory, into one jar,
`.bench_build/perfbench-<digest>.jar`. The digest covers every source file,
so a checkout builds once and a changed source rebuilds.

    python3 perfbench/build.py        # prints the jar path
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else next to `spark-submit`."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark installation found (set SPARK_HOME)")
    if not any(n.startswith("scala-compiler") for n in os.listdir(jars)):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"source directory missing: {os.path.relpath(d, ROOT)}")
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    if not files:
        raise BuildError("no Scala sources found")
    return sorted(files)


def build():
    """Compile if needed; return (jar path, Spark jars dir)."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD_DIR, f"perfbench-{h.hexdigest()[:16]}.jar")
    if os.path.isfile(out):
        return out, jars
    # older builds and their class archives go
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    classes = os.path.join(BUILD_DIR, "classes")
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", cp, "-d", classes] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("compilation failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _, names in os.walk(classes):
            for n in sorted(names):
                f = os.path.join(dirpath, n)
                z.write(f, os.path.relpath(f, classes))
    shutil.rmtree(classes)
    os.rename(out + ".tmp", out)
    return out, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
