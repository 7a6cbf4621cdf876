"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala` of the checkout) together
with the benchmark's own sources (`perfbench/src`) with the Scala compiler
that ships in the Spark distribution, so a build reads nothing but the
checkout and the Spark jars and writes nothing outside `.bench_build/`.
Outputs are cached by a hash of every compiled file; a second build of the
same tree is a no-op.

    python3 perfbench/build.py          # build (or reuse) and print the dir
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The Spark distribution's jar dir: $SPARK_HOME, else the one holding
    `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def ensure_built(root):
    """Returns the classpath (list of entries) of a complete build."""
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main) or not os.path.isfile(os.path.join(root, "build.sbt")):
        raise SystemExit("perfbench: run from the repository root (no build.sbt / src/main/scala here)")
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    build_root = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(build_root, exist_ok=True)
    out = os.path.join(build_root, "classes-" + h.hexdigest()[:16])
    jar = out + ".jar"
    # a jar, not a class dir: the JVM's class-data sharing archives only jars
    classpath = [jar, os.path.join(jars, "*")]
    with open(os.path.join(build_root, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(jar):
            return classpath
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        argfile = os.path.join(build_root, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-nowarn", "-d", out,
               "-cp", os.path.join(jars, "*"), "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-20000:])
            shutil.rmtree(out, ignore_errors=True)
            raise SystemExit("perfbench: build failed")
        resources = os.path.join(root, "src", "main", "resources")
        with zipfile.ZipFile(jar + ".tmp", "w") as z:
            for base in (out, resources):
                for d, _, files in os.walk(base):
                    for f in files:
                        p = os.path.join(d, f)
                        z.write(p, os.path.relpath(p, base))
        os.rename(jar + ".tmp", jar)
        shutil.rmtree(out)
        # older builds of other trees are dead weight in the checkout
        for d in os.listdir(build_root):
            if d.startswith("classes-") and not jar.startswith(os.path.join(build_root, d)):
                p = os.path.join(build_root, d)
                shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
    return classpath


if __name__ == "__main__":
    print(ensure_built(os.getcwd())[0])
