"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's JVM side (`perfbench/scala`) into one jar, with the Scala
compiler that ships in Spark's jar directory. Nothing is downloaded.

    python3 perfbench/build.py [out_dir]     # default: .bench_build

A build is skipped when the sources and the jar set are unchanged since the
last one (a content hash is kept next to the jar).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    if not engine or not bench:
        raise SystemExit("build: no engine or benchmark sources under %s" % root)
    return engine + bench


def stamp(root, files):
    h = hashlib.sha256()
    for j in sorted(os.listdir(spark_jars())):
        h.update(j.encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def data_stamp(root):
    """Hash of what the query corpus depends on: the engine (its generator)
    and the benchmark's slicing step."""
    files = [f for f in sources(root) if "/perfbench/" not in f]
    return stamp(root, files + [os.path.join(root, "perfbench/scala/Prepare.scala")])


def build(root, out_dir):
    """Returns (jar, stamp, built_now)."""
    files = sources(root)
    st = stamp(root, files)
    jar = os.path.join(out_dir, "perfbench.jar")
    stamp_file = jar + ".stamp"
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == st:
                return jar, st, False
    tmp = os.path.join(out_dir, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out_dir, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: scalac failed (exit %d)" % r.returncode)
    # a jar, not a directory: the JVM's class-data-sharing archive (see
    # run.py) only covers classes loaded from jars
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(tmp):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, tmp))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp_file, "w") as fh:
        fh.write(st + "\n")
    return jar, st, True


if __name__ == "__main__":
    root = os.getcwd()
    out = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")
    os.makedirs(out, exist_ok=True)
    print(build(root, out)[0])
