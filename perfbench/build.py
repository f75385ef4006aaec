"""Build file of the benchmark: compiles the engine from the checkout's
sources, then the benchmark's own Scala sources against it, with the
Scala compiler that ships in Spark's jar directory, and packs each into
a jar under `.bench_build/`. A jar is rebuilt only when its sources
change.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

OUT = ".bench_build"
ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `jars` directory
    beside the first `bin/spark-submit` on PATH that has one."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.abspath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars", "*")
    raise BuildError("Spark's jar directory not found (set SPARK_HOME)")


def files(root, suffix=""):
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, f) for f in names if f.endswith(suffix)]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def pack(jar, root):
    """Writes the files under `root` into `jar`, in a fixed order."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for p in files(root):
            z.write(p, os.path.relpath(p, root))


def build_jar(name, srcs, classpath, stamp, resources=None):
    """Compiles `srcs` into .bench_build/<name>.jar, unless the stamp of
    the last build matches."""
    jar = os.path.join(OUT, f"{name}.jar")
    stamp_file = os.path.join(OUT, f"{name}.stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    classes = os.path.join(OUT, f"{name}.classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, f"{name}.sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError(f"compiling {name} failed:\n{r.stdout[-4000:]}{r.stderr[-4000:]}")
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    pack(jar + ".tmp", classes)
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar


def build():
    """Returns (runtime classpath, build stamp) of the benchmark program."""
    engine_srcs = files(ENGINE_SRC, ".scala")
    if not engine_srcs:
        raise BuildError(f"no engine sources under {ENGINE_SRC}: run from the repository root")
    bench_srcs = files(BENCH_SRC, ".scala")
    if not bench_srcs:
        raise BuildError(f"no benchmark sources under {BENCH_SRC}")
    os.makedirs(OUT, exist_ok=True)
    jars = spark_jars()
    engine_stamp = digest(engine_srcs + files(ENGINE_RES))
    engine = build_jar("engine", engine_srcs, jars, engine_stamp, ENGINE_RES)
    bench_stamp = digest(bench_srcs, engine_stamp)
    bench = build_jar("bench", bench_srcs, os.pathsep.join([engine, jars]), bench_stamp)
    return os.pathsep.join([bench, engine, jars]), bench_stamp


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(str(e))
