"""Build file of the benchmark.

Compiles the library's main sources (src/main/scala) and the benchmark's
own sources (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into a build directory inside the checkout:

    python3 perfbench/build.py [build_dir]

The build is skipped when a stamp over every source file matches the
last successful build. No network, no build tool: only `java` and the
Spark jars ($SPARK_HOME/jars, or those of the distribution whose
`spark-submit` is on the PATH).
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars) or not any(
            f.startswith("scala-compiler") for f in os.listdir(jars)):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def default_build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(build_dir):
    """Jars, not class directories: the JVM's class-data-sharing archive
    (see run.py) only covers classes loaded from jars."""
    return os.pathsep.join([os.path.join(build_dir, "graft-main.jar"),
                            os.path.join(build_dir, "graftbench.jar"),
                            os.path.join(spark_jars(), "*")])


def jar(classes, out):
    with zipfile.ZipFile(out, "w", zipfile.ZIP_STORED) as z:
        for base, _, files in os.walk(classes):
            for f in sorted(files):
                full = os.path.join(base, f)
                z.write(full, os.path.relpath(full, classes))


def scalac(jars, extra_cp, out, files, log):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.pathsep.join([os.path.join(jars, "*")] + extra_cp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out, "@" + argfile]
    with open(log, "ab") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {out}; see {log}")


def build(build_dir=None):
    """Compile if needed; returns the run-time classpath."""
    build_dir = build_dir or default_build_dir()
    if not os.path.isdir(MAIN_SRC):
        raise BuildError(f"library sources not found at {MAIN_SRC}")
    jars = spark_jars()
    main_files, bench_files = sources(MAIN_SRC), sources(BENCH_SRC)
    if not main_files or not bench_files:
        raise BuildError("no Scala sources to build")
    want = stamp(main_files + bench_files)
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return classpath(build_dir)
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    for d in ("main-classes", "bench-classes", "graft-main.jar", "graftbench.jar",
              "classes.jsa"):
        subprocess.run(["rm", "-rf", os.path.join(build_dir, d)], check=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    main_out = os.path.join(build_dir, "main-classes")
    bench_out = os.path.join(build_dir, "bench-classes")
    scalac(jars, [], main_out, main_files, log)
    scalac(jars, [main_out], bench_out, bench_files, log)
    jar(main_out, os.path.join(build_dir, "graft-main.jar"))
    jar(bench_out, os.path.join(build_dir, "graftbench.jar"))
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classpath(build_dir)


if __name__ == "__main__":
    try:
        print(build(sys.argv[1] if len(sys.argv) > 1 else None))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
