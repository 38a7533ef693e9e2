"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and the benchmark
(`perfbench/src`) from source with the Scala compiler that ships in the
Spark distribution's jar directory (the one build.sbt compiles against),
into `$CARGO_TARGET_DIR` (default `.bench_build`) under the checkout root:

    classes/main    the program
    classes/bench   the benchmark, compiled against classes/main

Each output directory carries a stamp of its inputs (the sources, the
classpath and `build.sbt`) and is rebuilt only when one changed. Run
directly (`python3 perfbench/build.py`) or through `perfbench/run.py`,
which builds before every run.

It does not call sbt: an sbt start costs about 40 s, more than a whole
build here, and the benchmark builds before each of its runs. To keep
the two builds the same program, `check_sbt_build` refuses a `build.sbt`
whose compile settings this build does not reproduce: a Scala version
other than the one in Spark's jar directory, compiler options, or
managed dependencies outside the test scope.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def _sbt_code():
    """build.sbt without its line comments."""
    if not os.path.exists(SBT):
        raise BuildError(f"no build.sbt at {SBT}")
    with open(SBT) as f:
        return "\n".join(l.split("//", 1)[0] for l in f.read().splitlines())


def spark_jars():
    """The jar directory build.sbt compiles against (`unmanagedBase`), or
    `$SPARK_HOME/jars` when build.sbt names none."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _sbt_code())
    if m:
        jars = m.group(1)
    elif os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        raise BuildError("build.sbt names no unmanagedBase and SPARK_HOME is not set")
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jars not found at {jars}")
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


SBT = os.path.join(ROOT, "build.sbt")


def _sources(root):
    out = []
    for dirpath, _, files in os.walk(root):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def check_sbt_build():
    """Fail unless build.sbt compiles the program the way this build does."""
    code = _sbt_code()
    m = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', code)
    jars = glob.glob(os.path.join(spark_jars(), "scala-compiler-*.jar"))
    have = [os.path.basename(j)[len("scala-compiler-"):-len(".jar")] for j in jars]
    if not m or m.group(1) not in have:
        raise BuildError(f"build.sbt sets Scala {m.group(1) if m else '?'}, the Spark "
                         f"jar directory has {have}; this build would differ")
    for key in ("scalacOptions", "compileOrder", "javacOptions", "addCompilerPlugin",
                "Compile / unmanagedSourceDirectories", "Compile / sourceGenerators"):
        if key in code:
            raise BuildError(f"build.sbt sets {key}, which perfbench/build.py does not "
                             "reproduce; teach it to, or the benchmark measures a "
                             "differently built program")
    for dep in re.findall(r'"[^"]+"\s*%%?\s*"[^"]+"\s*%\s*"[^"]+"([^,\n)]*)', code):
        if "Test" not in dep:
            raise BuildError("build.sbt has a managed dependency outside the test scope, "
                             "which perfbench/build.py does not put on the classpath")


def _stamp(srcs, classpath):
    h = hashlib.sha256(classpath.encode())
    with open(SBT, "rb") as f:
        h.update(hashlib.sha256(f.read()).digest())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _compile(name, src_root, classpath, out):
    if not os.path.isdir(src_root):
        raise BuildError(f"no sources at {src_root}")
    srcs = _sources(src_root)
    if not srcs:
        raise BuildError(f"no .scala files under {src_root}")
    stamp = _stamp(srcs, classpath)
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath,
           "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError(f"compiling {name} failed:\n{p.stdout[-6000:]}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return True


def build():
    """Compile what changed; return the runtime classpath."""
    check_sbt_build()
    out = build_dir()
    main = os.path.join(out, "classes", "main")
    bench = os.path.join(out, "classes", "bench")
    jars = os.path.join(spark_jars(), "*")
    _compile("the program", os.path.join(ROOT, "src", "main", "scala"), jars, main)
    _compile("the benchmark", os.path.join(HERE, "src"),
             main + os.pathsep + jars, bench)
    resources = os.path.join(ROOT, "src", "main", "resources")
    return os.pathsep.join([bench, main, resources, jars])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
