"""Build step of the benchmark: compiles graft's main sources together
with the benchmark's own Scala sources into one class directory.

The compiler and every library come from the jar directory graft's own
build.sbt compiles against (Spark ships the Scala 2.13 compiler), so
the build needs no network and no sbt. The output directory is keyed by a hash of every
source file, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py      # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

def jar_dir(root):
    """The jar directory graft's own build compiles against: the
    `unmanagedBase` of build.sbt, else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


BUILD_DIR = ".bench_build"
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(BENCH_DIR, "scala/*.scala")))
    return main, own


def classpath(root):
    return os.path.join(jar_dir(root), "*")


def check_layout(root):
    """Returns a reason the tree cannot be built, or None."""
    main, own = sources(root)
    if not main:
        return "no graft sources under src/main/scala"
    if not own:
        return "no benchmark sources under perfbench/scala"
    if not glob.glob(os.path.join(jar_dir(root), "scala-compiler-*.jar")):
        return f"no Scala compiler in {jar_dir(root)}"
    return None


def build(root):
    """Compiles if needed; returns the class directory."""
    main, own = sources(root)
    h = hashlib.sha256()
    for f in main + own:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(root, BUILD_DIR, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(main + own) + "\n")
    cp = classpath(root)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=850)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build failed (scalac exit {proc.returncode})")
    for old in glob.glob(os.path.join(root, BUILD_DIR, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    here = os.getcwd()
    reason = check_layout(here)
    if reason:
        raise SystemExit(reason)
    print(build(here))
