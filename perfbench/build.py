"""Build file of the benchmark: compiles the program's sources and the
benchmark's own with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py        # from the root of a checkout

The jars land in .bench_build/classes-<hash of every source>, so a run
after the first reuses them until a source changes. Jars rather than
class directories, because the JVM's class-data sharing archives (see
run.py) only take classes from jars.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path


class BuildError(Exception):
    pass


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the program's build.sbt names, else next to the spark-submit on PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = root / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for jars in candidates:
        if list(jars.glob("scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark jars with a Scala compiler found: set SPARK_HOME")


def _sources(root):
    main = sorted((root / "src" / "main").rglob("*.scala"))
    bench = sorted((root / "perfbench" / "src").rglob("*.scala"))
    if not main:
        raise BuildError(f"no program sources under {root / 'src' / 'main'}")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    return main, bench


def _scalac(jars, classpath, out, files):
    out.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", classpath] + [str(f) for f in files]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if done.returncode != 0:
        raise BuildError(f"scalac failed on {files[0].parent}:\n{done.stdout[-4000:]}")


def _jar(classes, dest):
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())


def build(root):
    """Compiles if needed; returns the build directory and the run
    classpath."""
    root = Path(root).resolve()
    main, bench = _sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for f in main + bench:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    h.update(" ".join(sorted(p.name for p in jars.glob("scala-*.jar"))).encode())
    h.update(Path(__file__).read_bytes())
    base = root / ".bench_build"
    out = base / f"classes-{h.hexdigest()[:16]}"
    classpath = f"{out / 'bench.jar'}:{out / 'main.jar'}:{jars}/*"
    if (out / "OK").exists():
        return out, classpath
    for old in base.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = base / f"building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        _scalac(jars, f"{jars}/*", tmp / "main", main)
        _scalac(jars, f"{tmp / 'main'}:{jars}/*", tmp / "bench", bench)
        for part in ("main", "bench"):
            _jar(tmp / part, tmp / f"{part}.jar")
            shutil.rmtree(tmp / part)
        (tmp / "OK").touch()
        tmp.rename(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out, classpath


if __name__ == "__main__":
    try:
        print(build(Path.cwd())[1])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
