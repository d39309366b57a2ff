"""Builds the program and the benchmark harness with the Scala compiler
that ships among the Spark jars, into two jars under `.bench_build/perfbench`
in the checkout. A stamp of the source digests skips an up-to-date build.

    python3 perfbench/build.py      # prints the run classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def _jars():
    """The Spark jars the program builds against: the directory build.sbt
    names as `unmanagedBase`, else `$SPARK_HOME/jars`."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    home = os.environ.get("SPARK_HOME")
    return Path(m.group(1)) if m else Path(home) / "jars" if home else None


JARS = _jars()


def _sources(base):
    return sorted(p for p in base.rglob("*") if p.is_file() and p.suffix in (".scala", ".java"))


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _scalac(dest, classpath, files):
    dest.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(JARS / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(dest), "-cp", classpath] + [str(f) for f in files]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def _jar(jar, *dirs):
    """Zip class and resource trees into a jar: class-data sharing maps
    classes from jars only, never from directories."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d in dirs:
            for f in sorted(p for p in d.rglob("*") if p.is_file()):
                z.write(f, f.relative_to(d).as_posix())


def classpath():
    return os.pathsep.join([str(OUT / "bench.jar"), str(OUT / "main.jar"), str(JARS / "*")])


def build():
    """Compile if the sources changed; return the run classpath."""
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"no program sources at {program.relative_to(ROOT)}")
    if JARS is None or not any(JARS.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark/Scala jars in {JARS}")
    main_src = _sources(program)
    bench_src = _sources(ROOT / "perfbench" / "src")
    if not main_src or any(f.suffix == ".java" for f in main_src + bench_src):
        raise BuildError("expected Scala-only sources")
    resources = [p for p in (ROOT / "src" / "main" / "resources").rglob("*") if p.is_file()]
    stamp = _digest(main_src + bench_src + resources + [Path(__file__).resolve()])
    if (OUT / "stamp").is_file() and (OUT / "stamp").read_text() == stamp:
        return classpath()
    shutil.rmtree(OUT, ignore_errors=True)
    _scalac(OUT / "main", str(JARS / "*"), main_src)
    _scalac(OUT / "bench", os.pathsep.join([str(OUT / "main"), str(JARS / "*")]), bench_src)
    _jar(OUT / "main.jar", OUT / "main", ROOT / "src" / "main" / "resources")
    _jar(OUT / "bench.jar", OUT / "bench")
    (OUT / "stamp").write_text(stamp)
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
