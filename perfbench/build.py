"""Build file of the benchmark: compiles the program's main sources and the
benchmark's own Scala sources with the Scala compiler that ships among the
Spark jars, into `.bench_build/perfbench/<source hash>/program.jar`, then
records a class-data-sharing archive from a short training run so that each
benchmark JVM starts Spark without re-parsing thousands of classes.

    python3 perfbench/build.py        # build (or reuse) and print the build dir

A rebuild happens only when a source file changes. Nothing is fetched: the
classpath is the Spark distribution's jar directory that the repository's
build.sbt names as its `unmanagedBase`, unless SPARK_JARS names another.
"""

import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys
import tempfile
import zipfile

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"


def _spark_jars_dir():
    if os.environ.get("SPARK_JARS"):
        return pathlib.Path(os.environ["SPARK_JARS"])
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) \
        if sbt.is_file() else None
    if m:
        return pathlib.Path(m.group(1))
    return pathlib.Path(os.environ.get("SPARK_HOME", "spark")) / "jars"


SPARK_JARS = _spark_jars_dir()


class BuildError(Exception):
    pass


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError("no program sources at %s" % main)
    files = sorted(main.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def spark_jars():
    return sorted(str(j) for j in SPARK_JARS.glob("*.jar"))


def classpath(built):
    return os.pathsep.join([str(built / "program.jar")] + spark_jars())


def jvm_flags(built):
    """Flags every benchmark JVM takes: the class-data archive, when the
    training run managed to record one."""
    jsa = built / "classes.jsa"
    return ["-XX:SharedArchiveFile=%s" % jsa, "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] \
        if jsa.is_file() else []


def ensure_built(train):
    """Build when sources changed; `train(built, extra_flags)` runs one short
    benchmark JVM with the given flags, used to record the class archive."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    built = OUT / digest.hexdigest()[:16]
    if (built / "program.jar").is_file():
        return built
    compiler = [SPARK_JARS / ("scala-%s-2.13.17.jar" % p)
                for p in ("compiler", "library", "reflect")]
    if not all(j.is_file() for j in compiler):
        raise BuildError("Scala 2.13.17 compiler jars not found in %s" % SPARK_JARS)
    OUT.mkdir(parents=True, exist_ok=True)
    tmp = pathlib.Path(tempfile.mkdtemp(prefix="build-", dir=OUT))
    try:
        argfile = tmp / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        out = tmp / "classes"
        out.mkdir()
        cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-Djava.io.tmpdir=%s" % tmp,
               "-cp", os.pathsep.join(str(j) for j in compiler),
               "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(spark_jars()),
               "-d", str(out), "@%s" % argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + r.stdout.decode(errors="replace")[-4000:])
        stage = tmp / "built"
        stage.mkdir()
        # Class-data sharing archives classes from jars only, not directories.
        with zipfile.ZipFile(stage / "program.jar", "w", zipfile.ZIP_STORED) as jar:
            for f in sorted(out.rglob("*")):
                if f.is_file():
                    jar.write(f, f.relative_to(out).as_posix())
        for old in OUT.iterdir():
            if old != tmp and old.name not in ("runs", "traces"):
                shutil.rmtree(old, ignore_errors=True)
        stage.rename(built)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    jsa = built / "classes.jsa"
    try:
        train(built, ["-XX:ArchiveClassesAtExit=%s" % jsa, "-Xlog:cds=off",
                      "-Xlog:cds+dynamic=off"])
    except Exception as e:  # the archive only speeds start-up
        print("perfbench: no class-data archive (%s)" % e, file=sys.stderr)
        jsa.unlink(missing_ok=True)
    return built


if __name__ == "__main__":
    try:
        import run
        print(ensure_built(run.train))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
