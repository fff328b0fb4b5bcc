"""Build step of the benchmark: compiles the engine's main sources together
with the benchmark's own Scala sources into .bench_build/, using the Scala
compiler that ships in Spark's jars directory, packs them into a jar and
records a class-data-sharing archive of the classes a run loads, so that
every run's JVM starts from it. The build directory is named after a
digest of every input file; an unchanged tree is not rebuilt."""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"
DATA = ROOT / "perfbench" / "data" / "sf0.1"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the root build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME is not set to a Spark distribution with a jars/ directory")
    return Path(home) / "jars"


def sources() -> list:
    missing = [d for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise BuildError("source directories missing: " + ", ".join(str(d) for d in missing))
    files = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    if not any(p.is_relative_to(SOURCE_DIRS[0]) for p in files):
        raise BuildError(f"no Scala sources under {SOURCE_DIRS[0]}")
    return files


def digest(files: list) -> str:
    h = hashlib.sha256()
    extra = sorted(p for p in RESOURCES.rglob("*") if p.is_file()) if RESOURCES.is_dir() else []
    for p in files + extra:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def classpath(built: Path) -> str:
    return os.pathsep.join([str(built / "app.jar"), str(built / "res.jar"), str(spark_jars() / "*")])


def jvm_share_flags(built: Path) -> list:
    """Start from the build's class-data-sharing archive; -Xshare:on makes
    the JVM exit instead of starting without it."""
    return [f"-XX:SharedArchiveFile={built / 'app.jsa'}", "-Xshare:on", "-Xlog:cds=off",
            "-Xlog:cds+dynamic=off"]


def _jar(src: Path, jar: Path) -> None:
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        if src.is_dir():
            for p in sorted(src.rglob("*")):
                if p.is_file():
                    z.write(p, p.relative_to(src).as_posix())


def build() -> tuple:
    """Returns (build directory, source digest), building if needed."""
    files = sources()
    jars = spark_jars()
    tag = digest(files)
    built = BUILD / f"classes-{tag}"
    if (built / "DONE").is_file():
        return built, tag
    BUILD.mkdir(exist_ok=True)
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    classes = BUILD / f"staging-{tag}"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", str(jars / "*"), f"@{argfile}"]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-8000:])
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {res.returncode}")
    built.mkdir(parents=True)
    _jar(classes, built / "app.jar")
    _jar(RESOURCES, built / "res.jar")
    shutil.rmtree(classes, ignore_errors=True)
    # the archive records the classpath by path, so it is made in place by
    # a JVM that starts a session and drains one query (about 4 s off every
    # run's start on a 4-CPU host)
    work = BUILD / "cds-work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        res = subprocess.run(["java", f"-XX:ArchiveClassesAtExit={built / 'app.jsa'}", "-Xlog:cds=off",
                              "-Xlog:cds+dynamic=off", *ADD_OPENS, f"-Djava.io.tmpdir={work / 'tmp'}",
                              "-cp", classpath(built), "graft.perfbench.Tools", "warmup", str(DATA),
                              str(work)], cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True, timeout=300)
    except (OSError, subprocess.SubprocessError) as e:
        shutil.rmtree(built, ignore_errors=True)
        raise BuildError(f"class-data-sharing archive not made: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res.returncode != 0 or not (built / "app.jsa").is_file():
        sys.stderr.write(res.stdout[-4000:])
        shutil.rmtree(built, ignore_errors=True)
        raise BuildError(f"class-data-sharing archive not made (exit code {res.returncode})")
    (built / "DONE").write_text(tag + "\n")
    return built, tag


if __name__ == "__main__":
    try:
        out, tag = build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print(out)
