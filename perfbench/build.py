"""Build file of the benchmark package.

Compiles the engine sources (src/main/scala) together with the benchmark
sources (perfbench/src) into one jar under .bench_build/, with the Scala
compiler that ships in the Spark jar directory the engine's own build uses.
Then it records a class-data-sharing archive from one short training run,
so every measured JVM starts from the same pre-parsed classes instead of
paying ~10 s of class loading. A build is keyed by a digest of every source
file, so an unchanged checkout builds once.

    python3 perfbench/build.py        # prints the build directory
"""

import fcntl
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = pathlib.Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build" / "perfbench"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
COMPILE_TIMEOUT_S = 600
TRAIN_TIMEOUT_S = 300
# Fixed driver heap: peak_rss_mb is only comparable under one -Xmx.
HEAP = "2g"
# What spark-submit adds for Spark on JDK 17 (the engine's build.sbt list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    """The Spark jar directory: $SPARK_HOME/jars, else the engine build's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and (pathlib.Path(home) / "jars").is_dir():
        return pathlib.Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and pathlib.Path(m.group(1)).is_dir():
            return pathlib.Path(m.group(1))
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (pathlib.Path(home) / "bin" / "java").is_file():
        return str(pathlib.Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH and no JAVA_HOME")
    return found


def sources() -> list:
    engine = sorted(ENGINE_SRC.rglob("*.scala")) if ENGINE_SRC.is_dir() else []
    if not engine:
        raise BuildError(f"no engine sources under {ENGINE_SRC.relative_to(ROOT)}")
    bench = sorted((BENCH / "src").rglob("*.scala"))
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    return engine + bench


def jvm(built: pathlib.Path, work: pathlib.Path, args: list,
        record_archive: bool = False) -> list:
    """Command line of one benchmark JVM running perfbench.Main."""
    archive = built / "classes.jsa"
    cmd = [java(), f"-Xmx{HEAP}", "-Xss4m",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-Dspark.callstack.depth=200",
           # JVM log lines go to stderr: stdout carries the result
           "-Xlog:disable", "-Xlog:all=warning:stderr"]
    if record_archive:
        cmd.append(f"-XX:ArchiveClassesAtExit={archive}")
    elif archive.is_file():
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{built / 'perfbench.jar'}:{spark_jars()}/*",
                  "perfbench.Main", *args]


def main_args(workload: str, seed: int, seconds: float, trace: int,
              work: pathlib.Path, counts: pathlib.Path) -> list:
    return ["--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", str(work), "--counts", str(counts), "--heap", HEAP]


def build() -> pathlib.Path:
    """Return the build directory: perfbench.jar plus, when its training
    run succeeded, the class-data-sharing archive classes.jsa."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    h.update(" ".join([HEAP] + ADD_OPENS).encode())  # the archive is per JVM flags
    built = OUT / f"build-{h.hexdigest()[:16]}"
    if (built / ".ok").is_file():
        return built
    OUT.mkdir(parents=True, exist_ok=True)
    with open(OUT / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (built / ".ok").is_file():
            return built
        tmp = OUT / f"tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        classes = tmp / "classes"
        classes.mkdir(parents=True)
        argfile = tmp / "sources.txt"
        argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
        cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
               "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
               "-classpath", f"{jars}/*", f"@{argfile}"]
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                               text=True, timeout=COMPILE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError(f"compile exceeded {COMPILE_TIMEOUT_S} s")
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("compile failed:\n" + r.stdout[-4000:])
        # class-data sharing archives only jars, not class directories
        with zipfile.ZipFile(tmp / "perfbench.jar", "w", zipfile.ZIP_STORED) as jar:
            for f in sorted(classes.rglob("*")):
                if f.is_file():
                    jar.write(f, f.relative_to(classes).as_posix())
        shutil.rmtree(classes)
        argfile.unlink()
        for old in OUT.glob("build-*"):
            shutil.rmtree(old, ignore_errors=True)
        tmp.rename(built)
        train(built)
        (built / ".ok").write_text("ok\n")
    return built


def train(built: pathlib.Path) -> None:
    """Record the class archive from one short corpus_ops run. Without it
    the benchmark still runs, only with slower JVM start-up."""
    work = OUT / "train"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = jvm(built, work, main_args("corpus_ops", 0, 1, 0, work, work / "counts"),
              record_archive=True)
    try:
        r = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                           text=True, timeout=TRAIN_TIMEOUT_S, cwd=ROOT)
        if r.returncode != 0:
            print(f"build: training run failed, no class archive:\n{r.stderr[-2000:]}",
                  file=sys.stderr)
            (built / "classes.jsa").unlink(missing_ok=True)
    except subprocess.TimeoutExpired:
        print("build: training run timed out, no class archive", file=sys.stderr)
        (built / "classes.jsa").unlink(missing_ok=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
