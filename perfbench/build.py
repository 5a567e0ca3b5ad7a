#!/usr/bin/env python3
"""Compile the program (src/main/scala) and the benchmark (perfbench/src)
into one jar, with the Scala compiler that ships in Spark's jar
directory, then record a class-data-sharing archive from a short run so
that each benchmark JVM starts faster. Skips both when no source changed.

    python3 perfbench/build.py          # from the repository root

The output goes under $CARGO_TARGET_DIR (default .bench_build).
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("Spark not found: set SPARK_HOME")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not jars.is_dir():
        raise BuildError(f"no Spark jar directory at {jars}")
    return jars


def out_dir(root):
    return root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources(root):
    program = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    return program + sorted((HERE / "src").rglob("*.scala"))


def classpath(root):
    """The benchmark JVM's class path; the archive is only valid for it."""
    jars = spark_jars()
    return [str(out_dir(root) / "app.jar")] + sorted(str(j) for j in jars.glob("*.jar"))


def jvm_options(work):
    """Options of every benchmark JVM; its temporary files stay in `work`.
    A fixed-size heap with the throughput collector keeps times steadier
    from run to run than G1 with a growing heap: over ten `mixed` runs the
    spread of `setup_s` fell from 0.22-0.24 to 0.13-0.14.
    """
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    opts = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in opens:
        opts += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return opts


def jar(classes, resources, target):
    with zipfile.ZipFile(target, "w", zipfile.ZIP_STORED) as z:
        for base in (classes, resources):
            if not base.is_dir():
                continue
            for p in sorted(base.rglob("*")):
                if p.is_file():
                    z.write(p, p.relative_to(base).as_posix())


def record_archive(root, out):
    """Runs a one-second mixed workload with the archive dump
    on. A failed dump only costs start-up time, so it is not an error.
    """
    work = out / "work" / "archive"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cmd = (["java", f"-XX:ArchiveClassesAtExit={out / 'app.jsa'}"] + jvm_options(work.resolve()) +
           ["-cp", os.pathsep.join(classpath(root)), "perfbench.Main",
            "--workload", "mixed", "--seed", "0", "--seconds", "1", "--trace", "0",
            "--work", str(work.resolve()), "--out", str((work / "result.json").resolve())])
    print("[perfbench] recording the class-data archive", file=sys.stderr, flush=True)
    subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=600)
    shutil.rmtree(work, ignore_errors=True)


def build(root):
    """Returns the build directory, compiling first if sources changed."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(root)).encode())
        digest.update(p.read_bytes())
    # the JVM options live here, and the archive is only valid for them
    digest.update(Path(__file__).read_bytes())
    stamp = digest.hexdigest()
    out = out_dir(root)
    classes = out / "classes"
    if (out / "stamp").is_file() and (out / "stamp").read_text() == stamp:
        return out
    jars = spark_jars()
    compiler = [jars / f for f in os.listdir(jars)
                if f.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) < 3:
        raise BuildError(f"no Scala compiler jars in {jars}")
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-d", str(tmp), "-classpath", f"{jars}/*",
           "-nowarn", "-Ybackend-parallelism", "4", f"@{argfile}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    jar(classes, root / "src" / "main" / "resources", out / "app.jar")
    (out / "app.jsa").unlink(missing_ok=True)
    record_archive(root, out)
    (out / "stamp").write_text(stamp)
    return out


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
