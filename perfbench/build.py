"""Builds graft and the benchmark harness into `.bench_build/`.

1. Compiles `src/main/scala` together with `perfbench/scala` with the Scala
   compiler that ships in Spark's jars (the same jars graft's build uses),
   so the benchmark needs neither sbt nor a network, and packs the classes
   into `perfbench.jar`.
2. Records a class-data-sharing archive (`perfbench.jsa`) from one
   `star_etl` harness run: the JVM of every later run maps the Spark and
   graft classes that run loaded instead of parsing them again, which cut
   a run's set-up by about 8 s (of 45) on a 4-core box. A run without the
   archive (or with a stale one) is only slower, never wrong.

A digest of every source file is stored beside the outputs; an unchanged
tree is not rebuilt.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

SCALA_JARS = ("scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
              "scala-reflect-2.13.17.jar")
XMX = "3g"
ADD_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")


def spark_jars():
    """Spark's jars: `$SPARK_HOME/jars`, else beside `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise RuntimeError("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def java_cmd(jar, work, extra=()):
    """The harness JVM's command line up to the main class's arguments."""
    return (["java", f"-Xmx{XMX}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + list(extra)
            + ["-cp", jar + ":" + os.path.join(spark_jars(), "*"), "perfbench.Main"])


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise RuntimeError(f"no graft sources at {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(root, "perfbench", "scala", "**", "*.scala"),
                              recursive=True))
    return files


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _run(cmd, root, what, timeout):
    res = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=timeout)
    if res.returncode != 0:
        raise RuntimeError(f"{what} failed:\n" + res.stdout[-4000:])


def _compile(root, files, out_jar):
    classes = os.path.join(root, ".bench_build", "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(root, ".bench_build", "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    jars = spark_jars()
    _run(["java", "-Xmx2g", "-XX:-UsePerfData",
          "-cp", ":".join(os.path.join(jars, j) for j in SCALA_JARS),
          "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
          "-d", classes, "@" + argfile], root, "scalac", 600)
    with zipfile.ZipFile(out_jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)


def _record_archive(root, jar, archive):
    import gen  # deferred: only a build needs the generator here
    work = os.path.join(root, ".bench_build", "cds-run")
    shutil.rmtree(work, ignore_errors=True)
    gen.generate("star_etl", os.path.join(work, "in"), 0)
    os.makedirs(os.path.join(work, "tmp"))
    _run(java_cmd(jar, work, [f"-XX:ArchiveClassesAtExit={archive}"])
         + ["star_etl", "0", "0", work, "4"], root, "class-data-sharing run", 240)
    shutil.rmtree(work)


def build(root):
    """Returns (jar, archive, source digest), building what is missing."""
    files = sources(root)
    tag = digest(root, files)
    out = os.path.join(root, ".bench_build")
    jar, archive = os.path.join(out, "perfbench.jar"), os.path.join(out, "perfbench.jsa")
    stamp = os.path.join(out, "perfbench.sha256")
    if not (os.path.exists(stamp) and open(stamp).read() == tag
            and os.path.exists(jar) and os.path.exists(archive)):
        os.makedirs(out, exist_ok=True)
        for f in (stamp, jar, archive):
            if os.path.exists(f):
                os.remove(f)
        _compile(root, files, jar)
        _record_archive(root, jar, archive)
        with open(stamp, "w") as fh:
            fh.write(tag)
    return jar, archive, tag


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    try:
        print(build(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))[0])
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        sys.exit(f"build failed: {e}")
