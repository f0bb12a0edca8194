"""Build file of the benchmark: compiles the program's Scala sources
(src/main/scala) together with the harness (perfbench/src) using the
Scala compiler that ships in Spark's jars directory, packs them into
.bench_build/perfbench/<hash of the sources>/perfbench.jar, then runs
the live workload once to record a class-data-sharing archive (app.jsa)
that later runs map instead of loading and verifying Spark's classes
again. A failed recording fails the build, and runs require the archive
(-Xshare:on), so every run starts the same way. A tree whose sources did
not change is not rebuilt.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def classpath(*entries):
    return os.pathsep.join(list(entries) + [os.path.join(spark_jars(), "*")])


def java_cmd(jar, work, archive_flags, main_args):
    """The benchmark JVM's command line: Spark's module opens, a scratch
    tmpdir inside `work`, quiet logging, the class-data archive flags."""
    return (["java"] + archive_flags + ["-XX:+UseParallelGC", "-Xmn768m", "-Xmx3g", "-Xss8m",
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath(jar), "perfbench.Main"] + main_args)


def sources(root):
    prog = glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True)
    harness = glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    return sorted(prog) + sorted(harness)


def ensure_built(root):
    """Return (jar, class-data archive) for the current sources, building
    them first when needed."""
    files = sources(root)
    digest = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    base = os.path.join(root, ".bench_build", "perfbench")
    out = os.path.join(base, "build-" + digest.hexdigest()[:16])
    jar = os.path.join(out, "perfbench.jar")
    archive = os.path.join(out, "app.jsa")
    if not os.path.exists(os.path.join(out, ".done")):
        for old in glob.glob(os.path.join(base, "build-*")):
            shutil.rmtree(old, ignore_errors=True)
        classes = os.path.join(out, "classes")
        os.makedirs(classes)
        subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", classpath(), "scala.tools.nsc.Main",
                        "-d", classes, "-classpath", classpath(), "-nowarn"] + files,
                       check=True, stdout=sys.stderr)
        with zipfile.ZipFile(jar, "w") as z:
            for dirpath, _, names in os.walk(classes):
                for n in names:
                    p = os.path.join(dirpath, n)
                    z.write(p, os.path.relpath(p, classes))
        shutil.rmtree(classes)
        work = os.path.join(out, "train")
        os.makedirs(os.path.join(work, "tmp"))
        rc = subprocess.run(java_cmd(jar, work, [f"-XX:ArchiveClassesAtExit={archive}"],
                                     ["--workload", "train", "--seed", "1", "--seconds", "1",
                                      "--trace", "0", "--cores", str(min(4, os.cpu_count() or 1)), "--work", work,
                                      "--out", os.path.join(work, "result.json")]),
                            stdout=sys.stderr, stderr=sys.stderr).returncode
        shutil.rmtree(work, ignore_errors=True)
        if rc != 0 or not os.path.exists(archive):
            raise RuntimeError(f"recording the class-data archive failed (exit {rc})")
        open(os.path.join(out, ".done"), "w").close()
    return jar, archive


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
