#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark (perfbench/src) from source, with the Scala compiler that ships in
the Spark distribution the program builds against (build.sbt's unmanagedBase,
same Scala version), into .bench_build/ at the root of the checkout.

The build is skipped when a previous one of identical sources is present.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
SPARK_JARS = pathlib.Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


class BuildError(Exception):
    pass


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    if not program:
        raise BuildError(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    return program + bench


def stamp(files):
    h = hashlib.sha256()
    for jar in sorted(SPARK_JARS.glob("scala-*.jar")):
        h.update(jar.name.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles if needed; returns the runtime classpath string."""
    if not SPARK_JARS.is_dir():
        raise BuildError(f"Spark jars not found at {SPARK_JARS}")
    files = sources()
    classes = BUILD / "classes"
    digest = stamp(files)
    stamp_file = classes / "BUILD_STAMP"
    if not (stamp_file.is_file() and stamp_file.read_text() == digest):
        fresh = BUILD / "classes-new"
        shutil.rmtree(fresh, ignore_errors=True)
        fresh.mkdir(parents=True)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={BUILD}", "-cp", f"{SPARK_JARS}/*",
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(fresh)]
        cmd += [str(f) for f in files]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if res.returncode != 0:
            shutil.rmtree(fresh, ignore_errors=True)
            raise BuildError("compilation failed:\n" + res.stdout[-8000:])
        (fresh / "BUILD_STAMP").write_text(digest)
        shutil.rmtree(classes, ignore_errors=True)
        fresh.rename(classes)
    resources = ROOT / "src" / "main" / "resources"
    return os.pathsep.join([str(classes), str(resources), f"{SPARK_JARS}/*"])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
