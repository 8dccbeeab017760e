"""Build file of the log-service benchmark.

Compiles the program's sources (src/main) together with the benchmark's own
Scala sources (logbench/scala) into .bench_build/logbench/classes, using the
Scala compiler that ships in Spark's jars directory ($SPARK_HOME/jars, or
the one beside `spark-submit` on PATH). The program's own sbt build is not
used: it needs no dependency beyond those jars, and a direct compile keeps
every file the benchmark writes inside the checkout.

Run it alone with `python3 logbench/build.py`; `run.py` calls it first and
it recompiles only when a source file changed.
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "logbench"
CLASSES = OUT / "classes"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = sorted(Path(home, "jars").glob("*.jar")) if home else []
    if not jars:
        raise BuildError("no Spark jars found: set SPARK_HOME")
    return [str(j) for j in jars]


def jvm_options(tmp):
    """Flags both benchmark JVMs need: Spark on JDK 17 needs these opens."""
    opens = [
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    ]
    flags = [f for p in opens for f in ("--add-opens", p + "=ALL-UNNAMED")]
    return flags + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"program sources not found under {main.relative_to(ROOT)}")
    scala = sorted(main.rglob("*.scala")) + sorted((ROOT / "logbench" / "scala").glob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return scala, resources, res


def build(quiet=False):
    """Compiles when a source changed; returns the classpath to run with."""
    scala, res_root, res = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for p in scala + res:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    stamp_file = OUT / "stamp"
    classpath = os.pathsep.join([str(CLASSES)] + jars)
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return classpath

    if CLASSES.exists():
        shutil.rmtree(CLASSES)
    CLASSES.mkdir(parents=True)
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    args_file = OUT / "scalac.args"
    args_file.write_text("\n".join(str(p) for p in scala) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m"] + jvm_options(tmp) + [
        "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
        "-nowarn", "-classpath", os.pathsep.join(jars), "-d", str(CLASSES), f"@{args_file}",
    ]
    if not quiet:
        print(f"building {len(scala)} Scala sources ...", file=sys.stderr, flush=True)
    done = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        raise BuildError("scalac failed:\n" + done.stdout[-4000:])
    for p in res:
        dest = CLASSES / p.relative_to(res_root)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dest)
    stamp_file.write_text(stamp)
    return classpath


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
