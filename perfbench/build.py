"""Build file of the benchmark.

Compiles the engine's main sources (src/main/scala) together with the
harness (perfbench/src) using the Scala compiler that ships in Spark's jar
directory ($SPARK_HOME/jars), so the build needs neither sbt nor network.
Output goes to a content-addressed directory under the build dir
($CARGO_TARGET_DIR if set, else .bench_build at the checkout root); an
unchanged tree reuses the previous build.

    python3 perfbench/build.py        # prints the classes directory
"""

import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = HERE / "src"


class BuildError(RuntimeError):
    pass


def build_dir() -> pathlib.Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> pathlib.Path:
    jars = pathlib.Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler in {jars}; set SPARK_HOME")
    return jars


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))
    if not any(p.is_relative_to(HARNESS_SRC) for p in files):
        raise BuildError(f"harness sources not found at {HARNESS_SRC}")
    return files


def build() -> pathlib.Path:
    """Compile if needed; return the directory holding the classes."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for p in files:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    for j in sorted(jars.glob("*.jar")):
        digest.update(j.name.encode())
    out = build_dir() / f"classes-{digest.hexdigest()[:16]}"
    if (out / ".ok").exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(p) for p in files]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    (tmp / ".ok").touch()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
