"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark's own Scala sources (`perfbench/src`) into one class
directory with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py            # from the repository root

The output goes to `$CARGO_TARGET_DIR` (default `.bench_build`) under
`classes/`; a stamp of the source digest skips unchanged rebuilds.
Exits non-zero when the sources or the toolchain are missing.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the pyspark
    package's (the same Spark build)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            raise SystemExit("build: Spark not found; set SPARK_HOME")
    return Path(home) / "jars"


def build_dir(root: Path) -> Path:
    return root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources(root: Path):
    files = []
    for d in SOURCE_DIRS:
        files += sorted((root / d).rglob("*.scala"))
    return files


def build(root: Path) -> Path:
    """Compile if needed; return the class directory."""
    files = sources(root)
    if not (root / "src/main/scala").is_dir() or not any(
            str(f).startswith(str(root / "src/main/scala")) for f in files):
        raise SystemExit("build: program sources src/main/scala not found")
    jars = spark_jars()
    if not (jars / "scala-compiler-2.13.17.jar").exists():
        raise SystemExit(f"build: Scala compiler not found under {jars}")
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    out = build_dir(root)
    classes = out / "classes"
    stamp = out / "classes.stamp"
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(classes), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build(Path.cwd()))
