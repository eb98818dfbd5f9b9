"""Builds the engine and the benchmark harness from source.

The engine's Scala sources (src/main/scala) and the harness
(perfbench/harness) are compiled with the Scala compiler that ships in
the Spark distribution's jars, the same jar directory build.sbt uses as
its unmanaged base (or $SPARK_HOME/jars when SPARK_HOME is set). Output
goes under .bench_build/ in the checkout and is reused while a digest of
the sources and the JDK is unchanged.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
OUT = ROOT / ".bench_build"
HARNESS = ROOT / "perfbench" / "harness"


def spark_jars() -> Path:
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        sys.exit("build.py: set SPARK_HOME or declare unmanagedBase in build.sbt")
    return Path(m.group(1))


def sources(base: Path) -> list:
    return sorted(p for p in base.rglob("*.scala") if p.is_file())


def digest(files: list) -> str:
    h = hashlib.sha256(subprocess.run(["java", "-version"], capture_output=True).stderr)
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def scalac(jars: Path, classpath: list, out: Path, files: list) -> None:
    out.mkdir(parents=True, exist_ok=True)
    cp = os.pathsep.join([str(jars / "*")] + [str(c) for c in classpath])
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-classpath", cp, "-d", str(out)] + [str(f) for f in files]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit(f"build.py: compiling {len(files)} files into {out.name} failed")


def build() -> tuple:
    """Returns (classpath entries, source digest), compiling when stale."""
    jars = spark_jars()
    main_src, harness_src = sources(ROOT / "src" / "main" / "scala"), sources(HARNESS)
    if not main_src or not harness_src:
        raise SystemExit("build.py: engine or harness sources not found under the current directory")
    stamp = digest(main_src + harness_src)
    main_out, harness_out = OUT / "classes" / "main", OUT / "classes" / "harness"
    stamp_file = OUT / "stamp"
    if not (stamp_file.exists() and stamp_file.read_text() == stamp):
        for d in (main_out, harness_out):
            subprocess.run(["rm", "-rf", str(d)], check=True)
        scalac(jars, [], main_out, main_src)
        scalac(jars, [main_out], harness_out, harness_src)
        stamp_file.write_text(stamp)
    return [harness_out, main_out, ROOT / "src" / "main" / "resources", jars / "*"], stamp


if __name__ == "__main__":
    cp, stamp = build()
    print(f"built {stamp}: " + os.pathsep.join(map(str, cp)))
