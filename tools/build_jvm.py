"""Compile the engine's JVM classes into the jar committed next to them.

    python tools/build_jvm.py              # rewrite sparkstreamingflume_spark/jvm/spark-graft-jvm.jar
    python tools/build_jvm.py --out X.jar  # build elsewhere (the staleness test does)

Compiles every ``sparkstreamingflume_spark/jvm/*.java`` with
``javac --release 17`` against the jars the session's JVM runs on:
``$SPARK_HOME/jars`` when ``SPARK_HOME`` is set (pyspark launches the JVM
from there), else pyspark's own ``jars/``. The jar's entries carry a
fixed timestamp and order, so a rebuild from unchanged sources and the
same javac writes the same class bytes.
``session.get_session`` only loads the committed jar; it never compiles.
Rebuild and commit the jar after editing a ``.java`` file.
"""

from __future__ import annotations

import argparse
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
SRC_DIR = REPO / "sparkstreamingflume_spark" / "jvm"
JAR = SRC_DIR / "spark-graft-jvm.jar"
MANIFEST = "Manifest-Version: 1.0\r\nCreated-By: tools/build_jvm.py\r\n\r\n"


def javac() -> str | None:
    """Path of the JDK's javac, or None when no JDK is installed."""
    return shutil.which("javac")


def compile_classes(out_dir: Path) -> list[Path]:
    """javac every source in SRC_DIR into out_dir; the .class files written."""
    import pyspark

    jars = Path(os.environ.get("SPARK_HOME") or Path(pyspark.__file__).parent) / "jars"
    sources = sorted(str(p) for p in SRC_DIR.glob("*.java"))
    subprocess.run(
        [javac() or "javac", "--release", "17", "-nowarn", "-cp", f"{jars}/*", "-d", str(out_dir), *sources],
        check=True,
    )
    return sorted(out_dir.rglob("*.class"))


def build(out: Path = JAR) -> Path:
    """Compile the sources and write them as a reproducible jar at ``out``."""
    with tempfile.TemporaryDirectory() as tmp:
        classes = compile_classes(Path(tmp))
        out.parent.mkdir(parents=True, exist_ok=True)
        with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as jar:
            entries = [("META-INF/MANIFEST.MF", MANIFEST.encode())]
            entries += [(c.relative_to(tmp).as_posix(), c.read_bytes()) for c in classes]
            for name, data in entries:
                info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
                info.compress_type = zipfile.ZIP_DEFLATED
                info.external_attr = 0o644 << 16
                jar.writestr(info, data)
    return out


def class_bytes(jar: Path) -> dict[str, bytes]:
    """``{entry name: bytes}`` of the .class entries in a jar."""
    with zipfile.ZipFile(jar) as z:
        return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", type=Path, default=JAR, help=f"jar to write (default {JAR.relative_to(REPO)})")
    args = ap.parse_args(argv)
    if javac() is None:
        print("build_jvm: no javac on PATH; install a JDK (17 or newer)", file=sys.stderr)
        return 1
    out = build(args.out)
    print(f"{os.path.relpath(out)}: {', '.join(sorted(class_bytes(out)))}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
