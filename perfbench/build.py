"""Compile the program (src/main) and the benchmark's JVM side in one
scalac run, against the Spark jars, skipping the build when no source
changed since the last one."""
import hashlib
import os
import shutil
import subprocess
from pathlib import Path


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources(root: Path) -> list:
    main = root / "src" / "main"
    files = sorted(main.glob("scala/**/*.scala"))
    if not files:
        raise BuildError(f"no program sources under {main}")
    return files + sorted((root / "perfbench" / "src").rglob("*.scala"))


def classpath(root: Path, classes: Path) -> str:
    parts = [classes, root / "src" / "main" / "resources", spark_jars() / "*"]
    return os.pathsep.join(str(p) for p in parts if p.name == "*" or p.exists())


def build(root: Path, build_dir: Path) -> Path:
    """Return the classes dir, compiling first if any source changed."""
    files = sources(root)
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(root)).encode() + b"\0" + f.read_bytes())
    classes = build_dir / "classes"
    stamp = build_dir / "classes.sha256"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    jars = str(spark_jars() / "*")
    done = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                           "-nowarn", "-classpath", jars, "-d", str(classes)]
                          + [str(f) for f in files],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=800)
    if done.returncode != 0:
        raise BuildError(f"scalac failed:\n{done.stdout[-4000:]}")
    stamp.write_text(digest.hexdigest())
    return classes
