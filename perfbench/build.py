"""Build step of the benchmark: compile graft's main sources together with
the harness in perfbench/scala into one class directory, with scalac run
from the Spark distribution's own scala-compiler jar (no sbt, no network).

The Spark jar directory is the one the project's build.sbt names in
`unmanagedBase`; SPARK_JARS overrides it. A build is reused while the
hash of every compiled source is unchanged.
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess

HARNESS = pathlib.Path(__file__).resolve().parent / "scala"

# JDK 17 module opens Spark needs outside spark-submit (build.sbt's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars(root):
    if os.environ.get("SPARK_JARS"):
        return pathlib.Path(os.environ["SPARK_JARS"])
    sbt = root / "build.sbt"
    if not sbt.is_file():
        raise BuildError(f"{sbt} not found: no project to build")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    jars = pathlib.Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def sources(root):
    graft = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not graft:
        raise BuildError(f"no Scala sources under {root / 'src' / 'main' / 'scala'}")
    return graft + sorted(HARNESS.glob("*.scala"))


def classpath(root, classes):
    return os.pathsep.join([str(classes), str(root / "src" / "main" / "resources"),
                            str(spark_jars(root) / "*")])


def build(root, out_dir):
    """Compile if needed; return the class directory."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = out_dir / "classes"
    stamp_file = out_dir / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    args_file = out_dir / "scalac.args"
    args_file.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", str(spark_jars(root) / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(classes), f"@{args_file}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    stamp_file.write_text(stamp)
    return classes
