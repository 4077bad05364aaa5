"""Build file of the benchmark: compiles the engine from src/main/scala
and the harness from perfbench/harness with the Scala compiler that ships
in Spark's jar directory, into .bench_build/perfbench/<source hash>.

A build is reused while neither the sources nor the jar set change.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    try:
        import pyspark
        jars = Path(pyspark.__file__).parent / "jars"
        if jars.is_dir():
            return jars
    except ImportError:
        pass
    sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def jvm_flags():
    return [f for p in ADD_OPENS for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def scalac(classpath, out, sources):
    out.mkdir(parents=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-d", str(out)] + [str(s) for s in sources]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        sys.exit(f"perfbench: compiling {out.name} failed")


def build(checkout):
    """Returns the classpath string for the harness JVM."""
    checkout = Path(checkout).resolve()
    program = sorted((checkout / "src/main/scala").rglob("*.scala"))
    harness = sorted((HERE / "harness").glob("*.scala"))
    if not program:
        sys.exit("perfbench: no engine sources under src/main/scala")
    jars = spark_jars()
    jar_glob = str(jars / "*")
    h = hashlib.sha256()
    for f in program + harness:
        h.update(str(f.relative_to(checkout)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    out = checkout / ".bench_build" / "perfbench" / h.hexdigest()[:16]
    resources = checkout / "src/main/resources"
    cp = [str(out / "program"), str(out / "harness")]
    if resources.is_dir():
        cp.append(str(resources))
    cp = ":".join(cp + [jar_glob])
    if (out / "modules.json").is_file():
        return cp, out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    scalac(jar_glob, tmp / "program", program)
    scalac(f"{tmp / 'program'}:{jar_glob}", tmp / "harness", harness)
    tmp_cp = cp.replace(str(out), str(tmp))
    r = subprocess.run([java()] + jvm_flags() + ["-cp", tmp_cp, "perfbench.Main",
                        "mode=modules", f"out={tmp / 'modules.json'}"],
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        sys.exit("perfbench: listing the query modules failed")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return cp, out
