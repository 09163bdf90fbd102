"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark program (perfbench/src) with the Scala compiler that ships in the
Spark jar directory the sbt build compiles against, into one class directory
keyed by a digest of every source file. Unchanged sources reuse the last
compile.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def spark_jars(root):
    """$SPARK_HOME/jars, else the `unmanagedBase` declared in build.sbt."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = Path(home) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
        if not m:
            raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no jar directory)")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Scala compiler jar in %s" % jars)
    return jars


def _sources(root):
    engine = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((root / "perfbench" / "src").rglob("*.scala"))
    if not engine:
        raise SystemExit("perfbench: no engine sources under %s" % (root / "src" / "main" / "scala"))
    return engine + bench


def build(root, out):
    """Return the run classpath, compiling first if the sources changed."""
    jars = spark_jars(root)
    srcs = _sources(root)
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(root)).encode() + b"\0" + f.read_bytes() + b"\0")
    dest = out / ("classes-" + digest.hexdigest()[:16])
    if not (dest / ".complete").exists():
        out.mkdir(parents=True, exist_ok=True)
        tmp = out / ("compiling-%d" % os.getpid())
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", str(tmp)] + [str(f) for f in srcs]
        print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit("perfbench: compile failed")
        (tmp / ".complete").touch()
        for old in out.glob("classes-*"):
            shutil.rmtree(old, ignore_errors=True)
        try:
            os.rename(tmp, dest)
        except OSError:
            # a concurrent run finished the same compile first
            shutil.rmtree(tmp, ignore_errors=True)
            if not (dest / ".complete").exists():
                raise
    return os.pathsep.join([str(dest), str(root / "src" / "main" / "resources"), str(jars / "*")])
