#!/usr/bin/env python3
"""perfbench: the seeded benchmark of the summaspark engine.

    python3 perfbench/run.py --workload {serve,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Builds the engine from source (first run
only), writes the seeded workload spec, runs one JVM on it, and prints the
result as the last line of stdout:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import workload  # noqa: E402

WORKLOADS = ("serve", "ingest")
HEAP = "2g"
# A fixed, pre-touched heap keeps peak RSS from varying with GC timing; RSS
# then moves with off-heap memory (metaspace, code, buffers).
JVM_FLAGS = ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC", "-Xss8m"]
# Spark on JDK 17 outside spark-submit needs the module opens build.sbt passes.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_TIMEOUT_S = 160


def nproc():
    return len(os.sched_getaffinity(0))


def _terminate(signum, frame):
    # unwinds through the finally blocks below, which stop the JVM
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala").is_dir():
        print("perfbench: engine sources not found under %s" % ROOT, file=sys.stderr)
        return 2
    out = ROOT / ".bench_build" / "perfbench"
    classpath = build.build(ROOT, out)

    cpus = nproc()
    work = out / ("work-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    spec = work / "spec.tsv"
    spec.write_text(workload.render(workload.make_spec(
        args.workload, args.seed, args.seconds, args.trace, cpus)))
    log_path = out / ("jvm-%s-%d-%d.log" % (args.workload, args.seed, args.trace))
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = ([build.java()] + JVM_FLAGS + opens +
           ["-Djava.io.tmpdir=" + str(work / "tmp"), "-cp", classpath,
            "perfbench.Main", str(spec), str(work)])
    print("perfbench: workload=%s seed=%d seconds=%g trace=%d nproc=%d jvm=%s" % (
        args.workload, args.seed, args.seconds, args.trace, cpus, " ".join(JVM_FLAGS)))
    sys.stdout.flush()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=work, text=True)
            try:
                stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded %d s; log: %s" % (JVM_TIMEOUT_S, log_path), file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        print("perfbench: JVM exited with %d; log: %s" % (proc.returncode, log_path), file=sys.stderr)
        return 1
    lines = [l for l in stdout.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if lines else None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: no result line from the JVM; log: %s" % log_path, file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
