#!/usr/bin/env python3
"""Run one graftbench workload and print its result as the last stdout line.

    python3 graftbench/run.py --workload corpus --seed 7 --seconds 10 --trace 0

Builds the engine (src/main/scala) and the benchmark (graftbench/src) from
source on first use, into .bench_build/ at the repository root, then runs
graftbench.Main in one JVM with a pinned heap. The first full-size run of a
workload after a build records the classes it loaded in a class-data-sharing
archive (.bench_build/graftbench/cds/<workload>.jsa); later runs of that
workload map the archive instead of loading those classes from the jars.
See graftbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
HEAP = "3g"  # -Xms = -Xmx, so the heap does not depend on host memory
RUN_LIMIT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}

sys.path.insert(0, BENCH)
import build  # noqa: E402  (graftbench/build.py)


def parse_result(stdout):
    """The result object: the last stdout line that is a JSON object with
    exactly the result keys. Other lines (the engine's println output, the
    settings line) are skipped."""
    for line in reversed(stdout.splitlines()):
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and set(obj) == RESULT_KEYS:
            return obj
    return None


def cds_flags(args):
    """(JVM flags, (file the JVM writes at exit, archive) or None). Smoke
    runs neither use nor write an archive: they load other classes."""
    if args.smoke:
        return [], None
    archive = os.path.join(build.cds_dir(OUT), args.workload + ".jsa")
    if os.path.exists(archive):
        return ["-XX:SharedArchiveFile=" + archive], None
    os.makedirs(build.cds_dir(OUT), exist_ok=True)
    tmp = "%s.%d.tmp" % (archive, os.getpid())
    return ["-XX:ArchiveClassesAtExit=" + tmp], (tmp, archive)


def java_command(args, work, spans, cds):
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    cmd = ["java"] + opens + cds + [
        "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "spark-warehouse"),
        "-cp", build.classpath(OUT),
        "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", os.path.join(work, "run"), "--spans", spans,
    ]
    if args.smoke:
        cmd.append("--smoke")
    return cmd


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, help="see BENCHMARK.json")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny sizes (the benchmark's own tests)")
    args = p.parse_args(argv)

    try:
        build.build(ROOT, OUT)
    except build.BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 1

    work = os.path.join(OUT, "work", "%s-%d-%d" % (args.workload, args.seed, args.trace))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(OUT, "trace", "%s-seed%d.jsonl" % (args.workload, args.seed))
    cds, dump = cds_flags(args)
    proc = subprocess.Popen(java_command(args, work, spans, cds), cwd=work,
                            stdout=subprocess.PIPE, text=True)
    start = time.monotonic()
    try:
        stdout, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print("run exceeded %d s" % RUN_LIMIT_S, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if dump and os.path.exists(dump[0]):
            if proc.returncode == 0:
                os.replace(dump[0], dump[1])
            else:
                os.remove(dump[0])
    result = parse_result(stdout)
    settings = [l for l in stdout.splitlines() if l.startswith('{"settings"')]
    for line in settings:
        print(line)
    if proc.returncode != 0 or result is None:
        print("benchmark JVM exited %d after %.1f s without a result"
              % (proc.returncode, time.monotonic() - start), file=sys.stderr)
        return proc.returncode or 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
