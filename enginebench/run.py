"""One benchmark run of the graft engine.

    python3 enginebench/run.py --workload bulk_replay --seed 1 \
        --seconds 10 --trace 0

Builds the engine and the benchmark from source if needed (build.py), then
runs graftbench.Main in one JVM with `local[nproc]` Spark. The last
line of standard output is the result JSON. Tables, Spark scratch space and
temporary files live in a per-run directory under .bench_build that is
deleted when the run ends; a traced run leaves its spans in
.bench_build/traces/.

`--size tiny` selects the self-test's inputs.
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("bulk_replay", "trickle_merge")
JVM_TIMEOUT_S = 170
HEAP = "3g"

# JDK 17 module opens Spark needs outside spark-submit (the same list the
# repo's build.sbt passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--size", default="full", choices=("full", "tiny"))
    return p.parse_args(argv)


def main(argv=None):
    args = parse(argv)
    try:
        cp = build.ensure_built()
    except build.BuildError as e:
        print(f"enginebench: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.BUILD_DIR, f"run-{os.getpid()}")
    spans = os.path.join(build.BUILD_DIR, "traces",
                         f"{args.workload}-seed{args.seed}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed, pre-touched heap is resident from the start, so VmHWM minus
    # the heap is the off-heap peak (offheap_rss_mb); the heap the run keeps
    # is measured on its own (retained_heap_mb)
    cmd = [build.java_bin(), f"-Xms{HEAP}", f"-Xmx{HEAP}",
           "-XX:+AlwaysPreTouch", "-Xss4m"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.codegen.cache.maxEntries=2000",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--size", args.size, "--work", work, "--spans", spans,
    ]

    # at most four glibc malloc arenas, as Hadoop's launch scripts set:
    # with one arena per thread the off-heap peak swings by a sixth from
    # run to run on the same inputs
    env = dict(os.environ, MALLOC_ARENA_MAX="4")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            start_new_session=True)

    def stop(*_):
        raise SystemExit(143)

    signal.signal(signal.SIGTERM, stop)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"enginebench: run exceeded {JVM_TIMEOUT_S} s, killed",
              file=sys.stderr)
        return 124
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
