"""Job-level benchmark of the xETL surface (graft.spec -> graft.exec).

Generates one workload's inputs from the seed, builds the program and the
benchmark from source when they changed, and runs the jobs in one JVM:

    python3 jobbench/run.py --workload curate --seed 1 --seconds 10 --trace 0

Prints a human-readable report, then as its last stdout line one JSON object
with `correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`). Workloads, metrics
and their meaning are in jobbench/NOTES.md.
"""

import argparse
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 170          # a run (after any build) must end within 180 s
JAVA_OPTS = ["-Xms2g", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData"] + [
    a for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", p + "=ALL-UNNAMED")]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="bench", choices=sorted(gen.SCALES))
    a = ap.parse_args()

    build_dir = build.default_build_dir()
    os.makedirs(build_dir, exist_ok=True)
    try:
        cp = build.build(build_dir)
    except (FileNotFoundError, subprocess.CalledProcessError) as e:
        print("jobbench: build failed: %s" % e, file=sys.stderr)
        return 2
    t_start = time.monotonic()      # the deadline excludes a first-run build

    work = os.path.join(build_dir, "work", "%s-%d-%s-%d" % (
        a.workload, a.seed, a.scale, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.monotonic()
    gen.generate(a.workload, a.seed, a.scale, work)
    print("jobbench: generated %s inputs in %.2f s" % (a.workload, time.monotonic() - t0),
          file=sys.stderr)

    # the spans of the traced run and the log of the last job outlive the run
    stem = "%s-%d-%s" % (a.workload, a.seed, a.scale)
    trace_out = os.path.join(build_dir, "traces", stem + ".json")
    log_out = os.path.join(build_dir, "logs", stem + ".log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JAVA_OPTS + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "jobbench.Main",
        "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(cores()), "--trace-out", trace_out, "--log-out", log_out])
    if a.scale == "tiny":
        cmd += ["--setups", "2", "--warmup", "0", "--traced-jobs", "1"]
    budget = DEADLINE_S - (time.monotonic() - t_start)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10.0, budget))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("jobbench: run exceeded %d s" % DEADLINE_S, file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        print("jobbench: JVM exited with %d" % proc.returncode, file=sys.stderr)
        return proc.returncode or 4
    sys.stdout.write(out)
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
