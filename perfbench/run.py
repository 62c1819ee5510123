"""Layered benchmark of the graft engine: one workload per run.

    python3 perfbench/run.py --workload extract_batch --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (see build.py), then runs
the workload in one JVM at local[nproc] with a pre-touched heap sized from
MemTotal. The last line on stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones. Everything the run writes stays under perfbench/out:
tables under out/work (removed at exit), the JVM log under out/logs, and a
run record (calibration, set-up times, sample counts, spans when traced)
under out/runs.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build

ROOT = build.ROOT
OUT = build.OUT
WORKLOADS = ("extract_batch", "pipeline_turns", "search_mix")
RUN_LIMIT_S = 170  # the run must end within 180 s once built

# Spark 4 on JDK 17 outside spark-submit; mirrors the engine's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_gib():
    """A sixth of MemTotal, between 1 and 4 GiB: the host is shared."""
    with open("/proc/meminfo") as f:
        kib = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1, min(4, kib // (6 * 1024 * 1024)))


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    started = time.time()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    want = expected_metrics(a.trace)

    cores = len(os.sched_getaffinity(0))
    heap = heap_gib()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time() * 1000)}"
    work = os.path.join(OUT, "work", tag)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    log_path = os.path.join(OUT, "logs", tag + ".log")
    record = os.path.join(OUT, "runs", tag + ".json")
    cmd = (["java", f"-Xms{heap}g", f"-Xmx{heap}g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
              "--work", work, "--record", record])
    proc = None

    def stop(*_):
        raise SystemExit(1)

    signal.signal(signal.SIGTERM, stop)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_LIMIT_S} s; log: {log_path}", file=sys.stderr)
        return 1
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: JVM exited with {proc.returncode}; log: {log_path}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        print(f"perfbench: metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
              f"extra {sorted(set(got) - set(want))}, units {[(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]]}",
              file=sys.stderr)
        return 1
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(f"perfbench: {a.workload} took {time.time() - started:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
