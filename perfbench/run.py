"""Run one workload of the IVF / dedup benchmark and print its result.

    python3 perfbench/run.py --workload offline|online \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest     # the benchmark's own tests

Run from the root of a checkout. The first run compiles the engine and
the benchmark into .bench_build/ (see build.py). One run is one JVM with a
local[nproc] Spark session and one client thread. The last line of
standard output is the result object; the line before it is the run's
record: configuration, host noise, headline figures, per-layer
figures and any problems the checks found. A traced run also keeps its
spans in .bench_build/traces/.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
HEAP = "3g"
# Spark on JDK 17 outside spark-submit (the same list build.sbt passes)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpu_times():
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return (v[7] if len(v) > 7 else 0), sum(v[:8])
    except OSError:
        return 0, 0


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def java(cp, main, args, work):
    """Run `main` in a fresh JVM; return (exit code, stdout lines)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work}/tmp"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", os.pathsep.join(cp), main] + args)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True)
    try:
        out, err = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        out, err = p.communicate()
        sys.stderr.write(err[-4000:])
        return 124, []
    if p.returncode != 0:
        sys.stderr.write(err[-8000:])
    return p.returncode, out.splitlines()


def marked(lines, marker):
    for line in reversed(lines):
        if line.startswith(marker + " "):
            return json.loads(line[len(marker) + 1:])
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    try:
        cp = build.build()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        sys.exit(f"perfbench: build failed: {e}")

    cpus = len(os.sched_getaffinity(0))
    name = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(build.BUILD, "run", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            code, lines = java(cp, "perfbench.SelfTest",
                               ["--cpus", str(cpus), "--work", work], work)
            print("\n".join(lines))
            sys.exit(code)

        load0, (steal0, total0) = loadavg(), cpu_times()
        t0 = time.time()
        code, lines = java(cp, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus), "--work", work], work)
        steal1, total1 = cpu_times()
        record = marked(lines, "PERFBENCH_RECORD")
        result = marked(lines, "PERFBENCH_RESULT")
        if code != 0 or record is None or result is None:
            sys.exit(f"perfbench: {a.workload} run failed (exit {code})")

        steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
        record["host"] = {"nproc": cpus, "loadavg_start": load0,
                          "loadavg_end": loadavg(), "steal_pct": steal_pct,
                          "wall_s": time.time() - t0}
        if a.trace:
            spans = os.path.join(work, "spans.jsonl")
            keep = os.path.join(build.BUILD, "traces", f"{name}.jsonl")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            if os.path.exists(spans):
                shutil.copyfile(spans, keep)
                record["spans_file"] = os.path.relpath(keep)
            result["metrics"]["host.loadavg"] = load0[0] if load0 else 0.0
            record["layers"]["host.loadavg"] = result["metrics"]["host.loadavg"]
            record["layers"]["host.steal_pct"] = steal_pct
        got = result["metrics"]
        want = BENCH["per_layer" if a.trace else "end_to_end"]
        missing = [m["name"] for m in want if got.get(m["name"]) is None]
        if missing:
            sys.exit(f"perfbench: {a.workload} reported no {', '.join(missing)}")
        result["metrics"] = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                             for m in want}
        print(json.dumps({"record": record}))
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                       "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


if __name__ == "__main__":
    main()
