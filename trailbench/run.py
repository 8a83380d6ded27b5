#!/usr/bin/env python3
"""Build and run the trail-pipeline benchmark.

    python3 trailbench/run.py --workload trail_batch --seed 1 --seconds 14 --trace 0

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (trailbench/build.sbt); later runs reuse
the build while the sources are unchanged. The benchmark then runs in one
JVM with a pinned heap (-Xms = -Xmx) and local[n], n <= the machine's
cores. The last line of stdout is the JSON result.

    python3 trailbench/run.py --selfcheck

runs every workload at a tiny size, checks that each prints every metric
name, and that each deliberately corrupted output (a flipped label in
`trail_batch`; a dropped store row and a wrong neighbour in `store_rw`) is
counted as failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "trailbench")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ["trail_batch", "store_rw"]
HEAP = "3g"
CORES = min(4, os.cpu_count() or 1)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # build + first run stay within 900 s

# Spark on JDK 17 outside spark-submit needs these (as in the program's
# own build): org.apache.spark.launcher.JavaModuleOptions
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, capture):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, start_new_session=True,
                            stdout=subprocess.PIPE if capture else None, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def classpath():
    """Builds (if the sources changed) and returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("no program sources at src/main/scala/graft: nothing to benchmark")
        sys.exit(2)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building program and benchmark with sbt")
    t = time.time()
    code, out = run_child(["sbt", "-batch", "-no-colors", "compile",
                           "export Runtime/fullClasspath"],
                          BENCH, BUILD_TIMEOUT_S, capture=True)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    cp = [l for l in lines if not l.startswith("[") and "trailbench" in l and os.pathsep in l]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log(f"build failed (exit {code})")
        sys.exit(3)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t:.0f} s")
    return cp[-1].strip()


def run_bench(cp, workload, seed, seconds, trace, extra=()):
    """Runs one benchmark JVM; returns (exit code, stdout lines)."""
    work = os.path.join(WORK, f"{workload}-{seed}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(OUT, exist_ok=True)
    # the throughput collector: under G1 a pass kept getting faster for
    # ~30 s and its CPU cost moved 10 % from run to run
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.level=warn"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "trailbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--cores", str(CORES),
              "--work", work, "--out", OUT] + list(extra))
    try:
        code, out = run_child(cmd, ROOT, RUN_TIMEOUT_S, capture=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code, (out or "").splitlines()


def selfcheck(cp):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {0: [m["name"] for m in spec["end_to_end"]],
            1: [m["name"] for m in spec["per_layer"]]}
    printed = {"trail_batch": ["pass_p50_s"],
               "store_rw": ["write_p50_s", "write_p90_s", "read_p50_s", "read_p90_s",
                            "build_p50_s", "query_p50_s"]}
    corruptions = {"trail_batch": 1, "store_rw": 2}
    common = ["setup_s", "setup_raw_s", "op_p50_rel", "op_p50_s", "rss_peak_mb",
              "fail_ratio", "rows_per_s"]
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            code, lines = run_bench(cp, w, 7, 2, trace, ["--scale", "tiny"])
            res = json.loads(lines[-1]) if code == 0 and lines else None
            if res is None or not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={trace}: tiny run failed (exit {code})")
                continue
            if sorted(res["metrics"]) != sorted(want[trace]):
                problems.append(f"{w} trace={trace}: metrics {sorted(res['metrics'])}")
            text = "\n".join(lines)
            for name in common + printed[w] if trace == 0 else []:
                if f"[e2e] {name} " not in text:
                    problems.append(f"{w}: {name} not printed")
        code, lines = run_bench(cp, w, 7, 2, 0, ["--scale", "tiny", "--corrupt", "1"])
        res = json.loads(lines[-1]) if code == 0 and lines else None
        if res is None or res["correct"] or res["failed"] < corruptions[w]:
            problems.append(f"{w}: corrupted output not caught ({res})")
        else:
            log(f"{w}: corrupted output caught, failed {res['failed']} of {res['attempted']}")
    for p in problems:
        log(f"SELF-CHECK FAILED: {p}")
    print(json.dumps({"selfcheck": "pass" if not problems else "fail",
                      "problems": problems}))
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    cp = classpath()
    if a.selfcheck:
        sys.exit(selfcheck(cp))
    if not a.workload:
        ap.error("--workload is required")
    code, lines = run_bench(cp, a.workload, a.seed, a.seconds, a.trace,
                            ["--scale", a.scale])
    result = lines[-1] if lines else ""
    for l in lines[:-1]:
        print(l)
    if code != 0 or not result.startswith("{"):
        for l in lines[-1:]:
            print(l)
        log(f"benchmark JVM failed (exit {code})")
        sys.exit(code or 4)
    print(result, flush=True)


if __name__ == "__main__":
    main()
