#!/usr/bin/env python3
"""Split a JFR execution-sample recording into driver phases.

Reads the text of `jfr print --events jdk.ExecutionSample --stack-depth 400
<file>.jfr` (a file, or `-` for stdin) and keeps the samples of one thread
(default `main`) whose stack holds a given frame (default
`trailbench.TrailBatch.op`, one benchmark operation). Each kept sample goes
to the phase of its leaf-most marker frame:

  parsing         catalyst.parser.
  listing         InMemoryFileIndex
  analysis        catalyst.analysis.  QueryExecution.assertAnalyzed
  optimizer       catalyst.optimizer.
  physical/AQE    catalyst.planning.  execution.SparkStrategies
                  QueryExecution$.prepareForExecution  execution.adaptive.
  plan strings    SparkPlanInfo$.fromSparkPlan  explainString
  compile         CodeGenerator$.compile

and to `other` when it has none. `--under FRAME` (repeatable) also counts
the kept samples whose stack holds FRAME, for example
`graft.pipeline.Pipelines$.pipelineE2E` (building the frame; a Scala
object's methods sit on its `$` class). Last, it prints
the most frequent leaf frames of the executor threads
(`Executor task launch worker`), over the whole recording or, with
`--executor-under FRAME` (repeatable, all must hold), over the samples
whose stack holds each FRAME: `ShuffleMapTask` and
`GeneratedIteratorForCodegenStage1` pick the scan stage of a
`trail_batch` pass.

Record `jdk.ExecutionSample` at a 1 ms period with deep stacks
(`-XX:FlightRecorderOptions=stackdepth=512`; the default 64 frames cut off
the operation's own frame under a Spark stack), then:

  jfr print --events jdk.ExecutionSample --stack-depth 400 run.jfr > samples.txt
  python3 dev/jfr_phases.py samples.txt --under 'graft.pipeline.Pipelines$.pipelineE2E'
"""
import argparse
import collections
import re
import sys

# Checked in order at each frame, leaf first; the first match names the phase.
PHASES = [
    ("parsing", ["catalyst.parser."]),
    ("listing", ["InMemoryFileIndex"]),
    ("analysis", ["catalyst.analysis.", "QueryExecution.assertAnalyzed"]),
    ("optimizer", ["catalyst.optimizer."]),
    ("physical/AQE", ["catalyst.planning.", "execution.SparkStrategies",
                      "QueryExecution$.prepareForExecution", "execution.adaptive."]),
    ("plan strings", ["SparkPlanInfo$.fromSparkPlan", "explainString"]),
    ("compile", ["CodeGenerator$.compile"]),
]
EXECUTOR = "Executor task launch worker"

THREAD = re.compile(r'sampledThread = "([^"]*)"')


def samples(lines):
    """Yields (thread, frames leaf first) per jdk.ExecutionSample."""
    thread, frames, in_stack = None, [], False
    for line in lines:
        s = line.strip()
        if s.startswith("jdk.ExecutionSample {"):
            thread, frames, in_stack = None, [], False
        elif s.startswith("sampledThread"):
            m = THREAD.search(s)
            thread = m.group(1) if m else None
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
            yield thread, frames
        elif in_stack and s != "...":
            frames.append(s)


def method(frame):
    """`pkg.Class.method(Args) line: n` -> `pkg.Class.method`."""
    return frame.split("(", 1)[0]


def phase(frames):
    for f in frames:
        m = method(f)
        for name, markers in PHASES:
            if any(k in m for k in markers):
                return name
    return "other"


def pct(n, total):
    return 100.0 * n / total if total else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("samples", help="`jfr print` output, or - for stdin")
    ap.add_argument("--thread", default="main")
    ap.add_argument("--frame", default="trailbench.TrailBatch.op",
                    help="keep the thread's samples whose stack holds this frame")
    ap.add_argument("--under", action="append", default=[],
                    help="also count the kept samples whose stack holds this frame")
    ap.add_argument("--executor-under", action="append", default=[],
                    help="keep the executor samples whose stack holds this frame")
    ap.add_argument("--top", type=int, default=10,
                    help="executor leaf frames to print")
    a = ap.parse_args()

    src = sys.stdin if a.samples == "-" else open(a.samples, encoding="utf-8")
    total, kept = 0, 0
    phases = collections.Counter()
    under = collections.Counter()
    leaves = collections.Counter()
    executor = 0
    with src:
        for thread, frames in samples(src):
            total += 1
            if thread and thread.startswith(EXECUTOR) and frames and all(
                    any(u in method(f) for f in frames) for u in a.executor_under):
                executor += 1
                leaves[method(frames[0])] += 1
            if thread != a.thread or not any(a.frame in method(f) for f in frames):
                continue
            kept += 1
            phases[phase(frames)] += 1
            for u in a.under:
                if any(u in method(f) for f in frames):
                    under[u] += 1

    print(f"samples: {total} in the recording, {kept} on thread '{a.thread}' "
          f"under {a.frame}")
    print("phase (leaf-most marker)       samples      %")
    for name in [p for p, _ in PHASES] + ["other"]:
        print(f"  {name:<28} {phases[name]:7d} {pct(phases[name], kept):6.1f}")
    for u in a.under:
        print(f"under {u}: {under[u]} samples, {pct(under[u], kept):.1f} % of {kept}")
    where = "".join(f" under {u}" for u in a.executor_under)
    print(f"executor threads: {executor} samples{where}; top leaf frames:")
    for m, n in leaves.most_common(a.top):
        print(f"  {n:7d} {pct(n, executor):5.1f} %  {m}")


if __name__ == "__main__":
    main()
