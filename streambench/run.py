"""Stream benchmark of the `StreamingJobs.fullChain` microbatch deployment.

    python3 streambench/run.py --workload steady_mix --seed 1 --seconds 30 --trace 0

Builds the program from source (see build.py), then runs one JVM that
generates the seeded workload, drives the chain in a closed loop and checks
its stores against a one-shot reference. The JVM's report lines are printed
as they are; the last stdout line is the result object. `--trace 1` reports
the per-layer metrics of a traced run instead of the end-to-end metrics.

Everything a run writes stays under `.streambench/` at the checkout root:
the JVM log and report of each run, and the spans of each traced run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("steady_mix", "long_history", "deep_cascade",
             "steady_mix_unordered")
TIMEOUT_S = 175
# A fixed heap (-Xms = -Xmx): a growing heap starts GC cycles whose timing
# differs from run to run, and on this chain they landed in the timed batch
# of some runs (+30% batch wall) and not others.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()

    try:
        classes = build.ensure_built()
        jars = build.spark_jars()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-cores{a.cores}"
    out = build.ROOT / ".streambench"
    work = out / "work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (out / "logs").mkdir(parents=True, exist_ok=True)
    log_path = out / "logs" / f"{name}.log"
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{classes}{os.pathsep}{jars / '*'}", "streambench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--work", str(work), "--cores", str(a.cores)]
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    text=True, cwd=build.ROOT,
                                    start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"run exceeded {TIMEOUT_S} s; log: {log_path}",
                      file=sys.stderr)
                return 3
            finally:
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
        spans = work / "spans.json"
        if spans.is_file():
            (out / "trace").mkdir(exist_ok=True)
            shutil.move(str(spans), out / "trace" / f"{name}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = stdout.strip().splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if not isinstance(result, dict):
        for line in lines:
            if not line.startswith("{"):
                print(line)
        print(f"run failed (exit {proc.returncode}); log: {log_path}",
              file=sys.stderr)
        return 4
    (out / "runs").mkdir(exist_ok=True)
    (out / "runs" / f"{name}.txt").write_text(stdout)
    sys.stdout.write(stdout if stdout.endswith("\n") else stdout + "\n")
    return 0


if __name__ == "__main__":
    t0 = time.time()
    code = main()
    print(f"[run] wall_s={time.time() - t0:.1f}", file=sys.stderr)
    sys.exit(code)
