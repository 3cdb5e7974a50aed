#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its result as the last line
of standard output:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Usage, from the repository root:
  python3 perfbench/run.py --workload gen_iot --seed 1 --seconds 10 --trace 0

The first run builds the library and the benchmark (see build.py). Inputs,
Spark's scratch space and outputs live under .bench_work/run, which every run
empties first; per-iteration details (timings, contamination markers,
failures) and, with --trace 1, the spans go to .bench_work/results.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

sys.dont_write_bytecode = True  # no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["gen_iot", "gen_star_write", "curate"]
JVM_TIMEOUT_S = 170
RESULT_PREFIX = "PERFBENCH_RESULT "

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_gb() -> int:
    """Half of MemTotal, clamped to 2..8 GB (the rule the Tier-1 command uses)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def run_jvm(cmd: list) -> tuple:
    """Runs the JVM in its own process group and kills the group if it
    outlives the timeout. Returns (exit code, result line or None)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            env=jvm_env(), start_new_session=True)
    lines = []

    def pump():
        for line in proc.stdout:
            if line.startswith(RESULT_PREFIX):
                lines.append(line[len(RESULT_PREFIX):].strip())
            else:
                sys.stderr.write(line)

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: JVM exceeded {JVM_TIMEOUT_S}s, killing it", file=sys.stderr)
        code = -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    reader.join(timeout=10)
    return code, (lines[-1] if lines else None)


def jvm_env() -> dict:
    """The caller's environment without the variables that would point
    Spark's scratch space outside the checkout."""
    return {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}


def java_command(classes: Path, work: Path, main_class: str, *args: str) -> list:
    jars = build.spark_jars(Path.cwd())
    here = Path(__file__).resolve().parent
    return (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap_gb()}g",
        "-XX:-UsePerfData",  # no hsperfdata files outside the checkout
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dlog4j2.configurationFile={here / 'log4j2.properties'}",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}{os.pathsep}{jars / '*'}",
        main_class, *args])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-iot", nargs=2, type=int, metavar=("FIRST", "LAST"),
                    help="record the gen_iot checksums of seeds FIRST..LAST into "
                         "perfbench/expected/iot_checksums.json instead of running")
    args = ap.parse_args()
    if not args.record_iot and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    root = Path.cwd()
    here = Path(__file__).resolve().parent
    declared = json.loads((root / "BENCHMARK.json").read_text())
    want = [m["name"] for m in declared["per_layer" if args.trace else "end_to_end"]]

    classes = build.build(root)
    work = root / ".bench_work" / "run"
    results = root / ".bench_work" / "results"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    results.mkdir(parents=True, exist_ok=True)
    expected = here / "expected" / "iot_checksums.json"
    if args.record_iot:
        out = subprocess.run(java_command(classes, work, "perfbench.RecordIot",
                                          *map(str, args.record_iot), str(work)),
                             stdout=subprocess.PIPE, text=True, env=jvm_env(),
                             check=True).stdout
        shutil.rmtree(work, ignore_errors=True)
        expected.write_text(json.dumps(json.loads(out.strip().splitlines()[-1]), indent=1) + "\n")
        return 0
    code, line = run_jvm(java_command(
        classes, work, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
        str(args.trace), str(work), str(results), str(expected)))
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or line is None:
        print(f"perfbench: run failed (exit {code}, result line {'seen' if line else 'missing'})",
              file=sys.stderr)
        return 1
    result = json.loads(line)
    if list(result["metrics"]) != want:
        print(f"perfbench: metrics {list(result['metrics'])} differ from BENCHMARK.json {want}",
              file=sys.stderr)
        return 1
    print(f"perfbench: {args.workload} seed {args.seed}: {result['failed']} of "
          f"{result['attempted']} iterations failed (fail_ratio "
          f"{result['failed'] / result['attempted']:.4f})")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
